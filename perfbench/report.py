"""Turns the raw record of one benchmark JVM run into metrics.

`build(workload, raw, traced)` returns (result, summary): the result JSON
that run.py prints last, and human-readable summary lines. End-to-end metrics are
reported by every workload; what `primary_s` and `secondary_s` measure
depends on the workload (see README.md). Per-layer metrics a workload does
not exercise read 0.
"""
import stats

END_TO_END = [("setup_s", "s"), ("primary_s", "s"), ("secondary_s", "s")]

INDEXES = ("pqindex", "searchindex", "dedupindex", "cdcindex")
CURATE_STAGES = ("analytics.dedup.decontaminate", "analytics.dedup.span_dedup",
                 "analytics.dedup.ngram_pairs", "analytics.dedup.quality_keepers",
                 "analytics.sampling.mix", "analytics.sampling.pack")
# (name, unit, better). Counts of work done (jobs, calls, files) are
# better lower; a higher kept ratio or batch count is not a cost.
PER_LAYER = (
    [("sources.latestOffset_ms_p50", "ms", "lower"), ("sources.getBatch_ms_p50", "ms", "lower"),
     ("sources.backlog_drops_max", "count", "lower"), ("sources.scan_s", "s", "lower"),
     ("streaming.batches", "count", "higher"), ("streaming.trigger_ms_p50", "ms", "lower"),
     ("streaming.addBatch_ms_p50", "ms", "lower"), ("streaming.queryPlanning_ms_p50", "ms", "lower"),
     ("streaming.walCommit_ms_p50", "ms", "lower"), ("streaming.commitOffsets_ms_p50", "ms", "lower"),
     ("streaming.queue_wait_s_p50", "s", "lower"), ("streaming.jobs_per_batch", "count", "lower"),
     ("streaming.dlq_rows", "count", "lower"),
     ("pipeline.statements_s", "s", "lower"), ("pipeline.optout_dim_s", "s", "lower"),
     ("pipeline.process_batch_s", "s", "lower"), ("pipeline.dim_calls", "count", "lower"),
     ("sinks.write_calls", "count", "lower"), ("sinks.write_s_p50", "s", "lower"),
     ("sinks.write_failures", "count", "lower"), ("sinks.files_written", "count", "lower"),
     ("sinks.bytes_per_row", "B", "lower")]
    + [(s + "_s", "s", "lower") for s in CURATE_STAGES]
    + [("analytics.dedup.candidate_pairs", "count", "lower"), ("analytics.dedup.kept_ratio", "ratio", "higher"),
       ("analytics.recompose_gap_frac", "ratio", "lower")]
    + [(f"analytics.{x}.{m}", u, "lower") for x in INDEXES for m, u in (
        ("read_s_p50", "s"), ("append_s_p50", "s"), ("forget_s_p50", "s"), ("compact_s_p50", "s"),
        ("bytes_on_disk", "B"), ("files_on_disk", "count"), ("space_amp", "ratio"))]
    + [("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"), ("spark.task_s", "s", "lower"),
       ("spark.shuffle_write_bytes", "B", "lower"), ("spark.shuffle_read_bytes", "B", "lower"),
       ("spark.spill_bytes", "B", "lower"), ("spark.gc_s", "s", "lower"), ("spark.driver_gap_s", "s", "lower"),
       ("generator.late_ms_max", "ms", "lower"), ("jvm.peak_rss_mb", "MB", "lower")])


def _durations(ops, prefix):
    return [(o["end"] - o["start"]) / 1000 for o in ops if o["kind"].startswith(prefix)]


def _sink_calls(raw):
    calls = raw.get("sink_calls", [])
    for p in raw.get("passes", []):
        calls = calls + p["sink_calls"]
    return calls


class Cdc:
    """Latency samples and batch records of an open-loop cdc_live run."""

    def __init__(self, raw):
        self.raw = raw
        order, w = raw["order"], raw["warm_drops"]
        self.due = {d: stats.due_time_ms(d, order, raw["t0"], raw["tick_ms"], w) for d in order[w:]}
        self.lat = [(raw["landed"][str(d)] - due) / 1000 for d, due in self.due.items()
                    if str(d) in raw["landed"]]
        self.batches = [b for b in raw["progress"] if b["rows"] > 0]
        self.timed_batches = [b for b in self.batches
                              if b["timestamp"] + b["durations"].get("triggerExecution", 0) >= raw["t0"]]
        ends = [b["timestamp"] + b["durations"].get("triggerExecution", 0) for b in self.batches]
        self.backlog = [(t, b) for t, b in stats.backlog_series(
            raw["moved"], ends, [b["rows"] for b in self.batches], raw["rows_per_drop"]) if t >= raw["t0"]]

    def queue_waits(self):
        """From each timed drop's due time to the start of the batch that
        read it (drops are read in the order they were moved)."""
        order, rpd = self.raw["order"], self.raw["rows_per_drop"]
        out, pos = [], 0
        for b in self.batches:
            n = b["rows"] // rpd
            for d in order[pos:pos + n]:
                if self.due.get(d) is not None:
                    out.append((b["timestamp"] - self.due[d]) / 1000)
            pos += n
        return out

    def late_ms(self):
        w, t0, tick = self.raw["warm_drops"], self.raw["t0"], self.raw["tick_ms"]
        return [m - (t0 + (p - w) * tick) for p, m in enumerate(self.raw["moved"]) if p >= w]


def end_to_end(workload, raw):
    setup = stats.median(raw["setup_reps_s"]) + raw["warmup_s"]
    notes = []
    if workload == "cdc_live":
        cdc = Cdc(raw)
        p50, n = stats.percentile(cdc.lat, 0.5)
        p90, _ = stats.percentile(cdc.lat, 0.9)
        over = stats.overloaded(cdc.backlog, p90)
        notes.append(f"cdc.lat_p50_s={p50:.3f} cdc.lat_p90_s={p90:.3f} over {n} drops "
                     f"(limit 5 s); offered {raw['rows_offered']} rows at 5000 rows/s; "
                     f"overloaded={'yes' if over else 'no'}")
        primary, secondary = p50, p90
    elif workload == "backfill":
        passes = _durations(raw["ops"], "pass")
        primary = stats.median(passes)
        secondary = stats.median([(c["end"] - c["start"]) / 1000 for p in raw["passes"] for c in p["sink_calls"]])
        notes.append(f"backfill.rows_per_s={raw['rows_per_pass'] / primary:.0f} over {len(passes)} passes "
                     f"of {raw['rows_per_pass']} rows")
    elif workload == "curate":
        passes = _durations(raw["ops"], "pass")
        primary = stats.median(passes)
        secondary = stats.median([q["pipeline_curate"] for q in raw["query_s"]])
        notes.append(f"curate.pass_s={primary:.3f} over {len(passes)} passes {[round(p, 2) for p in passes]}; "
                     f"warm-up passes {[round(p, 2) for p in raw['warmup_passes_s']]}; pipeline_full "
                     f"{stats.median([q['pipeline_full'] for q in raw['query_s']]):.3f}s, "
                     f"pipeline_curate {secondary:.3f}s")
    elif workload == "index_mixed":
        reads, writes = _durations(raw["ops"], "read."), _durations(raw["ops"], "write.")
        primary, secondary = stats.median(reads), stats.median(writes)
        try:
            p90 = f"{stats.percentile(reads, 0.9)[0]:.3f}"
        except stats.TooFewSamples as e:
            p90 = f"refused ({e})"
        notes.append(f"index.read_p50_s={primary:.3f} over {len(reads)} reads, index.read_p90_s={p90}; "
                     f"index.write_p50_s={secondary:.3f} over {len(writes)} writes; "
                     f"pqindex recall@10={raw['recall']:.3f}")
    else:
        raise ValueError(workload)
    notes.append(f"peak_rss_mb={raw['peak_rss_kb'] / 1024:.0f} during the timed phase")
    values = {"setup_s": setup, "primary_s": primary, "secondary_s": secondary}
    return values, notes


def _batch_spans(raw, batches):
    """Each micro-batch as a span over its addBatch interval (addBatch ends
    just before commitOffsets, at the end of the trigger), under the timed
    span, with the sink-write spans inside it re-parented to it."""
    timed = next(s for s in raw["spans"] if s["name"] == "timed")
    out = []
    for i, b in enumerate(batches):
        d = b["durations"]
        end = b["timestamp"] + d.get("triggerExecution", 0) - d.get("commitOffsets", 0)
        out.append({"id": -(i + 1), "name": "batch", "parent": timed["id"],
                    "start": end - d.get("addBatch", 0), "end": end})
    spans = []
    for s in raw["spans"]:
        if s["name"] == "sinks.write":
            s = dict(s, parent=next((b["id"] for b in out if b["start"] <= s["start"] <= b["end"]), 0))
        spans.append(s)
    return out, spans + out


def per_layer(workload, raw):
    v = {name: 0 for name, _, _ in PER_LAYER}
    spans = raw["spans"]
    batches = []
    if workload == "cdc_live":
        batches, spans = _batch_spans(raw, Cdc(raw).timed_batches)
    # Spark work of the timed phase: jobs attributed to the timed span or a
    # span below it, by the span id they carried or else by time
    parent = {s["id"]: s["parent"] for s in spans}
    timed = next(s for s in spans if s["name"] == "timed")

    def under(span_id, root):
        while span_id not in (None, 0):
            if span_id == root:
                return True
            span_id = parent.get(span_id)
        return False
    owner = stats.attribute_jobs(raw["jobs"], spans)
    jobs = [j for j in raw["jobs"] if under(owner[j["id"]], timed["id"])]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in raw["stages"] if s["job"] in job_ids]
    v.update({
        "spark.jobs": len(jobs), "spark.stages": len(stages),
        "spark.task_s": sum(s["task_ms"] for s in stages) / 1000,
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "spark.spill_bytes": sum(s["spill"] for s in stages),
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1000,
        "spark.driver_gap_s": ((timed["end"] - timed["start"]) - stats.union_length(
            stats.clip([(j["start"], j["end"]) for j in jobs], timed["start"], timed["end"]))) / 1000,
        "jvm.peak_rss_mb": raw["peak_rss_kb"] / 1024,
    })
    calls = [c for c in _sink_calls(raw) if timed["start"] <= c["start"] <= timed["end"]]
    if calls:
        v["sinks.write_calls"] = len(calls)
        v["sinks.write_s_p50"] = stats.median([(c["end"] - c["start"]) / 1000 for c in calls])
        v["sinks.write_failures"] = sum(1 for c in calls if not c["ok"])
    if "sink_files" in raw:
        rows = raw.get("rows_offered") or raw.get("rows_per_pass")
        v["sinks.files_written"] = raw["sink_files"]
        v["sinks.bytes_per_row"] = raw["sink_bytes"] / rows
    for key, name in (("pipeline_statements_s", "pipeline.statements_s"),
                      ("pipeline_optout_dim_s", "pipeline.optout_dim_s"),
                      ("sources_scan_s", "sources.scan_s")):
        if key in raw:
            v[name] = raw[key]

    if workload == "cdc_live":
        cdc = Cdc(raw)
        tb = cdc.timed_batches

        def dur(k):
            return stats.median([b["durations"].get(k, 0) for b in tb])
        per_batch = sum(1 for j in raw["jobs"] if any(under(owner[j["id"]], b["id"]) for b in batches))
        v.update({
            "sources.latestOffset_ms_p50": dur("latestOffset"), "sources.getBatch_ms_p50": dur("getBatch"),
            "sources.backlog_drops_max": max(b for _, b in cdc.backlog),
            "streaming.batches": len(tb), "streaming.trigger_ms_p50": dur("triggerExecution"),
            "streaming.addBatch_ms_p50": dur("addBatch"), "streaming.queryPlanning_ms_p50": dur("queryPlanning"),
            "streaming.walCommit_ms_p50": dur("walCommit"), "streaming.commitOffsets_ms_p50": dur("commitOffsets"),
            "streaming.queue_wait_s_p50": stats.median(cdc.queue_waits()),
            "streaming.jobs_per_batch": per_batch / max(1, len(tb)),
            "streaming.dlq_rows": raw["dlq_rows"],
            # processBatch's self time: its addBatch interval minus the sink writes
            "pipeline.process_batch_s": stats.median([stats.self_time(b, spans) / 1000 for b in batches]),
            "pipeline.dim_calls": raw["dim_calls"],
            "generator.late_ms_max": max(cdc.late_ms()),
        })
    elif workload == "curate":
        for s in CURATE_STAGES:
            v[s + "_s"] = raw["recompose_stage_s"][s]
        full = stats.median([q["pipeline_full"] for q in raw["query_s"]])
        v["analytics.dedup.candidate_pairs"] = raw["candidate_pairs"]
        v["analytics.dedup.kept_ratio"] = raw["kept_ratio"]
        v["analytics.recompose_gap_frac"] = (raw["recompose_total_s"] - full) / full
    index = raw if workload == "index_mixed" else raw.get("index")
    if index:
        for x in INDEXES:
            for prefix, m in ((f"read.{x}", "read_s_p50"), (f"write.{x}.append", "append_s_p50"),
                              (f"write.{x}.forget", "forget_s_p50"), (f"write.{x}.compact", "compact_s_p50")):
                v[f"analytics.{x}.{m}"] = stats.median(_durations(index["ops"], prefix))
            v[f"analytics.{x}.bytes_on_disk"] = index["disk"][x]["bytes"]
            v[f"analytics.{x}.files_on_disk"] = index["disk"][x]["files"]
            v[f"analytics.{x}.space_amp"] = index["disk"][x]["bytes"] / index["fresh_disk"][x]
    return v


def oracle_mismatches(docs_dir, out_dir, oracle_sql):
    """Queries whose first-pass output differs from their DuckDB oracle
    over the generated documents (row count, column names, then values
    with columns and rows sorted)."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    con.sql("SET enable_progress_bar = false")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet/*.parquet'")
    bad = []
    for name, sql in sorted(oracle_sql.items()):
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        want = con.sql(sql).df()
        a = got.reindex(sorted(got.columns), axis=1)
        b = want.reindex(sorted(want.columns), axis=1)
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            bad.append(name)
            continue
        if len(a):
            a = a.sort_values(by=list(a.columns), ignore_index=True)
            b = b.sort_values(by=list(b.columns), ignore_index=True)
        if not a.astype(str).equals(b.astype(str)):
            bad.append(name)
    con.close()
    return bad


def build(workload, raw, traced):
    attempted, failed = raw["attempted"], raw["failed"]
    failures = list(raw["failures"])
    if workload == "curate":
        bad = oracle_mismatches(raw["docs_dir"], raw["out_dir"], raw["oracle_sql"])
        attempted += len(raw["oracle_sql"])
        failed += len(bad)
        failures += [f"{q}: differs from its DuckDB oracle" for q in bad]
    e2e, notes = end_to_end(workload, raw)
    summary = [f"{workload} seed={raw['seed']} seconds={raw['seconds']} traced={traced}"] + notes
    summary.append("failed_frac=%.6f (%d of %d checked operations)" % (failed / max(1, attempted), failed, attempted))
    summary += [f"check failed: {f}" for f in failures]
    summary += [f"{name} = {e2e[name]:.6g} {unit}" for name, unit in END_TO_END]
    if traced:
        layer = per_layer(workload, raw)
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit, _ in PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, summary
