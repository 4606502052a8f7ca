"""Statistics and attribution helpers for the benchmark report.

Pure functions over the raw record the benchmark JVM writes; the
self-tests in test_stats.py pin their contracts.
"""
import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """A percentile was asked of too few samples to be meaningful."""


def percentile(samples, q, min_beyond=MIN_BEYOND):
    """The q-quantile (0 < q < 1) of `samples` by the nearest-rank rule,
    with the sample count: returns (value, n).

    Refuses (raises TooFewSamples) when fewer than `min_beyond` samples
    lie above the rank, e.g. a p90 needs at least 100 samples."""
    xs = sorted(samples)
    n = len(xs)
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        raise TooFewSamples(f"p{q * 100:g} of {n} samples leaves {n - rank} beyond it, "
                            f"fewer than {min_beyond}")
    return xs[rank - 1], n


def median(samples, default=0.0):
    """Plain median of a handful of per-pass or per-call values (no tail
    claim, so no minimum count); `default` when there are none."""
    return statistics.median(samples) if samples else default


def due_time_ms(drop, order, t0_ms, tick_ms, warm_drops):
    """When drop `drop` was due: the generator offers the drops in
    `order`, the first `warm_drops` of them during warm-up and the rest
    one per tick from `t0_ms`. Warm-up drops have no due time (None)."""
    pos = order.index(drop)
    if pos < warm_drops:
        return None
    return t0_ms + (pos - warm_drops) * tick_ms


def backlog_series(moved_ms, batch_ends_ms, batch_rows, rows_per_drop):
    """Drops offered but not yet committed, sampled at each batch end:
    a list of (time_ms, backlog)."""
    out = []
    committed = 0
    for end, rows in zip(batch_ends_ms, batch_rows):
        committed += rows // rows_per_drop
        offered = sum(1 for m in moved_ms if m <= end)
        out.append((end, offered - committed))
    return out


def overloaded(backlog, p90_s, limit_s=5.0, growth_drops=5):
    """An open-loop run is overloaded when its latency p90 exceeds the
    limit or its backlog grew: the mean backlog over the last third of
    the samples exceeds that over the first third by `growth_drops`."""
    if p90_s is not None and p90_s > limit_s:
        return True
    levels = [b for _, b in backlog]
    if len(levels) < 3:
        return False
    third = len(levels) // 3
    first, last = levels[:third], levels[-third:]
    return sum(last) / len(last) - sum(first) / len(first) > growth_drops


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    """The parts of `intervals` inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_time(span, spans):
    """A span's wall time minus the part of its interval that its child
    spans cover (children may overlap each other)."""
    kids = [(c["start"], c["end"]) for c in spans if c["parent"] == span["id"]]
    return (span["end"] - span["start"]) - union_length(clip(kids, span["start"], span["end"]))


def attribute_jobs(jobs, spans):
    """Map each job id to the span it belongs to: the span id the job
    carried when that span contains the job's start, else the innermost
    span (latest start) whose interval contains the job's start."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        s = by_id.get(j["span"])
        if s is not None and s["start"] <= j["start"] <= s["end"]:
            out[j["id"]] = s["id"]
            continue
        inside = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
        out[j["id"]] = max(inside, key=lambda s: (s["start"], s["id"]))["id"] if inside else None
    return out
