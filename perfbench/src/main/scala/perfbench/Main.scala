package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: `--workload W --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE`. Stages seeded inputs under DIR,
  * measures the workload for S seconds, checks its outputs and writes the
  * raw record (timings, samples, spans, Spark jobs, check counts) as JSON
  * to FILE. `run.py` turns that record into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val ctx = new Ctx(session(), opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1",
      Paths.get(opt("work")).toAbsolutePath.toString)
    try {
      workload match {
        case "cdc_live" => CdcLive.run(ctx)
        case "backfill" => Backfill.run(ctx)
        case "curate" => Curate.run(ctx)
        case "index_mixed" => IndexMixed.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.finish()
      Files.writeString(Paths.get(opt("out")), Json.write(ctx.raw.toMap))
    } finally ctx.spark.stop()
  }

  def session(): SparkSession = {
    val s = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Shared state of one run: the session, the trace, the RSS sampler, the
  * raw record and the output-check tally. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val traced: Boolean,
                val workDir: String) {
  val trace = new Trace(spark.sparkContext, traced)
  val raw = mutable.LinkedHashMap[String, Any]("seed" -> seed, "seconds" -> seconds, "traced" -> traced)
  private val rss = new RssSampler
  rss.start()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def dir(name: String): String = s"$workDir/$name"

  def now(): Long = System.currentTimeMillis()

  /** Count `n` checked operations of which `bad` failed. */
  def check(what: String, n: Long, bad: Long): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) failures += s"$what: $bad of $n"
  }

  /** Run the repeatable part of set-up `reps` times (fresh directories per
    * repetition); `setup_reps_s` holds the wall time of each. */
  def setupReps(reps: Int)(body: Int => Unit): Unit =
    raw("setup_reps_s") = (0 until reps).map(r => measure("setup.rep")(body(r)))

  /** Untimed warm-up: run `pass` until two consecutive passes agree within
    * 15% (at least `min`, at most `max` passes). Its wall time is
    * `warmup_s`. */
  def warmup(min: Int, max: Int)(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    val times = mutable.ArrayBuffer[Double]()
    def settled = times.size >= 2 && {
      val Seq(a, b) = times.takeRight(2).toSeq
      math.abs(b - a) <= 0.15 * a
    }
    while (times.size < max && (times.size < min || !settled))
      times += measure("setup.warmup")(pass(times.size))
    raw("warmup_s") = (System.nanoTime() - t0) / 1e9
    raw("warmup_passes_s") = times.toSeq
  }

  /** Seconds `body` takes, recorded as a span named `name`. */
  def measure(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    trace.span(name)(body)
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds to fully compute `df`, writing no output. */
  def forced(name: String, df: DataFrame): Double =
    measure(name) { df.write.format("noop").mode("overwrite").save() }

  /** Bracket the timed phase: RSS peak and the phase's wall interval. */
  def timed[T](body: => T): T = {
    rss.arm()
    val t0 = now()
    try trace.span("timed") { body }
    finally {
      raw("timed_start") = t0
      raw("timed_end") = now()
      rss.disarm()
    }
  }

  def finish(): Unit = {
    rss.finish()
    trace.stop()
    raw("peak_rss_kb") = rss.peakKb
    raw("attempted") = attempted
    raw("failed") = failed
    raw("failures") = failures.toSeq
    raw ++= trace.json
  }
}
