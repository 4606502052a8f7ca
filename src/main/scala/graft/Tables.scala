package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic corpus (see TESTDATA.md).
  *
  * Every loader is a plain parquet scan: Catalyst handles column pruning and
  * predicate pushdown into the scan (verified via `.explain("formatted")` —
  * `PushedFilters` / `ReadSchema`), so callers should filter/select on the
  * returned DataFrame rather than pre-materializing.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** `events.ts` has shipped under THREE physical parquet encodings across
    * driver regens, and this loader is the single choke point that normalizes
    * all of them to one logical type (UTC TimestampType) so every downstream
    * `cast("long")` / window-frame / range-join resolves identically:
    *
    *  - TIMESTAMP(NANOS): Spark has no native type; sessions set
    *    `spark.sql.legacy.parquet.nanosAsLong=true` and the column surfaces as
    *    LongType. We truncate ns→µs with *integer* division (a double
    *    roundtrip would lose precision: 2024 epoch ns ≈ 1.7e18 > 2^53).
    *  - TIMESTAMP µs, isAdjustedToUTC=false → TimestampNTZType. Spark forbids
    *    `CAST(TIMESTAMP_NTZ AS BIGINT)`, so NTZ must not leak downstream; we
    *    reinterpret the wall-clock value as UTC instant. Every entry point
    *    pins `spark.sql.session.timeZone=UTC` ([[Tables.session]]), so the cast is a pure type-tag
    *    change (no value shift) — FormatMatrixSpec asserts all three
    *    encodings yield byte-identical epoch math.
    *  - TIMESTAMP µs UTC-adjusted → TimestampType already; passthrough. */
  def events: DataFrame = {
    val raw = t("events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // the NTZ→TimestampType cast is a pure type-tag change ONLY under a
        // UTC session; any other zone silently shifts every epoch value, so
        // a consumer session missing the pin must fail loudly here
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ and spark.sql.session.timeZone=$tz; " +
            "the UTC-reinterpretation cast requires session.timeZone=UTC " +
            "(every graft entry point pins it) — set it or the epoch math shifts")
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** The engine-wide session recipe every entry point builds from: a UTC
    * session time zone and `nanosAsLong` (the [[Tables.events]] loader
    * depends on both), AQE on, UI off, and one shuffle partition per cpu.
    * Callers add the master and anything of their own. */
  def session(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
}
