package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated fixtures
  * (/root/repo/TESTDATA.md, FIXTURES.md). Parquet is self-describing;
  * schemas documented in FIXTURES.md. Scans are columnar + pushdown-capable
  * out of the box — every query should show `PushedFilters`/pruned
  * `ReadSchema` in `.explain` (SURVEY.md §4.2).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The conf that lets Spark read parquet TIMESTAMP(NANOS) as raw longs.
    * Session-global by nature (checked at both schema inference and scan
    * execution), so it must be set at session construction — as
    * [[Harness.builder]] (every graft main's session) and TestSession
    * do. A table loader mutating the shared session as a side effect
    * would silently change how unrelated nanos parquet reads behave. */
  val nanosAsLongConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** events.ts normalization. The driver fixtures have shipped two
    * physical encodings of `ts` across rounds:
    *  - TIMESTAMP(NANOS) (rounds 1–6): Spark's reader rejects it unless
    *    [[nanosAsLongConf]] is set, in which case it surfaces as a raw
    *    nanos LongType → convert ns→µs (lossless, fixture values are
    *    µs-precision) and build a session-TZ timestamp.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 7+): surfaces
    *    as TIMESTAMP_NTZ → cast to TIMESTAMP. All graft entry points
    *    pin spark.sql.session.timeZone=UTC, so the NTZ wall time and
    *    the resulting instant are identical — and window/watermark/
    *    unix_micros operators, which demand TIMESTAMP, keep working.
    * Either way callers always see `ts: timestamp`. */
  def events(s: SparkSession, d: String): DataFrame = {
    require(s.conf.get(nanosAsLongConf, "false") == "true",
      s"reading events.parquet may hit TIMESTAMP(NANOS) fixtures, which " +
        s"require $nanosAsLongConf=true set at session construction " +
        "(see graft entry points)")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // ns -> µs with INTEGRAL division: `col / 1000L` is Spark's
        // fractional (double) division, and epoch-ns magnitudes exceed
        // double's 53-bit mantissa — the truncated result can be off by
        // 1 µs (surfaced by SourcesSpec's encoding round-trip; second-
        // precision oracle output never showed it). `DIV` stays in longs.
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
