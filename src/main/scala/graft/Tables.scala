package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All engine queries take an `sfDir` (e.g. `/root/testdata/sf0.01`) and
  * read `<sfDir>/<table>.parquet`. Reads are plain parquet scans so that
  * Catalyst's predicate pushdown / column pruning reach the file source
  * (verified via `.explain("formatted")` — `PushedFilters`, `ReadSchema`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The testdata generator has shipped naive (unadjusted) parquet
    * TIMESTAMP columns in some generations and UTC-adjusted ones in
    * others. The engine standardizes on session-TZ `TimestampType`
    * (session TZ pinned to UTC), so naive micros must NOT surface as
    * TIMESTAMP_NTZ: reading them with NTZ inference off yields the same
    * instants as the adjusted encoding, keeps every comparison literal
    * type-compatible, and — unlike a per-column cast on top of the scan —
    * leaves min/max filter pushdown on date columns intact
    * (`PushedFilters` pins in PlanSpec cover q6/s10). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    reader(spark, "spark.sql.parquet.inferTimestampNTZ.enabled")
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** The session-wide reader settings [[load]] and [[events]] apply.
    * They are set if different and then left set, never scoped per
    * query: an unconditional set() on every load invalidates Spark's
    * session-level plan caches (measured ~1.5× on the whole bench sweep —
    * every query re-pays analysis/codegen), and restoring them after
    * each query would do the same. [[Scope.leftBehind]] skips them. */
  val readerConf: Map[String, String] = Map(
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  private def reader(spark: SparkSession, key: String): Unit =
    if (!spark.conf.getOption(key).contains(readerConf(key)))
      spark.conf.set(key, readerConf(key))

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` additionally shipped one generation as parquet
    * TIMESTAMP(NANOS), which Spark's vectorized reader rejects outright —
    * that encoding is read as raw nanos (legacy long) and converted to
    * micros (lossless: the generator emits whole microseconds, and it
    * matches DuckDB's own ns→us coercion of the same file). Dispatch is
    * on the LOADED schema, not a config guess — whichever encoding the
    * current testdata has, the right branch runs.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    reader(s, "spark.sql.legacy.parquet.nanosAsLong")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df // micros TimestampType via load()'s NTZ-off read
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
