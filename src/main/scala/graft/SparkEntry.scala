package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-category query modules; every key in [[queries]]
  * that is SQL-expressible has a DuckDB oracle in [[oracleSql]] with
  * identical column names (the driver's compare sorts columns by name
  * before hashing values).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.RelationalQueries.queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** The local session the runners (Bench, Verify, PlanDump) share, so
    * a plan one of them captures is the plan the bench executes. */
  def runnerSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.RelationalQueries.queries ++
      operators.TextQueries.queries ++
      operators.DedupQueries.queries ++
      operators.SimilarityQueries.queries ++
      operators.OrpQueries.queries ++
      operators.EnrichQueries.queries ++
      operators.SourceSinkQueries.queries ++
      operators.Multimodal.queries ++
      operators.MixQueries.queries ++
      operators.CorpusQueries.queries ++
      operators.Layout.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.RelationalQueries.oracles ++
      operators.TextQueries.oracles ++
      operators.DedupQueries.oracles ++
      operators.SimilarityQueries.oracles ++
      operators.OrpQueries.oracles ++
      operators.EnrichQueries.oracles ++
      operators.SourceSinkQueries.oracles ++
      operators.Multimodal.oracles ++
      operators.MixQueries.oracles ++
      operators.CorpusQueries.oracles ++
      operators.Layout.oracles
}
