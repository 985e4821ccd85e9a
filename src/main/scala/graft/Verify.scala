package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Glob/read_blob oracles embed a literal directory; point them at
    // the dir this run actually reads (see SourceSinkQueries.VerifySfDir).
    System.setProperty("graft.verify.sfDir", sfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.runnerSession(cpus)
    new java.io.File(outDir).mkdirs()
    // Dev aid: SPARK_GRAFT_VERIFY_ONLY=q1,q2 dumps just those queries
    // (the driver never sets it, so its runs stay exhaustive).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n))
    }
    selected.foreach { case (name, fn) =>
      val out = s"$outDir/$name"
      val conf0 = spark.conf.getAll
      try Scope.run(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out)
      } catch {
        // NonFatal only (r20 review, the Bench policy): swallowing an
        // OOM/LinkageError would keep the sweep running on a broken JVM
        // — later queries fail spuriously or write short dumps, the
        // process exits rc=0, and the driver treats the surviving
        // parquet as the round's authoritative correctness results.
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the query's scope has closed: anything it left behind fails the
      // query, and its dump is removed so the oracle compare reports it
      val leaks = Scope.leftBehind(spark, conf0)
      if (leaks.nonEmpty) {
        System.err.println(s"[verify] $name failed: left behind " +
          leaks.mkString(", "))
        val p = new org.apache.hadoop.fs.Path(out)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
