package graft

import java.nio.file.{Files, Paths}

/** Plan-capture utility for the optimization rounds: writes
  * `.explain("formatted")` of selected declared queries to files, so
  * plan claims in OPTIMIZATION_rN.md are checkable artifacts
  * (`plans/rN/<query>_{before,after}.txt`). Never part of the driver
  * contract; measurement methodology lives in [[Bench]].
  *
  * Usage:
  *   SPARK_GRAFT_PLAN_OUT=plans/r21 SPARK_GRAFT_PLAN_SUFFIX=before \
  *     sbt "runMain graft.PlanDump q1,q2,..."   (or no args = all)
  *
  * The session is Bench's ([[SparkEntry.runnerSession]]), so the
  * captured initial plan is the one the bench executes. AQE
  * means the FINAL plan can differ (coalesced reads, runtime joins);
  * for queries where that matters the bench artifact's exchange count
  * is the executed-structure record.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "plans/r21")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = SparkEntry.runnerSession(cpus)
    Files.createDirectories(Paths.get(outDir))
    val only: Option[Set[String]] =
      args.headOption.map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      val conf0 = spark.conf.getAll
      try {
        Scope.run(spark) {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        }
        System.err.println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[plandump] $name FAILED: $e")
      }
      val leaks = Scope.leftBehind(spark, conf0)
      if (leaks.nonEmpty)
        System.err.println(s"[plandump] $name FAILED: left behind " +
          leaks.mkString(", "))
    }
    spark.stop()
  }
}
