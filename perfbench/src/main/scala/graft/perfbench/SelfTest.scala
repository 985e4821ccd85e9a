package graft.perfbench

import graft.operators.Search
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.Try

/** The benchmark's own checks, run by `run.py --selftest`:
  *  - one seed always generates the same inputs and planted outcomes, and
  *    another seed different ones;
  *  - every correctness check passes on real outputs and fails on a
  *    deliberately corrupted copy of them (a flipped outcome, a changed
  *    store row, a moved CC vertex, a wrong page, a stale store).
  * Prints one JSON line `{"ok": .., "checks": {name: passed}}`. */
object SelfTest {

  def run(spark: SparkSession, work: String): Int = {
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    def check(name: String)(f: => Boolean): Unit = {
      val ok = Try(f).fold({ e =>
        System.err.println(s"[selftest] $name threw: $e"); false }, identity)
      System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
      checks(name) = ok
    }

    check("same seed, same ingest inputs")(ingestInputs(7) == ingestInputs(7))
    check("other seed, other ingest inputs")(ingestInputs(7) != ingestInputs(8))
    check("same seed, same search inputs")(searchInputs(7) == searchInputs(7))
    check("other seed, other search inputs")(searchInputs(7) != searchInputs(8))

    storeChecks(spark, s"$work/selftest-store", check)
    searchChecks(spark, s"$work/selftest-search", check)

    val ok = checks.values.forall(identity)
    println(Stats.json(Map("ok" -> ok, "checks" -> checks)))
    if (ok) 0 else 1
  }

  /** Base documents, three batches and their planted outcomes. */
  private def ingestInputs(seed: Long) = {
    val p = new Planted(new Gen(seed, "ingest"), 100000000L)
    val base = p.base(40, 30, 60).map(d => (d.uid, d.text, d.meta))
    val batches = (0 until 3).map(_ => p.batch(8, 2, 3, 3, 30, 60))
      .map(b => (b.docs.map(d => (d.uid, d.text, d.meta)), b.expect))
    (base, batches, p.edges.toList)
  }

  /** Initial store, legislation edges, and 60 operations. */
  private def searchInputs(seed: Long) = {
    val g = new SearchGen(seed)
    val m = g.model(200)
    val ops = (0 until 60).map { _ =>
      g.nextKind() match {
        case "upsert" => Left(g.upsert(m))
        case k => Right(g.event(k, m))
      }
    }
    (m.rows, m.edges, ops)
  }

  /** Rewrite the parquet dir `dir` through `f`, keeping its path. */
  private def rewrite(spark: SparkSession, dir: String)(
      f: DataFrame => DataFrame): Unit = {
    f(spark.read.parquet(dir)).write.parquet(s"$dir.tmp")
    deleteTree(dir)
    Files.move(Paths.get(s"$dir.tmp"), Paths.get(dir))
  }

  private def deleteTree(dir: String): Unit = {
    val s = Files.walk(Paths.get(dir))
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
    finally s.close()
  }

  private def storeChecks(spark: SparkSession, dir: String,
      check: String => (=> Boolean) => Unit): Unit = {
    import spark.implicits._
    val planted = new Planted(new Gen(3, "selftest"), 100000000L)
    val base = planted.base(60, 30, 60)
    // fold on every batch, so batch 1 writes a compacted base
    val stores = new StoreLoops(spark, dir, new Tracer(spark.sparkContext,
      false), maxOpen = 1)
    stores.init(base, planted.edges.toSeq)
    val batches = (0 until 2).map { id =>
      val b = planted.batch(8, 2, 3, 3, 30, 60)
      val df = b.docs.map(d => (d.uid, d.text, d.meta))
        .toDF("uid", "text", "meta_key")
      stores.commit(stores.sign(df), id.toLong)
      b
    }
    def outcomeFailures(id: Int): Int = {
      val rec = new Record
      stores.readBack(rec, s"batch $id", batches(id), timed = false)
      rec.failures.size
    }
    check("outcome check passes on real outcomes")(outcomeFailures(1) == 0)
    check("final store checks pass on the real stores")(
      stores.checkFinal(planted).isEmpty)

    val outcomesDir = s"${stores.gateDir}/gen_1/outcomes"
    rewrite(spark, outcomesDir) { df =>
      val victim = df.filter(col("outcome") === "new").agg(min("uid"))
        .head().getLong(0)
      df.withColumn("outcome", when(col("uid") === victim, "duplicate")
        .otherwise(col("outcome")))
    }
    check("outcome check fails on a flipped outcome")(outcomeFailures(1) > 0)

    val ccBase = StoreLoops.committed(stores.ccDir, "assign_", "_SUCCESS").max
    rewrite(spark, s"${stores.ccDir}/assign_$ccBase") { df =>
      val victim = df.agg(max("doc_id")).head().getLong(0)
      df.withColumn("canonical_id", when(col("doc_id") === victim,
        col("doc_id") + 7).otherwise(col("canonical_id")))
    }
    check("CC check fails on a moved vertex")(
      stores.checkFinal(planted).exists(_.startsWith("CC assignment")))

    val gateBase = StoreLoops.committed(stores.gateDir, "base_", "_SUCCESS").max
    rewrite(spark, s"${stores.gateDir}/base_$gateBase") { df =>
      df.withColumn("meta_key", when(col("node_id") === 1L, lit("tampered"))
        .otherwise(col("meta_key")))
    }
    val gateFails = stores.checkFinal(planted)
    check("gate store checks fail on a changed row")(
      gateFails.exists(_.contains("never-compacted fold")) &&
        gateFails.exists(_.contains("planted state")))
  }

  private def searchChecks(spark: SparkSession, dir: String,
      check: String => (=> Boolean) => Unit): Unit = {
    import spark.implicits._
    import SearchMixed._
    val g = new SearchGen(5)
    val model = g.model(300)
    model.rows.toDF().write.parquet(s"$dir/v0")
    val store = spark.read.parquet(s"$dir/v0")
    val ev = Map("status" -> "published", "page" -> "1")
    val rows = Search.plan(store, Search.fromEvent(ev).toOption.get, Bind)
      .collect().toSeq
    check("page check passes on a real page")(
      rows.size == 10 && pageOk(model, ev, Right(rows)))
    check("page check fails on a wrong page")(
      !pageOk(model, ev, Right(rows.reverse.tail)) &&
        !pageOk(model, ev, Right(rows.take(9))))
    check("page check fails on a missing 400")(
      !pageOk(model, Malformed.head, Right(rows)))
    val stale = store.as[DocRow].collect().toSeq
    check("store check passes on the real store")(storeOk(model, stale))
    model.merge(g.upsert(model))
    check("store check fails on a stale store")(!storeOk(model, stale))
  }
}
