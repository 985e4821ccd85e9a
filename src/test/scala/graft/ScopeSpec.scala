package graft

import graft.streaming.{CcStoreLoop, StreamPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel

/** Scope releases everything a unit of work registered when its run
  * closes, however the body ends. */
class ScopeSpec extends SparkSpec {
  import spark.implicits._

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet
  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a body that throws after a partial write leaves nothing persisted") {
    implicit val sqlCtx = spark.sqlContext
    val before = persisted
    val out = tmp("graft-scope-out")
    val input = MemoryStream[Long]
    input.addData(1L to 100L: _*)
    var registered = Seq.empty[DataFrame]
    // the sink runs on the stream's thread, in the scope StreamPipeline
    // opens around each batch
    val q = StreamPipeline.run(input.toDF(), tmp("graft-scope-ckpt")) {
      (batch, _) =>
        val kept = Scope.persist(batch)
        val even = Scope.checkpoint(kept.filter($"value" % 2 === 0),
          eager = true)
        registered = Seq(kept, even)
        even.write.parquet(s"$out/even")
        throw new IllegalStateException("sink failed after a partial write")
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.awaitTermination())
    assert(e.getMessage.contains("sink failed after a partial write"))
    assert(new java.io.File(s"$out/even/_SUCCESS").exists,
      "the partial write never happened")
    assert(registered.size == 2 && registered.head.storageLevel ==
      StorageLevel.NONE, "the persisted batch is still cached")
    assert((persisted -- before).isEmpty,
      s"left persisted: ${persisted -- before}")
  }

  test("a conf that throws (an invalid value) still restores the " +
    "overrides set before it") {
    val before = spark.conf.getAll
    intercept[IllegalArgumentException] {
      Scope.run(spark) {
        Scope.conf(spark, "spark.sql.shuffle.partitions", "7")
        Scope.conf(spark, "spark.sql.autoBroadcastJoinThreshold", "1")
        // set twice in one scope: the restore still reaches the
        // value from before the first
        Scope.conf(spark, "spark.sql.shuffle.partitions", "9")
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "9")
        Scope.conf(spark, "spark.sql.shuffle.partitions", "not-a-number")
      }
    }
    assert(spark.conf.getAll == before)
  }

  test("persist, checkpoint and conf outside a run throw, naming the " +
    "caller, and register nothing") {
    val before = persisted
    // the test body itself runs in SparkSpec's scope, so the calls go
    // on a thread that has none
    def outside(call: => Unit): Throwable = {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val t = new Thread(() =>
        try call catch { case e: Throwable => err.set(e) })
      t.start(); t.join()
      err.get
    }
    val frame = spark.range(5).toDF()
    Seq(
      outside(Scope.persist(frame)),
      outside(Scope.checkpoint(frame, eager = true)),
      outside(Scope.conf(spark, "spark.sql.shuffle.partitions", "3"))
    ).foreach { e =>
      assert(e.isInstanceOf[IllegalStateException], s"got $e")
      assert(e.getMessage.contains("outside Scope.run") &&
        e.getMessage.contains("ScopeSpec"), e.getMessage)
    }
    assert(frame.storageLevel == StorageLevel.NONE)
    assert(persisted == before)
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "3")
  }

  test("persist fills the cache before it returns, and a nested run " +
    "releases only what it registered") {
    val outer = Scope.persist(spark.range(40).toDF("id").repartition(3))
    var inner: DataFrame = null
    val before = persisted
    Scope.run(spark) {
      inner = Scope.persist(spark.range(50).toDF("id").repartition(3))
      val cached = spark.sparkContext.getRDDStorageInfo
        .filter(i => !before.contains(i.id))
      assert(cached.size == 1 && cached.forall(i =>
        i.numCachedPartitions == i.numPartitions),
        s"a partly filled cache: ${cached.mkString("; ")}")
    }
    assert(inner.storageLevel == StorageLevel.NONE)
    assert(outer.storageLevel != StorageLevel.NONE)
    assert(outer.count() == 40)
  }

  test("20 store-loop micro-batches with a checkpoint dir set leave no " +
    "persisted RDD and the checkpoint dir's file count flat") {
    // each batch is one edge over the driver arm's row cap, so the CC
    // loop checkpoints the batch and runs the distributed fold, whose
    // rounds checkpoint too — reliable files, with the dir set
    val perBatch = graft.operators.DedupQueries.DriverRows + 8
    val ckpt = java.nio.file.Paths.get(tmp("graft-scope-rel"))
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    def files(): Long = {
      val s = java.nio.file.Files.walk(ckpt)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
    val dir = tmp("graft-scope-cc")
    CcStoreLoop.init(spark, Seq((1L, 2L)).toDF("a_id", "b_id"), dir)
    val before = persisted
    val filesBefore = files()
    (0 until 20).foreach { b =>
      // disjoint pairs of fresh vertices: each batch adds perBatch
      // two-vertex components
      val lo = 1000000L * (b + 1)
      val edges = spark.range(perBatch)
        .select(($"id" * 2 + lo).as("a_id"), ($"id" * 2 + lo + 1).as("b_id"))
      CcStoreLoop.handleBatch(dir)(edges, b.toLong)
      CcStoreLoop.maybeCompact(spark, dir, 4, upTo = b.toLong + 1)
      assert((persisted -- before).isEmpty,
        s"batch $b left persisted RDDs ${persisted -- before}")
      assert(files() == filesBefore,
        s"batch $b left ${files() - filesBefore} checkpoint files")
    }
    val state = CcStoreLoop.state(spark, dir)
    assert(state.count() == 2 + 20L * perBatch * 2)
    assert(state.filter($"doc_id" =!= $"canonical_id" &&
      $"doc_id" =!= $"canonical_id" + 1).isEmpty)
  }
}
