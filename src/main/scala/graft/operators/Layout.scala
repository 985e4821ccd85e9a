package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional file-layout clustering (Z-order / Morton curve) —
  * the data-skipping primitive for 100 TB scans. A 1-D sorted layout
  * gives tight parquet min/max footer stats only on its leading column;
  * interleaving the bits of BOTH clustering keys into one sort key and
  * range-partitioning the write by it makes the stats selective on every
  * clustered dimension, so a filter on either column prunes most files
  * before any row is read. (The layout idea Delta/Iceberg expose as
  * `OPTIMIZE ZORDER BY`; here it is a pure DataFrame write shape.)
  *
  * Reference framing: the corpus store is keyed by uid prefix only
  * (`lambdas/pdf_to_orpml/pdf_to_orpml.py:219-236`); every
  * date- or regulator-scoped rescan is a full listing. Z-ordering the
  * bulk store on (date, regulator) is the scan-pruning upgrade.
  */
object Layout {

  /** Bit-interleaved Morton key of two non-negative keys (low `bits`
    * bits each). Unrolled shift/mask arithmetic — codegen'd end to end,
    * no UDF; the terms write disjoint bit positions so `+` is `|`. */
  def zorderKey(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Write `df` clustered by the Morton key of (x, y): range-partition
    * into `files` output files on the key (balanced file sizes via
    * sampled range bounds — no single-task global sort), then sort
    * within each partition so row-group stats are tight as well. */
  def zorderWrite(df: DataFrame, x: Column, y: Column, path: String,
      files: Int): Unit =
    df.withColumn("_zkey", zorderKey(x, y))
      .repartitionByRange(files, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction: rewrite a parquet directory into
    * ⌈bytes / targetBytes⌉ balanced files. At 100 TB the steady-state
    * enemy of scan throughput is the long tail of KB-sized files left
    * by incremental appends — listing, footer reads, and task scheduling
    * start to dominate the actual IO. One round-robin repartition rewrite
    * restores scan-efficient sizes; returns the output file count. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long): Int = {
    val bytes = graft.streaming.StoreFs.bytes(spark, Seq(inPath))
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(files)
      .write.mode("overwrite").parquet(outPath)
    files
  }

  /** Embedding-corpus compaction (r20, verdict Next 2): fold delta
    * parquet dirs into the stored corpus (the sim_ivf_delta story's
    * "periodic compaction — the only corpus-sized event") and REFRESH
    * the persisted sign-LSH width sidecar, because compaction is
    * exactly the moment the corpus count changed: a store that grew a
    * decade since its width was derived must not keep bucketing at the
    * stale width (quadratic per-bucket fan-out is the 8-bit decade-3
    * disk death, SCALE.md r18). `vecCol` names the embedding column;
    * returns the refreshed width. The rewrite itself is the
    * [[compact]] shape — balanced files at `targetBytes`. */
  def compactEmbeddings(spark: SparkSession, inPaths: Seq[String],
      outDir: String, targetBytes: Long, vecCol: String = "embedding"): Int = {
    require(inPaths.nonEmpty, "compactEmbeddings: no inputs")
    val unioned = inPaths.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val out = s"$outDir/embeddings.parquet"
    // r20 review: the natural in-place call — folding $store/gen_* INTO
    // $store — would lazily read the same path the overwrite targets
    // and die at write time ("Cannot overwrite a path that is also
    // being read from") AFTER the repartition job is planned, leaving
    // the stale sidecar in place. Fail at entry with the contract
    // instead: compaction writes to a FRESH dir (the LSM discipline
    // the store loops use — new generation, then swap).
    val outNorm = java.nio.file.Paths.get(out).toAbsolutePath.normalize
    inPaths.foreach { p =>
      val pn = java.nio.file.Paths.get(p).toAbsolutePath.normalize
      require(!pn.startsWith(outNorm) && !outNorm.startsWith(pn),
        s"compactEmbeddings: input $p overlaps the output $out — " +
          "compaction must write a fresh generation dir and swap " +
          "(in-place overwrite of a path being read is not a thing " +
          "Spark can do)")
    }
    // size the file count from the INPUT bytes (the output isn't
    // written yet); one round-robin repartition rewrite, as compact()
    val bytes = graft.streaming.StoreFs.bytes(spark, inPaths)
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    unioned.repartition(files).write.mode("overwrite").parquet(out)
    graft.functions.Vectors.rederiveSignBits(
      spark.read.parquet(out)
        .select(col(vecCol).cast("array<double>").as("v")),
      col("v"), outDir)
  }

  /** Bucketed store write — the 1000×-scale posture SCALE.md promises:
    * a maintained table (signature store, ANN codes, postings) written
    * `bucketBy` its join key means every later join against another
    * table bucketed the same way is EXCHANGE-FREE — the shuffle that
    * dominates repeated band joins is paid once at write time, never
    * again per query. `option("path", …)` keeps the table external so
    * tests (and warehouses) control placement; `sortBy` tightens
    * row-group stats within each bucket. LayoutSpec asserts the
    * bucket-join plan carries zero Exchange with broadcast disabled. */
  def bucketedStoreWrite(df: DataFrame, table: String, path: String,
      buckets: Int, keys: Seq[String]): Unit =
    df.write.mode("overwrite").option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The key computation itself, oracle-checked bit-for-bit: Morton key
    // over the (partkey, suppkey) plane of lineitem.
    "layout_zorder_key" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          zorderKey((col("l_partkey") % 65536).cast("long"),
            (col("l_suppkey") % 65536).cast("long")).as("zkey"))
    }))

  val oracles: Map[String, String] = {
    // Mirror of zorderKey's unrolled arithmetic, generated from the same
    // loop so the two cannot drift.
    val terms = (0 until 16).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    Map("layout_zorder_key" ->
      s"""WITH b AS (SELECT l_orderkey, l_linenumber,
         |  CAST(l_partkey % 65536 AS BIGINT) x,
         |  CAST(l_suppkey % 65536 AS BIGINT) y FROM lineitem)
         |SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zkey
         |FROM b""".stripMargin)
  }
}
