package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The on-disk protocol of an LSM store directory, shared by both store
  * loops ([[GateStoreLoop]], [[CcStoreLoop]]). Every path resolves
  * through Hadoop `FileSystem`, using the path's own URI and the
  * context's Hadoop configuration, so a store may live at a plain path,
  * a `file:` URI or an object-store URI (`s3a:`) alike. The loops differ
  * only in the name of their base layer and in which file commits one of
  * their generations; everything else lives here.
  *
  * LAYOUT under a store `dir`:
  * {{{
  *   <base><g>/    a full base covering generations <= g
  *                 (<base>-1 is the initial store init() writes)
  *   gen_<id>/     the layer written by the micro-batch with id <id>
  * }}}
  *
  * COMMIT. A base is committed when `<base><g>/_SUCCESS` exists, a
  * generation when `gen_<id>/<genMarker>` exists — the parquet commit
  * marker of the LAST write the loop makes for that generation. The
  * current state is the highest committed base plus every committed
  * generation above it, in id order. Anything uncommitted — a write cut
  * off by a crash, a fold interrupted mid-write — is invisible, so the
  * previous state stays authoritative. Non-numeric strays (an editor
  * backup, a half-renamed dir) are ignored.
  *
  * REDELIVERY (the checkpointed foreachBatch contract: a batch that failed
  * mid-write is delivered again with the SAME batchId). A batch resolves
  * only generations STRICTLY BELOW its own id and writes its layer with
  * overwrite into its own `gen_<batchId>`, and in-stream compaction
  * (`upTo = batchId`) folds only generations strictly below the current
  * batch, whose offsets committed before it was delivered. So neither a
  * half-written layer nor a compaction that ran before the crash can
  * change what a re-run of the same batch observes: replaying any prefix
  * of batches is a no-op.
  *
  * CONCURRENCY. One writer — the streaming query's foreachBatch — owns
  * every write, batch layers and compaction alike. Two writers over one
  * `dir` are out of contract and unprotected (no lock file). Concurrent
  * READERS are safe at the resolution level: they resolve only committed
  * layers, superseded layers are never deleted in-stream (garbage
  * collection is an offline janitor's concern), and a forward compaction
  * writes a base that did not exist before, so a reader racing it sees
  * either the old base plus open generations or the new fold — the same
  * live state. The one sharp edge: a crash-recovery RE-fold overwrites an
  * existing committed base (delete-then-write), so a reader already
  * scanning exactly that dir can lose files and must re-resolve. Readers
  * that resolve per query never see it.
  *
  * COMPACTION. One policy for both loops ([[compact]]): count the open
  * generations below `upTo` from the listing alone; when the count
  * reaches the threshold and is non-zero, write the loop's fold of them
  * as the base at the highest folded generation id. Each open generation
  * adds one probe or overlay join to every later batch, so bounding the
  * count trades a periodic corpus-sized fold for a bounded fan-out.
  *
  * READ. Every generation of one layer kind shares the schema of the
  * frame that wrote it, so [[StoreFs.read]] takes that schema from one
  * parquet footer on the driver (the schema Spark stores with every
  * parquet write) and hands it to the reader: no schema-inference job
  * per layer, and one relation over any number of layers. It is the
  * assumption Spark itself makes for a multi-path read with
  * `mergeSchema=false`, which infers from a single file.
  */
private[graft] final class StoreFs(base: String, genMarker: String) {

  def baseDir(dir: String, g: Long): String = s"$dir/$base$g"
  def genDir(dir: String, id: Long): String = s"$dir/gen_$id"

  /** The highest committed base and the committed generations above it
    * and strictly below `below`, ascending. Loud when no base is
    * committed: init() never ran or never committed, and probing a
    * missing store must not look like an empty one. */
  def resolve(spark: SparkSession, dir: String,
      below: Long = Long.MaxValue): (Long, Seq[Long]) = {
    val fs = StoreFs.fs(spark, dir)
    val names = StoreFs.list(fs, dir)
    val g = committed(fs, dir, names, base, "_SUCCESS", _ => true).lastOption
      .getOrElse(throw new IllegalStateException(
        s"no committed $base layer under $dir — run init() first (a " +
          "missing or _SUCCESS-less base means the store was never " +
          "created, not that it is empty)"))
    (g, committed(fs, dir, names, "gen_", genMarker,
      id => id > g && id < below))
  }

  /** Every committed generation id, folded ones included, whose
    * `gen_<id>/<also>` exists too; ascending. */
  def generations(spark: SparkSession, dir: String,
      also: String): Seq[Long] = {
    val fs = StoreFs.fs(spark, dir)
    committed(fs, dir, StoreFs.list(fs, dir), "gen_", genMarker, _ => true)
      .filter(id => fs.exists(new Path(s"${genDir(dir, id)}/$also")))
  }

  /** Write `df` as the initial base `<base>-1`, after deleting every
    * layer: a re-used dir yields a fresh store, not a new base outranked
    * or overlaid by layers from the dir's earlier life. */
  def init(df: DataFrame, dir: String): Unit = {
    delete(df.sparkSession, dir, _ => true)
    writeBase(df, dir, -1)
  }

  /** Delete every layer but the initial base, returning the store to the
    * state init() left (the catalog queries' deterministic re-runs). */
  def rewind(spark: SparkSession, dir: String): Unit =
    delete(spark, dir, _ != s"${base}-1")

  /** The compaction policy (see the class doc): `fold(g, open)` builds
    * the new base from the committed base `g` and the open generations;
    * true when a fold was written. */
  def compact(spark: SparkSession, dir: String, maxOpenGenerations: Int,
      upTo: Long)(fold: (Long, Seq[Long]) => DataFrame): Boolean = {
    val (g, open) = resolve(spark, dir, upTo)
    val due = open.nonEmpty && open.size >= maxOpenGenerations
    if (due) writeBase(fold(g, open), dir, open.last)
    due
  }

  // size-targeted files via AQE rebalance: a base is the store's
  // corpus-sized write, where per-file open cost on every later read
  // matters most
  private def writeBase(df: DataFrame, dir: String, g: Long): Unit =
    df.hint("rebalance").write.mode("overwrite").parquet(baseDir(dir, g))

  /** Ids of the `<prefix><id>` entries among `names` that pass `keep`
    * and carry `marker`, ascending. */
  private def committed(fs: FileSystem, dir: String, names: Seq[String],
      prefix: String, marker: String, keep: Long => Boolean): Seq[Long] =
    names.filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toLongOption).filter(keep).sorted
      .filter(id => fs.exists(new Path(s"$dir/$prefix$id/$marker")))

  private def delete(spark: SparkSession, dir: String,
      pick: String => Boolean): Unit = {
    val fs = StoreFs.fs(spark, dir)
    StoreFs.list(fs, dir)
      .filter(n => (n.startsWith(base) || n.startsWith("gen_")) && pick(n))
      .foreach(n => fs.delete(new Path(s"$dir/$n"), true))
  }
}

private[graft] object StoreFs {
  /** The filesystem `path` lives on. */
  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Footer key under which every Spark parquet write stores the
    * written frame's schema as JSON. */
  private val SchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** One relation over the layer dirs `paths`, all of one kind (see the
    * class doc's READ paragraph). The schema comes from the footer of a
    * data file in the first dir; a dir without one, or a footer without
    * Spark's schema, falls back to Spark's own inference. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths.head) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The schema stored in the footer of a data file under `dir` (names
    * starting `_` or `.` are markers and checksums, as Spark skips
    * them). */
  private def footerSchema(spark: SparkSession,
      dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = list(fs(spark, dir), dir)
      .find(n => !n.startsWith("_") && !n.startsWith("."))
    file.flatMap { n =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(s"$dir/$n"), conf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(SchemaKey))
      finally reader.close()
    }.map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  /** Total bytes of every file under `paths`. */
  def bytes(spark: SparkSession, paths: Seq[String]): Long =
    paths.map(p => fs(spark, p).getContentSummary(new Path(p)).getLength).sum

  /** Entry names directly under `dir`; empty when it does not exist. */
  private def list(fs: FileSystem, dir: String): Seq[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }
}
