package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal plumbing tests: schema shapes, per-partition batching,
  * magic sniffing, generator fan-out. The codec itself is the documented
  * deterministic stub. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val jpegHead = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)
  private val pngHead = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47)

  private def media = Seq(
    (1L, jpegHead ++ Array[Byte](1, 2, 3, 4, 5, 6)),
    (2L, pngHead ++ Array[Byte](9, 9)),
    (3L, "plain text".getBytes("UTF-8")),
    // r20 review: the ID3 magic is the one sniffable prefix reachable
    // from valid UTF-8 text (FFD8/89504E47 cannot start a UTF-8
    // string), so it is the branch the documents-table oracle can now
    // exercise — pinned here on the engine side too
    (4L, "ID3 tagged audio payload".getBytes("UTF-8")))
    .toDF("id", "content")

  test("media metadata: magic sniff + byte length") {
    val rows = Multimodal.withMediaMeta(media)
      .select($"id", $"meta.media_type", $"meta.byte_len")
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(rows(1L) == ("image", 10L))
    assert(rows(2L) == ("image", 6L))
    assert(rows(3L)._1 == "unknown")
    assert(rows(4L)._1 == "audio",
      "the ID3 sniff branch must classify, not fall through to unknown")
  }

  test("feature extraction appends a fixed-dims float vector per row") {
    val out = Multimodal.extractFeatures(media, dims = 8)
    assert(out.schema.fieldNames.contains("features"))
    val feats = out.select($"id", $"features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats.values.forall(_.length == 8))
    // histogram is normalized: sums to ~1
    assert(math.abs(feats(1L).sum - 1.0f) < 1e-5)
    // deterministic across runs
    val again = Multimodal.extractFeatures(media, dims = 8)
      .select($"id", $"features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats == again)
  }

  test("feature histogram un-normalizes to exact integer byte counts " +
    "(the mm_feature_hist portability contract)") {
    val rows = Multimodal.extractFeatures(media, dims = 8)
      .select($"id", $"content", $"features").collect()
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]](1)
      val feats = r.getSeq[Float](2)
      val direct = bytes.groupBy(b => java.lang.Byte.toUnsignedInt(b) % 8)
        .view.mapValues(_.length).toMap
      (0 until 8).foreach { bucket =>
        val recovered = math.round(feats(bucket).toDouble * bytes.length)
        assert(recovered == direct.getOrElse(bucket, 0).toLong,
          s"id=${r.getLong(0)} bucket=$bucket")
      }
    }
  }

  test("resize produces a fixed w×h payload per row, keeps input columns") {
    val out = Multimodal.resize(media, 4, 2)
    assert(out.columns.toSeq ==
      Seq("id", "content", "resized", "out_w", "out_h"))
    val rows = out.select($"id", $"resized", $"out_w", $"out_h")
      .collect().map(r => (r.getLong(0),
        (r.getAs[Array[Byte]](1).length, r.getInt(2), r.getInt(3)))).toMap
    assert(rows.values.forall(_ == (8, 4, 2))) // every payload is w*h bytes
    // deterministic: same input → same bytes
    val again = Multimodal.resize(media, 4, 2)
      .filter($"id" === 1L).select($"resized").head.getAs[Array[Byte]](0)
    val first = out.filter($"id" === 1L).select($"resized")
      .head.getAs[Array[Byte]](0)
    assert(again.toSeq == first.toSeq)
  }

  test("frame sampling fans one row out to n frames, keeps other columns") {
    val out = Multimodal.sampleFrames(media.filter($"id" === 1L), n = 3)
    val rows = out.select($"id", $"frame_no", $"frame").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    assert(rows.forall(_.getLong(0) == 1L))
    // concatenated frames cover a prefix of the payload
    val total = rows.map(_.getAs[Array[Byte]](2).length).sum
    assert(total > 0 && total <= 10)
  }

  test("phash ghost ids derive from max(doc_id) — no collision even when " +
      "real ids straddle the old 1,000,000 additive offset") {
    // A corpus whose real ids OVERLAP the historical fixed offset: under
    // `doc_id + 1000000` the ghost of 25 would collide with real 1000025
    // and the ghost of 1000050 would sort below real ids — both silent
    // misclassifications. The data-derived offset must keep ghosts
    // disjoint from and strictly above every real id.
    val txt = ("abcdefghij" * 15).take(120)
    val docs = Seq(25L, 50L, 1000025L, 1000050L)
      .map(id => (id, txt + id))
      .toDF("doc_id", "text")
    val out = Multimodal.withGhostDups(docs)
    val ids = out.select($"doc_id").collect().map(_.getLong(0))
    val real = Set(25L, 50L, 1000025L, 1000050L)
    val ghosts = ids.filterNot(real.contains)
    // every 25th-rule doc (all four here) gets exactly one ghost
    assert(ids.length == 8 && ghosts.length == 4)
    // ghosts are unique, disjoint from real ids, and ALL above max real id
    assert(ghosts.distinct.length == 4)
    assert(ghosts.forall(_ > 1000050L))
    // ghost text is a length-preserving splice, not an append
    val lens = out.groupBy(length($"text").as("l")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(lens.values.sum == 8 && lens.keySet.forall(_ >= 120))
  }

  test("native dhash_bands phash table equals the declarative " +
      "resize→hex→conv chain row-for-row (r21 native swap)") {
    val a = Multimodal.phashBands(spark, sf)
      .orderBy("doc_id", "band_id").collect()
    val b = ParityReferences.phashBandsDeclarative(spark, sf)
      .orderBy("doc_id", "band_id").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x != $y") }
  }
}
