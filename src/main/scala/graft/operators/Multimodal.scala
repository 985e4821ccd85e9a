package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support — the LLM-pipeline surface for image/audio/
  * video payloads: opaque `binary` content columns with typed metadata,
  * decode / feature-extract / frame-sample stages as `mapPartitions`
  * batch transforms (the JVM analogue of pandas-UDF batching: one
  * partition = one batch, decoder state initialized once per partition).
  *
  * The actual codec libraries are NOT in this container, so [[StubCodec]]
  * is a clearly-marked deterministic fake — the Spark-side plumbing
  * (schema, batching, partitioning, column shapes) is real and tested,
  * and a real decoder drops in by replacing the one trait instance.
  */
object Multimodal {

  /** Typed metadata carried beside every binary payload. */
  val mediaMeta: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image | audio | video
    StructField("byte_len", LongType),
    StructField("magic", StringType)))       // sniffed container format

  /** Decoder boundary. Production: JNI/javacpp codec. Here: deterministic
    * stub so tests are hermetic. */
  trait Codec extends Serializable {
    /** bytes → fixed-length feature vector (e.g. pooled embedding). */
    def features(bytes: Array[Byte], dims: Int): Array[Float]
    /** bytes → sampled "frame" byte slices (video frame-sample stage). */
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]]
    /** bytes → re-encoded payload at (w, h) (image resize stage). */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte]
  }

  /** Deterministic fake: features are byte histograms folded to `dims`;
    * frames are even byte-range slices. Replace with a real codec in
    * production — the pipeline shape does not change. */
  object StubCodec extends Codec {
    def features(bytes: Array[Byte], dims: Int): Array[Float] = {
      val out = new Array[Float](dims)
      var i = 0
      while (i < bytes.length) {
        out(java.lang.Byte.toUnsignedInt(bytes(i)) % dims) += 1.0f
        i += 1
      }
      val n = math.max(bytes.length, 1).toFloat
      var j = 0
      while (j < dims) { out(j) /= n; j += 1 }
      out
    }
    def sampleFrames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      val span = math.max(bytes.length / math.max(n, 1), 1)
      (0 until math.min(n, bytes.length)).map { i =>
        bytes.slice(i * span, math.min(i * span + span, bytes.length))
      }
    }
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      // deterministic stub: nearest-neighbor subsample of the byte stream
      // to a w×h payload (real codec: decode → scale → re-encode)
      val n = math.max(w * h, 1)
      val out = new Array[Byte](n)
      val len = math.max(bytes.length, 1)
      var i = 0
      while (i < n) {
        out(i) = if (bytes.isEmpty) 0 else bytes((i.toLong * len / n).toInt)
        i += 1
      }
      out
    }
  }

  /** Attach media metadata columns to a frame with a `content: binary`
    * column — pure column expressions (codegen'd). Magic sniffing uses
    * hex prefixes the way file(1) does. */
  def withMediaMeta(df: DataFrame, content: String = "content"): DataFrame = {
    val hexHead = upper(hex(substring(col(content), 1, 4)))
    df.withColumn("meta", struct(
      when(hexHead.startsWith("FFD8"), "image")
        .when(hexHead.startsWith("89504E47"), "image")
        .when(hexHead.startsWith("494433"), "audio")
        .otherwise("unknown").as("media_type"),
      octet_length(col(content)).cast("long").as("byte_len"),
      hexHead.as("magic")))
  }

  /** Feature extraction as a partition-batched transform: the codec is
    * instantiated once per partition (≙ pandas-UDF iterator pattern), rows
    * stream through without collecting. Output schema: input ⊕ features.
    */
  def extractFeatures(df: DataFrame, dims: Int,
      codec: Codec = StubCodec, content: String = "content"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(content)
    df.mapPartitions { rows =>
      // per-partition codec init happens here (once), not per row
      val c = codec
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        Row.fromSeq(r.toSeq :+ c.features(bytes, dims).toSeq)
      }
    }(enc)
  }

  /** Resize: partition-batched binary → binary transform at fixed target
    * dims; schema input ⊕ (resized, out_w, out_h). Same per-partition
    * codec-init shape as [[extractFeatures]]. */
  def resize(df: DataFrame, w: Int, h: Int,
      codec: Codec = StubCodec, content: String = "content"): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("resized", BinaryType),
      StructField("out_w", IntegerType),
      StructField("out_h", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(content)
    df.mapPartitions { rows =>
      val c = codec
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        Row.fromSeq(r.toSeq ++ Seq(c.resize(bytes, w, h), w, h))
      }
    }(enc)
  }

  /** Frame sampling: one input row → n frame rows (generator-shaped). */
  def sampleFrames(df: DataFrame, n: Int,
      codec: Codec = StubCodec, content: String = "content"): DataFrame = {
    val base = df.schema.fields.filter(_.name != content)
    val outSchema = StructType(base ++ Seq(
      StructField("frame_no", IntegerType),
      StructField("frame", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(content)
    val keep = base.map(f => df.schema.fieldIndex(f.name))
    df.mapPartitions { rows =>
      val c = codec
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        c.sampleFrames(bytes, n).zipWithIndex.map { case (fr, i) =>
          Row.fromSeq(keep.map(r.get).toSeq ++ Seq(i, fr))
        }
      }
    }(enc)
  }

  /** Oracle-checked query surface: documents' text bytes stand in for
    * media payloads; metadata extraction is pure-expression and portable.
    */
  private def binDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("content"))

  /** The near-dup test corpus: every payload, plus a deterministic
    * LENGTH-PRESERVING 2-byte splice of every 25th (the pixel-noise /
    * re-encode stand-in — an append would shift every sampled position
    * and rightly not match). Shared by mm_phash_dedup and
    * pipe_mm_refinery, mirrored verbatim in their oracles.
    *
    * Ghost (mutated) rows need ids that (a) can NEVER collide with a
    * real doc and (b) sort ABOVE every real id, so the keep-first pair
    * orientation (a_id < b_id drops b_id) always drops the ghost, not
    * the original. A fixed additive offset satisfies neither at all
    * scale factors, so the offset is derived from the data itself —
    * max(doc_id) + 1, attached as a broadcast one-row frame (the same
    * scalar-attach pattern the codebook joins use): collision-free and
    * order-correct by construction at ANY corpus size. */
  private[graft] def withGhostDups(doc: DataFrame): DataFrame = {
    val off = doc.agg((max(col("doc_id")) + 1L).as("ghost_off"))
    doc.select(col("doc_id"), col("text"))
      .unionAll(doc
        .filter(col("doc_id") % 25 === 0 && length(col("text")) > 101)
        .crossJoin(broadcast(off))
        .select((col("doc_id") + col("ghost_off")).as("doc_id"),
          concat(substring(col("text"), 1, 9), lit("X"),
            substring(col("text"), 11, 89), lit("X"),
            col("text").substr(lit(101), length(col("text"))))
            .as("text")))
  }

  private def phashSrc(s: SparkSession, d: String): DataFrame =
    withGhostDups(Tables.documents(s, d))
      .select(col("doc_id"), col("text").cast("binary").as("content"))

  /** The dHash band table (doc_id, h64, band_id, band_val) the phash
    * dedup self-joins (`mm_phash_dedup`; `MultimodalSpec` pins it).
    *
    * `h64` (r19 fix) is the FULL 64-bit dHash reassembled from its four
    * band slices, riding every band row (+8 bytes on a slim row) so the
    * Hamming verify can run ROW-LOCAL inside the band join —
    * `bit_count(ha XOR hb)` over the two carried hashes equals the sum
    * of per-band bit_counts the old re-attachment computed, without the
    * pair stream ever touching an exchange (see mm_phash_dedup). */
  private[graft] def phashBands(s: SparkSession, d: String): DataFrame = {
    // r21 (guide §4): the whole resize→hex→px→bit chain is the native
    // one-pass dhash_bands — the former shape paid a mapPartitions
    // Row-codec boundary (decode/re-encode per row) plus an
    // upper(hex()) render and 72 substring+conv extractions per row.
    // Integer-identical output (MultimodalSpec pins parity against the
    // declarative chain, which phashBandsDeclarative retains); the
    // codec-stage OPERATORS (mm_resize, mm_frame_sample,
    // mm_feature_hist) keep the real partition-batched plumbing —
    // that boundary is their semantics, not a means.
    phashSrc(s, d)
      .select(col("doc_id"),
        graft.plans.Native.dhash_bands(col("content")).as("bs"))
      .select(col("doc_id"),
        (col("bs")(0) + shiftleft(col("bs")(1), 16) +
          shiftleft(col("bs")(2), 32) + shiftleft(col("bs")(3), 48))
          .as("h64"),
        posexplode(col("bs")).as(Seq("band_id", "band_val")))
  }

  /** The declarative resize→hex→conv dHash chain [[phashBands]]
    * compiled away — kept as the equivalence-test reference
    * (MultimodalSpec) and the readable statement of the semantics. */
  private[graft] def phashBandsDeclarative(s: SparkSession,
      d: String): DataFrame = {
    val rs = resize(phashSrc(s, d), 9, 8)
      .select(col("doc_id"), upper(hex(col("resized"))).as("h"))
    def px(i: Int) = conv(substring(col("h"), 2 * i + 1, 2), 16, 10)
      .cast("long")
    def band(b: Int) = (0 until 16).map { j =>
      val k = b * 16 + j
      val (r, c) = (k / 8, k % 8)
      when(px(r * 9 + c) < px(r * 9 + c + 1), lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    rs.select(col("doc_id"),
        array((0 until 4).map(b => band(b)): _*).as("bs"))
      .select(col("doc_id"),
        (col("bs")(0) + shiftleft(col("bs")(1), 16) +
          shiftleft(col("bs")(2), 32) + shiftleft(col("bs")(3), 48))
          .as("h64"),
        posexplode(col("bs")).as(Seq("band_id", "band_val")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_media_meta" -> ((s, d) => {
      withMediaMeta(binDocs(s, d))
        .select(col("doc_id"), col("meta.media_type"), col("meta.byte_len"),
          substring(col("meta.magic"), 1, 8).as("magic"))
    }),

    // Video frame-sample stage: one payload row → 8 frame rows through
    // the partition-batched generator (per-partition codec init, rows
    // stream — no collect, no state). Frames render as hex so the
    // oracle compares byte-exact content.
    "mm_frame_sample" -> ((s, d) => {
      sampleFrames(binDocs(s, d), 8)
        .select(col("doc_id"), col("frame_no"),
          upper(hex(col("frame"))).as("frame_hex"))
    }),

    // Image resize stage: binary → fixed 16×16 payload per row. The stub
    // codec's nearest-neighbor byte gather is deterministic, so the
    // resized payload itself is oracle-checkable (as hex).
    "mm_resize" -> ((s, d) => {
      resize(binDocs(s, d), 16, 16)
        .select(col("doc_id"), upper(hex(col("resized"))).as("resized_hex"),
          col("out_w"), col("out_h"))
    }),

    // Feature-extraction stage: payload → 64-dim pooled vector via the
    // partition-batched codec, then un-normalized back to integer bucket
    // counts for the cross-engine compare (float vectors don't hash
    // portably; the counts are exact).
    "mm_feature_hist" -> ((s, d) => {
      extractFeatures(binDocs(s, d), 64)
        .select(col("doc_id"), octet_length(col("content")).cast("long").as("len"),
          posexplode(col("features")).as(Seq("bucket", "f")))
        .select(col("doc_id"), col("bucket"),
          // r20 review: the native bit-identical fast_round — this
          // round runs once per EXPLODED feature row (64 × corpus),
          // exactly the per-row BigDecimal tax the knn path measured
          // at 1.9× and removed (SCALE.md r20)
          graft.plans.Native.fast_round(col("f") * col("len"), 0)
            .cast("int").as("cnt"))
        .filter(col("cnt") > 0)
    }),

    // Perceptual-hash near-dup — the IMAGE dedup path (dHash, public
    // method: resize to 9×8 grayscale, each bit = "left pixel < right
    // pixel", 64 bits total). The stub resize stands in for the decoder
    // exactly as in mm_resize; the hash build is pure codegen'd column
    // arithmetic over the 72-byte payload (no float anywhere — every
    // bit and band value is exact integer math, so the oracle matches
    // bit-for-bit). Candidate generation is the SimHash trick: 4×16-bit
    // bands, equal band ⇒ candidate (Hamming ≤ 6 guarantees ≥1 band
    // equal by pigeonhole), then the full Hamming distance verifies via
    // bit_count(xor) over the carried 64-bit hash — ROW-LOCAL in the
    // band join (r19, see the fix note below). Scale shape: band_val is
    // a derived equi-join key (expected block ≈ corpus/2^16 per band),
    // so the self-join is keyed, never all-pairs; only Hamming-passing
    // survivors ever reach an exchange. The corpus has no byte-identical
    // payloads, so every 25th doc also enters as a DETERMINISTIC
    // LENGTH-PRESERVING mutation (two bytes spliced in place — the
    // pixel-noise stand-in for a re-encoded image; an append would
    // shift every sampled position and rightly NOT match): those
    // planted pairs are what the operator must find, and random band
    // collisions are what the Hamming gate must reject.
    "mm_phash_dedup" -> ((s, d) => {
      // persisted: the frame feeds both sides of the band self-join —
      // without this the codec resize pass recomputes per reference,
      // exactly the cost the signature-table posture exists to avoid
      // (slim rows: doc_id + h64 + two ints per band)
      //
      // r19 SCALE FIX (the decade-3 battery's catch — the fourth
      // consecutive round a family's first decade-3 run found a real
      // defect): the original shape shuffled the RAW candidate pair
      // stream twice — a corpus-quadratic `distinct()` over (a_id,
      // b_id), then TWO re-attachment joins + a groupBy to recover the
      // band values the join had just thrown away. At 500k docs that
      // was already 2.5 GB shuffle / 10.4 GB spill / 66 s; at 5M docs
      // the probe-counted 7.33e9-row candidate stream (exact Σ s·(s−1),
      // probe_mm_syn100.json — 99.7× decade 2's, quadratic at fixed
      // width by construction) attempted 747 GB of spill and DIED on
      // disk at 802 s (bench_scale_mmphash_syn100_prefix_r19.json).
      // The fix: each band row carries the full 64-bit dHash (h64), so
      // the Hamming verify is bit_count(ha XOR hb) computed ROW-LOCAL
      // in the band join's output and filtered MAP-SIDE — identical to
      // the old sum of per-band bit_counts (the bands partition the 64
      // bits), but the only pair rows that ever reach an exchange are
      // the Hamming-passing survivors (planted near-dups + the rare
      // true collision), which the final distinct collapses across
      // multi-band hits. The candidate stream still flows (the LSH
      // pigeonhole guarantee needs every band hit inspected) — it just
      // flows through codegen'd integer arithmetic inside the join
      // stage instead of through the shuffle system. 100 TB shape: the
      // only corpus-sized exchange left is the band table's own
      // (band_id, band_val) partitioning — linear, as a keyed LSH
      // probe should be.
      val hashed = phashBands(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      hashed.select(col("doc_id").as("a_id"), col("band_id"),
          col("band_val"), col("h64").as("ha"))
        .join(hashed.select(col("doc_id").as("b_id"), col("band_id"),
          col("band_val"), col("h64").as("hb")), Seq("band_id", "band_val"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("hamming",
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .filter(col("hamming") <= 6)
        .select("a_id", "b_id", "hamming")
        .distinct()
    }),

    // The multimodal INGEST composition as one plan — what a media
    // corpus runs end-to-end: metadata sniff → perceptual near-dup drop
    // (keep-first: the higher id of every detected pair leaves) →
    // codec feature extraction → per-survivor feature summary (nonzero
    // buckets, dominant bucket — exact integer counts, the
    // mm_feature_hist equivalence). One declarative composition, so
    // Catalyst sees the whole lineage: the near-dup drop is a keyed
    // LEFT ANTI against the (tiny) pair survivors, and everything
    // downstream is the partition-batched codec plus row-local
    // arithmetic.
    "pipe_mm_refinery" -> ((s, d) => {
      val drop = queries("mm_phash_dedup")(s, d)
        .select(col("b_id").as("doc_id"))
      val survivors = withMediaMeta(phashSrc(s, d))
        .join(drop, Seq("doc_id"), "left_anti")
      // r20 review: fast_round for the same 64×-corpus reason as
      // mm_feature_hist above
      val counts = transform(col("features"),
        f => graft.plans.Native.fast_round(f * col("meta.byte_len"), 0)
          .cast("int"))
      extractFeatures(survivors, 64)
        .select(col("doc_id"), col("meta.media_type").as("media_type"),
          col("meta.byte_len").as("byte_len"), counts.as("cnts"))
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          size(filter(col("cnts"), c => c > 0)).as("nnz"),
          (array_position(col("cnts"), array_max(col("cnts"))) - 1)
            .cast("int").as("top_bucket"),
          array_max(col("cnts")).as("top_cnt"))
    }))

  val oracles: Map[String, String] = Map(
    // r20 review: the oracle RESTATES the magic sniff instead of
    // hardcoding 'unknown' — a doc whose text begins with the ASCII
    // bytes "ID3" (the one sniffable magic reachable from valid UTF-8)
    // must classify as audio in BOTH engines, and a regression in the
    // sniff expressions must fail the compare rather than pass unseen.
    "mm_media_meta" ->
      """SELECT doc_id,
        |  CASE WHEN substr(upper(hex(text::BLOB)), 1, 4) = 'FFD8'
        |         THEN 'image'
        |       WHEN substr(upper(hex(text::BLOB)), 1, 8) = '89504E47'
        |         THEN 'image'
        |       WHEN substr(upper(hex(text::BLOB)), 1, 6) = '494433'
        |         THEN 'audio'
        |       ELSE 'unknown' END AS media_type,
        |  octet_length(text::BLOB)::BIGINT AS byte_len,
        |  substr(upper(hex(text::BLOB)), 1, 8) AS magic
        |FROM documents""".stripMargin,
    // DuckDB has no BLOB substr, so both frame/resize oracles slice the
    // hex rendering (2 chars per byte) — byte i lives at hex[2i+1, 2].
    // r20 review: the stub emits min(8, byte_len) frames (a payload
    // shorter than the frame count can't fill all slots), so the
    // series is bounded by len too — the unconditional 0..7 emitted
    // 8 rows (the tail ones empty) for sub-8-byte payloads, a
    // contract the engine never had.
    "mm_frame_sample" ->
      """WITH b AS (SELECT doc_id, upper(hex(text::BLOB)) h,
        |             octet_length(text::BLOB) len FROM documents),
        |s AS (SELECT doc_id, h, len, greatest(len // 8, 1) AS span FROM b)
        |SELECT doc_id, CAST(i AS INT) AS frame_no,
        |       substr(h, 2 * i * span + 1, 2 * span) AS frame_hex
        |FROM s, generate_series(0, 7) t(i) WHERE i < len""".stripMargin,
    // r20 review: a zero-length payload resizes to 256 ZERO bytes in
    // the stub ("00" per position), not an empty string — the CASE
    // mirrors that contract so the two engines agree on the degenerate
    // input class too.
    "mm_resize" ->
      """WITH b AS (SELECT doc_id, upper(hex(text::BLOB)) h,
        |             octet_length(text::BLOB) len FROM documents),
        |g AS (SELECT doc_id, i,
        |        CASE WHEN len = 0 THEN '00'
        |             ELSE substr(h, 2 * CAST((i * len) // 256 AS INT) + 1, 2)
        |        END p
        |      FROM b, generate_series(0, 255) t(i))
        |SELECT doc_id, string_agg(p, '' ORDER BY i) AS resized_hex,
        |       16 AS out_w, 16 AS out_h
        |FROM g GROUP BY doc_id""".stripMargin,
    // Histogram of byte values mod 64; the byte value is reconstructed
    // from its two hex digits. The series bound is static (docs are
    // < 16 KiB) because this DuckDB build lacks lateral generate_series.
    "mm_feature_hist" ->
      """WITH b AS (SELECT doc_id, upper(hex(text::BLOB)) h,
        |             octet_length(text::BLOB) len FROM documents),
        |v AS (SELECT doc_id,
        |        ((strpos('0123456789ABCDEF', substr(h, 2*i+1, 1)) - 1) * 16
        |         + strpos('0123456789ABCDEF', substr(h, 2*i+2, 1)) - 1) % 64
        |          AS bucket
        |      FROM b, generate_series(0, 16383) t(i) WHERE i < len)
        |SELECT doc_id, CAST(bucket AS INT) AS bucket, CAST(count(*) AS INT) cnt
        |FROM v GROUP BY doc_id, bucket""".stripMargin,
    // px reconstructs the stub-resized 9×8 payload byte-by-byte from the
    // hex rendering (the mm_resize recipe at n=72), bits are the dHash
    // adjacent-pixel comparisons, band values are exact integer sums.
    "mm_phash_dedup" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
        |    substr(text, 1, 9) || 'X' || substr(text, 11, 89) || 'X'
        |      || substr(text, 101, length(text))
        |  FROM documents WHERE doc_id % 25 = 0 AND length(text) > 101),
        |b AS (SELECT doc_id, upper(hex(text::BLOB)) h,
        |             octet_length(text::BLOB) len FROM src),
        |g AS (SELECT doc_id, i,
        |        (strpos('0123456789ABCDEF',
        |           substr(h, 2 * CAST((i * len) // 72 AS INT) + 1, 1)) - 1) * 16
        |        + strpos('0123456789ABCDEF',
        |           substr(h, 2 * CAST((i * len) // 72 AS INT) + 2, 1)) - 1 AS px
        |      FROM b, generate_series(0, 71) t(i)),
        |bt AS (SELECT a.doc_id, (a.i // 9) * 8 + (a.i % 9) AS k,
        |         CASE WHEN a.px < p2.px THEN 1 ELSE 0 END AS bit
        |       FROM g a JOIN g p2 ON a.doc_id = p2.doc_id AND p2.i = a.i + 1
        |       WHERE a.i % 9 < 8),
        |bands AS (SELECT doc_id, CAST(k // 16 AS INT) AS band_id,
        |            sum(bit * (1 << (k % 16)))::BIGINT AS band_val
        |          FROM bt GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |         FROM bands x JOIN bands y
        |           ON x.band_id = y.band_id AND x.band_val = y.band_val
        |         WHERE x.doc_id < y.doc_id)
        |SELECT c.a_id, c.b_id,
        |  sum(bit_count(xor(xa.band_val, xb.band_val)))::BIGINT AS hamming
        |FROM cand c
        |JOIN bands xa ON xa.doc_id = c.a_id
        |JOIN bands xb ON xb.doc_id = c.b_id AND xb.band_id = xa.band_id
        |GROUP BY c.a_id, c.b_id
        |HAVING sum(bit_count(xor(xa.band_val, xb.band_val))) <= 6""".stripMargin,
    // src/pairs replicate the mm_phash_dedup pipeline; survivors drop
    // each pair's b_id (keep-first), then the mm_feature_hist recipe
    // summarizes per survivor (nonzero buckets, dominant bucket with
    // min-bucket tiebreak ≡ the engine's first-max array_position).
    "pipe_mm_refinery" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
        |    substr(text, 1, 9) || 'X' || substr(text, 11, 89) || 'X'
        |      || substr(text, 101, length(text))
        |  FROM documents WHERE doc_id % 25 = 0 AND length(text) > 101),
        |b AS (SELECT doc_id, upper(hex(text::BLOB)) h,
        |             octet_length(text::BLOB) len FROM src),
        |g AS (SELECT doc_id, i,
        |        (strpos('0123456789ABCDEF',
        |           substr(h, 2 * CAST((i * len) // 72 AS INT) + 1, 1)) - 1) * 16
        |        + strpos('0123456789ABCDEF',
        |           substr(h, 2 * CAST((i * len) // 72 AS INT) + 2, 1)) - 1 AS px
        |      FROM b, generate_series(0, 71) t(i)),
        |bt AS (SELECT a.doc_id, (a.i // 9) * 8 + (a.i % 9) AS k,
        |         CASE WHEN a.px < p2.px THEN 1 ELSE 0 END AS bit
        |       FROM g a JOIN g p2 ON a.doc_id = p2.doc_id AND p2.i = a.i + 1
        |       WHERE a.i % 9 < 8),
        |bands AS (SELECT doc_id, CAST(k // 16 AS INT) AS band_id,
        |            sum(bit * (1 << (k % 16)))::BIGINT AS band_val
        |          FROM bt GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |         FROM bands x JOIN bands y
        |           ON x.band_id = y.band_id AND x.band_val = y.band_val
        |         WHERE x.doc_id < y.doc_id),
        |pairs AS (
        |  SELECT c.a_id, c.b_id
        |  FROM cand c
        |  JOIN bands xa ON xa.doc_id = c.a_id
        |  JOIN bands xb ON xb.doc_id = c.b_id AND xb.band_id = xa.band_id
        |  GROUP BY c.a_id, c.b_id
        |  HAVING sum(bit_count(xor(xa.band_val, xb.band_val))) <= 6),
        |surv AS (
        |  SELECT doc_id, h, len FROM b
        |  WHERE doc_id NOT IN (SELECT b_id FROM pairs)),
        |v AS (SELECT doc_id, len,
        |        ((strpos('0123456789ABCDEF', substr(h, 2*i+1, 1)) - 1) * 16
        |         + strpos('0123456789ABCDEF', substr(h, 2*i+2, 1)) - 1) % 64
        |          AS bucket
        |      FROM surv, generate_series(0, 16383) t(i) WHERE i < len),
        |hist AS (SELECT doc_id, len, CAST(bucket AS INT) AS bucket,
        |           count(*) AS c
        |         FROM v GROUP BY 1, 2, 3),
        |top AS (SELECT doc_id, bucket, c,
        |          row_number() OVER (PARTITION BY doc_id
        |            ORDER BY c DESC, bucket ASC) AS rk
        |        FROM hist),
        |m AS (SELECT doc_id,
        |        CASE WHEN substr(h, 1, 4) = 'FFD8' THEN 'image'
        |             WHEN substr(h, 1, 8) = '89504E47' THEN 'image'
        |             WHEN substr(h, 1, 6) = '494433' THEN 'audio'
        |             ELSE 'unknown' END AS media_type
        |      FROM surv)
        |SELECT h.doc_id, m.media_type, h.len::BIGINT AS byte_len,
        |  CAST(count(*) AS INT) AS nnz,
        |  CAST(max(CASE WHEN t.rk = 1 THEN t.bucket END) AS INT)
        |    AS top_bucket,
        |  CAST(max(CASE WHEN t.rk = 1 THEN t.c END) AS INT) AS top_cnt
        |FROM hist h JOIN top t USING (doc_id, bucket)
        |  JOIN m ON m.doc_id = h.doc_id
        |GROUP BY h.doc_id, h.len, m.media_type""".stripMargin)
}
