package graft.operators

import graft.{Scope, Tables}
import graft.functions.Texts
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-refinement operators — the passage-level dedup / keyword /
  * distribution-trim stage of an LLM training-data pipeline, complementing
  * the document-level dedup family in [[DedupQueries]].
  *
  * All three are built around the same 100 TB discipline as the rest of
  * the engine: corpus-sized frames only ever shuffle on a derived key
  * (chunk hash, doc_id) or are filtered by a broadcast scalar; every
  * "global" computation (document count, value census, vocabulary DF)
  * is reduced to a tiny aggregate FIRST and broadcast back, so no stage
  * concentrates the corpus in one task.
  */
object CorpusQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Tokens-per-chunk for passage-level dedup. */
  private val ChunkLen = 10

  /** Census-derived `[lo, hi]` length keep-band as a ONE-ROW bounds
    * frame — the 5th/95th-percentile trim by pure integer comparisons
    * (20·cum vs total; no float quantile interpolation to diverge
    * cross-engine). Shared by ta_quality_trim and the refinery's
    * stage 1 (r20 review: the 12-line census/cumulative-window/bounds
    * derivation was pasted in both — an edit to the trim rule in one
    * place would silently desynchronize the pipeline from the
    * individually-pinned operator). The census frame is bounded by the
    * distinct length count at any corpus size. */
  private def lengthTrimBounds(docs: DataFrame): DataFrame = {
    val census = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
    val cumW = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    census
      .withColumn("cum", sum("cnt").over(cumW))
      .withColumn("total", sum("cnt").over(totW))
      .agg(
        min(when(col("cum") * 20 > col("total"), col("n_chars"))).as("lo"),
        max(when((col("total") - col("cum") + col("cnt")) * 20 > col("total"),
          col("n_chars"))).as("hi"))
  }

  /** Explode `(doc_id, lang, text)` rows into 10-token chunk occurrences
    * `(doc_id, lang, chunk_idx, chunk, ck)` with a 60-bit chunk hash —
    * shared by dd_chunk_dedup and the refinery pipeline. */
  private def chunkOccurrences(df: DataFrame): DataFrame = {
    val tk = Texts.tokens(col("text"))
    val chunks = transform(
      sequence(lit(0), ((size(col("tk")) - 1) / ChunkLen).cast("int")),
      i => array_join(slice(col("tk"), i * ChunkLen + 1, lit(ChunkLen)), " "))
    df.select(col("doc_id"), col("lang"), tk.as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("lang"),
        posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .withColumn("ck", Texts.md5Long(col("chunk")))
  }

  /** Bounded-CDC chunk occurrences `(doc_id, start, clen, chash)` —
    * the FastCDC legalization behind `dd_cdc_bounded`, exposed so
    * CorpusSpec can assert the clamp invariant over ALL chunks (the
    * query's output only carries duplicated ones). The serial clamp
    * (candidates in order; a candidate within minLen of the last
    * surviving boundary is suppressed; a gap longer than maxLen first
    * force-splits at last+maxLen strides, tail included) runs as ONE
    * native O(c) pass over the candidate array — r16, replacing the
    * r15 `aggregate` fold whose growing-concat state was O(c²) per
    * document (11.1 s for one 500k-char doc, the reference's bound;
    * see [[graft.plans.NativeImpl.cdcLegalize]]). Candidates come from
    * the gear rolling hash ([[graft.plans.NativeImpl.gearBoundaries]]),
    * and one more native pass cuts and md5-hashes the chunks
    * ([[graft.plans.NativeImpl.cdcChunks]]) — linear in the text, where
    * a per-chunk `substr` re-walked it from the start (~10 s for one
    * 500k-char doc); everything stays row-local at the scan, zero
    * exchanges.
    */
  private[graft] def cdcBoundedSpans(docs: DataFrame): DataFrame = {
    val MinL = 32; val MaxL = 128
    val n = length(col("text"))
    val bs = graft.plans.Native.cdc_legalize(
      graft.plans.Native.gear_boundaries(col("text")), n, MinL, MaxL)
    docs.select(col("doc_id"),
        explode(graft.plans.Native.cdc_chunks(col("text"), bs)).as("c"))
      .select(col("doc_id"), col("c.start").as("start"),
        col("c.clen").as("clen"), col("c.chash").as("chash"))
  }

  val queries: Map[String, Q] = Map(
    // Passage(chunk)-level exact dedup with document reassembly — the
    // line-dedup stage of web-corpus pipelines, expressed relationally:
    // split each document into fixed 10-token chunks, keep only the
    // globally FIRST occurrence of each distinct chunk (ordered by
    // (doc_id, chunk_idx) — deterministic, rerun-stable), and rebuild
    // each document from its surviving chunks. Documents made entirely
    // of boilerplate vanish — exactly what the stage is for.
    //
    // Scale shape: the first-occurrence aggregation and the keep-join
    // both key on a 60-bit chunk hash, so the wide chunk TEXT never
    // rides the heavy shuffle twice — the agg input is the slim
    // (hash, doc_id, idx) projection; text re-attaches by the same key.
    // Reassembly is one groupBy(doc_id) — uniform by construction.
    "dd_chunk_dedup" -> ((s, d) => {
      val occ = chunkOccurrences(Tables.documents(s, d))
      val first = occ.select("ck", "doc_id", "chunk_idx")
        .groupBy("ck")
        .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
      occ.join(first, "ck")
        .filter(col("doc_id") === col("f.doc_id") &&
          col("chunk_idx") === col("f.chunk_idx"))
        .groupBy("doc_id")
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
              c => c("chunk")),
            " ").as("dedup_text"),
          count(lit(1)).as("n_kept"))
        .select(col("doc_id"), col("dedup_text"), col("n_kept"))
    }),

    // CONTENT-DEFINED chunking dedup — the insertion-robust sibling of
    // dd_chunk_dedup's fixed windows (public method: LBFS,
    // Muthitacharoen et al. SOSP'01; FastCDC, Xia et al. ATC'16). A
    // fixed-window chunker shifts every later boundary when one token
    // is inserted, so a shared passage downstream of an edit never
    // matches; CDC places a boundary wherever the gear rolling hash of
    // the content so far ≡ 0 (mod 64) — and because that 6-bit mask
    // sees only the trailing 6 characters' gear values, boundaries are
    // a function of LOCAL content and re-align within 6 characters of
    // any edit (~64-char expected chunks). r16: the boundary hash is
    // the native single-pass gear expression (one shift+add+lookup per
    // character, codegen'd — see NativeImpl.gearBoundaries); r15's
    // per-position MD5 predicate had the same plan shape but a ~100×
    // scan constant that made the cdc pair the sweep's two slowest
    // queries. The oracle evaluates the equivalent 6-char WINDOWED
    // restatement over the same 256-entry literal table.
    //
    // Scale shape: boundary detection is row-local at the scan (zero
    // exchanges); the only shuffle is the chunk-hash groupBy, carrying
    // slim (chash, doc_id, start, clen) rows — the chunk TEXT never
    // rides the wire (same slim-key posture as dd_chunk_dedup).
    // Output = the duplicated-chunk catalog: hash, occurrence/doc
    // counts, and the globally first occurrence (lexicographic
    // struct-min over (doc_id, start), mirrored struct-for-struct in
    // the oracle so the argmin is engine-portable at any document
    // length).
    "dd_cdc_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = length(col("text"))
      val bs = graft.plans.Native.gear_boundaries(col("text"))
      val starts = concat(array(lit(1)), transform(bs, b => b + 1))
      val ends = concat(bs, array(n))
      val chunks = filter(
        zip_with(starts, ends, (st, e) => struct(
          st.as("start"), (e - st + 1).as("clen"),
          md5(col("text").substr(st, e - st + 1)).as("chash"))),
        c => c.getField("clen") > 0)
      docs.select(col("doc_id"), explode(chunks).as("c"))
        .select(col("doc_id"), col("c.start").as("start"),
          col("c.clen").as("clen"), col("c.chash").as("chash"))
        .groupBy("chash")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          // struct-min = lexicographic (doc_id, start) argmin. An
          // encoded min(doc_id * K + start) would silently mis-rank
          // once start >= K — the reference's document model allows
          // 500k-char texts (legislative_origin_extraction.py:40), so
          // a chunk at offset >= K in doc N encodes above offset 0 of
          // doc N+1. Struct ordering has no such overflow, and the
          // DuckDB oracle uses the identical struct-min so the argmin
          // stays engine-portable (pinned by the >=100k-char case in
          // CorpusSpec).
          min(struct(col("doc_id"), col("start"))).as("kfirst"),
          min(col("clen")).as("clen"))
        .filter(col("n_occ") > 1)
        .select(col("chash"), col("n_occ"), col("n_docs"),
          col("kfirst.doc_id").as("first_doc"),
          col("kfirst.start").cast("long").as("first_start"),
          col("clen").cast("long").as("clen"))
    }),

    // BOUNDED content-defined chunking — dd_cdc_dedup plus FastCDC's
    // min/max normalization (Xia et al. ATC'16 §3.2: clamp chunk sizes
    // to [32, 128] so a pathological region can neither emit a spray
    // of tiny chunks nor run away unbounded). The clamp is inherently
    // SEQUENTIAL (whether a candidate boundary survives depends on the
    // previous surviving boundary), which is why r14 shipped only the
    // unbounded variant — but the serial dependence is row-LOCAL: the
    // legalization is one O(c) native pass over the per-document
    // candidate array (NativeImpl.cdcLegalize; r15's `aggregate`-fold
    // restatement was semantically identical but O(c²) in its
    // growing-concat state — 11 s on a single 500k-char document, the
    // reference's bound). Candidates in order; positions within minLen
    // of the last boundary are suppressed; a gap longer than maxLen
    // first force-splits at last+maxLen strides. Still row-local at
    // the scan; the only shuffle remains the slim chunk-hash groupBy.
    // Output contract identical to
    // dd_cdc_dedup (duplicated-chunk catalog with struct-min first
    // occurrence); the oracle walks the identical legalization as a
    // recursive CTE (one step per surviving boundary — fine at oracle
    // scale, and an engine-independent statement of the same serial
    // rule).
    "dd_cdc_bounded" -> ((s, d) =>
      cdcBoundedSpans(Tables.documents(s, d))
        .groupBy("chash")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(struct(col("doc_id"), col("start"))).as("kfirst"),
          min(col("clen")).as("clen"))
        .filter(col("n_occ") > 1)
        .select(col("chash"), col("n_occ"), col("n_docs"),
          col("kfirst.doc_id").as("first_doc"),
          col("kfirst.start").cast("long").as("first_start"),
          col("clen").cast("long").as("clen"))),

    // TF-IDF top-3 keywords per document against a CORPUS-level document
    // frequency (M3 in SURVEY §2 is per-doc TF only; this is the global
    // variant a real pipeline runs). The idf is kept RATIONAL —
    // tf · N / df, one double division — instead of the textbook
    // log(N/df): ln diverges in the last ulp across libm
    // implementations, and a ranking metric must be bit-identical
    // between engines (see the repetition-metric precedent).
    //
    // Scale shape: term explode is narrow; TF is one keyed agg; the DF
    // table is vocabulary-sized (orders of magnitude below the corpus)
    // and broadcast; top-k-per-doc is a row_number window that Spark
    // prunes map-side via WindowGroupLimit.
    "ta_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(Texts.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val score = round((col("tf") * col("n_docs")).cast("double") / col("df"), 6)
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(n))
        .withColumn("score", score)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"), col("rank"))
    }),

    // The flagship composition: the four corpus-release stages chained
    // as ONE declarative plan — (1) length-band trim (census bounds,
    // broadcast scalars), (2) benchmark decontamination (broadcast
    // 8-gram set, anti-join), (3) passage-level dedup with reassembly
    // census, (4) deterministic split assignment. A user of the engine
    // runs exactly this before a training run. Because every stage is
    // relational, the composition adds no corpus-sized exchange of its
    // own: trim and split are row-local filters on broadcast scalars,
    // decontamination is a broadcast anti-join, and the only heavy
    // shuffles remain chunk-dedup's two keyed ones. (Each stage re-reads
    // the pruned scan here; a deployment persists the trimmed frame.)
    // Per-stage semantics are pinned individually by ta_quality_trim /
    // dd_decontaminate / dd_chunk_dedup / samp_hash_split; this entry
    // pins the composition itself.
    "pipe_corpus_refinery" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // stage 1: the SHARED census-derived [lo, hi] keep band — the
      // same helper ta_quality_trim pins individually
      val bounds = lengthTrimBounds(docs)
      // persisted: the trimmed survivor set feeds BOTH the
      // decontamination gram explode and the anti-join/chunk stages —
      // without this the census + trim filter re-run per consumer (the
      // "persisted once and feeds all downstream stages" posture
      // SCALE.md describes for deployment)
      val trimmed = Scope.persist(docs.crossJoin(broadcast(bounds))
        .filter(col("n_chars").between(col("lo"), col("hi")))
        .select(col("doc_id"), col("lang"), col("text")))
      // stage 2: benchmark decontamination (see dd_decontaminate — the
      // bench slice comes from the FULL corpus, not the trimmed one)
      // native distinct grams (r21, guide §4) — one compiled pass in
      // place of the interpreted HOF chain; NgramSpec pins equivalence
      def grams(df: DataFrame) = df.select(col("doc_id"),
        explode(
          graft.plans.Native.dist_word_ngrams(col("text"), 8)).as("gram"))
      val benchGrams = grams(docs.filter(col("doc_id") < 20))
        .select("gram").distinct()
      val flagged = grams(trimmed.filter(col("doc_id") >= 20))
        .join(broadcast(benchGrams), Seq("gram"))
        .select("doc_id").distinct()
      val clean = trimmed.filter(col("doc_id") >= 20)
        .join(flagged, Seq("doc_id"), "left_anti")
      // stage 3: chunk-level dedup census over the survivors
      val occ = chunkOccurrences(clean)
      val first = occ.select("ck", "doc_id", "chunk_idx")
        .groupBy("ck")
        .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("f"))
      val kept = occ.join(first, "ck")
        .filter(col("doc_id") === col("f.doc_id") &&
          col("chunk_idx") === col("f.chunk_idx"))
        .groupBy("doc_id")
        .agg(max(col("lang")).as("lang"), count(lit(1)).as("n_kept"))
      // stage 4: deterministic split (see samp_hash_split)
      val bucket = Texts.md5Long(concat(lit("split#"), col("doc_id"))) % 100
      kept.select(col("doc_id"), col("lang"), col("n_kept"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
    }),

    // KMV (k-minimum-values) distinct sketch, k = 64 — approximate
    // distinct 3-gram count per language, with the exact count alongside
    // to exhibit the error. Unlike HLL, KMV on a FIXED hash is fully
    // deterministic, so the estimate is oracle-checkable bit-for-bit:
    // est = (k-1) · 2^60 / h_k, pure multiply/divide (no ln — the
    // cross-engine float rule). This is the mergeable-sketch shape for
    // 100 TB cardinality work: per-partition top-k heaps (WindowGroupLimit
    // prunes map-side) merge associatively; only 64 longs per group ever
    // reach the final reduce, however large the corpus.
    "sk_kmv_distinct" -> ((s, d) => {
      val k = 64
      val tk = Texts.tokens(col("text"))
      // r21: per-row DISTINCT grams via the native pass — the frame-
      // level distinct over (lang, g3) still collapses cross-doc dups,
      // so the sketch input set is unchanged while the explode emits
      // fewer rows and no interpreted HOF runs (NgramSpec equivalence)
      val grams = Tables.documents(s, d)
        .filter(size(tk) >= 3)
        .select(col("lang"), explode(
          graft.plans.Native.dist_word_ngrams(col("text"), 3)).as("g3"))
        .distinct()
        .select(col("lang"), Texts.md5Long(col("g3")).as("h"))
      val w = Window.partitionBy("lang").orderBy("h")
      val sketch = grams
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .groupBy("lang")
        .agg(max(col("h")).as("hk"), count(lit(1)).as("n_kept"))
      val exact = grams.groupBy("lang").agg(count(lit(1)).as("exact_distinct"))
      sketch.join(exact, "lang")
        .select(col("lang"), col("n_kept"), col("exact_distinct"),
          when(col("n_kept") < k, col("n_kept").cast("double"))
            .otherwise(round(
              lit((k - 1).toDouble * 1.152921504606846976e18) / col("hk"), 2))
            .as("est_distinct"))
    }),

    // Pairwise corpus-overlap estimation from MERGED KMV sketches — "how
    // much does source A's content overlap source B's?", the question a
    // data-mixing decision needs answered across every source pair
    // without ever joining the corpora. The corpus is read ONCE to build
    // one k=64 sketch per source (keyed window, map-side pruned); all
    // pair math then happens on sketches of ≤64 longs: union-sketch =
    // re-minimized merge of two sketches (the KMV merge law), intersect
    // by inclusion–exclusion. At 100 TB the pair stage touches
    // sources²·k longs — independent of corpus size.
    "sk_kmv_overlap" -> ((s, d) => {
      val k = 64
      val tk = Texts.tokens(col("text"))
      // r21: native per-row distinct grams (see sk_kmv_distinct)
      val grams = Tables.documents(s, d)
        .filter(size(tk) >= 3)
        .select(col("source"), explode(
          graft.plans.Native.dist_word_ngrams(col("text"), 3)).as("g3"))
        .distinct()
        .select(col("source"), Texts.md5Long(col("g3")).as("h"))
      val w = Window.partitionBy("source").orderBy("h")
      // Per-source sketch as ONE sorted array (≤ k longs): after this
      // aggregation everything is sketch-on-sketch array math, and the
      // corpus subtree is referenced exactly ONCE in the whole plan — no
      // cache, no eager materialization inside the builder (the former
      // kept.count() — builders are side-effect-free again). All
      // sources' sketches collapse into a single row, pairs explode out
      // of it (sources²·k longs — corpus-size-independent), and the KMV
      // merge law (union-sketch = k smallest of the deduped union) is
      // array_union + array_sort + slice per pair.
      val sketches = grams
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .groupBy("source").agg(sort_array(collect_list("h")).as("hs"))
      val allRow = sketches
        .agg(collect_list(struct(col("source"), col("hs"))).as("sk"))
      def est(hs: Column) =
        when(size(hs) < k, size(hs).cast("double")).otherwise(round(
          lit((k - 1).toDouble * 1.152921504606846976e18) /
            element_at(hs, -1), 2))
      val u = slice(array_sort(array_union(col("a.hs"), col("b.hs"))), 1, k)
      allRow
        .select(explode(col("sk")).as("a"), col("sk"))
        .select(col("a"), explode(col("sk")).as("b"))
        .filter(col("a.source") < col("b.source"))
        .select(col("a.source").as("sa"), col("b.source").as("sb"),
          est(col("a.hs")).as("est_a"), est(col("b.hs")).as("est_b"),
          est(u).as("est_union"))
        .withColumn("est_inter", round(greatest(lit(0.0),
          col("est_a") + col("est_b") - col("est_union")), 2))
    }),

    // Exact 5th/95th-percentile length trim WITHOUT a global sort: the
    // quality-distribution tail cut every corpus release applies. The
    // standard exact-quantile plan (global orderBy + row_number) funnels
    // the corpus through one ordered exchange; instead we census the
    // VALUE domain (n_chars has bounded cardinality — the census is tiny
    // at any corpus size), take cumulative counts over the census, derive
    // the [lo, hi] keep-band with pure integer comparisons (20·cum vs
    // total — no float quantile interpolation to diverge cross-engine),
    // and broadcast the two scalars back as a scan-side filter. The
    // corpus itself never shuffles at all.
    "ta_quality_trim" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bounds = lengthTrimBounds(docs)
      docs.crossJoin(broadcast(bounds))
        .filter(col("n_chars").between(col("lo"), col("hi")))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // Data-quality audit: the contract checks a pipeline runs before
    // promoting a corpus snapshot (null keys, duplicate keys, referential
    // integrity, domain/range violations, cardinalities) rolled up into
    // one (check, metric) report. Shapes per check class: the scalar
    // metrics come from ONE conditional-aggregation pass over each fact
    // table (no per-check rescans); duplicate detection is a keyed count;
    // FK verification a broadcast anti-join against the dim keys.
    // Column profiling — the dataset-card statistics pass (null and
    // distinct cardinality per column, the Deequ/profiler shape): ONE
    // aggregation over the corpus computing every column's stats
    // together, then an in-row explode to the (column, stats) report.
    // The multi-column distinct counts plan through Catalyst's Expand
    // (k× row multiplication BEFORE map-side partial aggregation — the
    // standard one-pass profile trade; for very wide tables you shard
    // the column list across jobs, the shape per shard is unchanged).
    "dq_profile" -> ((s, d) => {
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val aggs = cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct")))
      Tables.documents(s, d)
        .agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("column"), col(s"${c}_nulls").as("n_null"),
            col(s"${c}_distinct").as("n_distinct"))): _*)).as("e"))
        .select(col("e.column").as("column"), col("e.n_null").as("n_null"),
          col("e.n_distinct").as("n_distinct"))
    }),

    "dq_audit" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val docs = Tables.documents(s, d)
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")
      val oScalars = o.agg(
        count(lit(1)).as("orders.row_count"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
          .as("orders.o_custkey.null_count"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
          .as("orders.o_totalprice.nonpositive_count"),
        sum(when(!col("o_orderpriority").isin(prios: _*), 1L).otherwise(0L))
          .as("orders.o_orderpriority.domain_violation_count"),
        count_distinct(col("o_custkey")).as("orders.o_custkey.distinct_count"))
      val docScalars = docs.agg(
        count(lit(1)).as("documents.row_count"),
        sum(when(length(col("text")) === 0, 1L).otherwise(0L))
          .as("documents.text.empty_count"))
      def melt(df: DataFrame) = {
        // backtick-quote: the check names contain dots, which a bare
        // col() would parse as struct-field access
        df.unpivot(Array.empty[org.apache.spark.sql.Column],
          df.columns.map(c => col(s"`$c`")), "check", "metric")
      }
      val dupOrders = o.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .agg(coalesce(count(lit(1)), lit(0L)).as("metric"))
        .select(lit("orders.o_orderkey.duplicate_count").as("check"),
          col("metric"))
      // r17: no static broadcast hint — the customer key column grows
      // LINEARLY with the corpus (the gate-delta defect class: a forced
      // broadcast of a linear frame is fast until the scale where it
      // OOMs). AQE broadcasts it at every tested scale; at a scale
      // where the key set outgrows memory the anti-join degrades to a
      // keyed shuffle instead of dying.
      // r20 review: NULL keys are excluded from the ORPHAN count — a
      // null FK is the null_count checks' finding, not a dangling
      // reference (and the SQL oracle's NOT IN excludes them by
      // three-valued logic anyway; a left_anti alone would count them,
      // silently diverging on exactly the defective input this audit
      // exists to flag).
      val fkViol = o.filter(col("o_custkey").isNotNull)
        .join(
          Tables.customer(s, d).select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(coalesce(count(lit(1)), lit(0L)).as("metric"))
        .select(lit("orders.o_custkey.fk_violation_count").as("check"),
          col("metric"))
      melt(oScalars).unionByName(melt(docScalars))
        .unionByName(dupOrders).unionByName(fkViol)
    }),

    // Snapshot distribution drift — the release-over-release data-quality
    // monitor: how far has the language mix moved between two corpus
    // snapshots (stand-in split: even/odd doc_id)? One corpus scan
    // reduces to a languages-sized conditional-count frame (map-side
    // partial); the totals come from an unpartitioned window over THAT
    // frame — single-partition, but bounded by the language DOMAIN, not
    // the corpus (the ta_quality_trim census posture), and it keeps the
    // whole query to exactly one corpus read (a separate totals
    // aggregate re-scanned the corpus; plan-asserted away). p_diff is
    // two divisions and a subtraction over exact integer counts —
    // bit-identical across engines, shipped raw.
    // Release-to-release corpus diff — the change manifest a dataset
    // release ships beside its datacard: every doc classified
    // added / removed / changed by content fingerprint, with the
    // unchanged mass (the overwhelming majority) dropped so the OUTPUT
    // is diff-sized, never corpus-sized. Snapshot B is derived
    // deterministically from A: every 11th doc dropped (removed),
    // every 7th survivor's text mutated (changed), every 13th doc
    // re-added under a fresh negative id (added — negative ids cannot
    // collide with A's non-negative id space, so no max()-offset scalar
    // attach is needed). Scale shape: fingerprints are scan-side
    // projections; the diff is ONE keyed full-outer join on doc_id —
    // with both snapshots bucketed on doc_id it is exchange-free, and
    // the unchanged filter runs before anything leaves the join.
    "dq_release_diff" -> ((s, d) => {
      val a = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("fp_a"))
      val docs = Tables.documents(s, d)
      val carried = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" [amended]")))
            .otherwise(col("text"))).as("fp_b"))
      val added = docs.filter(col("doc_id") % 13 === 0)
        .select((-col("doc_id") - 1).as("doc_id"), md5(col("text")).as("fp_b"))
      val b = carried.unionByName(added)
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("change",
          when(col("fp_b").isNull, "removed")
            .when(col("fp_a").isNull, "added")
            .when(col("fp_a") =!= col("fp_b"), "changed"))
        .filter(col("change").isNotNull)
        .select(col("doc_id"), col("change"))
    }),

    "dq_drift" -> ((s, d) => {
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.documents(s, d)
        .select(col("lang"), (col("doc_id") % 2 === 0).as("is_a"))
        .groupBy("lang")
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"))
        .select(col("lang"), col("n_a"), col("n_b"),
          (col("n_a").cast("double") / sum("n_a").over(wAll) -
            col("n_b").cast("double") / sum("n_b").over(wAll))
            .as("p_diff"))
    }),

    // Cross-doc repeated-sequence census — the memorization-risk audit a
    // corpus release gets: which exact 8-gram sequences recur across the
    // most documents (license boilerplate, navigation chrome, templated
    // text — the spans a model memorizes verbatim)? Grams are
    // per-document DISTINCT before the explode, so one plain count per
    // gram key IS the document frequency — no count_distinct expand.
    // One keyed aggregation (map-side partial) and a top-50 that
    // compiles to TakeOrderedAndProject: at 100 TB the gram key space is
    // huge but every key's payload is two longs, and no stage ever holds
    // more than the 50-row result.
    "ta_repeated_ngrams" -> ((s, d) => {
      // Docs shorter than the gram width are excluded up front:
      // wordNgrams' greatest(size-7, 1) floor would otherwise emit a
      // short (or empty-string) artifact gram that pollutes the census.
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          Texts.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 8)
        // r21: native one-pass distinct grams (the token array stays
        // only for the >=8 row filter); NgramSpec pins equivalence
        .select(col("doc_id"), explode(
          graft.plans.Native.dist_word_ngrams(col("text"), 8)).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .filter(col("n_docs") >= 3)
        .orderBy(col("n_docs").desc, col("gram"))
        .limit(50)
    }),

    // Repeated-span REMOVAL — the action the ta_repeated_ngrams census
    // audits for (exact substring dedup in the Lee et al. 2022
    // "Deduplicating Training Data" direction, public method): every
    // token covered by any cross-doc-repeated 8-gram occurrence
    // (df ≥ 3, the census' definition) is cut, and the doc reassembles
    // from the surviving tokens in order. Scale shape: the repeated-gram
    // model is corpus-DERIVED (unbounded), so it stays a keyed equi-join
    // on gram — never broadcast; what flows out of that join is only the
    // (doc_id, start) hit rows (output-sized), which reassemble per doc
    // in one keyed exchange. The coverage mask and text rebuild are
    // row-local folds over per-doc-bounded arrays — no positional
    // explode ever rides a shuffle. Pure string/int output: nothing
    // float-ordering-sensitive anywhere.
    "dd_span_scrub" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), Texts.tokens(col("text")).as("tk"))
      val occ = toks.filter(size(col("tk")) >= 8)
        .select(col("doc_id"),
          posexplode(Texts.wordNgrams(col("tk"), 8)).as(Seq("p0", "gram")))
        .select(col("doc_id"), (col("p0") + 1).as("i"), col("gram"))
      val rep = occ.select("doc_id", "gram").distinct()
        .groupBy("gram").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 3).select("gram")
      val starts = occ.join(rep, "gram")
        .select("doc_id", "i").distinct()
        .groupBy("doc_id").agg(collect_list(col("i")).as("ss"))
      val kept = filter(
        sequence(lit(1), greatest(size(col("tk")), lit(1))),
        p => p <= size(col("tk")) &&
          !exists(col("ss"), s0 => s0 <= p && p <= s0 + 7))
      toks.join(starts, Seq("doc_id"), "left")
        .withColumn("ss",
          coalesce(col("ss"), array().cast("array<int>")))
        .select(col("doc_id"),
          array_join(transform(kept, p => element_at(col("tk"), p)), " ")
            .as("text_clean"),
          (size(col("tk")) - size(kept)).as("n_removed"))
    })
  )

  private val toksSql = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** NativeImpl.GearMod64 as a DuckDB list literal — the SAME constants
    * the engine rolls with, so both sides evaluate one table (the
    * generation formula is independently re-derived by PropertySpec).
    * The oracle can't roll a 2^64 state, so it evaluates the windowed
    * identity instead: h_i mod 64 = Σ_{k=0..5} 2^k·GEAR[c_{i-k}] mod 64
    * (carries propagate upward only — proven in the Scaladoc at
    * NativeImpl.gearBoundaries and pinned on adversarial strings). */
  private val gearSql: String =
    graft.plans.NativeImpl.GearMod64.mkString("[", ", ", "]")

  /** Shared oracle CTE fragment: per-document gear values `gt` and the
    * 6-char-window boundary rule — emitted into both cdc oracles so the
    * candidate predicate has exactly one SQL statement. */
  private def gearCandCte(outCol: String): String =
    s"""base AS (
       |  SELECT doc_id, text, strlen(text)::INT AS n FROM documents),
       |g AS (
       |  SELECT doc_id, text, n,
       |    list_transform(generate_series(1, n), i ->
       |      gv[ascii(substr(text, i::INT, 1)) % 256 + 1]) AS gt
       |  FROM base CROSS JOIN gear),
       |cand AS (
       |  SELECT doc_id, text, n,
       |    list_filter(generate_series(6, n), i ->
       |      (gt[i] + 2 * gt[i-1] + 4 * gt[i-2] + 8 * gt[i-3]
       |        + 16 * gt[i-4] + 32 * gt[i-5]) % 64 = 0) AS $outCol
       |  FROM g)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dd_cdc_dedup" ->
      s"""WITH gear AS (SELECT $gearSql AS gv),
        |${gearCandCte("bs")},
        |spans AS (
        |  SELECT doc_id, text,
        |    list_filter(
        |      list_transform(generate_series(1, len(bs)+1), j ->
        |        {'s': CASE WHEN j = 1 THEN 1 ELSE bs[j-1] + 1 END,
        |         'e': CASE WHEN j = len(bs)+1 THEN n ELSE bs[j] END}),
        |      x -> x.e >= x.s) AS chunks
        |  FROM cand),
        |occ AS (
        |  SELECT doc_id, u.s AS start, u.e - u.s + 1 AS clen,
        |    md5(substr(text, u.s, u.e - u.s + 1)) AS chash
        |  FROM spans, unnest(chunks) AS t(u))
        |SELECT chash, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs,
        |  (min({'d': doc_id, 's': start})).d AS first_doc,
        |  (min({'d': doc_id, 's': start})).s::BIGINT AS first_start,
        |  min(clen)::BIGINT AS clen
        |FROM occ GROUP BY chash HAVING count(*) > 1""".stripMargin,
    // the FastCDC legalization as a recursive CTE: one step per
    // SURVIVING boundary (suppressed candidates never materialize a
    // row), each step picking the least candidate in
    // [last+minLen, last+maxLen] or force-splitting at last+maxLen —
    // the same serial rule the engine folds with `aggregate`
    "dd_cdc_bounded" ->
      s"""WITH RECURSIVE gear AS (SELECT $gearSql AS gv),
        |${gearCandCte("cands")},
        |walk AS (
        |  SELECT doc_id, n, cands, 0::BIGINT AS b
        |  FROM cand
        |  UNION ALL
        |  SELECT doc_id, n, cands, nxt AS b FROM (
        |    SELECT doc_id, n, cands,
        |      CASE WHEN qual IS NOT NULL THEN qual
        |           WHEN n - b > 128 THEN b + 128
        |           ELSE NULL END AS nxt
        |    FROM (
        |      SELECT doc_id, n, cands, b,
        |        list_min(list_filter(cands,
        |          x -> x - b >= 32 AND x - b <= 128)) AS qual
        |      FROM walk) q1) q2
        |  WHERE nxt IS NOT NULL),
        |bounds AS (
        |  SELECT doc_id, COALESCE(list_sort(list(b) FILTER (WHERE b > 0)), []::BIGINT[]) AS bs
        |  FROM walk GROUP BY doc_id),
        |spans AS (
        |  SELECT t.doc_id, t.text,
        |    list_filter(
        |      list_transform(generate_series(1, len(bs)+1), j ->
        |        {'s': CASE WHEN j = 1 THEN 1 ELSE bs[j-1] + 1 END,
        |         'e': CASE WHEN j = len(bs)+1 THEN t.n ELSE bs[j] END}),
        |      x -> x.e >= x.s) AS chunks
        |  FROM bounds JOIN base t USING (doc_id)),
        |occ AS (
        |  SELECT doc_id, u.s AS start, u.e - u.s + 1 AS clen,
        |    md5(substr(text, u.s::INT, (u.e - u.s + 1)::INT)) AS chash
        |  FROM spans, unnest(chunks) AS t(u))
        |SELECT chash, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs,
        |  (min({'d': doc_id, 's': start})).d AS first_doc,
        |  (min({'d': doc_id, 's': start})).s::BIGINT AS first_start,
        |  min(clen)::BIGINT AS clen
        |FROM occ GROUP BY chash HAVING count(*) > 1""".stripMargin,
    "dd_chunk_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents),
         |idx AS (
         |  SELECT doc_id, tk,
         |    unnest(generate_series(0, (len(tk) - 1) // $ChunkLen)) AS i
         |  FROM toks WHERE len(tk) > 0),
         |occ AS (
         |  SELECT doc_id, i AS chunk_idx,
         |    array_to_string(tk[(i * $ChunkLen + 1):(i * $ChunkLen + $ChunkLen)], ' ')
         |      AS chunk
         |  FROM idx),
         |r AS (
         |  SELECT doc_id, chunk_idx, chunk,
         |    row_number() OVER (PARTITION BY chunk
         |                       ORDER BY doc_id, chunk_idx) AS rn
         |  FROM occ)
         |SELECT doc_id,
         |  string_agg(chunk, ' ' ORDER BY chunk_idx) AS dedup_text,
         |  count(*) AS n_kept
         |FROM r WHERE rn = 1 GROUP BY doc_id""".stripMargin,
    "ta_tfidf" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    round((tf.tf * n.n_docs)::DOUBLE / df.df, 6) AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rank
         |  FROM sc)
         |SELECT doc_id, term, tf, df, score, rank
         |FROM rk WHERE rank <= 3""".stripMargin,
    "pipe_corpus_refinery" ->
      s"""WITH cns AS (
         |  SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1),
         |w AS (
         |  SELECT n_chars, cnt,
         |    sum(cnt) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(cnt) OVER () AS total
         |  FROM cns),
         |b AS (
         |  SELECT min(CASE WHEN cum * 20 > total THEN n_chars END) AS lo,
         |    max(CASE WHEN (total - cum + cnt) * 20 > total THEN n_chars END)
         |      AS hi
         |  FROM w),
         |trimmed AS (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d CROSS JOIN b
         |  WHERE d.n_chars BETWEEN b.lo AND b.hi),
         |bt AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |bg AS (
         |  SELECT DISTINCT array_to_string(tk[i : i + 7], ' ') AS gram
         |  FROM bt, unnest(generate_series(1, greatest(len(tk) - 7, 1)))
         |    AS u(i)
         |  WHERE doc_id < 20),
         |tt AS (SELECT doc_id, $toksSql AS tk FROM trimmed
         |       WHERE doc_id >= 20),
         |tg AS (
         |  SELECT DISTINCT doc_id, array_to_string(tk[i : i + 7], ' ') AS gram
         |  FROM tt, unnest(generate_series(1, greatest(len(tk) - 7, 1)))
         |    AS u(i)),
         |flagged AS (SELECT DISTINCT doc_id FROM tg JOIN bg USING (gram)),
         |clean AS (
         |  SELECT * FROM trimmed WHERE doc_id >= 20
         |    AND doc_id NOT IN (SELECT doc_id FROM flagged)),
         |toks AS (SELECT doc_id, lang, $toksSql AS tk FROM clean),
         |idx AS (
         |  SELECT doc_id, lang, tk,
         |    unnest(generate_series(0, (len(tk) - 1) // $ChunkLen)) AS i
         |  FROM toks WHERE len(tk) > 0),
         |occ AS (
         |  SELECT doc_id, lang, i AS chunk_idx,
         |    array_to_string(tk[(i * $ChunkLen + 1):(i * $ChunkLen + $ChunkLen)], ' ')
         |      AS chunk
         |  FROM idx),
         |r AS (
         |  SELECT doc_id, lang, chunk_idx,
         |    row_number() OVER (PARTITION BY chunk
         |                       ORDER BY doc_id, chunk_idx) AS rn
         |  FROM occ),
         |k AS (
         |  SELECT doc_id, max(lang) AS lang, count(*) AS n_kept
         |  FROM r WHERE rn = 1 GROUP BY doc_id)
         |SELECT doc_id, lang, n_kept,
         |  CASE WHEN ('0x' || substr(md5('split#' || doc_id), 1, 15))::BIGINT
         |         % 100 < 80 THEN 'train'
         |       WHEN ('0x' || substr(md5('split#' || doc_id), 1, 15))::BIGINT
         |         % 100 < 90 THEN 'val' ELSE 'test' END AS split
         |FROM k""".stripMargin,
    "sk_kmv_distinct" ->
      s"""WITH t AS (
         |  SELECT lang, $toksSql AS tk FROM documents),
         |g AS (
         |  SELECT DISTINCT lang, array_to_string(tk[i : i + 2], ' ') AS g3
         |  FROM t, unnest(generate_series(1, len(tk) - 2)) AS u(i)
         |  WHERE len(tk) >= 3),
         |h AS (
         |  SELECT lang, ('0x' || substr(md5(g3), 1, 15))::BIGINT AS h
         |  FROM g),
         |r AS (
         |  SELECT lang, h,
         |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
         |  FROM h),
         |sk AS (
         |  SELECT lang, max(h) AS hk, count(*) AS n_kept
         |  FROM r WHERE rn <= 64 GROUP BY lang),
         |ex AS (SELECT lang, count(*) AS exact_distinct FROM h GROUP BY lang)
         |SELECT sk.lang, sk.n_kept, ex.exact_distinct,
         |  CASE WHEN sk.n_kept < 64 THEN sk.n_kept::DOUBLE
         |       ELSE round(63.0 * 1152921504606846976.0 / sk.hk, 2) END
         |    AS est_distinct
         |FROM sk JOIN ex USING (lang)""".stripMargin,
    "sk_kmv_overlap" ->
      s"""WITH t AS (
         |  SELECT source, $toksSql AS tk FROM documents),
         |g AS (
         |  SELECT DISTINCT source, array_to_string(tk[i : i + 2], ' ') AS g3
         |  FROM t, unnest(generate_series(1, len(tk) - 2)) AS u(i)
         |  WHERE len(tk) >= 3),
         |h AS (
         |  SELECT source, ('0x' || substr(md5(g3), 1, 15))::BIGINT AS h
         |  FROM g),
         |kept AS (
         |  SELECT source, h FROM (
         |    SELECT source, h,
         |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |    FROM h) x WHERE rn <= 64),
         |per AS (
         |  SELECT source,
         |    CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
         |         ELSE round(63.0 * 1152921504606846976.0 / max(h), 2) END
         |      AS est
         |  FROM kept GROUP BY source),
         |pairs AS (
         |  SELECT a.source AS sa, b.source AS sb, a.est AS est_a,
         |    b.est AS est_b
         |  FROM per a JOIN per b ON a.source < b.source),
         |m AS (
         |  SELECT DISTINCT p.sa, p.sb, k.h
         |  FROM pairs p JOIN kept k ON k.source = p.sa OR k.source = p.sb),
         |mu AS (
         |  SELECT sa, sb, h FROM (
         |    SELECT sa, sb, h,
         |      row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
         |    FROM m) x WHERE rn <= 64),
         |eu AS (
         |  SELECT sa, sb,
         |    CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
         |         ELSE round(63.0 * 1152921504606846976.0 / max(h), 2) END
         |      AS est_union
         |  FROM mu GROUP BY sa, sb)
         |SELECT p.sa, p.sb, p.est_a, p.est_b, eu.est_union,
         |  round(greatest(0.0, p.est_a + p.est_b - eu.est_union), 2)
         |    AS est_inter
         |FROM pairs p JOIN eu USING (sa, sb)""".stripMargin,
    "ta_quality_trim" ->
      """WITH c AS (
        |  SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1),
        |w AS (
        |  SELECT n_chars, cnt,
        |    sum(cnt) OVER (ORDER BY n_chars
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER () AS total
        |  FROM c),
        |b AS (
        |  SELECT
        |    min(CASE WHEN cum * 20 > total THEN n_chars END) AS lo,
        |    max(CASE WHEN (total - cum + cnt) * 20 > total THEN n_chars END)
        |      AS hi
        |  FROM w)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d CROSS JOIN b
        |WHERE d.n_chars BETWEEN b.lo AND b.hi""".stripMargin,
    "dq_profile" ->
      """SELECT 'doc_id' AS "column",
        |  sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
        |  count(DISTINCT doc_id)::BIGINT AS n_distinct FROM documents
        |UNION ALL SELECT 'text',
        |  sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT text)::BIGINT FROM documents
        |UNION ALL SELECT 'lang',
        |  sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT lang)::BIGINT FROM documents
        |UNION ALL SELECT 'source',
        |  sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT source)::BIGINT FROM documents
        |UNION ALL SELECT 'n_chars',
        |  sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  count(DISTINCT n_chars)::BIGINT FROM documents""".stripMargin,
    "dq_audit" ->
      """SELECT 'orders.row_count' AS "check", count(*)::BIGINT AS metric
        |  FROM orders
        |UNION ALL SELECT 'orders.o_custkey.null_count',
        |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
        |  FROM orders
        |UNION ALL SELECT 'orders.o_totalprice.nonpositive_count',
        |  sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT
        |  FROM orders
        |UNION ALL SELECT 'orders.o_orderpriority.domain_violation_count',
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH',
        |    '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
        |    THEN 1 ELSE 0 END)::BIGINT FROM orders
        |UNION ALL SELECT 'orders.o_custkey.distinct_count',
        |  count(DISTINCT o_custkey)::BIGINT FROM orders
        |UNION ALL SELECT 'documents.row_count', count(*)::BIGINT
        |  FROM documents
        |UNION ALL SELECT 'documents.text.empty_count',
        |  sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END)::BIGINT
        |  FROM documents
        |UNION ALL SELECT 'orders.o_orderkey.duplicate_count',
        |  count(*)::BIGINT FROM (
        |    SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
        |UNION ALL SELECT 'orders.o_custkey.fk_violation_count',
        |  (SELECT count(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))::BIGINT"""
        .stripMargin,
    "dq_release_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS fp_a FROM documents),
        |carried AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [amended]'
        |             ELSE text END) AS fp_b
        |  FROM documents WHERE doc_id % 11 <> 0),
        |added AS (
        |  SELECT -doc_id - 1 AS doc_id, md5(text) AS fp_b
        |  FROM documents WHERE doc_id % 13 = 0),
        |b AS (SELECT * FROM carried UNION ALL SELECT * FROM added)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN b.fp_b IS NULL THEN 'removed'
        |       WHEN a.fp_a IS NULL THEN 'added'
        |       WHEN a.fp_a <> b.fp_b THEN 'changed' END AS change
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |WHERE (CASE WHEN b.fp_b IS NULL THEN 'removed'
        |            WHEN a.fp_a IS NULL THEN 'added'
        |            WHEN a.fp_a <> b.fp_b THEN 'changed' END) IS NOT NULL"""
        .stripMargin,
    "dq_drift" ->
      """WITH t AS (SELECT lang,
        |         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a
        |       FROM documents),
        |per AS (SELECT lang, sum(a)::BIGINT AS n_a,
        |          sum(1 - a)::BIGINT AS n_b FROM t GROUP BY 1),
        |tot AS (SELECT sum(n_a)::BIGINT AS t_a, sum(n_b)::BIGINT AS t_b
        |        FROM per)
        |SELECT lang, n_a, n_b,
        |  n_a::DOUBLE / t_a - n_b::DOUBLE / t_b AS p_diff
        |FROM per CROSS JOIN tot""".stripMargin,
    "ta_repeated_ngrams" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents
         |           WHERE len($toksSql) >= 8),
         |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |        generate_series(1, len(tk) - 7),
         |        i -> array_to_string(tk[i:i+7], ' ')))) AS gram
         |      FROM t)
         |SELECT gram, count(*)::BIGINT AS n_docs, min(doc_id) AS first_doc
         |FROM g GROUP BY 1 HAVING count(*) >= 3
         |ORDER BY n_docs DESC, gram LIMIT 50""".stripMargin,
    "dd_span_scrub" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |occ AS (
         |  SELECT doc_id, CAST(i AS INT) AS i,
         |    array_to_string(tk[i:i+7], ' ') AS gram
         |  FROM toks, unnest(generate_series(1, len(tk) - 7)) AS g(i)),
         |rep AS (
         |  SELECT gram FROM (
         |    SELECT gram, count(DISTINCT doc_id) AS n_docs
         |    FROM occ GROUP BY 1) r
         |  WHERE n_docs >= 3),
         |st AS (
         |  SELECT doc_id, list(i) AS ss FROM (
         |    SELECT DISTINCT o.doc_id, o.i
         |    FROM occ o JOIN rep USING (gram)) c
         |  GROUP BY doc_id),
         |k AS (
         |  SELECT t.doc_id, t.tk, coalesce(s.ss, []) AS ss
         |  FROM toks t LEFT JOIN st s USING (doc_id)),
         |kp AS (
         |  SELECT doc_id, tk,
         |    list_filter(generate_series(1, len(tk)),
         |      p -> len(list_filter(ss, s -> s <= p AND p <= s + 7)) = 0)
         |      AS kept
         |  FROM k)
         |SELECT doc_id,
         |  coalesce(array_to_string(
         |    list_transform(kept, p -> tk[CAST(p AS INT)]), ' '), '')
         |    AS text_clean,
         |  len(tk) - len(kept) AS n_removed
         |FROM kp""".stripMargin
  )
}
