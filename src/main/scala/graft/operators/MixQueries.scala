package graft.operators

import graft.{Scope, Tables}
import graft.functions.Texts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-mixing operators for training-corpus assembly — the stage after
  * dedup/quality in an LLM data pipeline: deterministic sampling for
  * source re-weighting, hash-based split assignment, and fixed-budget
  * sequence packing.
  *
  * Everything here is driven by content-derived hashes or keyed windows,
  * never `rand()`: reruns at 100 TB must be reproducible partition by
  * partition, and a restarted task may not replay rows in the same order
  * (non-deterministic sampling breaks exactly-once sinks and any
  * train/eval contamination audit).
  */
object MixQueries {
  type Q = (SparkSession, String) => DataFrame

  /** 2^60 as a double — md5Long's range, for hash → uniform [0,1). */
  private val HashRange = 1.152921504606846976e18

  val queries: Map[String, Q] = Map(
    // Stratified down-sampling by language: each stratum keeps a pinned
    // rate via a salted content hash mapped to uniform [0,1). Narrow —
    // the filter runs at the scan (no shuffle at all); changing the mix
    // weights is a literal edit, not a new shuffle topology.
    "samp_stratified" -> ((s, d) => {
      val rate = when(col("lang") === "en", 0.1)
        .when(col("lang") === "zh", 0.5)
        .when(col("lang") === "es", 0.3)
        .otherwise(0.2)
      val u = Texts.md5Long(concat(lit("samp#"), col("doc_id")))
        .cast("double") / HashRange
      Tables.documents(s, d)
        .filter(u < rate)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Deterministic train/val/test split (80/10/10) by hash bucket —
    // membership is a pure function of the row, so any executor, any
    // round, any scale assigns identically (the property that keeps eval
    // sets uncontaminated across pipeline reruns). Narrow, no shuffle.
    "samp_hash_split" -> ((s, d) => {
      val bucket = Texts.md5Long(concat(lit("split#"), col("doc_id"))) % 100
      Tables.documents(s, d)
        .select(col("doc_id"), bucket.as("bucket"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
    }),

    // Length-curriculum phase assignment — the short→long sequencing a
    // curriculum-ordered training run consumes. NOT ntile: an exact
    // global ntile funnels the corpus through one ordered exchange;
    // instead the ta_quality_trim census recipe derives the four exact
    // 20/40/60/80% cut-points from the VALUE domain (bounded
    // cardinality, integer comparisons only) and broadcasts them back
    // as scan-side arithmetic — the corpus never shuffles, at any size.
    // Phase boundaries are deterministic: ck = smallest value whose
    // cumulative count reaches k/5 of the corpus; phase = 1 + #cuts
    // strictly below n_chars.
    "mix_curriculum" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val census = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
      val cumW = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totW = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val cuts = census
        .withColumn("cum", sum("cnt").over(cumW))
        .withColumn("total", sum("cnt").over(totW))
        .agg(
          min(when(col("cum") * 5 >= col("total"), col("n_chars"))).as("c1"),
          min(when(col("cum") * 5 >= col("total") * 2, col("n_chars"))).as("c2"),
          min(when(col("cum") * 5 >= col("total") * 3, col("n_chars"))).as("c3"),
          min(when(col("cum") * 5 >= col("total") * 4, col("n_chars"))).as("c4"))
      docs.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_chars"),
          (lit(1) + (col("n_chars") > col("c1")).cast("int")
            + (col("n_chars") > col("c2")).cast("int")
            + (col("n_chars") > col("c3")).cast("int")
            + (col("n_chars") > col("c4")).cast("int")).as("phase"))
    }),

    // Leakage-guarded split — the eval-contamination audit as a split
    // assignment: the hash split above decides membership, then any
    // train/val doc sharing a MinHash LSH band with ANY eval doc is
    // QUARANTINED (near-duplicates of eval data must not be trained on —
    // the decontamination direction the n-gram scrub doesn't cover).
    // Composition of samp_hash_split + the portable 16-perm/4-band LSH
    // (same banding as dd_minhash_lsh, so band collision ≈ Jaccard
    // near-dup). Scale shape: the eval side is 10% of the corpus but its
    // DISTINCT band-key set is eval-sized, i.e. small → broadcast; the
    // train side probes it map-side and never shuffles on band_key, and
    // only the (tiny) leaked id set rides a keyed join back onto the
    // corpus. PlanSpec pins the broadcast and no-cartesian shape.
    "samp_leakage_guard" -> ((s, d) => {
      import graft.functions.Hashes
      val bucket = Texts.md5Long(concat(lit("split#"), col("doc_id"))) % 100
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), bucket.as("bucket"))
      val sigs = MinHashPipeline.signatures(docs, "doc_id", col("text"))
      // persisted: both the eval-key build and the train-side probe read
      // this frame — without it the MinHash signature pipeline (the
      // expensive pass) runs twice. Slim rows: id + bucket + two band
      // ints, the signature itself never persists.
      val banded = Scope.persist(docs.join(sigs, "doc_id")
        .select(col("doc_id"), col("bucket"),
          explode(Hashes.bands(col("sig"), 4, 4)).as("band"))
        .select(col("doc_id"), col("bucket"),
          col("band.band_id"), col("band.band_key")))
      val evalKeys = banded.filter(col("bucket") >= 90)
        .select("band_id", "band_key").distinct()
      val leaked = banded.filter(col("bucket") < 90)
        .join(broadcast(evalKeys), Seq("band_id", "band_key"))
        .select("doc_id").distinct()
      docs.join(leaked.withColumn("leak", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("bucket") >= 90, "eval")
            .when(col("leak").isNotNull, "quarantined")
            .when(col("bucket") < 80, "train").otherwise("val").as("split"))
    }),

    // Weighted sampling WITHOUT replacement (k = 100, weight = n_chars)
    // via the exponential race (Efraimidis–Spirakis 2006, public):
    // arrival time t_i = -ln(u_i)/w_i with u_i a deterministic
    // hash-uniform in (0,1]; the k earliest arrivals ARE a weighted
    // k-sample without replacement. Scale shape: t is a row-local
    // projection and the selection is orderBy().limit(k) ≙ TakeOrdered —
    // per-partition top-k then one merge of ≤k rows; the corpus never
    // shuffles and no executor holds more than k candidates. Output
    // ships only integer columns (doc_id, n_chars): ln() ulp differences
    // between engines could only matter if two arrival times collided
    // within an ulp AT the k-boundary — with a deterministic hash this
    // is fixed data, verified identical, and tie-broken by doc_id.
    "samp_weighted" -> ((s, d) => {
      val u = (Texts.md5Long(concat(lit("wsamp#"), col("doc_id")))
        .cast("double") + 1.0) / HashRange // +1 → (0,1]: ln never -inf
      Tables.documents(s, d)
        // Efraimidis–Spirakis is defined only for w > 0: a zero-length
        // doc would divide to +Infinity here but engine-dependent
        // NULL/inf in the oracle's double division — filter in BOTH
        .filter(col("n_chars") > 0)
        .withColumn("t_arr", -log(u) / col("n_chars"))
        .orderBy(col("t_arr").asc, col("doc_id").asc)
        .limit(100)
        .select(col("doc_id"), col("n_chars"))
    }),

    // Temperature-rebalanced sampling (α = 0.5): keep-rate per language
    // ∝ 1/√share, the standard multilingual mix flattening — rare
    // languages keep more, dominant ones are down-sampled. Two phases:
    // a map-side-combined lang census (tiny) broadcast back onto the
    // corpus, then the same hash-uniform filter as samp_stratified —
    // still no corpus shuffle. √ is IEEE-exact, so both engines compute
    // the identical keep-rate (pow(x, α) would not be).
    "samp_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val census = docs.groupBy("lang").agg(count("*").as("n_lang"))
      val total = docs.groupBy().agg(count("*").as("n_total"))
      val u = Texts.md5Long(concat(lit("temp#"), col("doc_id")))
        .cast("double") / HashRange
      docs
        .join(broadcast(census), Seq("lang"))
        .crossJoin(broadcast(total))
        .withColumn("keep_rate",
          least(lit(1.0), lit(0.2) /
            sqrt(col("n_lang").cast("double") / col("n_total"))))
        .filter(u < col("keep_rate"))
        .select(col("doc_id"), col("lang"), round(col("keep_rate"), 6)
          .as("keep_rate"))
    }),

    // Corpus datacard: the per-(lang, source) + marginal + grand-total
    // reporting rollup every released dataset ships with. ROLLUP is one
    // pass — Spark expands grouping sets inside a single partial/final
    // aggregation, so the 100 TB corpus is read once, not once per
    // grouping level. avg stays exact cross-engine because the sums are
    // integral (overflow-checked longs / hugeint) before one division.
    "mix_datacard" -> ((s, d) => {
      val nTok = size(Texts.tokens(col("text")))
      Tables.documents(s, d)
        .select(col("lang"), col("source"), nTok.as("n_tok"), col("n_chars"))
        .rollup("lang", "source")
        .agg(count("*").as("n_docs"), sum("n_tok").as("tokens"),
          round(avg("n_chars"), 6).as("avg_chars"))
        .select(coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("tokens"), col("avg_chars"))
    }),

    // Incremental datacard maintenance: the stored per-(lang, source)
    // aggregate state merges with a delta batch's partials by pure
    // algebra — counts and sums ADD; the average is re-derived from the
    // merged sums — so refreshing the card after an append touches only
    // the delta, never a corpus rescan. (That mergeability is why the
    // card stores sum+count, not avg.) Split is deterministic
    // (doc_id % 10); the oracle is the full recompute, so the query IS
    // the incremental≡full proof.
    "mix_datacard_incr" -> ((s, d) => {
      val nTok = size(Texts.tokens(col("text")))
      def partials(df: DataFrame) = df
        .select(col("lang"), col("source"), nTok.as("n_tok"), col("n_chars"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"),
          sum("n_chars").as("chars"))
      val docs = Tables.documents(s, d)
      val stored = partials(docs.filter(col("doc_id") % 10 =!= 0))
      val delta = partials(docs.filter(col("doc_id") % 10 === 0))
      stored.unionByName(delta)
        .groupBy("lang", "source")
        .agg(sum("n_docs").as("n_docs"), sum("tokens").as("tokens"),
          sum("chars").as("chars"))
        .select(col("lang"), col("source"), col("n_docs"), col("tokens"),
          round(col("chars").cast("double") / col("n_docs"), 6)
            .as("avg_chars"))
    }),

    // Exact-size deterministic uniform sample: the k docs with the
    // smallest content hash. Rate-based sampling (samp_stratified) can't
    // promise a row COUNT; hash-order top-k can, stays reproducible
    // (no rand()), and compiles to TakeOrderedAndProject — per-partition
    // heaps of k, no global sort, no full shuffle at any corpus size.
    "samp_fixed_k" -> ((s, d) => {
      val u = Texts.md5Long(concat(lit("fixk#"), col("doc_id")))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), u.as("h"))
        .orderBy(col("h"), col("doc_id"))
        .limit(100)
    }),

    // Deterministic global shuffle + shard assignment — the terminal
    // stage of a training-data writer: every epoch reader wants the
    // corpus in a content-derived pseudo-random order, cut into N
    // equal-ish shards (one output file each). shard = hash mod N is the
    // scalable assignment (shard sizes concentrate within a fraction of
    // a percent of corpus/N at real corpus sizes); the within-shard
    // position comes from a window PARTITIONED BY shard — exactly the
    // one hash exchange + per-shard sort the physical writer performs
    // anyway, never a global single-partition window. Rerun-stable at
    // any parallelism: both shard and pos are pure functions of doc_id.
    "samp_shuffle_shard" -> ((s, d) => {
      val h = Texts.md5Long(concat(lit("shuf#"), col("doc_id")))
      val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), h.as("h"))
        .withColumn("shard", pmod(col("h"), lit(16L)))
        .withColumn("pos", row_number().over(w))
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // Fixed-budget sequence packing: greedy first-fit in (lang, doc_id)
    // order — bin k holds the docs whose running token offset lands in
    // [k·512, (k+1)·512). One keyed window per language partition; at
    // 100 TB the window never concentrates (each language packs
    // independently, and a finer pack key — e.g. (lang, shard) — drops
    // in without changing the algebra).
    "pack_sequences" -> ((s, d) => {
      val nTok = size(Texts.tokens(col("text")))
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), nTok.as("n_tok"))
        .withColumn("run", sum("n_tok").over(w))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          floor((col("run") - col("n_tok")) / lit(512.0)).as("bin"))
    }),

    // Mixture-weight solver — turns a target sampling mix (per-source
    // weights, here a deterministic ramp over src0..src19 standing in
    // for a config table) plus the measured token supply into the
    // numbers a training-run config needs: required tokens under the
    // budget, epochs over each source, and an oversampling flag
    // (epochs > 1 ⇒ the source repeats). The corpus is read exactly
    // once, reduced by a map-side-partial keyed aggregation to a
    // sources-sized frame (≤ thousands of rows at any corpus size);
    // every downstream column is arithmetic on that tiny frame.
    "mix_mixture_plan" -> ((s, d) => {
      val budget = 1000000L
      val idx = substring(col("source"), 4, 10).cast("int")
      val weight = (lit(21.0) - idx.cast("double")) / 210.0
      Tables.documents(s, d)
        .select(col("source"), size(Texts.tokens(col("text"))).as("n_tok"))
        .groupBy("source")
        .agg(sum(col("n_tok").cast("long")).as("avail_tokens"))
        // weight/required_tokens/epochs ship RAW: both engines run the
        // identical IEEE op sequence (subtract, divide, multiply,
        // divide), so the doubles are bit-equal — round() on a halfway
        // decimal would diverge between BigDecimal and float64 rounding
        // (the sim_quantize_int8 lesson).
        .select(col("source"), col("avail_tokens"),
          weight.as("weight"),
          (weight * budget).as("required_tokens"),
          (weight * budget / col("avail_tokens")).as("epochs"),
          when(weight * budget > col("avail_tokens"), 1).otherwise(0)
            .as("oversampled"))
    })
  )

  private val toksSql = "list_filter(string_split(text, ' '), x -> x <> '')"

  val oracles: Map[String, String] = Map(
    "samp_stratified" ->
      """SELECT doc_id, lang, source
        |FROM documents
        |WHERE ('0x' || substr(md5('samp#' || doc_id), 1, 15))::BIGINT
        |        / 1152921504606846976.0
        |      < CASE lang WHEN 'en' THEN 0.1 WHEN 'zh' THEN 0.5
        |                  WHEN 'es' THEN 0.3 ELSE 0.2 END""".stripMargin,
    "samp_hash_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('split#' || doc_id), 1, 15))::BIGINT % 100
        |      AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin,
    "mix_curriculum" ->
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
        |    min(CASE WHEN cum * 5 >= total THEN n_chars END) AS c1,
        |    min(CASE WHEN cum * 5 >= total * 2 THEN n_chars END) AS c2,
        |    min(CASE WHEN cum * 5 >= total * 3 THEN n_chars END) AS c3,
        |    min(CASE WHEN cum * 5 >= total * 4 THEN n_chars END) AS c4
        |  FROM w)
        |SELECT d.doc_id, d.n_chars,
        |  CAST(1 + (d.n_chars > b.c1)::INT + (d.n_chars > b.c2)::INT
        |         + (d.n_chars > b.c3)::INT + (d.n_chars > b.c4)::INT
        |    AS INT) AS phase
        |FROM documents d CROSS JOIN b""".stripMargin,
    "samp_leakage_guard" ->
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |    ('0x' || substr(md5('split#' || doc_id), 1, 15))::BIGINT % 100
         |      AS bucket
         |  FROM documents),
         |s AS (
         |${MinHashPipeline.signaturesSql("d", "doc_id", "text")}),
         |banded AS (
         |  SELECT d.doc_id, d.bucket, b AS band_id,
         |    array_to_string(s.sig[b*4+1 : b*4+4], '_') AS band_key
         |  FROM d JOIN s USING (doc_id),
         |       unnest(generate_series(0, 3)) AS u(b)),
         |ek AS (SELECT DISTINCT band_id, band_key FROM banded
         |       WHERE bucket >= 90),
         |leaked AS (
         |  SELECT DISTINCT t.doc_id
         |  FROM banded t JOIN ek USING (band_id, band_key)
         |  WHERE t.bucket < 90)
         |SELECT d.doc_id,
         |  CASE WHEN d.bucket >= 90 THEN 'eval'
         |       WHEN l.doc_id IS NOT NULL THEN 'quarantined'
         |       WHEN d.bucket < 80 THEN 'train' ELSE 'val' END AS split
         |FROM d LEFT JOIN leaked l USING (doc_id)""".stripMargin,
    "samp_weighted" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    -ln(((('0x' || substr(md5('wsamp#' || doc_id), 1, 15))::BIGINT
        |          ::DOUBLE) + 1.0) / 1152921504606846976.0) / n_chars
        |      AS t_arr
        |  FROM documents WHERE n_chars > 0) t
        |ORDER BY t_arr ASC, doc_id ASC
        |LIMIT 100""".stripMargin,
    "samp_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n_total FROM documents)
        |SELECT d.doc_id, d.lang,
        |  round(least(1.0, 0.2 / sqrt(c.n_lang::DOUBLE / t.n_total)), 6)
        |    AS keep_rate
        |FROM documents d JOIN c USING (lang) CROSS JOIN t
        |WHERE ('0x' || substr(md5('temp#' || d.doc_id), 1, 15))::BIGINT
        |        / 1152921504606846976.0
        |      < least(1.0, 0.2 / sqrt(c.n_lang::DOUBLE / t.n_total))""".stripMargin,
    "mix_datacard" ->
      s"""WITH t AS (
         |  SELECT lang, source, len($toksSql) AS n_tok, n_chars
         |  FROM documents)
         |SELECT coalesce(lang, 'ALL') AS lang,
         |  coalesce(source, 'ALL') AS source,
         |  count(*) AS n_docs, sum(n_tok)::BIGINT AS tokens,
         |  round(avg(n_chars), 6) AS avg_chars
         |FROM t GROUP BY ROLLUP(lang, source)""".stripMargin,
    "mix_datacard_incr" ->
      s"""WITH t AS (
         |  SELECT lang, source, len($toksSql) AS n_tok, n_chars
         |  FROM documents)
         |SELECT lang, source, count(*) AS n_docs,
         |  sum(n_tok)::BIGINT AS tokens,
         |  round(sum(n_chars)::DOUBLE / count(*), 6) AS avg_chars
         |FROM t GROUP BY lang, source""".stripMargin,
    "samp_fixed_k" ->
      """SELECT doc_id, lang,
        |  ('0x' || substr(md5('fixk#' || doc_id), 1, 15))::BIGINT AS h
        |FROM documents ORDER BY h, doc_id LIMIT 100""".stripMargin,
    "samp_shuffle_shard" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('shuf#' || doc_id), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, h % 16 AS shard,
        |  row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS pos
        |FROM b""".stripMargin,
    "pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, len($toksSql) AS n_tok FROM documents),
         |r AS (
         |  SELECT doc_id, lang, n_tok,
         |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |                     ROWS UNBOUNDED PRECEDING) AS run
         |  FROM t)
         |SELECT doc_id, lang, n_tok,
         |  floor((run - n_tok) / 512.0)::BIGINT AS bin
         |FROM r""".stripMargin,
    "mix_mixture_plan" ->
      s"""WITH a AS (
         |  SELECT source, sum(len($toksSql))::BIGINT AS avail_tokens
         |  FROM documents GROUP BY 1),
         |w AS (
         |  SELECT source, avail_tokens,
         |    (21.0 - CAST(substr(source, 4) AS INT)) / 210.0 AS wt
         |  FROM a)
         |SELECT source, avail_tokens, wt AS weight,
         |  wt * 1000000 AS required_tokens,
         |  wt * 1000000 / avail_tokens AS epochs,
         |  CASE WHEN wt * 1000000 > avail_tokens THEN 1 ELSE 0 END
         |    AS oversampled
         |FROM w""".stripMargin
  )
}
