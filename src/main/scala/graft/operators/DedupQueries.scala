package graft.operators

import graft.Tables
import graft.functions.{Hashes, Texts, Vectors}
import graft.streaming.StreamDedup
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operator family — SURVEY.md §2.4 J8 / §2.10 ST7 plus the
  * LLM-pipeline dedup surface: exact (hash-groupBy), MinHash+LSH banding,
  * SimHash, n-gram Jaccard with blocking, embedding-cosine near-dup.
  *
  * Scale design: every variant turns the O(n²) similarity join into an
  * equi-join on a candidate key (fingerprint / LSH band / block key /
  * coarse bucket) — the same trick the reference's band `contains` probe
  * plays (`check_duplicate.py:90-101`) — so at 100 TB the shuffle is keyed
  * and skew is bounded by band width, never a cross join.
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Unique memory-sink names for the streaming drain (bench runs a
    * query more than once in a session). */
  private val streamSeq = new java.util.concurrent.atomic.AtomicInteger
  /** Per-SESSION previous memory-sink name for dg_stream_band_tier (r20
    * review): temp views are session-scoped, so dropping
    * `graft_stream_band_${seqNo-1}` by GLOBAL counter was a silent
    * no-op whenever the previous run belonged to another session (the
    * drained rows accumulated in driver memory for the whole sweep —
    * the exact leak the drop exists to prevent) and could drop a view a
    * CONCURRENT same-session run was still reading. The map swaps
    * atomically per session; each previous sink is dropped exactly once
    * and always in the catalog that owns it. */
  private val lastStreamSink = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.SparkSession, String]
  /** (sparkContext, sfDir) pairs whose dd_cluster_cc_stream base
    * assignment is already on disk for this JVM — see the query's
    * rebuild note. Keyed by the CONTEXT, not the session: the store dir
    * itself is (pid, dataset)-scoped, so two sessions over one context
    * alternating on the same dataset share one store, and a
    * session-keyed guard would wipe and rebuild the corpus-sized base
    * on every alternation (ADVICE r13 — correctness survived via the
    * lock, but the once-per-JVM amortization claim didn't). */
  private val ccStreamInit =
    scala.collection.mutable.Set.empty[(org.apache.spark.SparkContext, String)]

  /** Block key for the fuzzy-title join: (first two tokens, 16-char
    * length bucket). Exposed so the skew guard in SkewSessionSpec pins
    * THIS expression's hot-block share on a Zipfian fixture — the guard
    * breaks if someone loosens the blocking back to first-token-only. */
  def fuzzyTitleBlock(title: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(substring_index(title, " ", 2), lit("|"),
      floor(length(title) / 16).cast("int"))

  /** Two-offset length blocking (r17): each title emits BOTH its
    * 16-char bucket k and k+1 (in emission order — the position is the
    * offset flag the join uses to kill double-matches). Any pair inside
    * the Levenshtein gate has |Δlen| ≤ 10 < 16, so its buckets differ
    * by at most 1 and the two emissions share ≥ 1 key: the length
    * blocking becomes LOSSLESS w.r.t. the operator's contract, closing
    * the one-boundary recall loss documented since r7 — measured 11 of
    * 365 true pairs (3.0%) at sf0.1 — for a ≤ 2× candidate-row price.
    * Same-bucket pairs would meet on both keys; the caller joins with
    * `NOT (a.o = 1 AND b.o = 1)` so every pair survives on exactly one
    * key (equal buckets meet only at offset 0, adjacent buckets only
    * where the lower title's k+1 emission meets the higher's k) — no
    * post-join distinct, Levenshtein runs once per pair. */
  def fuzzyTitleBlocks(title: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val head = concat(substring_index(title, " ", 2), lit("|"))
    val k = floor(length(title) / 16).cast("int")
    array(concat(head, k), concat(head, (k + 1).cast("int")))
  }

  /** documents with cleaned text + sorted distinct content-word sets
    * (shared prep for the dedup family). */
  private[graft] def prepared(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        array_sort(array_distinct(Texts.tokens(col("text")))).as("ws"))

  /** Identical-set collapse — stage 0 of the Jaccard prefix family:
    * group docs whose DISTINCT TOKEN SETS are exactly equal (fingerprint
    * = md5 of the sorted set; tokens cannot contain the ' ' separator,
    * so the join string is injective) and elect min(doc_id) as the
    * group's representative. All candidate generation then runs over
    * ONE row per distinct set. Why this matters at 100 TB: on
    * boilerplate-heavy corpora (the degenerate-vocabulary regime — web
    * crawls full of templated pages) no prefix token discriminates and
    * rep-level candidates approach all-pairs OVER SETS — but the number
    * of distinct sets is corpus-structure-bounded, not corpus-sized, so
    * candidate work is now O(distinct-sets²) worst case instead of
    * O(corpus²), and everything member-level is output-proportional.
    * Returns (fp[, lang], rep_id, ws) — one row per distinct set
    * (per lang when `byLang`: same set in two langs must NOT pair). */
  private[graft] def collapseSets(docs: DataFrame, byLang: Boolean): DataFrame =
    setGroups(fingerprinted(docs), byLang)

  private def fingerprinted(docs: DataFrame): DataFrame =
    docs.filter(size(col("ws")) > 0) // empty sets have J undefined; never pair
      .withColumn("fp", md5(array_join(col("ws"), " ")))

  private def setGroups(sets: DataFrame, byLang: Boolean): DataFrame = {
    val gk = if (byLang) Seq("fp", "lang") else Seq("fp")
    sets.groupBy(gk.map(col): _*)
      .agg(min("doc_id").as("rep_id"), first("ws").as("ws"))
  }

  /** The t-independent half of the PPJoin candidate build over set
    * REPRESENTATIVES — reps: (rep_id, ws) or (rep_id, lang, ws). Returns
    * each representative's tokens ordered rarest-first by rep-level
    * document frequency (then lexicographic) — (rep_id[, lang], ows) —
    * plus the PERSISTED per-token document-frequency frame it is built
    * from — `(tok[, lang], df)`, one row per distinct (token[, lang]).
    * The caller owns both handles: it persists the ordered frame (it
    * feeds both sides of the candidate self-join) and releases both.
    * r22 (guide §2.3/§2.4): the df frame is exactly the corpus
    * vocabulary, so the xxhash64 injectivity guard in
    * [[jaccardPrefixPairs]] derives from it with a vocabulary-sized
    * aggregation instead of paying its own corpus-token-level
    * explode + distinct exchange — the df pass computes the vocabulary
    * anyway; folding the guard in drops one token-level exchange from
    * every prefix-filter query. The persist is vocabulary-sized (tiny
    * next to the token stream) and lazy; the `ordered` build
    * materializes it as a side effect, and the runners' cache sweep
    * releases it with the rest of the family's persists. */
  private[graft] def orderedPrefixWithDfreq(reps: DataFrame,
      byLang: Boolean): (DataFrame, DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    val toks =
      if (byLang) reps.select(col("rep_id"), col("lang"), explode(col("ws")).as("tok"))
      else reps.select(col("rep_id"), explode(col("ws")).as("tok"))
    val dfKeys = if (byLang) Seq("lang", "tok") else Seq("tok")
    val dfreq = toks.groupBy(dfKeys.map(col): _*).agg(count(lit(1)).as("df"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sorted = sort_array(collect_list(struct(col("df"), col("tok")))).as("o")
    val grouped =
      if (byLang) toks.join(dfreq, dfKeys).groupBy("rep_id")
        .agg(first("lang").as("lang"), sorted)
      else toks.join(dfreq, dfKeys).groupBy("rep_id").agg(sorted)
    (grouped
      .withColumn("ows", transform(col("o"), x => x.getField("tok")))
      .drop("o"), dfreq)
  }

  /** PPJoin prefix-filter candidate pairs over an already-built (and
    * caller-persisted) [[orderedPrefixWithDfreq]] frame. Theorem (any
    * global token order): J(A,B) ≥ t ⇒ the first (|A| − ⌈t·|A|⌉ + 1)
    * tokens of A and of B intersect — exploding only that prefix as
    * candidate keys loses no true pair. Rarest-first order minimizes
    * candidates AND keeps candidate keys cold: prefix keys are by
    * construction the rarest tokens. Length filter t·|A| ≤ |B| ≤ |A|/t
    * and the position filter prune at the join, in exact integers. */
  private[graft] def candidatesOverOrdered(ordered: DataFrame, t: Double,
      byLang: Boolean): DataFrame = {
    // r16: every candidate-side prune runs in EXACT long arithmetic,
    // scaled by the rational denominator of the effective threshold —
    // never t in doubles. Two reasons, both measured:
    //  (a) the verify keeps a pair iff round(jac, 6) >= t (HALF_UP),
    //      i.e. iff jac >= (2·p − 1)/(2·10^6) with p = round(t·10^6) —
    //      the prunes must bound with THAT rational or a pair the
    //      verify would keep can vanish at candidate time;
    //  (b) doubles round the bound the wrong way on real sizes: at
    //      t=0.9, lit(t/(1+t)) * (na+nb) lands strictly above the
    //      exact 9/19·(na+nb) for na+nb ∈ {133, 247, 266, 494, …}
    //      (46,603 sums below 5.7M), so a true boundary pair with
    //      ubound == exact bound failed `ubound >= needed` and was
    //      silently dropped — PropertySpec's brute-force equivalence
    //      pins exactly that geometry (66+67 tokens, overlap 63).
    // All operands are integers < 2^31 and num+den < 2^22, so every
    // product below stays < 2^53: exact in long arithmetic.
    val p6 = math.round(t * 1e6)
    require(math.abs(t * 1e6 - p6) < 1e-3,
      s"jaccard threshold must be a 6-dp decimal, got $t")
    val num = 2 * p6 - 1
    val den = 2000000L
    // exact ceil(num·n/den): subtract the remainder so the division is
    // of an exact multiple (a double division of k·den by den is k
    // exactly — no float hazard survives)
    def ceilDivExact(a: Column): Column = {
      val r = pmod(a, lit(den))
      ((a - r) / lit(den)).cast("long") + when(r > 0, 1L).otherwise(0L)
    }
    val langCols = if (byLang) Seq(col("lang")) else Nil
    // posexplode, not explode: the 0-based prefix POSITION feeds
    // PPJoin's position filter below (Xiao et al., WWW'08 §3). r15:
    // added after the ~sf10 text decade showed the verify join's
    // array-attach volume (two ws arrays x 207M candidate pairs) was
    // the family's scale cost — the position filter prunes
    // arithmetically BEFORE any array rides a join.
    val pre = ordered
      .withColumn("n", size(col("ows")))
      .select(col("rep_id") +: langCols ++: Seq(col("n"),
        posexplode(slice(col("ows"), lit(1),
          (col("n") - ceilDivExact(lit(num) * col("n")) + 1).cast("int")))
          .as(Seq("pos", "tok"))): _*)
    // Position filter: J(A,B) >= θ requires overlap >= θ/(1+θ)(|A|+|B|)
    // (from J = inter/(|A|+|B|-inter)); and if the FIRST shared ordered
    // token sits at 0-based positions (pa, pb), the overlap can be at
    // most 1 + min(|A|-pa-1, |B|-pb-1). Keeping a pair when ANY shared
    // prefix token passes is exactly the first-shared-token test
    // (later shared tokens have larger positions, hence smaller
    // bounds), so the filter loses no true pair. With θ = num/den,
    // θ/(1+θ) = num/(num+den): compare cross-multiplied in longs.
    val needed = lit(num) * (col("a.n") + col("b.n"))
    val ubound = lit(1) +
      least(col("a.n") - col("a.pos") - 1, col("b.n") - col("b.pos") - 1)
    val cond = (Seq(
      col("a.tok") === col("b.tok"),
      col("a.rep_id") < col("b.rep_id"),
      // length filter θ·|A| ≤ |B| ≤ |A|/θ, cross-multiplied exact
      col("b.n") * lit(num) <= col("a.n") * lit(den),
      col("a.n") * lit(num) <= col("b.n") * lit(den),
      ubound * lit(num + den) >= needed) ++
      (if (byLang) Seq(col("a.lang") === col("b.lang")) else Nil))
      .reduce(_ && _)
    pre.alias("a").join(pre.alias("b"), cond)
      .select(col("a.rep_id").as("ra"), col("b.rep_id").as("rb"))
      .distinct()
  }

  /** Full collapsed Jaccard-similarity self-join: collapse → prefix
    * candidates over representatives → verify ONCE per set pair →
    * expand group pairs back to member row pairs by slim keyed joins
    * (the output contract is row pairs, so the expansion is exactly
    * output-sized). Within-group pairs (identical sets, J ≡ 1.0) come
    * from a SALTED self-join on the representative key — one giant
    * duplicate group's clique spreads over 8 reducers instead of one. */
  private[graft] def jaccardPrefixPairs(docs: DataFrame, t: Double,
      byLang: Boolean,
      // token-id encoder seam: production is xxhash64; tests inject a
      // deliberately colliding encoder to prove the injectivity guard
      // FIRES (the guard is otherwise a dead path — 64-bit collisions
      // are unreachable on any test vocabulary)
      idOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => xxhash64(c)): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val gk = if (byLang) Seq("fp", "lang") else Seq("fp")
    val sets = fingerprinted(docs).persist(StorageLevel.MEMORY_AND_DISK)
    val groups = setGroups(sets, byLang).persist(StorageLevel.MEMORY_AND_DISK)
    // membership (rep_id, doc_id) — one window over the set key; slim
    // rows only from here down
    val mem = sets.select(col("doc_id"),
      min("doc_id").over(Window.partitionBy(gk.map(col): _*)).as("rep_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val (wa, wb, wkeys) =
      Skew.saltedSelfJoinSides(mem, Seq("rep_id"), "doc_id", 8)
    val within = wa.alias("wa").join(wb.alias("wb"), wkeys)
      .filter(col("wa.doc_id") < col("wb.doc_id"))
      .select(col("wa.doc_id").as("a_id"), col("wb.doc_id").as("b_id"),
        lit(1.0).as("jac"))

    val repCols = if (byLang) Seq(col("rep_id"), col("lang"), col("ws"))
      else Seq(col("rep_id"), col("ws"))
    // r22: the candidate build's own document-frequency pass (one row
    // per distinct token — the corpus vocabulary) also feeds the
    // injectivity guard below, instead of the guard re-exploding the
    // reps and paying a second corpus-token-level distinct exchange
    // (guide §2.4).
    val (ordered0, dfreq) =
      orderedPrefixWithDfreq(groups.select(repCols: _*), byLang)
    val ordered = ordered0.persist(StorageLevel.MEMORY_AND_DISK)
    val cand = candidatesOverOrdered(ordered, t, byLang)
    // r15: the verify arrays are dictionary-ENCODED to sorted 64-bit
    // token ids before they ride the candidate joins. At the ~sf10 text
    // decade the attach of two UTF8 token arrays onto 207M candidate
    // rows was the family's entire scale cost (the second join sorts
    // candidate rows already carrying the first array — measured
    // 178 GB spill); fixed 8-byte ids shrink that volume ~4× and the
    // merge-walk compares primitives. Jaccard is invariant under any
    // INJECTIVE token map; injectivity of xxhash64 over the corpus
    // vocabulary is CHECKED, not assumed — the vocabulary-sized
    // id-collision count rides in as a broadcast scalar and any
    // collision fails the query loudly rather than returning a silently
    // inflated intersection (64-bit collisions are ~impossible below
    // billions of distinct tokens, but exactness is the contract).
    // r22: the guard input is the candidate build's (persisted) dfreq
    // frame — one row per distinct (token[, lang]) — so the id-collision
    // count costs a vocabulary-sized aggregation, not a second
    // corpus-token explode + distinct. countDistinct (not count):
    // under byLang a token present in several langs carries one dfreq
    // row per lang, and the guard counts distinct TOKENS per id —
    // identical to the retired distinct-vocab shape in both modes.
    val nBad = broadcast(dfreq
      .groupBy(idOf(col("tok")).as("id"))
      .agg(countDistinct(col("tok")).as("c")).filter(col("c") > 1)
      .agg(count(lit(1)).as("n_bad")))
    val encoded = groups
      .select(col("rep_id"),
        array_sort(transform(col("ws"), w => idOf(w))).as("wsid"))
    val inter = graft.plans.Native
      .sorted_intersect_count(col("a_ws"), col("b_ws")).cast("double")
    // SHUFFLE_HASH on the rep-level sides: a sort-merge attach would
    // SORT the candidate-pair stream — at the ~sf10 decade that is
    // 207M rows, and the second sort carries the first attached array
    // (measured: the sorts, not the joins, were the 178 GB spill).
    // Hash-building the reps-sized array table per partition instead
    // lets the candidate stream flow through unsorted; the build side
    // is corpus-DISTINCT-SET sized (collapse output), orders of
    // magnitude below the pair stream at any scale.
    //
    // The hint is a measured 100 TB-FIRST trade: at sf0.1 the rep
    // table is broadcastable and the un-hinted plan's BHJs win by ~2 s
    // (2.7 -> 4.7 s, the shuffle+schedule overhead of forced SHJ on a
    // 26 MB candidate stream), while a decade up the same broadcast is
    // impossible (reps outgrow the driver at any real corpus) and the
    // un-hinted SMJ fallback spills 178 GB against SHJ's 31 GB at
    // 52 s vs 139 s (SCALE.md r15). A static plan must pick the shape
    // that survives scale; the small-scale delta is the documented
    // price.
    // the guard rides the candidate stream ONCE (a single 1-row scalar
    // attach in the plan), upstream of both array attaches — any
    // vocabulary collision fails the query before a row is emitted
    val verified = cand
      .crossJoin(nBad)
      .filter(when(col("n_bad") === 0, lit(true)).otherwise(
        raise_error(lit("xxhash64 token-id collision in the corpus " +
          "vocabulary — the encoded Jaccard verify would overcount; " +
          "re-run with a wider id space"))))
      .drop("n_bad")
      .join(encoded.select(col("rep_id").as("ra"), col("wsid").as("a_ws"))
        .hint("shuffle_hash"), "ra")
      .join(encoded.select(col("rep_id").as("rb"), col("wsid").as("b_ws"))
        .hint("shuffle_hash"), "rb")
      .withColumn("jac", graft.plans.Native.fast_round(
        inter / (size(col("a_ws")) + size(col("b_ws")) - inter), 6))
      .filter(col("jac") >= t)
      .select("ra", "rb", "jac")
    val cross = verified
      .join(mem.select(col("rep_id").as("ra"), col("doc_id").as("x"))
        .hint("shuffle_hash"), "ra")
      .join(mem.select(col("rep_id").as("rb"), col("doc_id").as("y"))
        .hint("shuffle_hash"), "rb")
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"), col("jac"))
    within.unionByName(cross)
  }

  /** Shared 256-perm LSH probe + verify for the native signature paths.
    *
    * Cache lifecycle: the returned frame references persisted
    * intermediates; the caller owns their release (the Bench/Verify
    * runners `clearCache()` after consuming each query — do the same in
    * long-lived sessions).
    *
    *
    *  1. persist the (doc_id, sig) table — the signature is the expensive
    *     pass and the graph below uses it three times (two band sides +
    *     the verify fetch); at production scale this is the checkpoint of
    *     the signature table before the self-join
    *  2. band join carries ONLY (doc_id, band) — never the 256-long
    *     signature array (43 bands × corpus would shuffle the array ~43×)
    *  3. distinct candidate pairs re-attach both signatures by keyed join,
    *     and the agreement estimate is a codegen'd native expression
    *     ([[graft.plans.SigAgree]]), not an interpreted lambda chain.
    *
    * 43 bands × stride 6: the reference's `range(0, len+1, 6)` probe loop
    * emits a trailing PARTIAL 4-element window over hashes 252..255
    * (check_duplicate.py:91-92); slice() clamps, giving the same band. */
  private def bandPairJoin(sigDf: DataFrame, numBands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val sig = sigDf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sig.select(col("doc_id"),
      explode(Hashes.bands(col("sig"), numBands, rowsPerBand)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_key"))
    // Replicate-salt the self-join (Skew): a hot band_key's pair clique
    // spreads over 4 reducers; output rows are identical to unsalted.
    // (salts=4: replication cost is linear in salts while the skew split
    // only needs to break the single-reducer ceiling; 43 bands × corpus
    // × 8 measured ~15% slower end-to-end for no extra benefit here.)
    val (bandA, bandB, keys) =
      Skew.saltedSelfJoinSides(banded, Seq("band_id", "band_key"), "doc_id", 4)
    val pairs = bandA.alias("a")
      .join(bandB.alias("b"), keys)
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    pairs
      .join(sig.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sig.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .select(col("a_id"), col("b_id"),
        graft.plans.Native.fast_round(
          graft.plans.Native.sig_agree(col("a_sig"), col("b_sig")), 6)
          .as("est_jac"))
      .filter(col("est_jac") >= threshold)
  }


  /** Dedicated child session for the CC fixed-point machinery: shares
    * the SparkContext (so caches and localCheckpoints are shared) but
    * has an ISOLATED SQLConf, so the rule exclusion below never leaks
    * to queries running concurrently on the caller's session, and the
    * returned lazy frames — optimized only when the caller acts on
    * them — still see the exclusion.
    * InferFiltersFromConstraints mis-resolves plans that reference the
    * same checkpointed relation on both sides of a join-under-union
    * (NoSuchElementException: key not found on the duplicated side).
    * The rule is an optimization, never a correctness dependency. */
  private[graft] def ccSession(s0: SparkSession): SparkSession = {
    val s = s0.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints")
    s
  }

  /** Lineage truncation with a recovery posture: localCheckpoint blocks
    * live only on executors, so on a real cluster one lost executor
    * kills the whole job mid-loop. When the context has a RELIABLE
    * checkpoint dir configured (sc.setCheckpointDir onto fault-tolerant
    * storage), truncate through checkpoint() instead — every frame we
    * truncate is contraction-residue-sized, so the per-round write is
    * tiny next to the shuffles it protects. Locally (no dir) fall back
    * to executor-local checkpoints, which are faster and fine in a
    * single-JVM test run. RETENTION: Spark removes reliable checkpoint
    * files only when `spark.cleaner.referenceTracking.cleanCheckpoints`
    * is true (off by default); every call here writes one, so a
    * long-lived stream that sets a checkpoint dir must also set that
    * conf, or the dir grows by one checkpoint per truncation per
    * micro-batch. */
  private[graft] def truncatedDf(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Fresh attribute ids for re-referenced checkpointed frames: a
    * checkpoint keeps its exprIds, and joining the same relation twice
    * in one plan trips InferFiltersFromConstraints (observed
    * NoSuchElementException on the duplicate-side key). Rebinding
    * through createDataFrame(rdd, schema) is free when the RDD is
    * already materialized — only call this on truncated frames. */
  private[graft] def reidDf(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** The base+delta composition behind dd_cluster_cc_delta, split out so
    * the bridge-merge case (a delta vertex joining two previously
    * separate base components) is pinnable on a synthetic graph
    * (CorpusSpec). `edges` must be materialized; `isBase` partitions
    * vertices into the T0 tranche and the late arrivals. */
  private[graft] def ccDeltaCompose(s: SparkSession, edges: DataFrame,
      isBase: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val baseEdges = edges.filter(isBase(col("a_id")) && isBase(col("b_id")))
    val deltaEdges = edges
      .filter(!(isBase(col("a_id")) && isBase(col("b_id"))))
    // the stored assignment, as written at T0 (before the delta tranche):
    // materialized because the fold reads it twice (probe, pass-through)
    val baseAssign = truncatedDf(ccAssignments(baseEdges), eager = true)
    ccApplyDelta(s, baseAssign, deltaEdges)
  }

  /** Row cap of the ingest-sized DRIVER arms: the CC fold
    * ([[ccApplyDelta]]), the twin-chain walk
    * ([[DedupGate.resolveTargets]]) and the store loops' local batch and
    * outcome frames. A frame of at most this many rows is collected and
    * solved on the driver; a larger one runs the distributed loop
    * unchanged. A fixed constant, not an option: an ingest micro-batch
    * is tens to hundreds of rows, and at the cap a driver arm holds a
    * few MB (8192 rows of ids, or of gate rows carrying a 16-long
    * signature), far below any driver heap Spark runs on. */
  private[graft] val DriverRows = 8192

  /** The rows of `df` when it has at most [[DriverRows]] of them, else
    * None: one bounded `take`, which starts no Spark job at all when
    * `df` is already a local relation. */
  private[graft] def onDriver(df: DataFrame): Option[Array[Row]] = {
    val rows = df.take(DriverRows + 1)
    if (rows.length <= DriverRows) Some(rows) else None
  }

  /** `rows` as a local relation on `s`: planned from driver memory, so
    * reading it starts no Spark job of its own. */
  private[graft] def localFrame(s: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, schema)
  }

  /** One maintenance step of a STORED component assignment: fold an
    * edge batch into `baseAssign` (doc_id, canonical_id — canonical
    * must be each component's min vertex, which ccAssignments and this
    * function both guarantee, so steps CHAIN: the output is the next
    * step's base). The batch's endpoints contract onto stored
    * canonicals, only the batch-sized contraction graph is resolved,
    * untouched components pass through. Re-applying an already-folded
    * batch is a no-op: both endpoints of every edge map to the same
    * canonical, the contraction empties, and the vertex union adds
    * nothing — redelivery-idempotent by construction (StoreLoopSpec
    * pins this and the multi-batch fold).
    * `deltaOnly = true` returns ONLY the rows the batch changed (new
    * vertices + vertices whose canonical moved) — the ingest-sized
    * artifact a streaming store loop appends instead of rewriting the
    * corpus-sized assignment (CcStoreLoop).
    *
    * Two arms, one result (PropertySpec pins them equal):
    *  - DRIVER ([[ccFoldOnDriver]]) when the batch has at most
    *    [[DriverRows]] edges, no null endpoint, and one id type (long,
    *    int or string) across both frames: one job probes the stored
    *    canonicals of the endpoints, union-find solves the contraction
    *    graph on the driver, and the moved canonicals join back as a
    *    local relation. Driver memory: the edges, the endpoint map and
    *    the union-find forest, each at most 2 × DriverRows ids.
    *  - DISTRIBUTED ([[ccFoldDistributed]]) otherwise: the contraction
    *    graph resolves through [[ccAssignments]]' fixed-point loop.
    * Either arm reads `baseAssign` only through keyed probes and one
    * pass-through scan, so a lazily read parquet overlay serves as well
    * as a checkpoint (CcStoreLoop passes the overlay). */
  private[graft] def ccApplyDelta(s: SparkSession, baseAssign: DataFrame,
      deltaEdges: DataFrame, deltaOnly: Boolean = false): DataFrame = {
    val edges = deltaEdges.select("a_id", "b_id")
    val types = Seq(baseAssign.schema("doc_id"),
      baseAssign.schema("canonical_id"), edges.schema("a_id"),
      edges.schema("b_id")).map(_.dataType).distinct
    val local =
      if (types.size == 1 && idOrdering(types.head).isDefined)
        onDriver(edges).filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
      else None
    local.fold(ccFoldDistributed(s, baseAssign, deltaEdges, deltaOnly))(
      ccFoldOnDriver(s, baseAssign, _, deltaOnly))
  }

  /** Spark's order of an id type the driver fold takes — long, int, or
    * string compared by UTF-8 bytes as Spark compares it; None for any
    * other type, which the distributed arm takes. */
  private def idOrdering(t: DataType): Option[Ordering[Any]] = t match {
    case LongType => Some(Ordering.Long.on[Any](_.asInstanceOf[Long]))
    case IntegerType => Some(Ordering.Int.on[Any](_.asInstanceOf[Int]))
    case StringType => Some(Ordering.fromLessThan[Any]((a, b) =>
      UTF8String.fromString(a.asInstanceOf[String])
        .binaryCompare(UTF8String.fromString(b.asInstanceOf[String])) < 0))
    case _ => None
  }

  /** The DRIVER arm of [[ccApplyDelta]] over the collected `edges`
    * (a_id, b_id rows, no null endpoint). Union-find lets the smaller
    * root win every union, so each root is its component's min — the
    * canonical rule [[ccAssignments]] computes (and perfbench's CC
    * oracle states the same way). Jobs: one probe of the stored
    * canonicals of the endpoints, none when the batch is empty; the
    * result is the new vertices as a local relation plus — only when a
    * stored canonical moved — the base rows carrying it, joined against
    * the moved canonicals as a local relation. */
  private[graft] def ccFoldOnDriver(s: SparkSession, baseAssign: DataFrame,
      edges: Seq[Row], deltaOnly: Boolean): DataFrame = {
    val idType = baseAssign.schema("doc_id").dataType
    val ord = idOrdering(idType).getOrElse(throw new IllegalArgumentException(
      s"ccFoldOnDriver: unsupported id type $idType"))
    val pairs = edges.map(r => (r.get(0), r.get(1)))
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    // endpoint → stored canonical, for the endpoints present in the base
    val stored: Map[Any, Any] =
      if (verts.isEmpty) Map.empty
      else baseAssign.filter(col("doc_id").isin(verts: _*))
        .select("doc_id", "canonical_id").collect()
        .map(r => r.get(0) -> r.get(1)).toMap
    // union-find over the contraction graph: endpoints contract onto
    // their stored canonical (self when new or base-isolated)
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    pairs.foreach { case (a, b) =>
      val ca = stored.getOrElse(a, a)
      val cb = stored.getOrElse(b, b)
      parent.getOrElseUpdate(ca, ca)
      parent.getOrElseUpdate(cb, cb)
      val (ra, rb) = (find(ca), find(cb))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val fin = parent.keys.toSeq.map(c => c -> find(c)).toMap
    val schema = StructType(Seq(StructField("doc_id", idType),
      StructField("canonical_id", idType)))
    // one partition: the new-vertex rows are batch-sized, and a store
    // loop writing them lands one file instead of one per core
    val fresh = localFrame(s, schema, verts.filterNot(stored.contains)
      .map(v => Row(v, fin.getOrElse(v, v)))).coalesce(1)
    val moved = fin.toSeq.filter { case (c, f) => c != f }
    val bmap = baseAssign.select("doc_id", "canonical_id")
    if (moved.isEmpty) (if (deltaOnly) fresh else bmap.unionByName(fresh))
    else {
      val movedFrame = localFrame(s, StructType(Seq(
        StructField("canonical_id", idType), StructField("fin", idType))),
        moved.map { case (c, f) => Row(c, f) })
      val passThrough = bmap
        .join(movedFrame, Seq("canonical_id"), if (deltaOnly) "inner" else "left")
        .select(col("doc_id"),
          coalesce(col("fin"), col("canonical_id")).as("canonical_id"))
      passThrough.unionByName(fresh)
    }
  }

  /** The DISTRIBUTED arm of [[ccApplyDelta]]: the delta endpoints
    * contract onto stored canonicals by keyed joins, [[ccAssignments]]'
    * fixed-point loop resolves the contraction graph, and the deltaOnly
    * filter is a null-safe compare against the stored canonical already
    * riding the compose join, never a full-table except. */
  private[graft] def ccFoldDistributed(s: SparkSession, baseAssign: DataFrame,
      deltaEdges: DataFrame, deltaOnly: Boolean): DataFrame = {
    val bmap = baseAssign
      .select(col("doc_id").as("v"), col("canonical_id").as("c"))
    // r22 (guide §2.4/§3.1): every decision in the fold depends only on
    // the DELTA-sized endpoint set, so the corpus-sized base is PROBED
    // (one keyed join against the distinct delta endpoints, one
    // pass-through scan) and never unioned, distinct'd, or re-shuffled
    // at corpus size. The former shape joined bmap three times and ran
    // a corpus-sized union+distinct per fold — four to five
    // corpus-level exchanges PER MICRO-BATCH in the stream posture; the
    // probe shape pays at most the one endpoint-map join (AQE
    // runtime-sizes the delta side: ingest-scale endpoint sets
    // broadcast, a backfill tranche degrades to a keyed join instead of
    // OOMing — the same de-hinted posture as CcStoreLoop.state's
    // overlay anti-joins, probe_fallback_store_*.json).
    val deltaVerts = truncatedDf(
      deltaEdges.select(col("a_id").as("v"))
        .unionByName(deltaEdges.select(col("b_id").as("v")))
        .distinct(), eager = false)
    // endpoint → stored canonical, for the endpoints present in the
    // base (delta-sized output; the only corpus-keyed join of the fold)
    val em = truncatedDf(
      bmap.join(deltaVerts, Seq("v")).select(col("v"), col("c")),
      eager = false)
    // contract delta-edge endpoints onto stored canonicals (self where
    // the endpoint is new or was base-isolated at T0) — delta × delta
    // joins only from here on
    val contraction = deltaEdges
      .join(em.withColumnRenamed("v", "a_id")
        .withColumnRenamed("c", "ca"), Seq("a_id"), "left")
      .join(reidDf(em).withColumnRenamed("v", "b_id")
        .withColumnRenamed("c", "cb"), Seq("b_id"), "left")
      .select(coalesce(col("ca"), col("a_id")).as("a_id"),
        coalesce(col("cb"), col("b_id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .distinct()
    val cAssign = ccAssignments(truncatedDf(contraction, eager = true))
      .select(col("doc_id").as("cnode"), col("canonical_id").as("fin"))
    // every vertex of the merged graph, as base-pass-through ∪ new
    // arrivals: a base vertex's contraction node is its stored
    // canonical; a delta endpoint absent from the base (new /
    // base-isolated at T0) contracts onto itself. baseAssign is unique
    // per doc_id (the assignment invariant every layer maintains) and
    // the anti-join makes the two sides disjoint, so no corpus-sized
    // distinct is needed.
    val newVerts = deltaVerts.join(reidDf(em).select("v"), Seq("v"),
      "left_anti")
    val cType = baseAssign.schema("canonical_id").dataType
    val composed = bmap.select(col("v"), col("c"), col("c").as("cnode"))
      .unionByName(newVerts.select(col("v"),
        lit(null).cast(cType).as("c"), col("v").as("cnode")))
      .join(cAssign, Seq("cnode"), "left")
      .select(col("v").as("doc_id"), col("c"),
        coalesce(col("fin"), col("cnode")).as("canonical_id"))
    // delta rows: stored canonical (c, null for new vertices) differs
    // from the computed one — null-safe so new vertices always emit
    (if (deltaOnly) composed.filter(!(col("c") <=> col("canonical_id")))
     else composed)
      .select("doc_id", "canonical_id")
  }

  /** Min-label connected components over an undirected pair list — the
    * Boruvka-style contraction + fixed-point loop shared by
    * dd_cluster_cc (one-shot) and dd_cluster_cc_delta (per-batch
    * contraction-graph resolve). `pairs` must be (a_id, b_id) edges
    * ALREADY materialized (truncatedDf(_, eager = true)) — the
    * symmetric union below references it on both sides. `edges` must
    * BELONG to a ccSession (plans execute under the session a frame was
    * built on, so passing a session alongside the frame could not
    * enforce anything — ADVICE r13); the require below makes the
    * contract loud instead of silently losing the
    * InferFiltersFromConstraints exclusion. Returns
    * (doc_id, canonical_id) for every vertex incident to at least one
    * pair, canonical = component min. */
  private[graft] def ccAssignments(edges: DataFrame): DataFrame = {
    require(edges.sparkSession.conf
        .getOption("spark.sql.optimizer.excludedRules")
        .exists(_.contains("InferFiltersFromConstraints")),
      "ccAssignments: edges must be built on a ccSession frame — the " +
        "caller's session lacks the InferFiltersFromConstraints " +
        "exclusion this loop's checkpoint reuse depends on")
    implicit class Truncated(df: DataFrame) {
      def truncated(eager: Boolean): DataFrame = truncatedDf(df, eager)
    }
      // Symmetric edge list, pre-shuffled on the probe key and CACHED in
      // that layout: every round's hop join reads the cached hash-
      // partitioned blocks and only exchanges the (vertex-sized) label
      // side — the edge list, the big side at 100 TB, crosses the wire
      // exactly once for the whole fixed-point loop.
      val sym = edges.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
        .repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      // Borůvka-style contraction FIRST: collapse every vertex onto the
      // min of its closed neighborhood (one edge-sized aggregation), then
      // rebuild the edge list between those representatives. Dense LSH
      // clusters — the bulk of the near-dup graph — vanish entirely in
      // this step; only the chain-y residue (a tiny fraction of vertices)
      // enters the fixed-point loop, so every loop round shuffles a
      // contracted graph orders of magnitude smaller than the raw one.
      val labels0 = sym.groupBy("src")
        .agg(min("dst").as("mn"))
        .select(col("src").as("id"), least(col("src"), col("mn")).as("comp"))
        .truncated(true)
      // (exprId rebinding rationale lives on reidDf)
      def reid(df: org.apache.spark.sql.DataFrame) = reidDf(df)
      // LAZY checkpoints from here down: every materialization below is
      // fused with the checksum aggregate that immediately follows it —
      // one Spark job per round (materialize + sum in the same action)
      // instead of the former two (eager checkpoint, then a separate
      // agg). The loop is all fixed per-round job overhead at test scale,
      // so halving the job count halves the loop's wall time.
      val cEdges = sym
        .join(labels0.select(col("id").as("src"), col("comp").as("csrc")), "src")
        .join(reid(labels0).select(col("id").as("dst"), col("comp").as("cdst")),
          "dst")
        .select(col("csrc").as("src"), col("cdst").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .truncated(false)

      var labels = cEdges.groupBy("src")
        .agg(min("dst").as("mn"))
        .select(col("src").as("id"), least(col("src"), col("mn")).as("comp"))
        .truncated(false)
      var converged = false
      var rounds = 0
      // Convergence via a monotone checksum: every per-vertex comp is
      // non-increasing under min-propagation, so sum(comp) is unchanged
      // iff NO vertex changed — one cached-scan aggregate per round in
      // place of a vertex-sized prev-labels join. (This action also
      // materializes cEdges and labels — the lazy-checkpoint fusion.)
      var checksum = labels.agg(coalesce(sum("comp"), lit(0L))).head.getLong(0)
      // Early exit on an empty contracted residue: doc ids are positive,
      // so checksum 0 ⇔ no labels ⇔ every cluster was a dense clique
      // that vanished in the contraction — the common LSH-dup corpus
      // shape, and the loop would only burn rounds proving it.
      converged = checksum == 0L
      while (!converged && rounds < 20) {
        def hop(ls: org.apache.spark.sql.DataFrame) =
          ls.unionByName(cEdges
              .join(ls.withColumnRenamed("id", "src"), "src")
              .select(col("dst").as("id"), col("comp")))
            .groupBy("id").agg(min("comp").as("comp"))
        // one hop plus one pointer jump (comp <- comp(comp)) per round,
        // all over the contracted residue graph
        def jump(ls: org.apache.spark.sql.DataFrame) =
          ls.alias("x")
            .join(ls.select(col("id").as("comp"),
              col("comp").as("comp2")).alias("y"), Seq("comp"), "left")
            .select(col("id"),
              least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp"))
        val next = jump(hop(labels)).truncated(false)
        val nextSum = next.agg(coalesce(sum("comp"), lit(0L))).head.getLong(0)
        labels = next
        converged = nextSum == checksum
        checksum = nextSum
        rounds += 1
      }
      // A round-cap exit is a WRONG assignment, and this function now
      // also feeds the stored-state loops (CcStoreLoop), where a
      // truncated fixed point would persist and every later batch would
      // chain off it permanently — so non-convergence must be fatal,
      // never a silent truncation (ADVICE r13). The cap is generous:
      // contraction plus hop+pointer-jump resolves any residue whose
      // component diameter fits in ~2^20 — unreachable for real dup
      // graphs, so tripping this means a logic regression, not data.
      // sym's cached blocks have served their purpose either way: every
      // frame the returned plan references (labels0, labels) is a
      // materialized checkpoint by the time the checksum loop exits, so
      // release the corpus-scale edge cache BEFORE the convergence
      // verdict (r20 review: the non-convergence throw used to skip the
      // unpersist, pinning one corpus-sized cache per failed invocation
      // into the shared context for callers that catch and continue).
      sym.unpersist(false)
      if (!converged)
        throw new IllegalStateException(
          s"ccAssignments: fixed point not reached after $rounds rounds " +
            s"(checksum still moving) — refusing to return a truncated " +
            s"assignment that stored-state consumers would chain off")
      // Compose: original vertex → its contraction representative → that
      // representative's final component (identity where the loop never
      // saw the representative, i.e. fully-contracted clusters). Both
      // sides are materialized checkpoints with disjoint exprIds.
      labels0.alias("v")
        .join(reid(labels).select(col("id").as("comp"), col("comp").as("fin"))
          .alias("r"), Seq("comp"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("fin"), col("comp")).as("canonical_id"))
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup by content fingerprint: hash-groupBy, keep the minimum
    // id as canonical (drop_duplicates semantics, T2).
    "dd_exact" -> ((s, d) => {
      prepared(s, d)
        .withColumn("fingerprint", md5(array_join(col("ws"), " ")))
        .groupBy("fingerprint")
        .agg(min("doc_id").as("canonical_id"), count("*").as("n_dups"))
        .filter(col("n_dups") > 1)
    }),

    // Corpus-wide duplicate-LINE removal (the C4 preprocessing step,
    // Raffel et al. 2020, public method: any sentence/line occurring
    // more than once in the corpus keeps only its FIRST occurrence —
    // order-dependent semantics, unlike dd_span_scrub's df-threshold
    // cut). Sentences split on '. '; first occurrence = lowest
    // (doc_id, idx), decided by a rank window PARTITIONED BY the
    // sentence's md5 — the 128-bit key is what rides the shuffle, the
    // sentence text stays on its own row (slim-key posture). Docs
    // reassemble from kept sentences in original order; docs whose
    // every sentence was seen earlier drop out entirely (both engines
    // agree: an empty group emits no row).
    "dd_line_dedup" -> ((s, d) => {
      val sents = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), "\\. ")).as(Seq("idx0", "sent")))
        .filter(col("sent") =!= "")
        .select(col("doc_id"), (col("idx0") + 1).as("idx"), col("sent"),
          md5(col("sent")).as("sh"))
      val w = Window.partitionBy("sh").orderBy("doc_id", "idx")
      sents.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_sort(collect_list(struct(col("idx"), col("sent"))))
            .as("ks"))
        .select(col("doc_id"), col("n_kept"),
          array_join(transform(col("ks"), k => k("sent")), ". ")
            .as("text_clean"))
    }),

    // URL dedup — the FIRST dedup stage of a web-corpus pipeline
    // (CCNet/RefinedWeb order: collapse recrawls and URL variants
    // BEFORE any content hashing buys anything): canonicalize, then
    // keep the best capture per canonical URL (longest content, id
    // tiebreak — the "most complete crawl wins" heuristic). One keyed
    // window on the canonical URL; per-URL payload is the recrawl
    // count, bounded by crawl frequency, not corpus size. Shares
    // TextQueries.canonicalUrl verbatim with ta_url_canonical.
    "dd_url_dedup" -> ((s, d) => {
      val w = Window.partitionBy("url")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          TextQueries.canonicalUrl.as("url"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n_docs",
          count(lit(1)).over(Window.partitionBy("url")))
        .filter(col("rk") === 1)
        .select(col("url"), col("doc_id").as("kept_doc"), col("n_docs"))
    }),

    // Benchmark decontamination — the eval-set n-gram overlap scrub every
    // pre-training pipeline runs (docs sharing any 8-gram with a held-out
    // benchmark get flagged/dropped). The benchmark side is SMALL by
    // nature (an eval set, here docs 0..19 standing in for one), so its
    // distinct-gram set is BROADCAST: the 100 TB corpus side explodes to
    // grams and hash-joins in place — per-partition work, no corpus
    // shuffle until the per-doc count aggregation on doc_id.
    "dd_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // r21 (guide §4): the distinct-8-gram build is the native
      // one-pass dist_word_ngrams — set/order-identical to the
      // interpreted split/filter/transform/array_join/array_distinct
      // HOF chain it replaces (NgramSpec pins the equivalence)
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), explode(
          graft.plans.Native.dist_word_ngrams(col("text"), 8)).as("gram"))
      val benchGrams = grams(docs.filter(col("doc_id") < 20))
        .select("gram").distinct()
      grams(docs.filter(col("doc_id") >= 20))
        .join(broadcast(benchGrams), Seq("gram"))
        .groupBy("doc_id")
        .agg(count("*").as("n_shared"))
    }),

    // FUZZY decontamination by n-gram CONTAINMENT — the production
    // companion to dd_decontaminate's exact any-gram hit: a train doc is
    // contaminated when it contains ≥ 20% of an eval doc's distinct
    // 8-grams (the asymmetric containment |train ∩ eval| / |eval| that
    // catches an eval passage EMBEDDED in a larger train doc, where
    // symmetric Jaccard would dilute to ~0). Scale shape: the eval
    // side's gram→eval-doc attribution map is eval-sized and BROADCAST
    // twice (grams, then sizes); the corpus explodes grams in place and
    // the only corpus shuffle is the keyed (doc, eval) count — same
    // geometry as dd_decontaminate, one extra keyed column. The corpus
    // has just one natural overlap pair, so partial contaminations are
    // PLANTED deterministically: every train doc ≡37 (mod 100) carries
    // a 40-token slice of eval doc (id mod 20) appended — containment
    // ≈ 0.6, well over threshold but far from the exact-copy 1.0 the
    // exact scrub already catches. Mirrored verbatim in the oracle.
    "dd_containment_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val evals = docs.filter(col("doc_id") < 20)
      val planted = docs.filter(col("doc_id") >= 20 &&
          col("doc_id") % 100 === 37).alias("t")
        .join(evals.select(col("doc_id").as("eid"), col("text").as("etext")),
          col("t.doc_id") % 20 === col("eid"))
        .select(col("t.doc_id").as("doc_id"),
          concat(col("t.text"), lit(" "),
            array_join(slice(Texts.tokens(col("etext")), 1, 40), " "))
            .as("text"))
      val train = docs.filter(col("doc_id") >= 20 &&
          col("doc_id") % 100 =!= 37)
        .select(col("doc_id"), col("text"))
        .unionByName(planted)
      // native distinct grams (r21) — see dd_decontaminate's note
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), explode(
          graft.plans.Native.dist_word_ngrams(col("text"), 8)).as("gram"))
      val evalGrams = grams(evals)
        .select(col("doc_id").as("eval_id"), col("gram"))
      val evalSizes = evalGrams.groupBy("eval_id")
        .agg(count(lit(1)).as("n_eval"))
      grams(train)
        .join(broadcast(evalGrams), Seq("gram"))
        .groupBy("doc_id", "eval_id")
        .agg(count(lit(1)).as("shared"))
        .join(broadcast(evalSizes), Seq("eval_id"))
        .select(col("doc_id"), col("eval_id"),
          graft.plans.Native.fast_round(
            col("shared").cast("double") / col("n_eval"), 6)
            .as("containment"))
        .filter(col("containment") >= 0.2)
    }),

    // Chunked signature aggregation via the SigMin UDAF (SURVEY §2.11's
    // MinHashAgg): 16-perm portable signatures are computed per 10-token
    // CHUNK, then merged to the document signature with the custom
    // TypedImperativeAggregate — element-wise min is associative, so the
    // merge combines map-side and only one 16-long buffer per group
    // crosses the shuffle. Because min(min over chunks) = min over all
    // tokens, the merged result is EXACTLY the flat whole-document
    // signature — which is what the oracle computes, so the UDAF's
    // update/merge/serialize cycle is verified end-to-end by equality.
    "agg_sig_min_chunks" -> ((s, d) => {
      val P = Hashes.MinHashPrime
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(Texts.tokens(col("text"))).as(Seq("pos", "tok")))
      val permAggs = (0 until 16).map { i =>
        val a = (2654435761L * (i + 1)) % P
        val b = (40503L * (i + 7)) % P
        min((lit(a) * col("h") + lit(b)) % P).as(s"s$i")
      }
      val chunkSig = toks
        .select(col("doc_id"), floor(col("pos") / 10).as("chunk_idx"),
          (Texts.md5Long(col("tok")) % P).as("h"))
        .groupBy("doc_id", "chunk_idx")
        .agg(permAggs.head, permAggs.tail: _*)
        .select(col("doc_id"),
          array((0 until 16).map(i => col(s"s$i")): _*).as("sig"))
      chunkSig.groupBy("doc_id")
        .agg(graft.plans.Native.sig_min_agg(col("sig")).as("sig"),
          count(lit(1)).as("n_chunks"))
        .select(col("doc_id"), col("n_chunks"),
          array_join(transform(col("sig"), x => x.cast("string")), ",")
            .as("signature"))
    }),

    // Bloom-prefiltered decontamination — same semantics as
    // dd_decontaminate, but the corpus-side gram stream is first pruned
    // by a Bloom filter built over the benchmark grams (one driver-side
    // sketch, broadcast as a few MB of bits), and only the tiny surviving
    // fraction reaches the exact join. This is the 100 TB shape when the
    // benchmark union is too large to broadcast as a raw hash relation
    // (dozens of eval sets × contamination windows): the bits still fit
    // everywhere, ~all non-contaminated grams die at the scan projection,
    // and the exact verify join — now over ~0.1% of the stream — makes
    // Bloom false positives semantically invisible, which is what keeps
    // this oracle-checkable (output ≡ exact decontamination).
    // The probe is the NATIVE bloom_might_contain expression (codegen'd
    // bit test on the UTF8 bytes, bit-identical to the builder's
    // putString hashing) — it stays inside the whole-stage-codegen span
    // with the explode/distinct it follows, where the former Scala UDF
    // forced a codegen boundary and boxed every gram.
    "dd_bloom_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // native distinct grams (r21) — see dd_decontaminate's note
      def grams(df: DataFrame) = df
        .select(col("doc_id"), explode(
          graft.plans.Native.dist_word_ngrams(col("text"), 8)).as("gram"))
      val benchGrams = grams(docs.filter(col("doc_id") < 20))
        .select("gram").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // 1e6 expected items ≫ any eval set; 1% fpp → ~1.2 MB of bits
      val bf = benchGrams.stat.bloomFilter("gram", 1000000L, 0.01)
      val bits = {
        val baos = new java.io.ByteArrayOutputStream()
        bf.writeTo(baos)
        baos.toByteArray
      }
      grams(docs.filter(col("doc_id") >= 20))
        .filter(graft.plans.Native.bloom_might_contain(col("gram"), bits))
        .join(benchGrams, Seq("gram")) // exact verify; AQE broadcasts it
        .groupBy("doc_id")
        .agg(count("*").as("n_shared"))
    }),

    // Same-language distinct-word-set Jaccard near-dup, exact, via PREFIX
    // FILTERING within language partitions (the multilingual-corpus
    // reality: near-dups can only be same-lang, so lang rides the
    // candidate key and per-lang document frequencies drive the global
    // token order).
    //
    // This RETIRES the earlier (lang, size/8-bucket) blocking shape: its
    // candidate population grew linearly with the corpus — every block
    // held corpus/|blocks| docs, so block self-joins were quadratic in
    // corpus size, a 100 TB dead end flagged two rounds running. The
    // prefix filter's candidates are bounded by true-similarity structure
    // instead (see dd_jaccard_prefix below for the theorem), and the
    // bucket's false negatives (true pairs straddling a /8 boundary, e.g.
    // sizes 15/16) are gone — output is now exactly "all same-lang pairs
    // with J ≥ 0.9".
    // Round 8: identical token SETS now collapse to one representative
    // BEFORE candidate generation (collapseSets/jaccardPrefixPairs) —
    // the degenerate-vocabulary mitigation SCALE.md promised. On a
    // boilerplate corpus where no prefix token discriminates, candidate
    // work is bounded by distinct-set structure, and member-level work
    // (within-group J≡1.0 cliques + group-pair expansion) is exactly
    // output-proportional. SkewSessionSpec pins the candidate bound.
    "dd_ngram_jaccard" -> ((s, d) => {
      jaccardPrefixPairs(
        prepared(s, d).select(col("doc_id"), col("lang"), col("ws")),
        0.9, byLang = true)
    }),

    // Exact set-similarity self-join via PREFIX FILTERING (PPJoin-style):
    // the corpus-ROBUST alternative to dd_ngram_jaccard's (lang, size)
    // blocking, whose block population grows linearly with the corpus.
    // Theorem: if Jaccard(A,B) ≥ t then, under ANY global token order,
    // the first (|A| − ⌈t·|A|⌉ + 1) tokens of A and of B intersect — so
    // exploding only that prefix as candidate keys loses NO true pair,
    // and the exact verify keeps output identical to all-pairs. Tokens
    // are ordered rarest-first (document frequency, then lexicographic),
    // which both minimizes candidates and keeps the candidate join's key
    // population cold: prefix keys are by construction the RAREST tokens,
    // the opposite of a hot-key distribution. Length filter
    // t·|A| ≤ |B| ≤ |A|/t prunes at the join.
    // Candidate rows stay SLIM (rep ids + one prefix token); verify
    // re-attaches the sorted token sets by keyed join and runs the
    // native merge-walk intersect ONCE PER DISTINCT-SET PAIR (identical
    // sets collapsed first — see dd_ngram_jaccard's round-8 note; an
    // inline-verify variant carrying token arrays through the self-join
    // measured 4× slower at sf0.1).
    "dd_jaccard_prefix" -> ((s, d) => {
      jaccardPrefixPairs(prepared(s, d).select(col("doc_id"), col("ws")),
        0.9, byLang = false)
    }),

    // MinHash + LSH banding (portable md5 permutations, 16 perms = 4
    // bands × 4 rows): shingle-explode → codegen'd per-row hash → one
    // groupBy(doc_id) carrying 16 min-aggregates → band explode →
    // band-key equi-join → signature-agreement estimate ≥ 0.5.
    // The reference's J8/ST7 pipeline with the TypeDB `contains` probe
    // replaced by a hash join on band keys.
    //
    // Deliberately explode-based, NOT nested higher-order functions:
    // HOF lambdas are interpreted (no codegen) and CollapseProject
    // inlines staged projections into them, re-evaluating the whole
    // shingle subtree per (perm × shingle). The explode shape keeps
    // every expression row-level (whole-stage codegen) and the only
    // shuffle is the keyed partial-min aggregation — the plan that
    // survives a 100 TB corpus.
    "dd_minhash_lsh" -> ((s, d) => {
      // r21 (measured): the signature table is persisted — the salted
      // band self-join's two sides are DIFFERENT plans (side A carries
      // the pmod slice, side B the explode), so no exchange reuse
      // applies and the shingle-explode + 16-min-agg signature pipeline
      // executed twice per run. Same posture bandPairJoin (the native
      // variants) has had since r14; the cc family's edge builds
      // (dd_cluster_cc{,_delta,_stream}) inherit the saving.
      val sig = MinHashPipeline.signatures(
        Tables.documents(s, d), "doc_id", col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val banded = sig.select(col("doc_id"), col("sig"),
        explode(Hashes.bands(col("sig"), 4, 4)).as("band"))
        .select(col("doc_id"), col("sig"),
          col("band.band_id"), col("band.band_key"))
      // Salted against band-key skew; row-identical output (see Skew).
      val (bandA, bandB, keys) =
        Skew.saltedSelfJoinSides(banded, Seq("band_id", "band_key"), "doc_id", 8)
      val a = bandA.select(col("doc_id").as("a_id"), col("sig").as("a_sig"),
        col("band_id"), col("band_key"), col("salt"))
      val b = bandB.select(col("doc_id").as("b_id"), col("sig").as("b_sig"),
        col("band_id"), col("band_key"), col("salt"))
      a.join(b, keys)
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          Hashes.minhashJaccard(col("a_sig"), col("b_sig")).as("est_jac"))
        .distinct()
        .filter(col("est_jac") >= 0.5)
    }),

    // ST7 streaming band tier, drained to a BATCH frame — the
    // batch/stream parity check for the LSH near-dup path (reference
    // contract: `check_duplicate.py:82-151` applied serially at ingest).
    // The full corpus streams through StreamDedup.dedupByBands in
    // ascending-id micro-batches: per band key, RocksDB state keeps the
    // first owner (min id within a batch — the batch gate's
    // earlier-id-wins rule), every later doc sharing the band emits
    // collision:<owner>. With ascending chunks the owner is provably
    // the GLOBAL min doc id over the band, so the drained per-doc
    // rollup (bands, collisions, first colliding owner) is a pure
    // function of the corpus — the oracle states it relationally over
    // the same signature CTEs as dd_minhash_lsh. The driver-side
    // collect below is the STREAM-SOURCE SIMULATION (MemoryStream is
    // driver-fed by design; production reads SQS/Kinesis) — bounded by
    // the simulated ingest size, never a pipeline operator.
    "dg_stream_band_tier" -> ((s, d) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val keyed = MinHashPipeline
        .signatures(Tables.documents(s, d), "doc_id", col("text"))
        .select(col("doc_id"),
          transform(Hashes.bands(col("sig"), 4, 4),
            b => concat_ws("_", b.getField("band_id"), b.getField("band_key")))
            .as("bkeys"))
        .as[(Long, Seq[String])]
      val feed = keyed.collect().sortBy(_._1)
      val prevProvider =
        s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      // r21 (measured): the stream's STATE PARTITION count is a
      // capacity decision, not a host-core mirror — each partition is
      // one RocksDB instance whose per-batch checkpoint copy + cleanup
      // is pure file churn (jstack: FileOutputStream.open0 /
      // UnixFileSystem.delete0 dominated this query's runnable samples
      // at 32 stores for KB-scale state; 8 stores measured -25% wall,
      // sentinel-normalized). The drained rollup is partition-count-
      // invariant (keyed state — same band lands in the same store at
      // any count), which the unchanged oracle checks. Scoped
      // set/restore like the provider.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      // r22 (ADVICE): BOTH overrides execute inside the try whose
      // finally restores them, so a throwing conf.set cannot leak the
      // RocksDB provider into the session for every later query
      try {
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        s.conf.set("spark.sql.shuffle.partitions", "8")
        val input = MemoryStream[(Long, Seq[String])]
        val seqNo = streamSeq.incrementAndGet()
        val sink = s"graft_stream_band_$seqNo"
        // the previous invocation's memory sink is dead weight the
        // moment a new one starts (bench times this query more than
        // once per session) — drop THIS session's previous sink so
        // drained rows don't accumulate in driver memory across the
        // sweep (per-session tracking: see lastStreamSink)
        Option(lastStreamSink.put(s, sink))
          .foreach(prev => s.catalog.dropTempView(prev))
        val q = StreamDedup.dedupByBands(input.toDS())
          .toDF("doc_id", "band_key", "outcome")
          .writeStream.outputMode("update").format("memory")
          .queryName(sink).start()
        // 3 ascending micro-batches: cross-batch state probes are the
        // property under test (one batch would only test within-batch).
        // stop() runs on the error path too — a failed micro-batch must
        // not leave a zombie StreamingQuery running beside every later
        // query in the session
        try {
          feed.grouped(math.max(1, feed.length / 3 + 1)).foreach { c =>
            input.addData(c.toIndexedSeq: _*)
            q.processAllAvailable()
          }
        } finally q.stop()
        s.table(sink).groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bands"),
            sum(when(col("outcome") =!= "new", 1L).otherwise(0L))
              .as("n_collisions"),
            min(when(col("outcome") =!= "new",
              substring_index(col("outcome"), ":", -1).cast("long")))
              .as("first_owner"))
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        prevProvider match {
          case Some(p) =>
            s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None =>
            s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }),

    // SimHash near-dup clusters: identical 16-bit portable fingerprint ⇒
    // candidate cluster (hamming-0 specialization). Same explode + 16
    // codegen'd sum-aggregates shape as dd_minhash_lsh (one keyed
    // shuffle; no interpreted HOF lambdas in the hot path).
    "dd_simhash" -> ((s, d) => {
      val bitSums = (0 until 16).map { b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"b$b")
      }
      val fingerprint = (0 until 16).map { b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      prepared(s, d)
        .select(col("doc_id"), explode(col("ws")).as("w"))
        .select(col("doc_id"), Texts.md5Long(col("w")).as("h"))
        .groupBy("doc_id")
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), fingerprint.as("simhash"))
        .groupBy("simhash")
        .agg(min("doc_id").as("canonical_id"), count("*").as("n_docs"),
          // numeric sort BEFORE the string render (lexicographic "10"<"9"
          // would diverge from the oracle's numeric list_sort)
          array_join(transform(array_sort(collect_set(col("doc_id"))),
            _.cast("string")), ",").as("members"))
        .filter(col("n_docs") > 1)
    }),

    // Native-expression MinHash (murmur3 seed-1, 256 perms, k=5 — the
    // reference's full setting, check_duplicate/utils.py:22-30) + stride-6
    // banding exactly as check_duplicate.py:90-93. Engine-native fast
    // path: one codegen'd pass per row; no DuckDB oracle (murmur3 isn't
    // portable) → rows-only check. Compare wall-clock against
    // dd_minhash_lsh (16-perm portable md5) in BENCH.
    "dd_minhash_native" -> ((s, d) => {
      import graft.plans.Native
      val sig = Tables.documents(s, d)
        .select(col("doc_id"),
          Native.minhash_sig(
            Texts.smartShorten(Texts.cleanText(col("text")), 24), 256, 5)
            .as("sig"))
      bandPairJoin(sig, numBands = 43, rowsPerBand = 6, threshold = 0.5)
    }),

    // Reference-parity MinHash dedup: bit-exact datasketch seed-1
    // signatures (sha1_hash32 + RandomState(1) permutation table —
    // utils.py:22-40) with the reference's stride-6 band probe
    // (check_duplicate.py:90-93) and its 0.95 gate threshold on the
    // signature-agreement estimate. A user of the reference gets the
    // SAME signatures from this engine. Rows-only check (sha1 + the
    // numpy draw aren't DuckDB-expressible); bit-exactness is pinned in
    // DatasketchSpec against an independent implementation.
    "dd_minhash_datasketch" -> ((s, d) => {
      import graft.functions.DatasketchMinHash.datasketch_minhash
      val sig = Tables.documents(s, d)
        .select(col("doc_id"),
          datasketch_minhash(
            Texts.smartShorten(Texts.cleanText(col("text")), 24)).as("sig"))
      bandPairJoin(sig, numBands = 43, rowsPerBand = 6, threshold = 0.95)
    }),

    // Connected-components clustering over the near-dup pair graph — the
    // step AFTER pair generation in a real dedup pipeline: pairs →
    // clusters → one canonical doc per cluster (min id). Iterative
    // min-label propagation to a fixed point (the GraphX-free form of
    // large-star/small-star): each round, every vertex takes the min
    // label among itself and its neighbors; rounds are keyed joins +
    // aggregations only, lineage is truncated per round
    // (localCheckpoint), and convergence is detected by a scalar count —
    // the only driver-side value. LSH dup clusters are near-cliques, so
    // the fixed point lands in 2-3 rounds regardless of corpus size.
    "dd_cluster_cc" -> ((s0, d) => {
      val s = ccSession(s0)
      // Eagerly materialize the edge list ONCE: ccAssignments references
      // its input on both sides of a union, and only the signature table
      // is persisted inside the LSH pipeline — without this checkpoint
      // the band join + verify stages would execute twice (once per
      // union side) in the first job that touches the symmetric list.
      // Checkpointing also truncates the deep LSH lineage out of every
      // loop-round plan.
      val edges = truncatedDf(queries("dd_minhash_lsh")(s, d)
        .filter(col("est_jac") >= 0.75) // high-confidence cluster edges
        .select(col("a_id"), col("b_id")), eager = true)
      ccAssignments(edges)
    }),

    // Connected components in the STREAMING store-loop posture — the
    // dd_cluster_cc fixture routed through CcStoreLoop's foreachBatch
    // handler (init base assignment → two edge batches → LSM overlay
    // read-back). The handler is exactly what StreamPipeline.run wires
    // under a checkpoint (StreamingSpec proves redelivery is
    // bit-stable); here its on-disk artifacts ARE the query result, so
    // the oracle pins the production loop to the same recursive SQL as
    // the one-shot and batch-delta postures — three physical
    // organizations of the component assignment, one truth. Per-batch
    // artifacts are changed-row sets (never the corpus-sized
    // assignment); the read overlays base + batch-sized generations.
    "dd_cluster_cc_stream" -> ((s0, d) => {
      val s = ccSession(s0)
      val edges = truncatedDf(queries("dd_minhash_lsh")(s, d)
        .filter(col("est_jac") >= 0.75)
        .select(col("a_id"), col("b_id")), eager = true)
      val isBase = (c: org.apache.spark.sql.Column) => c % 7 =!= 0
      val baseEdges = edges.filter(isBase(col("a_id")) && isBase(col("b_id")))
      val rest = edges.filter(!(isBase(col("a_id")) && isBase(col("b_id"))))
      // pid-keyed dir: the init-once guard set is JVM-local, so two
      // JVMs sharing tmpdir would otherwise wipe each other's store
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-ccstream-${java.lang.ProcessHandle.current.pid}-" +
          d.replace('/', '_')).getAbsolutePath
      // deterministic re-runs (bench min-of-N, repeated sweeps): the
      // base assignment — the corpus-sized build — lands once per JVM
      // session; re-invocations rewind the store to that base (dropping
      // generation layers and any compacted assign_* a prior caller
      // produced) so every run folds the same two batches against the
      // same T0 base.
      // the WHOLE init-or-rewind→fold→read sequence holds the lock, and the
      // returned frame is materialized before release — a concurrent
      // same-d invocation in this JVM can then never wipe files a
      // not-yet-acted-on lazy frame still depends on
      ccStreamInit.synchronized {
        ccStreamInit.filter(_._1.isStopped)
          .toSeq.foreach(ccStreamInit.remove)
        if (ccStreamInit.contains((s0.sparkContext, d)))
          graft.streaming.CcStoreLoop.storeFs.rewind(s0, dir)
        else {
          graft.streaming.CcStoreLoop.init(s0, baseEdges, dir)
          ccStreamInit += ((s0.sparkContext, d))
        }
        // two micro-batches, deterministically split by edge parity
        val par = pmod(col("a_id") + col("b_id"), lit(2L))
        graft.streaming.CcStoreLoop.handleBatch(dir)(
          rest.filter(par === 0L), 0L)
        graft.streaming.CcStoreLoop.handleBatch(dir)(
          rest.filter(par === 1L), 1L)
        graft.streaming.CcStoreLoop.state(s0, dir).localCheckpoint(true)
      }
    }),

    // Connected components in the BASE+DELTA posture — the graph-family
    // echo of dg_gate_delta: the component assignment was computed
    // BEFORE the %7 tranche of the corpus arrived, and the batch update
    // touches only the CONTRACTION graph (base components incident to a
    // delta edge, plus the delta vertices) — the corpus-sized CC never
    // re-runs. Mechanics: delta-edge endpoints map onto their stored
    // component's canonical id (left join against the base assignment —
    // a base vertex whose only near-dup is a delta doc maps to itself),
    // the mapped pairs form a delta-edge-sized contraction graph, the
    // SAME fixed-point machinery resolves it, and the final label
    // composes base → contraction-final with untouched components
    // passing through the left join unchanged. Canonical ids stay the
    // global min because a base component's canonical IS its min vertex:
    // min over {base canonicals, delta ids} = min over the merged
    // vertex set. The oracle is dd_cluster_cc's SQL VERBATIM — how the
    // assignment is physically maintained (one-shot or base+delta) must
    // not change a single row. At 100 TB the per-batch cost is
    // O(delta edges + touched components); the only corpus-scale event
    // is the base build, amortized across batches exactly like the
    // signature store's compaction.
    "dd_cluster_cc_delta" -> ((s0, d) => {
      val s = ccSession(s0)
      val edges = truncatedDf(queries("dd_minhash_lsh")(s, d)
        .filter(col("est_jac") >= 0.75)
        .select(col("a_id"), col("b_id")), eager = true)
      ccDeltaCompose(s, edges, c => c % 7 =!= 0)
    }),

    // Native 64-bit SimHash clusters (rows-only; murmur3 not portable).
    "dd_simhash_native" -> ((s, d) => {
      import graft.plans.Native
      prepared(s, d)
        .select(col("doc_id"), Native.simhash64(col("ws")).as("simhash"))
        .groupBy("simhash")
        .agg(min("doc_id").as("canonical_id"), count("*").as("n_docs"))
        .filter(col("n_docs") > 1)
    }),

    // Embedding-cosine near-dup: sign-bit LSH blocking (8 hyperplane
    // bits, 256 cells) + pairwise cosine ≥ 0.3 within a block. The block
    // key is derived from the VECTOR, not a data column, so expected
    // block size is corpus/256 however the corpus grows — the pair join
    // stays a keyed equi-join whose per-key fan-out is tuned by adding
    // bits, unlike label-blocking where block size grows with the corpus.
    // Near-duplicates agree on leading sign bits (cos≥0.3 here), so the
    // blocking is also recall-aligned — same quantizer as
    // sim_ann_bucketed.
    // Fuzzy (edit-distance) title near-dup: pairs whose 5-word title
    // prefix sits within Levenshtein 10 but is not identical (identical
    // titles are exact-dup territory — dd_exact/t2). Blocked on
    // (lang, first-TWO-tokens, length-bucket): the quadratic Levenshtein
    // only ever runs inside a block, i.e. a keyed equi-join — the
    // standard fuzzy-match shape at scale. First-token-only blocking is
    // Zipfian ("The …" swallows the corpus); adding the second token
    // breaks the hot head into its bigram distribution, and the
    // 16-char length bucket splits what survives. r17: the bucket is
    // emitted at TWO offsets (k and k+1), which makes the length
    // dimension LOSSLESS for the dist<=10 contract — the former
    // one-boundary recall loss (documented since r7) measured 11 of
    // 365 true pairs at sf0.1. SkewSessionSpec pins the hot-block
    // share on a Zipfian fixture. Levenshtein has identical semantics
    // in both engines, so the distance itself is oracle-checked.
    "dd_fuzzy_title" -> ((s, d) => {
      // r17: two-offset blocking (fuzzyTitleBlocks) — posexplode's
      // position is the offset flag; the o-sum predicate keeps exactly
      // one meeting key per pair (see the helper's Scaladoc), so the
      // join output is pair-distinct without a distinct exchange.
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          Texts.smartShorten(col("text"), 5).as("title"))
        .select(col("doc_id"), col("lang"), col("title"),
          posexplode(fuzzyTitleBlocks(col("title"))).as(Seq("o", "blk")))
      val a = base.select(col("lang"), col("blk"), col("o").as("a_o"),
        col("doc_id").as("a_id"), col("title").as("a_t"))
      val b = base.select(col("lang"), col("blk"), col("o").as("b_o"),
        col("doc_id").as("b_id"), col("title").as("b_t"))
      a.join(b, Seq("lang", "blk"))
        .filter(col("a_id") < col("b_id") && col("a_o") + col("b_o") < 2)
        // thresholded form: the DP early-exits once distance exceeds 10
        // (returns -1, which the between-filter drops) — per-pair cost
        // O(threshold·len) instead of O(len²), the within-block
        // mitigation that matters exactly on the hot blocks the blocking
        // guard watches. Kept rows carry the identical distance.
        .withColumn("dist", levenshtein(col("a_t"), col("b_t"), 10))
        .filter(col("dist").between(1, 10))
        .select("a_id", "b_id", "dist")
    }),

    "dd_embed_cosine" -> ((s, d) => {
      // bucket width self-sized from the corpus count (r19) — same
      // derivation (and memo) as the sim family's consumers
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("bucket", graft.functions.Vectors.signBucket(col("v"),
          SimilarityQueries.effBits(s, d)))
      val a = e.select(col("vec_id").as("a_id"), col("bucket"), col("v").as("a_v"))
      val b = e.select(col("vec_id").as("b_id"), col("bucket"), col("v").as("b_v"))
      a.join(b, Seq("bucket"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("sim", graft.functions.Vectors.cosineRounded(col("a_v"), col("b_v")))
        .filter(col("sim") >= 0.3)
        .select("bucket", "a_id", "b_id", "sim")
    }),

    // Incremental signature-store maintenance — the warehouse half of the
    // dedup gate's "only mutated rows are re-signed" posture (SCALE.md;
    // the dg_dedup_gate comment) as a materialized catalog entry. A prior
    // snapshot's signature STORE (doc_id, content fingerprint, signature)
    // meets the current corpus; the refresh emits
    //   - kept:     fingerprint unchanged → the STORED signature passes
    //               through as a projection — the expensive shingle/hash/
    //               min pipeline never touches these rows
    //   - resigned: content changed since the snapshot → fresh signature
    //   - new:      absent from the store → fresh signature
    //   - deleted:  store rows with no current doc drop out (left join)
    // The store's signatures are SYNTHETIC sentinels (doc_id*1000+i), so
    // the oracle compare itself proves the pass-through: a refresh that
    // recomputed kept rows would emit real MinHash values and hash-
    // mismatch. Scale shape: one keyed left join store⋈corpus, then the
    // signature subtree (the only Generate in the plan — PlanSpec pins
    // it) runs over the mutated subset only, which is ingest-delta-sized,
    // not corpus-sized. Snapshot mutation simulated as in g_scd2_merge:
    // every 3rd doc's content changed since the snapshot, every 13th doc
    // is new, ghost store rows stand in for deletions. Ghost ids are
    // NEGATIVE (-doc_id - 1): testdata doc ids are non-negative (the
    // same invariant dd_cluster_cc's checksum early-exit leans on), so a
    // ghost can never collide with a real doc at ANY scale factor — no
    // unchecked additive-offset assumption.
    "sig_store_refresh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), md5(col("text")).as("fp"))
      val base = Tables.documents(s, d)
      val sentinel = transform(sequence(lit(1), lit(16)),
        i => col("doc_id") * 1000L + i)
      val store = base.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            md5(concat(col("text"), lit(" (draft)"))))
            .otherwise(md5(col("text"))).as("fp"),
          sentinel.as("sig"))
        .unionByName(base.filter(col("doc_id") % 11 === 0)
          .select((-col("doc_id") - 1L).as("doc_id"),
            lit("ghost").as("fp"), sentinel.as("sig")))
      val joined = docs.alias("d")
        .join(store.alias("st"), Seq("doc_id"), "left")
      val kept = joined
        .filter(col("st.fp") === col("d.fp"))
        .select(col("doc_id"), lit("kept").as("op"),
          array_join(transform(col("st.sig"), x => x.cast("string")), ",")
            .as("signature"))
      val mutated = joined
        .filter(col("st.fp").isNull || col("st.fp") =!= col("d.fp"))
        .select(col("doc_id"), col("text"),
          when(col("st.fp").isNull, "new").otherwise("resigned").as("op"))
      val resigned = mutated.select("doc_id", "op")
        .join(MinHashPipeline.signatures(mutated, "doc_id", col("text")),
          "doc_id")
        .select(col("doc_id"), col("op"),
          array_join(transform(col("sig"), x => x.cast("string")), ",")
            .as("signature"))
      kept.unionByName(resigned)
    })
  )

  private val wsSql =
    "list_sort(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))"

  /** CTE chain producing the portable 16-perm LSH candidate `pairs`
    * (shared by the dd_minhash_lsh oracle and the clustering oracle). */
  private val lshPairsCtes =
    s"""sig AS (
       |${MinHashPipeline.signaturesSql("documents", "doc_id", "text")}),
       |banded AS (
       |  SELECT doc_id, sig, b AS band_id,
       |    array_to_string(sig[b*4+1 : b*4+4], '_') AS band_key
       |  FROM sig, unnest(generate_series(0, 3)) AS u(b)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, c.doc_id AS b_id,
       |    round(len(list_filter(generate_series(1, 16),
       |      i -> a.sig[i] = c.sig[i]))::DOUBLE / 16, 6) AS est_jac
       |  FROM banded a JOIN banded c
       |    ON a.band_id = c.band_id AND a.band_key = c.band_key
       |   AND a.doc_id < c.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dd_line_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, string_split(text, '. ') AS parts FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(i AS INT) AS idx,
        |    parts[CAST(i AS INT)] AS sent, md5(parts[CAST(i AS INT)]) AS sh
        |  FROM p, unnest(generate_series(1, len(parts))) AS g(i)
        |  WHERE parts[CAST(i AS INT)] <> ''),
        |r AS (SELECT *, row_number() OVER (PARTITION BY sh
        |        ORDER BY doc_id, idx) AS rn FROM s)
        |SELECT doc_id, count(*)::BIGINT AS n_kept,
        |  string_agg(sent, '. ' ORDER BY idx) AS text_clean
        |FROM r WHERE rn = 1 GROUP BY doc_id""".stripMargin,
    "dd_url_dedup" ->
      s"""WITH ${TextQueries.urlCanonSql},
         |r AS (
         |  SELECT url, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY url
         |      ORDER BY n_chars DESC, doc_id ASC) AS rk,
         |    count(*) OVER (PARTITION BY url) AS n_docs
         |  FROM canon)
         |SELECT url, doc_id AS kept_doc, n_docs
         |FROM r WHERE rk = 1""".stripMargin,
    "dd_exact" ->
      s"""SELECT md5(array_to_string($wsSql, ' ')) AS fingerprint,
         |  min(doc_id) AS canonical_id, count(*) AS n_dups
         |FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "dd_decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |       FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        generate_series(1, greatest(len(tk) - 7, 1)),
        |        i -> array_to_string(tk[i:i+7], ' ')))) AS gram
        |      FROM t),
        |b AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20)
        |SELECT g.doc_id, count(*) AS n_shared
        |FROM g JOIN b USING (gram)
        |WHERE g.doc_id >= 20
        |GROUP BY 1""".stripMargin,
    "dd_containment_decontaminate" ->
      """WITH ev AS (SELECT doc_id AS eid,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS etk
        |       FROM documents WHERE doc_id < 20),
        |train AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id >= 20 AND doc_id % 100 <> 37
        |  UNION ALL
        |  SELECT t.doc_id,
        |    t.text || ' ' || array_to_string(e.etk[1:40], ' ')
        |  FROM documents t JOIN ev e ON t.doc_id % 20 = e.eid
        |  WHERE t.doc_id >= 20 AND t.doc_id % 100 = 37),
        |tt AS (SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |       FROM train),
        |tg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         generate_series(1, greatest(len(tk) - 7, 1)),
        |         i -> array_to_string(tk[i:i+7], ' ')))) AS gram
        |       FROM tt),
        |eg AS (SELECT eid AS eval_id, unnest(list_distinct(list_transform(
        |         generate_series(1, greatest(len(etk) - 7, 1)),
        |         i -> array_to_string(etk[i:i+7], ' ')))) AS gram
        |       FROM ev),
        |esz AS (SELECT eval_id, count(*) AS n_eval FROM eg GROUP BY 1),
        |hits AS (SELECT tg.doc_id, eg.eval_id, count(*) AS shared
        |         FROM tg JOIN eg USING (gram) GROUP BY 1, 2)
        |SELECT h.doc_id, h.eval_id,
        |  round(h.shared::DOUBLE / s.n_eval, 6) AS containment
        |FROM hits h JOIN esz s USING (eval_id)
        |WHERE round(h.shared::DOUBLE / s.n_eval, 6) >= 0.2""".stripMargin,
    // The oracle computes the FLAT whole-document signature — chunked
    // UDAF-merged signatures must equal it exactly (min is associative).
    "agg_sig_min_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |tok AS (SELECT doc_id, len(tk) AS n_tok, unnest(tk) AS tok FROM t),
        |h AS (
        |  SELECT doc_id, n_tok,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 2147483647 AS h
        |  FROM tok),
        |s AS (
        |  SELECT doc_id, max(n_tok) AS n_tok, p,
        |    min(((2654435761 * (p+1) % 2147483647) * h
        |         + (40503 * (p+7) % 2147483647)) % 2147483647) AS m
        |  FROM h, unnest(generate_series(0, 15)) AS g(p)
        |  GROUP BY doc_id, p)
        |SELECT doc_id, ((max(n_tok) + 9) // 10)::BIGINT AS n_chunks,
        |  array_to_string(list(m::VARCHAR ORDER BY p), ',') AS signature
        |FROM s GROUP BY doc_id""".stripMargin,
    // Bloom prefilter + exact verify ≡ exact decontamination, so the
    // oracle is identical to dd_decontaminate's.
    "dd_bloom_decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |       FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        generate_series(1, greatest(len(tk) - 7, 1)),
        |        i -> array_to_string(tk[i:i+7], ' ')))) AS gram
        |      FROM t),
        |b AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20)
        |SELECT g.doc_id, count(*) AS n_shared
        |FROM g JOIN b USING (gram)
        |WHERE g.doc_id >= 20
        |GROUP BY 1""".stripMargin,
    // Independent oracle algorithm: brute-force ALL same-lang pairs (no
    // prefix filter) — if the engine's candidate pruning ever lost a true
    // pair, the row counts would diverge here.
    "dd_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, lang, $wsSql AS ws FROM documents)
         |SELECT a.doc_id AS a_id, c.doc_id AS b_id,
         |  round(len(list_intersect(a.ws, c.ws))::DOUBLE /
         |    (len(a.ws) + len(c.ws) - len(list_intersect(a.ws, c.ws))), 6) AS jac
         |FROM t a JOIN t c ON a.lang = c.lang AND a.doc_id < c.doc_id
         |WHERE round(len(list_intersect(a.ws, c.ws))::DOUBLE /
         |    (len(a.ws) + len(c.ws) - len(list_intersect(a.ws, c.ws))), 6) >= 0.9""".stripMargin,
    // The prunes bound with the EFFECTIVE threshold (2·p−1)/(2·10^6) =
    // 1799999/2000000 in exact integer arithmetic, not the raw 0.9
    // (r20 review): the final filter keeps round(jac,6) >= 0.9, i.e.
    // exact jac >= 0.8999995, and a prefix/length prune at 0.9 could
    // drop a boundary pair the round keeps — the same rational-bound
    // discipline the ENGINE adopted in r16 (candidatesOverOrdered),
    // restated on the oracle side. ceil(num·n/den) = (num·n+den−1)//den.
    "dd_jaccard_prefix" ->
      s"""WITH t AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |toks AS (SELECT doc_id, unnest(ws) AS tok FROM t),
         |dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
         |ordered AS (
         |  SELECT doc_id, list(tok ORDER BY df, tok) AS ows
         |  FROM toks JOIN dfreq USING (tok) GROUP BY doc_id),
         |pre AS (
         |  SELECT doc_id, len(ows) AS n,
         |    unnest(ows[1 : (len(ows)
         |      - ((1799999*len(ows) + 1999999) // 2000000) + 1)::INT])
         |      AS tok
         |  FROM ordered),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |   AND b.n * 1799999 <= a.n * 2000000
         |   AND a.n * 1799999 <= b.n * 2000000),
         |j AS (
         |  SELECT a_id, b_id,
         |    round(len(list_intersect(ta.ws, tb.ws))::DOUBLE /
         |      (len(ta.ws) + len(tb.ws) - len(list_intersect(ta.ws, tb.ws))), 6)
         |      AS jac
         |  FROM cand JOIN t ta ON cand.a_id = ta.doc_id
         |            JOIN t tb ON cand.b_id = tb.doc_id)
         |SELECT a_id, b_id, jac FROM j WHERE jac >= 0.9""".stripMargin,
    "dd_minhash_lsh" ->
      s"""WITH $lshPairsCtes
         |SELECT a_id, b_id, est_jac FROM pairs WHERE est_jac >= 0.5""".stripMargin,
    // Relational statement of the drained streaming band tier: with
    // ascending-id micro-batches and the min-id within-batch claim, the
    // band owner IS the global min doc id over the band — so the per-doc
    // rollup is order-free SQL over the same signature CTEs.
    "dg_stream_band_tier" ->
      s"""WITH $lshPairsCtes,
         |owners AS (SELECT band_id, band_key, min(doc_id) AS owner
         |           FROM banded GROUP BY band_id, band_key)
         |SELECT b.doc_id, count(*) AS n_bands,
         |  sum(CASE WHEN o.owner <> b.doc_id THEN 1 ELSE 0 END)::BIGINT
         |    AS n_collisions,
         |  min(CASE WHEN o.owner <> b.doc_id THEN o.owner END) AS first_owner
         |FROM banded b JOIN owners o
         |  ON b.band_id = o.band_id AND b.band_key = o.band_key
         |GROUP BY b.doc_id""".stripMargin,
    "dd_cluster_cc" ->
      s"""WITH RECURSIVE $lshPairsCtes,
         |edges AS (SELECT a_id, b_id FROM pairs WHERE est_jac >= 0.75),
         |sym AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.dst, reach.r FROM reach JOIN sym s ON reach.id = s.src)
         |SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id""".stripMargin,
    // Physical-posture invariance: the base+delta maintained assignment
    // must equal the one-shot recompute row-for-row — same SQL verbatim.
    "dd_cluster_cc_stream" ->
      s"""WITH RECURSIVE $lshPairsCtes,
         |edges AS (SELECT a_id, b_id FROM pairs WHERE est_jac >= 0.75),
         |sym AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.dst, reach.r FROM reach JOIN sym s ON reach.id = s.src)
         |SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id""".stripMargin,
    "dd_cluster_cc_delta" ->
      s"""WITH RECURSIVE $lshPairsCtes,
         |edges AS (SELECT a_id, b_id FROM pairs WHERE est_jac >= 0.75),
         |sym AS (SELECT a_id AS src, b_id AS dst FROM edges
         |        UNION ALL SELECT b_id, a_id FROM edges),
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.dst, reach.r FROM reach JOIN sym s ON reach.id = s.src)
         |SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id""".stripMargin,
    "dd_simhash" ->
      s"""WITH t AS (SELECT doc_id, $wsSql AS ws FROM documents),
         |h AS (SELECT doc_id,
         |  list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS hs
         |  FROM t),
         |f AS (SELECT doc_id,
         |  list_sum(list_transform(generate_series(0, 15), b ->
         |    CASE WHEN list_sum(list_transform(hs,
         |           h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |         THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS simhash
         |  FROM h)
         |SELECT simhash, min(doc_id) AS canonical_id, count(*) AS n_docs,
         |  array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS members
         |FROM f GROUP BY simhash HAVING count(*) > 1""".stripMargin,
    // r17: the oracle states the two-offset blocking DECLARATIVELY —
    // same first-2-words and length buckets within 1 (the engine's two
    // emitted keys cover exactly |Δk| <= 1; lossless for dist <= 10
    // since |Δlen| <= 10 < 16)
    "dd_fuzzy_title" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    array_to_string((string_split(text, ' '))[1:5], ' ') AS title
        |  FROM documents),
        |b AS (SELECT *,
        |  array_to_string(string_split(title, ' ')[1:2], ' ') AS h,
        |  (length(title) // 16) AS k FROM t)
        |SELECT a.doc_id AS a_id, c.doc_id AS b_id,
        |  levenshtein(a.title, c.title) AS dist
        |FROM b a JOIN b c
        |  ON a.lang = c.lang AND a.h = c.h AND abs(a.k - c.k) <= 1
        |    AND a.doc_id < c.doc_id
        |WHERE levenshtein(a.title, c.title) BETWEEN 1 AND 10""".stripMargin,
    "dd_embed_cosine" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_sum(list_transform(generate_series(0, ${Vectors.SignBucketBits - 1}), i ->
        |      CASE WHEN embedding[i+1] > 0 THEN (1::BIGINT << i)
        |           ELSE 0 END))::BIGINT AS bucket
        |  FROM embeddings)
        |SELECT a.bucket, a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS sim
        |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3""".stripMargin,
    // ghost (deleted) store rows are omitted: they cannot join a current
    // doc, so the output is identical with or without them
    "sig_store_refresh" ->
      s"""WITH d AS (SELECT doc_id, text, md5(text) AS fp FROM documents),
         |st AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN md5(text || ' (draft)')
         |         ELSE md5(text) END AS fp
         |  FROM documents WHERE doc_id % 13 <> 0),
         |kept AS (
         |  SELECT d.doc_id, 'kept' AS op,
         |    array_to_string(list_transform(generate_series(1, 16),
         |      i -> (d.doc_id * 1000 + i)::VARCHAR), ',') AS signature
         |  FROM d JOIN st USING (doc_id) WHERE st.fp = d.fp),
         |mut AS (
         |  SELECT d.doc_id, d.text,
         |    CASE WHEN st.doc_id IS NULL THEN 'new' ELSE 'resigned' END AS op
         |  FROM d LEFT JOIN st USING (doc_id)
         |  WHERE st.fp IS NULL OR st.fp <> d.fp),
         |s AS (
         |${MinHashPipeline.signaturesSql("mut", "doc_id", "text")}),
         |resigned AS (
         |  SELECT m.doc_id, m.op,
         |    array_to_string(list_transform(s.sig, x -> x::VARCHAR), ',')
         |      AS signature
         |  FROM mut m JOIN s USING (doc_id))
         |SELECT * FROM kept UNION ALL SELECT * FROM resigned""".stripMargin
  )
}
