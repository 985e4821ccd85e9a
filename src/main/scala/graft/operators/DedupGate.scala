package graft.operators

import graft.Scope
import graft.functions.Hashes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingest-time duplicate gate — SURVEY.md §2.10 ST7 (reference
  * `lambdas/check_duplicate/check_duplicate.py:183-289`): each incoming
  * document is classified three ways against the stored corpus:
  *
  *  - `duplicate` — a non-archived stored doc is effectively identical
  *    (reference: LSH shortlist + cosine ≥ 0.95 + metadata equality)
  *  - `version`   — same logical document, changed content (cosine ≥ 0.95,
  *    metadata differs) → carries the stored node id forward
  *  - `new`       — no candidate above threshold
  *
  * Implementation is the J8 decomposition: band-key equi-join for the
  * candidate shortlist (never a cross join), then the exact similarity
  * check only on candidates, then a 3-way outcome column. Within-batch
  * self-duplicates are resolved first (earlier id wins), mirroring the
  * reference's serial processing order — SURVEY §7.4 hard-part 5.
  */
object DedupGate {

  val DuplicateThreshold = 0.95 // check_duplicate.py:19

  /** Banded rows of a (id, sig) frame in the STRUCT rendering —
    * band_id and band_key as separate columns, the in-memory probe
    * shape `classify` joins on. One of exactly two band renderings in
    * the gate (the other is [[bandedBkey]]); every variant shares these
    * instead of redeclaring a local (r13 verdict hygiene item). */
  private def bandedStruct(df: DataFrame, idCol: String,
      numBands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), col("sig"),
      explode(Hashes.bands(col("sig"), numBands, rowsPerBand)).as("band"))
      .select(col(idCol), col("sig"),
        col("band.band_id"), col("band.band_key"))

  /** Banded rows in the CONCATENATED rendering — the single bucket key
    * `bkey = band_id '_' band_key` matching the on-disk store layout
    * ([[bandedSigStore]]), so probe joins key on the store's one bucket
    * column and the store side stays exchange-free. */
  private def bandedBkey(df: DataFrame, idCol: String,
      numBands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), col("sig"),
      explode(Hashes.bands(col("sig"), numBands, rowsPerBand)).as("band"))
      .select(col(idCol), col("sig"),
        concat_ws("_", col("band.band_id"), col("band.band_key")).as("bkey"))

  /** Signature-CLASS structure of the ingest batch: `(uid, cls)` where
    * `cls` is the lowest uid carrying an IDENTICAL signature. Sig-equal
    * docs are interchangeable probes (every similarity any of them has
    * is a function of the shared signature), so the gate probes and
    * verifies once per CLASS and attaches members afterwards — the
    * candidate volume collapses from O(clique members²) to
    * O(classes² within shared bands) + O(members).
    *
    * Crucial at scale: a boilerplate near-dup clique (the r14 scaling
    * measurement's mutated-template batch: 500 docs at sf0.1, one
    * ~quadratic 113k-pair candidate set; 10× data → 8.5M pairs, and
    * the gate was the one super-linear query in the sweep) is exactly
    * the member-quadratic case, while its class count grows linearly
    * with data.
    *
    * Correctness is EXACT, not approximate, for the serial semantics:
    *  - est-Jaccard 1.0 ⇔ identical signatures ⇔ same class, so a
    *    non-representative member's best batch twin is always its own
    *    class representative (sim 1.0, lowest id — `withinTwin` rows),
    *    and no cross-class twin (sim < 1.0 strictly) can ever beat it;
    *  - a representative u must consider class B iff SOME member of B
    *    precedes u — but rep(B) = min(B), so "some member < u" implies
    *    "rep(B) < u", and the chosen candidate min{v ∈ B : v < u} IS
    *    rep(B): rep-to-rep pairs cover every reachable cross-class
    *    candidate with the exact ids the per-member join would pick;
    *  - corpus candidates are class-determined, so the class's verified
    *    corpus hits attach to every member unchanged.
    */
  /** @param cache persist the (ingest-batch-sized) membership frame.
    *        Measured r21: every classify variant reads this frame from
    *        four lazy branches (class reps → two banded probes,
    *        corpus-hit expansion, within-twin emission), and WITHOUT a
    *        persist each branch re-pays the sig-keyed window exchange
    *        plus the whole incoming subtree under it — the in-memory
    *        and derived-delta gates win 11-26% wall from the cache.
    *        But the ON-DISK store postures (classifyStored against the
    *        bucketed table, the stream loop) LOSE with it (+18% wall,
    *        4x tasks): their probe branches were already cheap fused
    *        scans, and the cache build/read stages cost more than the
    *        re-derivation they avoid — so those callers pass false. */
  private def sigClassMembers(incoming: DataFrame,
      cache: Boolean): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("sig")
    val m = incoming.select(col("uid"), col("sig"))
      .withColumn("cls", min("uid").over(w))
    if (cache) Scope.persist(m) else m
  }

  /** One row per signature class, under the probe's id column name:
    * `(uid = representative, sig)` — the frame every variant bands and
    * probes in place of the full batch. */
  private def classReps(memberOf: DataFrame): DataFrame =
    memberOf.filter(col("uid") === col("cls"))
      .select(col("cls").as("uid"), col("sig"))

  /** Expand CLASS-level verified candidates `(uid = cls, match_id, sim,
    * from_corpus)` to member-level candidate rows (see
    * [[sigClassMembers]] for why this is exact). */
  private def expandClasses(memberOf: DataFrame,
      classCands: DataFrame): DataFrame = {
    val corpusC = classCands.filter(col("from_corpus"))
      .withColumnRenamed("uid", "cls")
      .join(memberOf.select("uid", "cls"), "cls")
      .select(col("uid"), col("match_id"), col("sim"), col("from_corpus"))
    val crossTwin = classCands.filter(!col("from_corpus"))
    val withinTwin = memberOf.filter(col("uid") =!= col("cls"))
      .select(col("uid"), col("cls").as("match_id"),
        lit(1.0).as("sim"), lit(false).as("from_corpus"))
    corpusC.unionByName(crossTwin).unionByName(withinTwin)
  }

  /** Classify `incoming` (uid, fingerprint, sig, meta_key) against
    * `corpus` (same columns + node_id, status). `sig` is a MinHash
    * signature array; fingerprint an exact-content hash; meta_key the
    * metadata-equality probe.
    *
    * Returns incoming + (outcome, matched_node_id, best_sim).
    */
  /** @param broadcastIncoming hint the banded batch probe for broadcast
    *        (default true — an ingest batch is small relative to the
    *        store, and broadcasting it removes the corpus band-key
    *        shuffle entirely). Pass false for bulk backfills whose
    *        banded probe would exceed the broadcast limit; the join
    *        then falls back to a keyed shuffle.
    *
    *        CACHE LIFECYCLE: this variant persists one
    *        ingest-batch-sized frame per call (sigClassMembers) with
    *        the caller's [[graft.Scope]] and returns a lazy frame that
    *        reads it, so the caller consumes the result inside that
    *        scope, which then releases the frame: a long-lived session
    *        calling classify per batch holds at most one such frame per
    *        open scope. The streaming store loops route through
    *        classifyStored*, whose postures measured FASTER with no
    *        cache and never persist here. */
  def classify(incoming: DataFrame, corpus: DataFrame,
      numBands: Int, rowsPerBand: Int,
      broadcastIncoming: Boolean = true): DataFrame = {

    def banded(df: DataFrame, idCol: String) =
      bandedStruct(df, idCol, numBands, rowsPerBand)

    // The reference processes serially, so by the time a document is
    // checked, earlier documents of the same batch are already in the
    // store. We reproduce that by treating batch-earlier twins as corpus
    // candidates: candidate set = live corpus ∪ {batch rows with smaller
    // uid}, ranked by (sim desc, corpus-first, id asc) — probed and
    // verified once per signature CLASS (see sigClassMembers: exact, and
    // what keeps boilerplate cliques from going quadratic).
    // The ingest batch is small relative to the store, so its banded
    // probe is BROADCAST: the corpus side never shuffles on band_key —
    // band-key skew (boilerplate docs sharing every band) cannot
    // concentrate on one reducer because there is no band-key exchange
    // at all. This mirrors the reference's probe direction (one incoming
    // document against the indexed store, check_duplicate.py:90-101).
    val corpusLive = corpus.filter(col("status") =!= "archive")
    val memberOf = sigClassMembers(incoming, cache = true)
    val classes = classReps(memberOf)
    val bandedCls = banded(classes, "uid")
    val probe = if (broadcastIncoming) broadcast(bandedCls) else bandedCls
    val corpusHits = probe.alias("q")
      .join(banded(corpusLive, "node_id").alias("c"), Seq("band_id", "band_key"))
      .select(col("q.uid").as("uid"), col("c.node_id").as("match_id"),
        col("q.sig").as("qsig"), col("c.sig").as("csig"),
        lit(true).as("from_corpus"))

    val batchHits = saltedSlimSelfPairs(
      bandedCls.select("uid", "band_id", "band_key"),
      Seq("band_id", "band_key"))

    val candidates = expandClasses(memberOf,
      verifyOncePerPair(corpusHits)
        .unionByName(verifyTwinPairs(batchHits, classes)))

    resolve(incoming, corpusLive.select(col("node_id"), col("meta_key")),
      candidates)
  }

  /** The within-batch candidate self-join, in the shape that survives a
    * scale decade (r16): SLIM rows (ids + band key — never a signature),
    * SALTED 8 ways (the [[graft.operators.Skew]] treatment bandPairJoin
    * has had since r14), and hash-joined so no sort exists on the band
    * key. Why all three: the batch band self-join is the gate's one
    * ~quadratic stream — same-band signature classes pair up within the
    * block, measured growing 54× per 10× data on the short-doc fixture
    * (SCALE.md r15) — and the ~sf100 third-decade battery caught the
    * old sig-carrying unsalted shape wedging the whole query in ONE
    * sort-merge task (21+ CPU-minutes spill-merging signature payloads
    * of a hot band block). Salting spreads the block's pair work across
    * 8 reducers, SHUFFLE_HASH streams it without ever sorting the band
    * key, and the slim projection keeps the quadratic stream at ~20 B
    * per row until [[verifyTwinPairs]] re-attaches signatures from the
    * batch-classes-sized table AFTER the pair collapse. */
  private def saltedSlimSelfPairs(slim: DataFrame,
      bandKeys: Seq[String]): DataFrame = {
    val (a, b, keys) = Skew.saltedSelfJoinSides(slim, bandKeys, "uid", 8)
    a.alias("a").join(b.alias("b").hint("shuffle_hash"), keys)
      .filter(col("a.uid") > col("b.uid"))
      .select(col("a.uid").as("uid"), col("b.uid").as("match_id"))
  }

  /** Verify within-batch candidate pairs: collapse the (salted, slim)
    * band-hit stream to distinct pairs FIRST, then attach both
    * signatures by keyed hash joins against the class table — both
    * lookup sides are batch-classes-sized at any corpus scale, so the
    * collapse exchange carries id pairs, not signature arrays. The
    * corpus-hit family keeps its scan-side signature attach
    * ([[verifyOncePerPair]]): its joins are broadcast/bucketed with no
    * sort to straggle and no store exchange to introduce — the slim
    * treatment is pointed at the stream that actually goes quadratic. */
  private def verifyTwinPairs(pairs: DataFrame,
      classSigs: DataFrame): DataFrame =
    pairs.distinct()
      .join(classSigs.select(col("uid").as("match_id"),
        col("sig").as("csig")).hint("shuffle_hash"), "match_id")
      .join(classSigs.select(col("uid"),
        col("sig").as("qsig")).hint("shuffle_hash"), "uid")
      .select(col("uid"), col("match_id"),
        Hashes.minhashJaccard(col("qsig"), col("csig")).as("sim"),
        lit(false).as("from_corpus"))
      .filter(col("sim") >= DuplicateThreshold)

  /** Collapse CORPUS band hits to distinct candidate pairs BEFORE the
    * similarity verify: a pair sharing k bands arrives as k hit rows,
    * and evaluating the signature walk per hit would pay the verify —
    * the allocation-heaviest scalar in the gate — up to numBands× per
    * pair (reference contract: verify runs per candidate *document*,
    * `check_duplicate.py:128-151`, never per band). The map-side
    * partial `first` collapses same-mapper duplicates before the
    * exchange, so the shuffle carries one (sig-bearing) row per pair
    * per mapper, and `minhashJaccard` runs exactly once per distinct
    * (uid, match_id) pair, above the dedup aggregate. Since r16 this
    * path serves ONLY corpus hits — whose signature attach is scan-side
    * on broadcast/bucketed joins, introducing no exchange the store
    * posture forbids — while within-batch hits take the slim salted
    * path ([[saltedSlimSelfPairs]] → [[verifyTwinPairs]]).
    */
  private def verifyOncePerPair(hits: DataFrame): DataFrame =
    hits
      .groupBy("uid", "match_id", "from_corpus")
      .agg(first("qsig").as("qsig"), first("csig").as("csig"))
      .select(col("uid"), col("match_id"),
        Hashes.minhashJaccard(col("qsig"), col("csig")).as("sim"),
        col("from_corpus"))
      .filter(col("sim") >= DuplicateThreshold)

  /** Shared resolution tail of both gate variants: pick the best candidate
    * per incoming doc, attach the match's metadata, emit the 3-way
    * outcome. `corpusMeta` is one (node_id, meta_key) row per live node.
    */
  private def resolve(incoming: DataFrame, corpusMeta: DataFrame,
      candidates: DataFrame): DataFrame = {
    // Best candidate per doc: max sim, corpus wins ties, then lowest id
    // (A2 argmax with full tie-break). Expressed as a rank window, not
    // max(struct(.., -match_id)): the mixed sort direction needs an
    // order-reversing transform under the struct-max shape, and
    // negation only exists for numeric ids — string-uid corpora (which
    // the streaming loop now admits by minting an arrival column)
    // would throw on the cast under ANSI. The window shuffles the same
    // ingest-sized candidate frame on the same key the aggregate did;
    // per-group sorts are candidate-shortlist-sized.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("uid")
      .orderBy(col("sim").desc, col("from_corpus").desc,
        col("match_id").asc)
    val best = candidates
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("uid"), col("sim").as("best_sim"),
        col("from_corpus"), col("match_id"))

    // Metadata of the best match: from the corpus row or the batch twin.
    val metaOfMatch = best
      .join(corpusMeta.select(col("node_id").as("match_id"),
        col("meta_key").as("corpus_meta")), Seq("match_id"), "left")
      .join(incoming.select(col("uid").as("match_id"),
        col("meta_key").as("batch_meta")), Seq("match_id"), "left")
      .select(col("uid"), col("best_sim"), col("from_corpus"), col("match_id"),
        when(col("from_corpus"), col("corpus_meta")).otherwise(col("batch_meta"))
          .as("matched_meta"))

    // Metadata equality decides duplicate vs version
    // (check_duplicate.py:154-180).
    incoming.alias("in")
      .join(metaOfMatch, Seq("uid"), "left")
      .withColumn("outcome",
        when(col("best_sim").isNotNull && col("matched_meta") === col("meta_key"),
          "duplicate")
          .when(col("best_sim").isNotNull, "version")
          .otherwise("new"))
      .select(col("uid"), col("outcome"),
        when(col("from_corpus"), col("match_id")).as("matched_node_id"),
        col("best_sim"),
        when(!col("from_corpus"), col("match_id")).as("batch_twin"))
  }

  /** Banded rows of the ON-DISK signature store: one row per
    * (live doc, band), keyed by the single concatenated bucket key
    * `bkey = band_id '_' band_key`. Archived docs are dropped at write
    * time — the store IS the live index, mirroring the reference's
    * removal of archived nodes from the probe set
    * (`check_duplicate.py:96-101` filters archived at query time; a
    * maintained store pays that filter once per archive flip, not per
    * probe). Written `bucketBy(bkey)` via `Layout.bucketedStoreWrite`,
    * every later probe join on bkey leaves the store side EXCHANGE-FREE:
    * at 100 TB the store-side band shuffle — by far the largest shuffle
    * of the gate — is paid once at write time, never per ingest batch.
    */
  def bandedSigStore(corpus: DataFrame, numBands: Int,
      rowsPerBand: Int): DataFrame =
    corpus.filter(col("status") =!= "archive")
      .select(col("node_id"), col("sig"), col("meta_key"),
        explode(Hashes.bands(col("sig"), numBands, rowsPerBand)).as("band"))
      .select(col("node_id"), col("sig"), col("meta_key"),
        // band_id rides along as its own column so per-node slices
        // (meta lookups, signature reuse) filter structurally on
        // `band_id = 0` instead of parsing the rendered bucket key
        col("band.band_id").as("band_id"),
        concat_ws("_", col("band.band_id"), col("band.band_key")).as("bkey"))

  /** `classify` against a pre-banded on-disk store (the frame
    * `bandedSigStore` wrote, read back from its bucketed table). The
    * probe join keys on the store's single bucket column `bkey`, so the
    * store side carries no Exchange — only the (small) ingest batch
    * shuffles, into the store's bucket layout. Outcome semantics are
    * identical to `classify`. The base-only case of
    * [[classifyStoredDeltas]].
    */
  def classifyStored(incoming: DataFrame, store: DataFrame,
      numBands: Int, rowsPerBand: Int): DataFrame =
    classifyStoredDeltas(incoming, store, Nil, numBands, rowsPerBand)

  /** Apply one ingest batch's gate outcomes to the banded signature
    * store — the MAINTENANCE half of the gate loop (reference:
    * `misc/stream_update_process/record_handler.py:103-147` writes each
    * outcome back to the graph; `check_duplicate.py:96-101` excludes
    * archived nodes from every later probe). `outcomes` is
    * classify/classifyStored output for `incoming` (uid, sig,
    * meta_key); `archiveFlips` holds node ids archived since the store
    * was last written.
    *
    *  - `new`       → the doc's banded rows enter under its own uid
    *  - `version`   → the incoming signature/meta REPLACE the target
    *                  node's rows (target = matched corpus node, or the
    *                  batch twin's node for within-batch versions)
    *  - `duplicate` → no store change
    *  - archive     → every row of the node drops
    *
    * Several batch docs landing on one target node resolve
    * LAST-writer-wins in arrival order — the reference's serial
    * processing order. Arrival is the uid column's natural ordering for
    * numeric uids, or an explicit `arrival` column on `incoming` when
    * present; string uids WITHOUT an `arrival` column are refused
    * loudly (see [[outcomesDeltaParts]]) because lexicographic order
    * silently diverges from serial semantics.
    *
    * Scale shape: `dead` is delta-sized, so the store-side anti-join is
    * a broadcast probe (no store exchange); only the delta pays the
    * band explode. The returned frame is the updated LIVE store; at
    * production scale the rewrite lands as delta files beside the
    * bucketed base (bucket layout keyed the same) with periodic
    * compaction via `Layout.bucketedStoreWrite` — a per-batch full
    * rewrite would re-pay the corpus band shuffle the store exists to
    * amortize.
    */
  /** PRECONDITION: a `new` winner enters the store under its own uid,
    * so batch uids must be DISJOINT from unrelated store node ids (the
    * reference mints uids and node ids from one id space where equality
    * means same document). A collision would let the winner's vacuous
    * tombstone silently delete the unrelated node's rows — so this
    * compaction-path entry point probes for it eagerly (a keyed join
    * against the store scan the anti-join pays anyway — AQE
    * runtime-broadcasts the ingest-sized case; applyOutcomes is
    * periodic compaction, never the per-batch path) and refuses
    * loudly instead.
    */
  def applyOutcomes(store: DataFrame, incoming: DataFrame,
      outcomes: DataFrame, archiveFlips: DataFrame,
      numBands: Int, rowsPerBand: Int): DataFrame = {
    val (append, tombstones, newIds) =
      outcomesDeltaParts(incoming, outcomes, archiveFlips,
        numBands, rowsPerBand)
    // r20 review: no static broadcast hints — tombstones/newIds are
    // BATCH-sized frames with no size contract, and a bulk backfill
    // batch (the decade-4 fold ran a 14.3M-id tombstone set) would
    // build an unbounded hashed relation on every executor. This is
    // the same no-size-contract class r18 removed from the delta
    // probes; AQE runtime-broadcasts the ingest-scale case and
    // degrades the backfill case to a keyed anti-join — both regimes
    // executed facts for exactly this shape
    // (probe_fallback_store_*.json, probe_decade4_gate_r20.json).
    val clashes = store.join(newIds, Seq("node_id"))
      .select("node_id").distinct().limit(5).collect().map(_.get(0))
    require(clashes.isEmpty,
      s"applyOutcomes: batch uids ${clashes.mkString(", ")} classified " +
        "'new' collide with unrelated existing store node ids — applying " +
        "them would silently replace those nodes' rows. Batch uid space " +
        "must be disjoint from store node ids (same-id means same " +
        "document in the reference's id scheme).")
    store.join(tombstones, Seq("node_id"), "left_anti")
      .unionByName(append)
  }

  /** The same maintenance as [[applyOutcomes]], expressed as the
    * PER-BATCH DELTA instead of a rewritten store: `(append,
    * tombstones)` where `append` is the banded rows of the batch's
    * winners (delta-sized — the only band explode the batch pays) and
    * `tombstones` the node ids whose stored rows are dead (replaced by
    * a version, or archived). This is the artifact the 1000×-scale
    * posture writes beside the bucketed base each batch; compaction =
    * `applyOutcomes` + `Layout.bucketedStoreWrite`, run periodically,
    * which is the ONLY time the corpus-sized band shuffle recurs.
    */
  def outcomesDelta(incoming: DataFrame, outcomes: DataFrame,
      archiveFlips: DataFrame, numBands: Int, rowsPerBand: Int)
      : (DataFrame, DataFrame) = {
    val (append, tombstones, _) =
      outcomesDeltaParts(incoming, outcomes, archiveFlips,
        numBands, rowsPerBand)
    (append, tombstones)
  }

  /** [[outcomesDelta]] plus the one-column frame of node ids MINTED by
    * `new` outcomes this batch — the ids whose tombstone entry is
    * vacuous by the uid↔node_id disjointness precondition (see
    * [[applyOutcomes]], which probes the store with exactly this frame
    * to make a violated precondition loud instead of a silent delete).
    *
    * Two loud contracts enforced here rather than downstream:
    *  - an UNRESOLVED twin chain (a row whose batch twin is absent from
    *    `outcomes`, so [[resolveTargets]] leaves `target` null) raises
    *    at execution instead of appending null-node rows that strand
    *    the real target stale;
    *  - last-writer-wins needs an ARRIVAL order. A numeric uid encodes
    *    it; an optional `arrival` column on `incoming` overrides it
    *    (ordered by `(arrival, uid)` desc); STRING uids without an
    *    `arrival` column are REFUSED — lexicographic order silently
    *    diverges from serial semantics (e.g. "doc9" > "doc10").
    */
  private[graft] def outcomesDeltaParts(incoming: DataFrame,
      outcomes: DataFrame, archiveFlips: DataFrame,
      numBands: Int, rowsPerBand: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    requireArrival(incoming)
    val hasArrival = incoming.columns.contains("arrival")
    val incomingCols =
      Seq(col("uid"), col("sig"), col("meta_key")) ++
        (if (hasArrival) Seq(col("arrival")) else Nil)
    val upserts = resolveTargets(outcomes)
      .filter(col("outcome").isin("new", "version"))
      .select(col("uid"), col("outcome"),
        // embedded in the consumed column (not a droppable side
        // assertion) so column pruning can never elide the check
        when(col("target").isNull, raise_error(concat(
          lit(ChainHead), col("uid"), lit(ChainTail))))
          .otherwise(col("target")).as("node_id"))
      .join(incoming.select(incomingCols: _*), "uid")
    val arrivalOrder =
      (if (hasArrival) Seq(col("arrival").desc) else Nil) :+ col("uid").desc
    val winners = upserts
      .withColumn("rk", row_number().over(
        Window.partitionBy("node_id").orderBy(arrivalOrder: _*)))
      .filter(col("rk") === 1)
      .select(col("node_id"), col("sig"), col("meta_key"),
        lit("published").as("status"))
    val tombstones = winners.select("node_id")
      .unionByName(archiveFlips.select("node_id")).distinct()
    val newIds = upserts.filter(col("outcome") === "new")
      .select("node_id").distinct()
    (bandedSigStore(winners, numBands, rowsPerBand), tombstones, newIds)
  }

  /** The last-writer-wins refusal both maintenance arms share: string
    * uids need an `arrival` column (see [[outcomesDeltaParts]]). */
  private def requireArrival(incoming: DataFrame): Unit =
    if (!incoming.columns.contains("arrival") &&
        incoming.schema("uid").dataType ==
          org.apache.spark.sql.types.StringType)
      throw new IllegalArgumentException(
        "outcomesDelta: string uids without an 'arrival' column — " +
          "lexicographic uid order does not encode arrival order " +
          "(\"doc9\" sorts after \"doc10\"), so last-writer-wins would " +
          "diverge from the reference's serial semantics. Add a " +
          "monotone 'arrival' column to the incoming batch, or mint " +
          "uids whose natural ordering encodes arrival.")

  /** The unresolved-twin-chain refusal both maintenance arms raise, as
    * the text around the offending uid. */
  private val ChainHead = "outcomesDelta: unresolved twin chain — uid "
  private val ChainTail = " resolved to no target node (its batch twin " +
    "is absent from the outcomes frame); appending it would strand the " +
    "real target stale"

  /** Final store node per outcome row, with BATCH-TWIN CHAINS resolved:
    * `new` targets its own uid; `version`/`duplicate` target their
    * matched corpus node when one exists, otherwise the node their twin
    * ultimately resolved to — the reference's serial semantics, where
    * by the time a doc is checked its twin has already landed (or been
    * discarded as a duplicate of) its own target. Without the walk, a
    * version-of-a-twin that itself carried a corpus node forward would
    * mint a PHANTOM node under the twin's uid and leave the real node
    * stale. (At 16 perms the ≥0.95 gate forces signature-identical
    * matches, so ties resolve corpus-first/lowest-id and only
    * twin-of-`new` links occur; with more permutations fractional sims
    * make longer chains reachable, so the walk is load-bearing.)
    *
    * Twins always carry a LOWER uid than their follower, so chains are
    * strictly decreasing and acyclic. A chain whose twin is absent from
    * `outcomes` resolves to a null target, which
    * [[outcomesDeltaParts]] turns into a loud error. Two arms, one
    * result (PropertySpec pins them equal):
    *  - DRIVER ([[walkTwinChains]]) when `outcomes` has at most
    *    [[DedupQueries.DriverRows]] rows: the rows are collected (no
    *    job when `outcomes` is already a local relation), each chain is
    *    walked once with memoization, at any depth, and the result is a
    *    local relation. Driver memory: the collected rows plus one memo
    *    entry per uid. The gate's own driver arm ([[gateOnDriver]],
    *    what [[graft.streaming.GateStoreLoop]] runs for an ingest batch)
    *    walks its outcome rows with the same [[chainTargets]] and never
    *    builds this frame.
    *  - DISTRIBUTED ([[jumpTwinChains]]) otherwise: pointer-jumping
    *    rounds over the frame.
    */
  private[graft] def resolveTargets(outcomes: DataFrame): DataFrame = {
    val links = twinLinks(outcomes)
    DedupQueries.onDriver(links)
      .fold(jumpTwinChains(links))(walkTwinChains(links, _))
  }

  /** `(uid, outcome, target, twin)`: each row's own target (its uid
    * when `new`, else its matched corpus node, null when it matched a
    * twin) and the twin it follows — the input of both chain arms. */
  private[graft] def twinLinks(outcomes: DataFrame): DataFrame =
    outcomes.select(col("uid"), col("outcome"),
      when(col("outcome") === "new", col("uid"))
        .otherwise(col("matched_node_id")).as("target"),
      col("batch_twin").as("twin"))

  /** The DRIVER arm of [[resolveTargets]] over the collected rows of
    * `links` ([[twinLinks]]), walked by [[chainTargets]]. */
  private[graft] def walkTwinChains(links: DataFrame,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    val targetOf = chainTargets(rows.map(r => (r.get(0), r.get(2), r.get(3))))
    val out = links.select("uid", "outcome", "target")
    DedupQueries.localFrame(links.sparkSession, out.schema,
      rows.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1),
        targetOf(r.get(0)))))
  }

  /** The final target of each uid over `(uid, target, twin)` links (a
    * null target when the row matched a twin): each chain is followed
    * to its first non-null target, and every uid on the path memoizes
    * the answer, so the walk is linear in the links however deep the
    * chains. A chain that ends without a target (a twin absent from the
    * links, a twin-less row with no target) resolves to null, as in the
    * distributed arm; so does a cycle, which no classification emits. */
  private def chainTargets(links: Seq[(Any, Any, Any)]): Any => Any = {
    val byUid = links.map(l => l._1 -> l).toMap
    val memo = scala.collection.mutable.HashMap.empty[Any, Any]
    uid => {
      val path = scala.collection.mutable.ArrayBuffer.empty[Any]
      var u = uid
      var target: Any = null
      var done = false
      while (!done) memo.get(u) match {
        case Some(t) => target = t; done = true
        case None => byUid.get(u) match {
          case None => done = true
          case Some((_, t, twin)) =>
            path += u
            if (t != null) { target = t; done = true }
            else if (twin == null || path.size > byUid.size) done = true
            else u = twin
        }
      }
      path.foreach(memo(_) = target)
      target
    }
  }

  /** The DRIVER arm of one gate step over an ingest-sized batch:
    * [[classifyStoredDeltas]] followed by [[outcomesDelta]] with no
    * archive flips, computed in Scala from `rows` (the collected rows of
    * `incoming`) and ONE bounded probe of the store
    * ([[classifyOnDriver]], then [[outcomesDeltaOnDriver]]). Returns
    * `(outcomes, append, tombstones)` as local relations carrying the
    * distributed arm's schemas, so writing each is one job; None when
    * the caller must run the distributed arm instead (see
    * [[classifyOnDriver]]). */
  private[graft] def gateOnDriver(incoming: DataFrame,
      rows: Seq[org.apache.spark.sql.Row], base: DataFrame,
      generations: Seq[(DataFrame, DataFrame)], numBands: Int,
      rowsPerBand: Int): Option[(DataFrame, DataFrame, DataFrame)] =
    classifyOnDriver(incoming, rows, base, generations, numBands,
      rowsPerBand).map { outcomes =>
      val (append, tombs) = outcomesDeltaOnDriver(incoming, rows, outcomes,
        numBands, rowsPerBand)
      (outcomes, append, tombs)
    }

  /** [[classifyStoredDeltas]] on the driver, as a local relation; None
    * when the driver cannot reproduce it exactly or cheaply:
    *  - an id, meta or arrival type whose order or equality the driver
    *    does not reproduce ([[DedupQueries.idOrdering]]'s long, int and
    *    UTF-8 string; string, long or int metadata), a signature that is
    *    not `array<long>`, or store layers typed unlike the batch;
    *  - a null or repeated uid, or an empty signature;
    *  - more than [[DedupQueries.DriverRows]] probed store rows plus
    *    open tombstones (a hot band).
    *
    * The probe is one job ([[DedupQueries.collectAtMost]]): the
    * `(node_id, sig, meta_key, bkey)` rows of the base and of each open
    * delta whose `bkey` is one of the batch classes' band keys, and
    * every open tombstone, each tagged with its generation. A row is
    * live unless a tombstone of a LATER generation names its node, the
    * visibility [[classifyStoredDeltas]] applies. The serial semantics
    * stay exact: signature classes with the lowest uid as
    * representative; corpus and earlier-twin candidates verified at
    * [[DuplicateThreshold]] with the plan's own natives
    * ([[graft.functions.Hashes.minhashJaccardOf]]); the best candidate
    * by sim desc, corpus first, then match id asc in Spark's order; the
    * matched metadata deciding duplicate vs version. Driver memory: the
    * batch, at most DriverRows probed rows, and one outcome row per
    * batch row. */
  private[graft] def classifyOnDriver(incoming: DataFrame,
      rows: Seq[org.apache.spark.sql.Row], base: DataFrame,
      generations: Seq[(DataFrame, DataFrame)], numBands: Int,
      rowsPerBand: Int): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val in = incoming.schema
    val idType = in("uid").dataType
    val metaType = in("meta_key").dataType
    val isSig = (t: DataType) => t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val typed = isSig(in("sig").dataType) &&
      Seq(StringType, LongType, IntegerType).contains(metaType) &&
      in.fieldNames.find(_ == "arrival")
        .forall(a => DedupQueries.idOrdering(in(a).dataType).isDefined) &&
      (base +: generations.map(_._1)).forall { l =>
        val ls = l.schema
        ls("node_id").dataType == idType && isSig(ls("sig").dataType) &&
          ls("meta_key").dataType == metaType
      } && generations.forall(_._2.schema("node_id").dataType == idType)
    val (uidAt, sigAt, metaAt) =
      (in.fieldIndex("uid"), in.fieldIndex("sig"), in.fieldIndex("meta_key"))
    val uids = rows.map(_.get(uidAt))
    val sigOf = (r: Row) => Option(r.getSeq[Any](sigAt))
    val ordered = DedupQueries.idOrdering(idType).filter(_ => typed &&
      !uids.contains(null) && uids.distinct.size == uids.size &&
      rows.forall(sigOf(_).forall(_.nonEmpty)))
    ordered.flatMap { ord =>
      val byUid = uids.zip(rows).toMap
      // signature classes: every member -> the class's lowest uid
      val cls: Map[Any, Any] = rows.groupBy(sigOf).values.flatMap { g =>
        val rep = g.map(_.get(uidAt)).min(ord)
        g.map(_.get(uidAt) -> rep)
      }.toMap
      // each representative's band keys, rendered as bandedBkey does
      val repKeys: Map[Any, Seq[String]] = cls.values.toSeq.distinct
        .flatMap(u => sigOf(byUid(u)).map { sig =>
          val bands = graft.plans.NativeImpl.lshBands(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(
              sig.toArray), numBands, rowsPerBand)
          u -> (0 until bands.numElements()).map { i =>
            val band = bands.getStruct(i, 2)
            s"${band.getInt(0)}_${band.getUTF8String(1)}"
          }
        }).toMap
      val keys = repKeys.values.flatten.toSeq.distinct
      def probe(l: DataFrame, gen: Int) = l
        .filter(col("bkey").isin(keys: _*))
        .select(lit(gen).as("gen"), lit(false).as("tomb"), col("node_id"),
          col("sig"), col("meta_key"), col("bkey"))
      def tombs(t: DataFrame, gen: Int) = t
        .select(lit(gen).as("gen"), lit(true).as("tomb"), col("node_id"),
          lit(null).cast(base.schema("sig").dataType).as("sig"),
          lit(null).cast(metaType).as("meta_key"),
          lit(null).cast(StringType).as("bkey"))
      val probed =
        if (keys.isEmpty) Some(Array.empty[Row])
        else DedupQueries.collectAtMost(
          (probe(base, -1) +: generations.zipWithIndex.flatMap {
            case ((delta, dead), i) => Seq(probe(delta, i), tombs(dead, i))
          }).reduce(_ union _), DedupQueries.DriverRows)
      probed.map { found =>
        val (dead, stored) = found.toSeq.partition(_.getBoolean(1))
        val lastTomb = dead.groupMapReduce(_.get(2))(_.getInt(0))(math.max)
        val liveByKey = stored
          .filter(r => r.getInt(0) >= lastTomb.getOrElse(r.get(2), -1))
          .groupBy(_.getString(5))
        val reps = repKeys.keys.toSeq
        val repsByKey = reps.flatMap(u => repKeys(u).map(_ -> u))
          .groupMap(_._1)(_._2)
        case class Cand(id: Any, sim: Double, corpus: Boolean, meta: Any)
        def verified(q: Seq[Any], cands: Seq[(Any, Seq[Any], Any)],
            corpus: Boolean) = cands.flatMap { case (id, sig, meta) =>
          val sim = graft.functions.Hashes.minhashJaccardOf(q, sig)
          if (sim >= DuplicateThreshold) Some(Cand(id, sim, corpus, meta))
          else None
        }
        // per representative: the live corpus nodes sharing a band with
        // it, and the earlier representatives sharing one
        val corpusOf = reps.map { u =>
          u -> verified(sigOf(byUid(u)).get,
            repKeys(u).flatMap(liveByKey.getOrElse(_, Nil))
              .distinctBy(_.get(2))
              .map(h => (h.get(2), h.getSeq[Any](3), h.get(4))),
            corpus = true)
        }.toMap
        val twinsOf = reps.map { u =>
          u -> verified(sigOf(byUid(u)).get,
            repKeys(u).flatMap(repsByKey).distinct.filter(ord.lt(_, u))
              .map(v => (v, sigOf(byUid(v)).get, byUid(v).get(metaAt))),
            corpus = false)
        }.toMap
        def better(a: Cand, b: Cand) = a.sim > b.sim || a.sim == b.sim &&
          (a.corpus && !b.corpus || a.corpus == b.corpus && ord.lt(a.id, b.id))
        val outcomes = rows.map { r =>
          val (u, c) = (r.get(uidAt), cls(r.get(uidAt)))
          val cands = corpusOf.getOrElse(c, Nil) ++ (
            if (c == u) twinsOf.getOrElse(u, Nil)
            else Seq(Cand(c, 1.0, corpus = false, byUid(c).get(metaAt))))
          cands.reduceOption((a, b) => if (better(a, b)) a else b) match {
            case None => Row(u, "new", null, null, null)
            case Some(b) =>
              val meta = r.get(metaAt)
              Row(u,
                if (meta != null && meta == b.meta) "duplicate" else "version",
                if (b.corpus) b.id else null, b.sim,
                if (b.corpus) null else b.id)
          }
        }
        val node = StructField("node_id", idType)
        DedupQueries.localFrame(incoming.sparkSession, StructType(Seq(
          in("uid"), StructField("outcome", StringType, nullable = false),
          node.copy(name = "matched_node_id"),
          StructField("best_sim", DoubleType),
          node.copy(name = "batch_twin"))), outcomes)
      }
    }
  }

  /** [[outcomesDelta]] with no archive flips on the driver: `rows` are
    * the collected rows of `incoming`, and `outcomes` is a local
    * relation of their classification (collecting it starts no job).
    * The twin chains are walked by [[chainTargets]], the last writer per
    * target node is kept by `(arrival, uid)` desc, and both of
    * [[outcomesDeltaParts]]' refusals are raised with the same messages.
    * The winners and their tombstones are local relations; the
    * winners' band explode runs in the job that writes them. */
  private[graft] def outcomesDeltaOnDriver(incoming: DataFrame,
      rows: Seq[org.apache.spark.sql.Row], outcomes: DataFrame,
      numBands: Int, rowsPerBand: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    requireArrival(incoming)
    val in = incoming.schema
    def order(field: String) = DedupQueries.idOrdering(in(field).dataType)
      .getOrElse(throw new IllegalArgumentException(s"outcomesDeltaOnDriver: " +
        s"unsupported $field type ${in(field).dataType}"))
    val ord = order("uid")
    val (uidAt, sigAt, metaAt) =
      (in.fieldIndex("uid"), in.fieldIndex("sig"), in.fieldIndex("meta_key"))
    val byUid = rows.map(r => r.get(uidAt) -> r).toMap
    val lastFirst = in.fieldNames.find(_ == "arrival") match {
      // Spark's `arrival desc` ranks a null arrival last
      case Some(a) =>
        val at = in.fieldIndex(a)
        Ordering.Tuple2(Ordering.Option(order(a)), ord)
          .on[Row](r => (Option(r.get(at)), r.get(uidAt)))
      case None => ord.on[Row](_.get(uidAt))
    }
    val outs = outcomes.select("uid", "outcome", "matched_node_id",
      "batch_twin").collect().toSeq
    val targetOf = chainTargets(outs.map(o => (o.get(0),
      if (o.get(1) == "new") o.get(0) else o.get(2), o.get(3))))
    val winners = outs
      .filter(o => o.get(1) == "new" || o.get(1) == "version")
      .map { o =>
        val t = targetOf(o.get(0))
        if (t == null)
          throw new IllegalStateException(s"$ChainHead${o.get(0)}$ChainTail")
        t -> byUid(o.get(0))
      }
      .groupMap(_._1)(_._2).toSeq
      .map { case (t, us) =>
        val w = us.max(lastFirst)
        Row(t, w.get(sigAt), w.get(metaAt), "published")
      }
    val spark = incoming.sparkSession
    val node = StructField("node_id", in("uid").dataType)
    val winSchema = StructType(Seq(node, in("sig"), in("meta_key"),
      StructField("status", StringType, nullable = false)))
    (bandedSigStore(DedupQueries.localFrame(spark, winSchema, winners),
      numBands, rowsPerBand),
      DedupQueries.localFrame(spark, StructType(Seq(node)),
        winners.map(w => Row(w.get(0)))))
  }

  /** The DISTRIBUTED arm of [[resolveTargets]]: pointer-jumping doubles
    * the resolved prefix per round (round count ≤ log2 of the deepest
    * chain), with a per-round emptiness probe over `links`. */
  private[graft] def jumpTwinChains(links: DataFrame): DataFrame = {
    // r22 (guide §5-driver, verdict item 8): each round's frame is
    // lineage-truncated (lazy — the checkpoint materializes FUSED with
    // the convergence count in one Spark job, the dd_cluster_cc
    // pattern). The former shape re-executed the whole growing join
    // lineage once per emptiness probe AND once more in every
    // downstream consumer (outcomesDeltaParts reads the resolved frame
    // from three branches); now each round is one shallow job over the
    // previous round's materialized rows, and consumers read the final
    // checkpoint.
    val unresolved = col("target").isNull && col("twin").isNotNull
    var t = Scope.checkpoint(links, eager = false)
    var rounds = 0
    var pending = t.filter(unresolved).count()
    while (rounds < 64 && pending > 0) {
      val hop = DedupQueries.reidDf(t).select(col("uid").as("twin"),
        col("target").as("twin_target"), col("twin").as("twin_twin"))
      t = Scope.checkpoint(t.join(hop, Seq("twin"), "left")
        .select(col("uid"), col("outcome"),
          coalesce(col("target"), col("twin_target")).as("target"),
          when(col("target").isNull && col("twin_target").isNull,
            col("twin_twin")).otherwise(col("twin")).as("twin")),
        eager = false)
      pending = t.filter(unresolved).count()
      rounds += 1
    }
    t.select(col("uid"), col("outcome"), col("target"))
  }

  /** `classifyStored` against BASE + one DELTA + TOMBSTONES — the
    * single-outstanding-delta probe. See [[classifyStoredDeltas]] for
    * the accumulated multi-generation form; this delegates to it.
    */
  def classifyStoredDelta(incoming: DataFrame, base: DataFrame,
      delta: DataFrame, tombstones: DataFrame,
      numBands: Int, rowsPerBand: Int,
      cacheBatch: Boolean = false): DataFrame =
    classifyStoredDeltas(incoming, base, Seq((delta, tombstones)),
      numBands, rowsPerBand, cacheBatch)

  /** `classifyStored` against BASE + ACCUMULATED DELTA GENERATIONS —
    * the per-batch probe shape of the delta-store posture with several
    * batches outstanding since the last compaction, identical in
    * outcome to probing the compacted store. `generations` is ordered
    * oldest-first, each entry one batch's `(append, tombstones)` from
    * [[outcomesDelta]]. Visibility is generational: a tombstone kills
    * base rows and every EARLIER delta's rows, never its own batch's
    * appends (its own winners are in the same artifact) nor later ones.
    *
    * Candidate generation distributes over the union, so each side is
    * probed the way its size deserves: the bucketed base joins
    * exchange-free on `bkey` with the union of all tombstones dropped
    * by an anti-join AT THE SCAN (AQE runtime-sizes the build: an
    * ingest-scale id union broadcasts, so the base never shuffles;
    * r18 removed the static hint — same defect class as the delta
    * probe's, see `minus` below), and each delta probe's strategy is left to
    * AQE's runtime sizing: an ingest-scale delta converts to a
    * broadcast hash join at runtime, while an unbounded one (a bulk
    * backfill tranche) stays a keyed shuffle of two delta/batch-sized
    * sides. r17: this was a STATIC `broadcast()` hint, and the ~sf100
    * battery caught it — a generation has no size contract, and the
    * fixture's 1/7-corpus tranche (2.86M banded sig rows, a GB-scale
    * hashed relation) OOM-killed the run under sequential-battery heap
    * pressure (546 s when run standalone on a fresh heap); hint
    * removed, AQE preserves the tiny-delta runtime-broadcast behavior
    * while the backfill tranche joins keyed, and the formerly-failing
    * battery geometry completes (627.6 s at ~sf100 under the wide
    * posture SCALE.md r17 prescribes for this decade). No corpus-sized
    * exchange exists
    * anywhere in the per-batch path either way.
    *
    * This is the DISTRIBUTED arm. An ingest-sized batch in
    * [[graft.streaming.GateStoreLoop]] classifies on the driver instead
    * ([[classifyOnDriver]]: one bounded store probe, same outcomes,
    * PropertySpec pins the two equal) and runs this plan only when that
    * probe would pass [[DedupQueries.DriverRows]] rows.
    */
  def classifyStoredDeltas(incoming: DataFrame, base: DataFrame,
      generations: Seq[(DataFrame, DataFrame)],
      numBands: Int, rowsPerBand: Int,
      cacheBatch: Boolean = false): DataFrame = {

    // r18: no static broadcast on the tombstone union either — it is
    // the SAME no-size-contract defect class as the delta probe hint
    // r17 removed (linear in corpus under churn: batch-sized × open
    // generations, and a backfill generation breaks the batch-sized
    // assumption outright), merely slimmer (ids only) so it OOMs
    // decades later. AQE runtime-sizes the anti-join build: the
    // ingest-scale unions it sees in every tested geometry still
    // broadcast at runtime (PlanSpec pins this), a backfill-scale one
    // joins keyed.
    def minus(df: DataFrame, dead: Seq[DataFrame]): DataFrame =
      if (dead.isEmpty) df
      else df.join(
        dead.map(_.select("node_id")).reduce(_ unionByName _).distinct(),
        Seq("node_id"), "left_anti")

    val allTombs = generations.map(_._2)
    val liveBase = minus(base, allTombs)
    // delta i survives only tombstones of LATER generations
    val liveDeltas = generations.zipWithIndex.map { case ((delta, _), i) =>
      minus(delta, allTombs.drop(i + 1))
    }
    val memberOf = sigClassMembers(incoming, cacheBatch)
    val classes = classReps(memberOf)
    val probe = bandedBkey(classes, "uid", numBands, rowsPerBand)
    def storeHits(side: DataFrame) = probe.alias("q")
      .join(side.alias("c"), Seq("bkey"))
      .select(col("q.uid").as("uid"), col("c.node_id").as("match_id"),
        col("q.sig").as("qsig"), col("c.sig").as("csig"),
        lit(true).as("from_corpus"))

    val batchHits = saltedSlimSelfPairs(
      probe.select("uid", "bkey"), Seq("bkey"))

    val candidates = expandClasses(memberOf,
      verifyOncePerPair(liveDeltas
        .map(d => storeHits(d))
        .foldLeft(storeHits(liveBase))(_ unionByName _))
        .unionByName(verifyTwinPairs(batchHits, classes)))

    val corpusMeta = liveDeltas
      .map(_.filter(col("band_id") === 0)
        .select(col("node_id"), col("meta_key")))
      .foldLeft(liveBase.filter(col("band_id") === 0)
        .select(col("node_id"), col("meta_key")))(_ unionByName _)
    resolve(incoming, corpusMeta, candidates)
  }
}
