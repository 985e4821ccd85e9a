package graft.operators

import graft.Tables
import graft.streaming.StreamPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** ORP-domain end-to-end operators — SURVEY.md §3 lifecycles wired over
  * the driver's test tables: the search API slice (§3.2), graph-element
  * extraction + SCD-2 merge (§2.10 ST2–ST6), the ingest dedup gate (ST7),
  * and the streaming throughput aggregation, each oracle-checked in batch
  * form (the streaming path itself is exercised in ScalaTest via
  * AvailableNow triggers).
  */
object OrpQueries {
  type Q = (SparkSession, String) => DataFrame

  /** One persisted corpus-signature frame per (session, sfDir). The gate
    * query builders run repeatedly in a session (bench min-of-N reruns,
    * the correctness sweep), and a per-call `.persist` leaked one more
    * cached corpus-signature RDD into the session on every invocation
    * (r12 ADVICE). The frame is built once and shared; if an external
    * `clearCache()` dropped its storage (Bench does so between timed
    * queries), it is re-marked for persistence — within one gate
    * execution the signature table is read from several branches, so the
    * cache is load-bearing, not an optimization nicety.
    */
  private val corpSigCache =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]
  /** (session, sfDir) pairs whose dg_stream_loop base store is already
    * on disk for this JVM — see the query's base-rebuild note. */
  private val streamLoopInit =
    scala.collection.mutable.Set.empty[(SparkSession, String)]
  /** dg_gate_stored's catalog table name, keyed by the corpus dir like
    * its on-disk path already was (r20 review: one global
    * "graft_sig_store" meant a second dataset's store write re-pointed
    * the table under a still-lazy classify plan from the first —
    * silently probing the wrong corpus). Table names forbid most
    * punctuation, so the key rides in as a hex suffix. Shared with the
    * PlanSpec pins that read the store back. */
  private[graft] def sigStoreTable(d: String): String = {
    // r21 (ADVICE): 128-bit MD5 of the dir, not 32-bit murmur — a
    // 32-bit collision between two corpus dirs would silently recreate
    // exactly the cross-corpus table-repointing bug this key fixes.
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(d.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    "graft_sig_store_" + hex
  }

  private[graft] def corpusSignatures(s: SparkSession, d: String): DataFrame =
    synchronized {
      // bound the cache: entries of STOPPED sessions pin their frames,
      // plans, and the dead session itself for the JVM's lifetime —
      // evict them on every access so long-lived multi-session JVMs
      // (one session per job, per-suite test harnesses) hold at most
      // the live sessions' entries
      val dead = corpSigCache.keys
        .filter(_._1.sparkContext.isStopped).toSeq
      dead.foreach(corpSigCache.remove)
      // r20 review: streamLoopInit is guarded by ITS OWN monitor at the
      // add site (dg_stream_loop) — this eviction sweep must take the
      // same lock, or a concurrent session's add races an unsynchronized
      // mutation of the set (lost init flags → double base-wipe under a
      // live batch writer).
      streamLoopInit.synchronized {
        streamLoopInit.filter(_._1.sparkContext.isStopped)
          .toSeq.foreach(streamLoopInit.remove)
      }
      val sig = corpSigCache.getOrElseUpdate((s, d), {
        val docs = Tables.documents(s, d)
        MinHashPipeline.signatures(
          docs.select(col("doc_id").as("node_id"), col("text")),
          "node_id", col("text"))
      })
      if (sig.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        sig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sig
    }

  /** The ST7 gate fixture `(inc0, corp0)` shared by all four dg_* gate
    * queries (r17 — previously four inline copies): every 5th doc
    * re-arrives; every 10th with replaced content (→ new), every 15th
    * with changed metadata (→ version), the rest identical
    * (→ duplicate); corpus docs ≡9 mod 10 are archived
    * (check_duplicate.py:183-289). */
  private[graft] def gateFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val inc0 = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("uid"),
        when(col("doc_id") % 10 === 0,
          concat(lit("completely different content block "), col("doc_id")))
          .otherwise(col("text")).as("itext"),
        when(col("doc_id") % 15 === 0, lit("xx")).otherwise(col("lang"))
          .as("meta_key"))
    val corp0 = docs.select(col("doc_id").as("node_id"), col("text"),
      col("lang").as("meta_key"),
      when(col("doc_id") % 10 === 9, "archive").otherwise("published")
        .as("status"))
    (inc0, corp0)
  }

  /** Incremental signature maintenance for the gate batch, shared by the
    * four dg_* queries: only mutated docs (uid ≡ 0 mod 10) re-sign;
    * the rest pull their signature from `reuse` — `(uid, sig)` rows off
    * whichever index posture the variant probes (corpus signature table,
    * band-0 store rows, …). At production scale the batch never re-signs
    * the store; sig is a pure function of the text, so the oracle is
    * unaffected. */
  /** @param cache persist the signed batch (SLIM — itext dropped: no
    *        consumer reads it past the signature build; classify takes
    *        uid/sig/meta_key). Measured r21: classify reads the signed
    *        batch from six lazy branches, and without a persist each
    *        branch re-ran this subtree — dg_dedup_gate's executed plan
    *        carried 70 separate parquet scans of `documents`; with the
    *        slim cache the in-memory and derived-delta gates win
    *        11-26% wall. The text-carrying (unslimmed) cache LOSES to
    *        no cache at all (10.2 s vs 7.9 s on dg_dedup_gate —
    *        materializing every column defeats column pruning), and
    *        the ON-DISK store postures lose with any cache here (their
    *        reuse side is a cheap band-0 store scan, so the cache
    *        build/read stages outweigh the re-derivation — see
    *        DedupGate.sigClassMembers), so dg_gate_stored /
    *        dg_stream_loop pass false. */
  private[graft] def signedIncoming(inc0: DataFrame,
      reuse: DataFrame, cache: Boolean = false): DataFrame = {
    val mutSig = MinHashPipeline.signatures(
      inc0.filter(col("uid") % 10 === 0), "uid", col("itext"))
    val reusedSig = inc0.filter(col("uid") % 10 =!= 0).select(col("uid"))
      .join(reuse, "uid")
    val signed = inc0.join(mutSig.unionByName(reusedSig), "uid")
      .select(col("uid"), col("meta_key"), col("sig"))
    if (cache)
      signed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else signed
  }

  val queries: Map[String, Q] = Map(
    // §3.2 search slice: conjunctive predicate → order → deterministic
    // page 2 — the reference's query_builder + sort + iloc page
    // (search_functions.py:9-65,98,118-123). documents stands in for the
    // docs table: lang≙topic, n_chars≙date ordering key.
    "orp_search" -> ((s, d) => {
      val req = Search.Request(
        topicEquals = Some("en"),
        keywordAnd = Seq("join", "filter"),
        excludeStatus = None,
        page = 1, pageSize = 10, hardCap = 10000)
      val b = Search.Binding(uid = "doc_id", topic = "lang", text = "text",
        docType = "source", status = "source", title = "text",
        date = "n_chars")
      Search.plan(Tables.documents(s, d), req, b)
        .select(col("rn"), col("doc_id"), col("lang"), col("n_chars"))
    }),

    // §3.2 regulator_id OR-list filter (search_functions.py:33-38): same
    // search plan, page 0, restricted to two regulators. documents.source
    // plays regulator_id.
    "orp_search_by_regulator" -> ((s, d) => {
      val req = Search.Request(
        regulatorIn = Seq("src4", "src7"),
        excludeStatus = None,
        page = 0, pageSize = 10, hardCap = 10000)
      val b = Search.Binding(uid = "doc_id", topic = "lang", text = "text",
        docType = "source", status = "source", title = "text",
        date = "n_chars", regulator = "source")
      Search.plan(Tables.documents(s, d), req, b)
        .select(col("rn"), col("doc_id"), col("source"), col("n_chars"))
    }),

    // §3.2 related-docs plan shape (search_functions.py:21-27): hrefs →
    // publication edge → live docs, legCap truncation, per-legislation
    // newest-first pages. customer≙legislation ('leg/'||c_custkey as URI),
    // orders≙both the publication edge (o_custkey→o_orderkey) and the
    // document store (uid=o_orderkey, status=o_orderstatus — 'F' plays
    // "archive", date=o_orderdate). legCap=15 lands mid-corpus so the
    // truncation path is actually exercised.
    "orp_search_by_leg" -> ((s, d) => {
      val req = Search.Request(
        legislationHrefIn = Seq("leg/7", "leg/23", "leg/911"),
        excludeStatus = Some("F"),
        pageSize = 3, legCap = 15)
      val legs = Tables.customer(s, d)
        .select(concat(lit("leg/"), col("c_custkey")).as("leg_uri"))
      val orders = Tables.orders(s, d)
      val edges = orders.select(
        concat(lit("leg/"), col("o_custkey")).as("pub_leg"),
        col("o_orderkey").as("pub_doc"))
      val docs = orders.select(col("o_orderkey").as("uid"),
        col("o_orderstatus").as("status"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("dt_pub"))
      val b = Search.Binding(uid = "uid", topic = "uid", text = "uid",
        docType = "uid", status = "status", title = "uid", date = "dt_pub")
      val lb = Search.LegBinding(legUri = "leg_uri",
        edgeLeg = "pub_leg", edgeDoc = "pub_doc")
      Search.planByLegislation(legs, edges, docs, req, b, lb)
        .select(col("legislation_href"), col("rn"), col("uid"),
          col("dt_pub"))
    }),

    // §3.2 format_doc_results (search_functions.py:90-123): the search
    // result page LATE-MATERIALIZES its enrichments — page keys first
    // (10 rows), THEN the legislative-origins attach runs only for those
    // keys (`get_docs_legs(uid_list)`), collected per doc as a sorted
    // list. Scale shape: the ≤pageSize page side broadcasts into the
    // edge join, so the corpus-sized edge table never shuffles for a
    // page render — the reference's two-phase fetch, as a plan.
    // orders≙docs, lineitem≙publication edge, 'leg/'||l_suppkey≙origin.
    "orp_search_enriched" -> ((s, d) => {
      val req = Search.Request(
        excludeStatus = Some("F"), page = 1, pageSize = 10)
      val docs = Tables.orders(s, d).select(
        col("o_orderkey").as("uid"),
        col("o_orderstatus").as("status"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("dt_pub"))
      val b = Search.Binding(uid = "uid", topic = "uid", text = "uid",
        docType = "uid", status = "status", title = "uid", date = "dt_pub")
      val page = Search.plan(docs, req, b)
      val edge = Tables.lineitem(s, d).select(
        col("l_orderkey").as("uid"),
        concat(lit("leg/"), col("l_suppkey")).as("leg"))
      // broadcast(page) is a SIZE-CONTRACTED hint (r20 review): the page
      // side is ≤ pageSize rows BY CONSTRUCTION (Search.plan's hard-cap
      // truncation), so the corpus-sized edge table never shuffles for a
      // page render — previously this held only via size-estimate
      // propagation through the Window+Filter, with nothing pinning it.
      page.hint("broadcast").join(edge, Seq("uid"), "left")
        .groupBy("rn", "uid", "dt_pub")
        .agg(array_join(array_sort(collect_set(col("leg"))), ",")
          .as("legislative_origins"))
    }),

    // ST2 graph-element extraction, entity half (extract_graph_elems.py:
    // 20-110): event rows → typed entity nodes with hash-derived ids.
    "g_extract_entities" -> ((s, d) => {
      val (entities, _) = StreamPipeline.extractElements(Tables.events(s, d))
      entities.distinct()
    }),

    // ST2 link half: publication edges user→event.
    "g_extract_links" -> ((s, d) => {
      val (_, links) = StreamPipeline.extractElements(Tables.events(s, d))
      links.select(col("link_type"), col("src_id"), col("dst_id"))
    }),

    // One PageRank power-iteration step over the extracted publication
    // graph (Jacobi step, uniform rank-1 start, damping 0.85; dangling
    // mass dropped — the standard one-step simplification). The scale
    // shape IS the whole algorithm: outdegree census (keyed agg) +
    // edge⋈degree (keyed join) + contribution sum (keyed agg) — three
    // hash exchanges on node ids per iteration, nothing driver-side.
    // Per-edge contributions are rounded then summed as DECIMAL so the
    // reduction is exact and associative — partition order can never
    // wiggle the low bits (double += is not associative; a parallel
    // engine must not let reduction order reach the result).
    "g_pagerank_step" -> ((s, d) => {
      val (_, links) = StreamPipeline.extractElements(Tables.events(s, d))
      val edges = links.select(col("src_id"), col("dst_id"))
      val outdeg = edges.groupBy("src_id").agg(count(lit(1)).as("deg"))
      val contrib = edges.join(outdeg, "src_id")
        .select(col("dst_id").as("node_id"),
          round(lit(1.0) / col("deg"), 9).cast("decimal(28,12)").as("c"))
        .groupBy("node_id")
        .agg(sum("c").as("m"))
        .select(col("node_id"),
          round(lit(0.15) + lit(0.85) * col("m").cast("double"), 6).as("rank"))
      val nodes = edges.select(col("src_id").as("node_id"))
        .unionByName(edges.select(col("dst_id").as("node_id"))).distinct()
      nodes.join(contrib, Seq("node_id"), "left")
        .select(col("node_id"), coalesce(col("rank"), lit(0.15)).as("rank"))
    }),

    // One synchronous label-propagation step over the publication graph
    // (community detection's inner loop; Raghavan et al. 2007): each
    // node adopts the most frequent label among its neighbors, ties
    // broken by smallest label so a synchronous sweep is deterministic
    // and reproducible across partitionings. Labels are seeded coarse
    // (node_id mod 64) so votes actually collide — identity seeding
    // would make every count 1 and the mode degenerate to min(id).
    // Scale shape, the whole story at 100 TB: undirected edges via a
    // row-local union + distinct (one keyed exchange), votes as ONE
    // keyed (node,label) count with map-side partials — a hub's votes
    // pre-collapse per partition — and the per-node winner via the
    // rank-1 window, which compiles to WindowGroupLimit and truncates
    // each node's candidate run map-side. No driver-side state, no
    // global sort; iteration = re-run with new_label as the seed.
    "g_label_prop_step" -> ((s, d) => {
      val (_, links) = StreamPipeline.extractElements(Tables.events(s, d))
      val e = links.select(col("src_id"), col("dst_id"))
      val und = e.unionByName(
          e.select(col("dst_id").as("src_id"), col("src_id").as("dst_id")))
        .distinct()
      val votes = und
        .select(col("src_id").as("node_id"),
          pmod(col("dst_id"), lit(64L)).as("label"))
        .groupBy("node_id", "label").agg(count(lit(1)).as("cnt"))
      val win = Window.partitionBy("node_id")
        .orderBy(col("cnt").desc, col("label").asc)
      votes.withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1)
        .select(col("node_id"), col("label").as("new_label"),
          col("cnt").as("votes"))
    }),

    // Inverted-index construction — the posting-list build behind the
    // search surface (P1/orp_search query it; this materializes it):
    // term → document frequency, total term frequency, and a capped
    // sorted postings sample. At 100 TB this is the classic skewed
    // wordcount, so the postings branch pre-prunes to the per-term
    // top-20 with a rank window BEFORE collect_list: the rn<=20 filter
    // compiles to WindowGroupLimit, which truncates each term's run
    // map-side, so a stop-word term never materializes more than 20
    // postings in any aggregation buffer (a bare slice-after-collect
    // would buffer the full hot-term list on one reducer first). df and
    // tf_total stay full aggregates on a separate keyed branch — those
    // are constant-size buffers and must see every row. The window
    // orders by the formatted posting string itself so the survivor set
    // is bit-identical to the oracle's list_sort(...)[1:20] string sort.
    "ix_postings" -> ((s, d) => {
      import graft.functions.Texts
      val exploded = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(Texts.tokens(col("text"))).as(Seq("pos", "term")))
        .select(col("term"), col("doc_id"),
          concat(col("doc_id"), lit(":"), col("pos") + 1).as("p"))
      val stats = exploded.groupBy("term")
        .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("tf_total"))
      val top = exploded
        .withColumn("rn",
          row_number().over(Window.partitionBy("term").orderBy("p")))
        .filter(col("rn") <= 20)
        .groupBy("term")
        .agg(array_join(array_sort(collect_list(col("p"))), ",")
          .as("postings"))
      stats.join(top, "term")
        .select(col("term"), col("df"), col("tf_total"), col("postings"))
    }),

    // Positional phrase retrieval over the inverted-index shape — the
    // "exact phrase" half of the search surface (and of retrieval-based
    // decontamination probes): docs where "table" is immediately
    // followed by "hash". Scale shape: the term whitelist filter rides
    // the explode PROJECTION, so the corpus scan emits only
    // matching-term postings (query-terms-sized, not corpus-sized); the
    // adjacency test is a keyed EQUI-join on (doc_id, pos) — pos-1 is
    // computed on the build side so Catalyst hashes both sides on the
    // same key, never a theta join — and the per-doc rollup is one
    // keyed agg. The classic positional-index intersection, with every
    // stage bounded by postings of the two query terms.
    "ix_phrase_query" -> ((s, d) => {
      import graft.functions.Texts
      val (t1, t2) = ("table", "hash")
      val u = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(Texts.tokens(col("text"))).as(Seq("p0", "term")))
        .filter(col("term").isin(t1, t2))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("term"))
      val a = u.filter(col("term") === t1).select(col("doc_id"), col("pos"))
      val b = u.filter(col("term") === t2)
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      a.join(b, Seq("doc_id", "pos"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_matches"), min("pos").as("first_pos"))
    }),

    // BM25 ranked retrieval over the posting stats (Robertson/Okapi,
    // Lucene's ln(1 + (N-df+0.5)/(df+0.5)) idf form; k1=1.2, b=0.75) —
    // the scoring layer the inverted index (ix_postings) exists to
    // serve, and the lexical side of retrieval-based decontamination.
    // Scale shape: term stats are restricted to the query's terms BEFORE
    // any aggregation (the filter rides the explode), df and the corpus
    // census are broadcast, the per-doc score is one keyed agg, and the
    // final selection is TakeOrdered top-k. Float discipline: every
    // constant is the same decimal literal in both engines, the per-term
    // partial scores sum in a FIXED order (s_join + s_filter + s_hash),
    // ranking uses the raw doubles (doc_id tiebreak), and only the
    // 4dp-rounded score ships.
    "ix_bm25" -> ((s, d) => {
      import graft.functions.Texts
      val qterms = Seq("join", "filter", "hash")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), Texts.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
      val census = docs.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      val tf = docs.select(col("doc_id"), col("dl"),
          explode(col("toks")).as("term"))
        .filter(col("term").isin(qterms: _*))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(countDistinct("doc_id").as("df"))
      val sc = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(census))
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))))
        .withColumn("sc", col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      val perDoc = sc.groupBy("doc_id")
        .agg(sum(when(col("term") === "join", col("sc"))).as("s0"),
          sum(when(col("term") === "filter", col("sc"))).as("s1"),
          sum(when(col("term") === "hash", col("sc"))).as("s2"))
        .select(col("doc_id"),
          (coalesce(col("s0"), lit(0.0)) + coalesce(col("s1"), lit(0.0)) +
            coalesce(col("s2"), lit(0.0))).as("score"))
      perDoc
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("rank"), col("doc_id"),
          round(col("score"), 4).as("score"))
    }),

    // Hybrid retrieval via Reciprocal Rank Fusion (Cormack, Clarke &
    // Büttcher, SIGIR'09 — public method; the standard k = 60): fuse
    // the lexical bm25 top-10 with the vector top-10 (cosine against
    // one query embedding, vec_id 0) as Σ 1/(k + rank) over the lists
    // a document appears in — THE hybrid first stage of an LLM
    // retrieval/RAG pipeline, rank-only so the two scorers'
    // incomparable scales never mix. Scale shape: each arm is already
    // scan-shaped (bm25's postings prune map-side; the vector arm is a
    // corpus scan + ONE broadcast query row + TakeOrdered — no corpus
    // sort, no shuffle of vectors), and the fusion itself joins two
    // ≤10-row frames — constant-size work at ANY corpus size, so the
    // fused ranking costs exactly what its arms cost. r20.
    "ix_rrf_fusion" -> ((s, d) => {
      import graft.functions.Vectors
      val lex = queries("ix_bm25")(s, d)
        .select(col("doc_id"), col("rank").as("lex_rank"))
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e.filter(col("vec_id") === 0).select(col("v").as("q_v"))
      val vec = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q)) // bounded one-row attach
        .withColumn("sim", Vectors.cosineRounded(col("v"), col("q_v")))
        .orderBy(col("sim").desc, col("vec_id").asc).limit(10)
        .withColumn("vec_rank", row_number().over(
          Window.orderBy(col("sim").desc, col("vec_id").asc)))
        .select(col("vec_id").as("doc_id"), col("vec_rank"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("rrf").desc, col("doc_id").asc)))
        .select(col("rank"), col("doc_id"), round(col("rrf"), 6).as("rrf"),
          col("lex_rank"), col("vec_rank"))
    }),

    // ST3–ST6 SCD-2 merge: current store ⊕ incoming batch → versioned
    // rows with archive flips (record_handler.py:39-80). Incoming is a
    // deterministic mutation of documents: every 3rd doc re-ingested
    // (forking when sim < 0.995), every 7th doc arrives as a brand-new
    // uid.
    "g_scd2_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val current = docs.select(
        col("doc_id").cast("string").as("uid"),
        col("text"), col("lang"), lit(1L).as("version"),
        when(col("doc_id") % 10 === 9, "archive").otherwise("published")
          .as("status"))
      val incoming = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").cast("string").as("uid"),
          concat(col("text"), lit(" amended")).as("text"), col("lang"),
          when(col("doc_id") % 6 === 0, 0.9).otherwise(0.999).as("sim"))
        // brand-new uids carry a non-numeric prefix: current uids are
        // pure digits, so "new_<id>" cannot collide at ANY corpus size
        // (the additive-offset scheme could, once doc ids pass the
        // offset — same latent pattern sig_store_refresh's ghost ids had)
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select(concat(lit("new_"), col("doc_id")).as("uid"),
            col("text"), col("lang"), lit(1.0).as("sim")))
      GraphMerge.merge(current, incoming, Seq("text", "lang"))
        .select(col("uid"), col("lang"), col("version"), col("status"),
          length(col("text")).as("tlen"))
    }),

    // Streaming throughput aggregation (batch form of the ST1 metrics
    // stream): tumbling 1-hour windows per event type.
    "st_throughput" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count("*").as("n"), round(sum(col("value").cast("decimal(18,4)")), 2).cast("double").as("total_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("event_type"), col("n"), col("total_value"))
    }),

    // A3 keyword dedup-max + top-k (keyword_extraction.py:95-101): per
    // group keep max score per member, then top-3.
    "a3_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("mx").desc, col("event_type").asc)
      Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(round(max("value"), 2).as("mx"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
    }),

    // ST7 ingest dedup gate: 3-way outcome (new/version/duplicate) for a
    // deterministic mutation batch vs the stored corpus
    // (check_duplicate.py:183-289): every 5th doc re-arrives; every 10th
    // with replaced content (→ new), every 15th with changed metadata
    // (→ version), the rest identical (→ duplicate).
    "dg_dedup_gate" -> ((s, d) => {
      val (inc0, corp0) = gateFixture(s, d)
      // Incremental signature maintenance (signedIncoming): the corpus
      // signature table is computed ONCE per (session, sfDir) and
      // persisted (classify reads it from several branches); the batch
      // re-signs only its mutated rows and reuses the stored signatures
      // otherwise.
      val corpSig = corpusSignatures(s, d)
      val incoming = signedIncoming(inc0,
        corpSig.withColumnRenamed("node_id", "uid"), cache = true)
      val corpus = corp0.join(corpSig, "node_id")
      DedupGate.classify(incoming, corpus, 4, 4)
    }),

    // ST7 gate against the MATERIALIZED on-disk signature store: same
    // fixture and outcome semantics as dg_dedup_gate, but the corpus
    // index is written once as a bucketed catalog table keyed by the
    // band key (Layout.bucketedStoreWrite) and every probe — candidate
    // join, per-node meta, and the batch's reused signatures — reads it
    // back from disk. The store side of the probe join carries ZERO
    // exchanges (bucket layout = join layout, pinned in PlanSpec): at
    // production scale the corpus-sized band shuffle is paid once at
    // write time, never per ingest batch. The write is the operator's
    // semantics (K2 sink convention), not an optimization cache.
    "dg_gate_stored" -> ((s, d) => {
      val (inc0, corp0) = gateFixture(s, d)
      val corpSig = corpusSignatures(s, d)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-sigstore-${d.replace('/', '_')}").getAbsolutePath
      val tbl = sigStoreTable(d)
      Layout.bucketedStoreWrite(
        DedupGate.bandedSigStore(corp0.join(corpSig, "node_id"), 4, 4),
        tbl, dir, 8, Seq("bkey"))
      val stored = s.table(tbl)
      // Incremental maintenance FROM THE STORE: the reuse side is the
      // band-0 store rows. (Every non-mutated incoming uid is live —
      // archived ids are ≡9 mod 10, incoming ≡0 mod 5 — so the inner
      // join drops nothing; a re-arriving archived doc would have to
      // re-sign like a mutated one.)
      val incoming = signedIncoming(inc0,
        stored.filter(col("band_id") === 0)
          .select(col("node_id").as("uid"), col("sig")))
      DedupGate.classifyStored(incoming, stored, 4, 4)
    }),

    // ST7 gate in the DELTA-STORE posture: the base index was written
    // BEFORE some changes happened (1/7th of the corpus hadn't arrived;
    // no archive flip had landed), and the probe composes base + the
    // late arrivals' delta + the flips' tombstones via
    // classifyStoredDelta — base side exchange-free, delta broadcast.
    // Same fixture, same oracle SQL as dg_dedup_gate/dg_gate_stored:
    // how the live index is PHYSICALLY organized (monolith, bucketed
    // table, or base+delta) must not change a single classified row.
    "dg_gate_delta" -> ((s, d) => {
      val (inc0, corp0) = gateFixture(s, d)
      val corpSig = corpusSignatures(s, d)
      // base as written at T0: the %7 tranche hadn't arrived, and docs
      // archived SINCE then were still published
      val base = DedupGate.bandedSigStore(
        corp0.filter(col("node_id") % 7 =!= 0)
          .withColumn("status", lit("published"))
          .join(corpSig, "node_id"), 4, 4)
      // the late tranche's delta (bandedSigStore drops its archived rows
      // itself — they were never live in any index generation)
      val delta = DedupGate.bandedSigStore(
        corp0.filter(col("node_id") % 7 === 0)
          .join(corpSig, "node_id"), 4, 4)
      val tombstones = corp0.filter(col("status") === "archive")
        .select("node_id")
      val incoming = signedIncoming(inc0,
        corpSig.withColumnRenamed("node_id", "uid"), cache = true)
      DedupGate.classifyStoredDelta(incoming, base, delta, tombstones, 4, 4,
        cacheBatch = true)
    }),

    // ST7 in the STREAMING delta-store posture, drained to a batch
    // frame: the dg_dedup_gate fixture routed through GateStoreLoop's
    // foreachBatch handler (init base → handleBatch(batchId 0) →
    // artifact read-back). The handler is exactly what
    // StreamPipeline.run wires under a checkpoint (StreamingSpec proves
    // redelivered batches are no-ops); here its on-disk artifacts ARE
    // the query result, so the oracle pins the production loop's
    // outcome semantics to the same SQL as the in-memory, stored, and
    // delta gates — four physical postures, one truth.
    "dg_stream_loop" -> ((s, d) => {
      val (inc0, corp0) = gateFixture(s, d)
      val corpSig = corpusSignatures(s, d)
      val base = DedupGate.bandedSigStore(corp0.join(corpSig, "node_id"), 4, 4)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-streamloop-${d.replace('/', '_')}").getAbsolutePath
      // deterministic re-runs (bench min-of-N, repeated sweeps): rewind
      // the store to its initial base so batch 0 always probes a fresh
      // base. The base itself — the corpus-sized store write — is
      // rebuilt once per JVM session (init clears every layer, so a
      // stale store from an earlier process never survives), exactly
      // the production split: base build is the amortized event, the
      // per-batch loop is what re-runs.
      streamLoopInit.synchronized {
        if (streamLoopInit.contains((s, d)))
          graft.streaming.GateStoreLoop.storeFs.rewind(s, dir)
        else {
          graft.streaming.GateStoreLoop.init(base, dir)
          streamLoopInit += ((s, d))
        }
      }
      val incoming = signedIncoming(inc0,
        corpSig.withColumnRenamed("node_id", "uid"))
      graft.streaming.GateStoreLoop.handleBatch(dir, 4, 4)(
        incoming.select("uid", "sig", "meta_key"), 0L)
      graft.streaming.GateStoreLoop.outcomes(s, dir)
    }),

    // O4 within-row top-n (keyword top-10 after lemma-dedup): top-5
    // distinct words per document, descending.
    "o4_topn_within_row" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_join(slice(reverse(array_sort(array_distinct(
            graft.functions.Texts.tokens(col("text"))))), 1, 5), ",")
            .as("top_words"))
    })
  )

  /** The bm25 oracle SQL, factored so ix_rrf_fusion composes the
    * IDENTICAL lexical arm as a subquery (r20 — the sim_ann_recall
    * discipline: a fused oracle must measure the same components the
    * fused engine query reads, verbatim). */
  private val bm25Sql: String =
    """WITH dd AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |dl AS (SELECT doc_id, len(toks) AS dl, toks FROM dd),
      |cen AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
      |tf AS (
      |  SELECT doc_id, dl, term, count(*) AS tf FROM (
      |    SELECT doc_id, dl, unnest(toks) AS term FROM dl) t
      |  WHERE term IN ('join', 'filter', 'hash')
      |  GROUP BY 1, 2, 3),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT t.doc_id, t.term,
      |    ln(1.0 + (c.n_docs - f.df + 0.5) / (f.df + 0.5)) *
      |    (t.tf * 2.2) /
      |    (t.tf + 1.2 * (0.25 + 0.75 * t.dl /
      |                   (c.sum_dl::DOUBLE / c.n_docs))) AS s
      |  FROM tf t JOIN df f USING (term) CROSS JOIN cen c),
      |agg AS (
      |  SELECT doc_id,
      |    coalesce(sum(s) FILTER (term = 'join'), 0.0) +
      |    coalesce(sum(s) FILTER (term = 'filter'), 0.0) +
      |    coalesce(sum(s) FILTER (term = 'hash'), 0.0) AS score
      |  FROM sc GROUP BY doc_id)
      |SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
      |  doc_id, round(score, 4) AS score
      |FROM agg ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Map(
    "ix_rrf_fusion" ->
      s"""WITH lex AS (SELECT doc_id, rank AS lex_rank FROM ($bm25Sql)),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS q_v FROM e WHERE vec_id = 0),
         |vs AS (
         |  SELECT e.vec_id,
         |    round(list_cosine_similarity(e.v, q.q_v), 4) AS sim
         |  FROM e, q WHERE e.vec_id <> 0),
         |vr AS (
         |  SELECT vec_id AS doc_id,
         |    row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS vec_rank
         |  FROM vs ORDER BY sim DESC, vec_id ASC LIMIT 10),
         |f AS (
         |  SELECT coalesce(lex.doc_id, vr.doc_id) AS doc_id,
         |    lex_rank, vec_rank
         |  FROM lex FULL OUTER JOIN vr ON lex.doc_id = vr.doc_id),
         |r AS (
         |  SELECT doc_id, lex_rank, vec_rank,
         |    coalesce(1.0::DOUBLE / (60 + lex_rank), 0.0) +
         |    coalesce(1.0::DOUBLE / (60 + vec_rank), 0.0) AS rrf
         |  FROM f)
         |SELECT row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank,
         |  doc_id, round(rrf, 6) AS rrf, lex_rank, vec_rank
         |FROM r ORDER BY rrf DESC, doc_id ASC""".stripMargin,
    "orp_search" ->
      """SELECT rn, doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (ORDER BY n_chars DESC, doc_id DESC) AS rn
        |  FROM documents
        |  WHERE lang = 'en' AND text LIKE '%join%' AND text LIKE '%filter%') t
        |WHERE rn BETWEEN 11 AND 20""".stripMargin,
    "orp_search_by_regulator" ->
      """SELECT rn, doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (ORDER BY n_chars DESC, doc_id DESC) AS rn
        |  FROM documents
        |  WHERE source IN ('src4', 'src7')) t
        |WHERE rn BETWEEN 1 AND 10""".stripMargin,
    "orp_search_by_leg" ->
      """WITH legs AS (
        |  SELECT 'leg/' || c_custkey AS legislation_href
        |  FROM customer
        |  WHERE 'leg/' || c_custkey IN ('leg/7', 'leg/23', 'leg/911')),
        |live AS (
        |  SELECT o_orderkey AS uid,
        |         'leg/' || o_custkey AS pub_leg,
        |         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS dt_pub
        |  FROM orders WHERE o_orderstatus <> 'F'),
        |capped AS (
        |  SELECT l.legislation_href, d.uid, d.dt_pub
        |  FROM legs l JOIN live d ON d.pub_leg = l.legislation_href
        |  ORDER BY l.legislation_href ASC, d.dt_pub DESC, d.uid DESC
        |  LIMIT 15)
        |SELECT legislation_href, rn, uid, dt_pub FROM (
        |  SELECT *, row_number() OVER (PARTITION BY legislation_href
        |                               ORDER BY dt_pub DESC, uid DESC) AS rn
        |  FROM capped) t
        |WHERE rn <= 3""".stripMargin,
    "orp_search_enriched" ->
      """WITH docs AS (
        |  SELECT o_orderkey AS uid, o_orderstatus AS status,
        |         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS dt_pub
        |  FROM orders),
        |page AS (
        |  SELECT rn, uid, dt_pub FROM (
        |    SELECT uid, dt_pub,
        |           row_number() OVER (ORDER BY dt_pub DESC, uid DESC) AS rn
        |    FROM docs WHERE status <> 'F') t
        |  WHERE rn BETWEEN 11 AND 20),
        |edge AS (
        |  SELECT l_orderkey AS uid, 'leg/' || l_suppkey AS leg
        |  FROM lineitem)
        |SELECT p.rn, p.uid, p.dt_pub,
        |  coalesce(array_to_string(list_sort(
        |    list(DISTINCT e.leg) FILTER (e.leg IS NOT NULL)), ','), '')
        |    AS legislative_origins
        |FROM page p LEFT JOIN edge e USING (uid)
        |GROUP BY p.rn, p.uid, p.dt_pub""".stripMargin,
    "ix_bm25" -> bm25Sql,
    "g_extract_entities" ->
      """SELECT DISTINCT * FROM (
        |  SELECT ('0x' || substr(md5('user_' || user_id), 1, 15))::BIGINT AS node_id,
        |         'regulatoryAgent' AS entity_type, user_id::VARCHAR AS key
        |  FROM events
        |  UNION ALL
        |  SELECT ('0x' || substr(md5('event_' || event_id), 1, 15))::BIGINT,
        |         'regulatoryDocument', event_id::VARCHAR
        |  FROM events) t""".stripMargin,
    "g_extract_links" ->
      """SELECT 'publication' AS link_type,
        |  ('0x' || substr(md5('user_' || user_id), 1, 15))::BIGINT AS src_id,
        |  ('0x' || substr(md5('event_' || event_id), 1, 15))::BIGINT AS dst_id
        |FROM events""".stripMargin,
    "g_pagerank_step" ->
      """WITH e AS (
        |  SELECT ('0x' || substr(md5('user_' || user_id), 1, 15))::BIGINT
        |           AS src_id,
        |         ('0x' || substr(md5('event_' || event_id), 1, 15))::BIGINT
        |           AS dst_id
        |  FROM events),
        |deg AS (SELECT src_id, count(*) AS deg FROM e GROUP BY src_id),
        |contrib AS (
        |  SELECT e.dst_id AS node_id,
        |    round(0.15 + 0.85 *
        |      sum(round(1.0 / deg.deg, 9)::DECIMAL(28,12))::DOUBLE, 6)
        |      AS rank
        |  FROM e JOIN deg USING (src_id) GROUP BY e.dst_id),
        |nodes AS (
        |  SELECT src_id AS node_id FROM e
        |  UNION SELECT dst_id FROM e)
        |SELECT n.node_id, coalesce(c.rank, 0.15) AS rank
        |FROM nodes n LEFT JOIN contrib c USING (node_id)""".stripMargin,
    "g_label_prop_step" ->
      """WITH e AS (
        |  SELECT ('0x' || substr(md5('user_' || user_id), 1, 15))::BIGINT
        |           AS src_id,
        |         ('0x' || substr(md5('event_' || event_id), 1, 15))::BIGINT
        |           AS dst_id
        |  FROM events),
        |und AS (
        |  SELECT DISTINCT src_id, dst_id FROM (
        |    SELECT src_id, dst_id FROM e
        |    UNION ALL
        |    SELECT dst_id AS src_id, src_id AS dst_id FROM e) u),
        |votes AS (
        |  SELECT src_id AS node_id, dst_id % 64 AS label, count(*) AS cnt
        |  FROM und GROUP BY 1, 2),
        |ranked AS (
        |  SELECT node_id, label, cnt,
        |    row_number() OVER (PARTITION BY node_id
        |                       ORDER BY cnt DESC, label ASC) AS rn
        |  FROM votes)
        |SELECT node_id, label AS new_label, cnt AS votes
        |FROM ranked WHERE rn = 1""".stripMargin,
    "ix_postings" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i AS pos, tk[i] AS term
        |  FROM t, unnest(generate_series(1, len(tk))) AS u(i))
        |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf_total,
        |  array_to_string(
        |    list_sort(list(doc_id::VARCHAR || ':' || pos::VARCHAR))[1:20], ',')
        |    AS postings
        |FROM p GROUP BY term""".stripMargin,
    "ix_phrase_query" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos, tk[i] AS term
        |  FROM t, unnest(generate_series(1, len(tk))) AS g(i)
        |  WHERE tk[i] IN ('table', 'hash')),
        |a AS (SELECT doc_id, pos FROM u WHERE term = 'table'),
        |b AS (SELECT doc_id, pos - 1 AS pos FROM u WHERE term = 'hash')
        |SELECT a.doc_id, count(*) AS n_matches, min(a.pos) AS first_pos
        |FROM a JOIN b USING (doc_id, pos)
        |GROUP BY a.doc_id""".stripMargin,
    "g_scd2_merge" ->
      """WITH cur AS (
        |  SELECT doc_id::VARCHAR AS uid, text, lang, 1::BIGINT AS version,
        |    CASE WHEN doc_id % 10 = 9 THEN 'archive' ELSE 'published' END AS status
        |  FROM documents),
        |inc AS (
        |  SELECT doc_id::VARCHAR AS uid, text || ' amended' AS text, lang,
        |    CASE WHEN doc_id % 6 = 0 THEN 0.9 ELSE 0.999 END AS sim
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'new_' || doc_id, text, lang, 1.0
        |  FROM documents WHERE doc_id % 7 = 0),
        |live AS (SELECT * FROM cur WHERE status <> 'archive'),
        |archived AS (SELECT * FROM cur WHERE status = 'archive'),
        |matched AS (SELECT i.*, l.version AS cur_version
        |            FROM inc i JOIN live l USING (uid)),
        |inserts AS (
        |  SELECT i.uid, i.text, i.lang, 1::BIGINT AS version,
        |         'published' AS status
        |  FROM inc i LEFT JOIN live l USING (uid) WHERE l.uid IS NULL),
        |forked AS (
        |  SELECT uid, text, lang, cur_version + 1 AS version,
        |         'published' AS status
        |  FROM matched WHERE sim < 0.995),
        |newly_archived AS (
        |  SELECT l.uid, l.text, l.lang, l.version, 'archive' AS status
        |  FROM live l WHERE l.uid IN (SELECT uid FROM matched WHERE sim < 0.995)),
        |updated AS (
        |  SELECT uid, text, lang, cur_version AS version, 'published' AS status
        |  FROM matched WHERE sim >= 0.995),
        |untouched AS (
        |  SELECT * FROM live WHERE uid NOT IN (SELECT uid FROM inc)),
        |unioned AS (
        |  SELECT * FROM archived UNION ALL SELECT * FROM newly_archived
        |  UNION ALL SELECT * FROM untouched UNION ALL SELECT * FROM updated
        |  UNION ALL SELECT * FROM inserts UNION ALL SELECT * FROM forked)
        |SELECT uid, lang, version, status, strlen(text) AS tlen FROM unioned""".stripMargin,
    "st_throughput" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |  event_type, count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "a3_topk_per_group" ->
      """SELECT user_id, event_type, mx, rk FROM (
        |  SELECT user_id, event_type, mx,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY mx DESC, event_type ASC) AS rk
        |  FROM (SELECT user_id, event_type, round(max(value), 2) AS mx
        |        FROM events GROUP BY 1, 2) a) b
        |WHERE rk <= 3""".stripMargin,
    "dg_dedup_gate" -> dgGateSql,
    // The stored-gate variant is outcome-identical by design: the oracle
    // is the SAME SQL — materializing the index on disk must not change
    // a single classified row.
    "dg_gate_stored" -> dgGateSql,
    // And the base+delta+tombstone composition must be too.
    "dg_gate_delta" -> dgGateSql,
    // …and the streaming foreachBatch loop's on-disk artifacts.
    "dg_stream_loop" -> dgGateSql,
    "o4_topn_within_row" ->
      """SELECT doc_id,
        |  array_to_string(
        |    (list_sort(list_distinct(list_filter(string_split(text, ' '),
        |                                         x -> x <> '')), 'DESC'))[1:5], ',')
        |  AS top_words
        |FROM documents""".stripMargin
  )

  private lazy val dgGateSql: String = {
      val estJac =
        "round(len(list_filter(generate_series(1, 16), i -> a.sig[i] = c.sig[i]))::DOUBLE / 16, 6)"
      s"""WITH inc0 AS (
         |  SELECT doc_id AS uid,
         |    CASE WHEN doc_id % 10 = 0
         |         THEN 'completely different content block ' || doc_id
         |         ELSE text END AS itext,
         |    CASE WHEN doc_id % 15 = 0 THEN 'xx' ELSE lang END AS meta_key
         |  FROM documents WHERE doc_id % 5 = 0),
         |incsig AS (
         |${MinHashPipeline.signaturesSql("inc0", "uid", "itext")}),
         |corp0 AS (
         |  SELECT doc_id AS node_id, text, lang AS meta_key,
         |    CASE WHEN doc_id % 10 = 9 THEN 'archive' ELSE 'published' END AS status
         |  FROM documents),
         |corpsig AS (
         |${MinHashPipeline.signaturesSql("corp0", "node_id", "text")}),
         |incband AS (
         |  SELECT uid, sig, b AS band_id,
         |    array_to_string(sig[b*4+1 : b*4+4], '_') AS band_key
         |  FROM incsig, unnest(generate_series(0, 3)) AS u(b)),
         |corpband AS (
         |  SELECT s.node_id, s.sig, b AS band_id,
         |    array_to_string(s.sig[b*4+1 : b*4+4], '_') AS band_key
         |  FROM corpsig s JOIN corp0 c0 ON s.node_id = c0.node_id
         |       AND c0.status <> 'archive',
         |       unnest(generate_series(0, 3)) AS u(b)),
         |candidates AS (
         |  SELECT DISTINCT a.uid, c.node_id AS match_id, $estJac AS sim,
         |         true AS from_corpus
         |  FROM incband a JOIN corpband c
         |    ON a.band_id = c.band_id AND a.band_key = c.band_key
         |  WHERE $estJac >= 0.95
         |  UNION
         |  SELECT DISTINCT a.uid, c.uid AS match_id, $estJac AS sim,
         |         false AS from_corpus
         |  FROM incband a JOIN incband c
         |    ON a.band_id = c.band_id AND a.band_key = c.band_key
         |   AND a.uid > c.uid
         |  WHERE $estJac >= 0.95),
         |best AS (
         |  SELECT uid, match_id, sim, from_corpus FROM (
         |    SELECT uid, match_id, sim, from_corpus,
         |      row_number() OVER (PARTITION BY uid
         |        ORDER BY sim DESC, from_corpus DESC, match_id ASC) AS rk
         |    FROM candidates) r WHERE rk = 1),
         |meta AS (
         |  SELECT b.uid, b.sim AS best_sim, b.from_corpus, b.match_id,
         |    CASE WHEN b.from_corpus THEN cm.meta_key ELSE bm.meta_key END
         |      AS matched_meta
         |  FROM best b
         |  LEFT JOIN corp0 cm ON b.from_corpus AND b.match_id = cm.node_id
         |  LEFT JOIN inc0 bm ON NOT b.from_corpus AND b.match_id = bm.uid)
         |SELECT i.uid,
         |  CASE WHEN m.best_sim IS NOT NULL AND m.matched_meta = i.meta_key
         |            THEN 'duplicate'
         |       WHEN m.best_sim IS NOT NULL THEN 'version'
         |       ELSE 'new' END AS outcome,
         |  CASE WHEN m.from_corpus THEN m.match_id END AS matched_node_id,
         |  m.best_sim,
         |  CASE WHEN NOT m.from_corpus THEN m.match_id END AS batch_twin
         |FROM inc0 i
         |LEFT JOIN meta m ON i.uid = m.uid""".stripMargin
  }
}
