package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape audit — the ".explain and iterate" discipline:
  * filters/projection must reach the parquet scan, dimension joins must
  * broadcast, aggregations must have a map-side partial stage, and hot
  * expressions must sit inside whole-stage codegen. These assertions pin
  * the plans that survive a 100 TB scale-up. */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every node of a final adaptive plan, descending through the AQE
    * wrappers (AdaptiveSparkPlanExec → its current executedPlan, query
    * stages → their materialized plan). ReusedExchange is NOT descended:
    * its target is reached via the original stage, and descending both
    * would double-count. */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => q +: allNodes(q.plan)
      case _: ReusedExchangeExec => Seq(p)
      case other => other +: other.children.flatMap(allNodes)
    }
  }

  /** Count the shuffle exchanges sitting ABOVE a scan matched by
    * `marker` (optionally only exchanges partitioned on `key`) — the
    * stub-immune form of "the stored side never re-shuffles": an AQE
    * pre-shuffle stub left behind by a runtime broadcast conversion
    * never has the stored side's scan in its subtree, while a REAL
    * re-shuffle of the stored relation does, so this count is exact
    * where a plan-string exchange count needs a tolerance (the r17
    * `<= 2` relaxation this replaces). `key` scopes the count to the
    * join key under scrutiny — a downstream ranking exchange (e.g. the
    * per-query top-k window) legitimately has the whole plan in its
    * subtree and must not trip the pin. */
  /** allNodes twin that DESCENDS ReusedExchangeExec — for EXISTENCE
    * checks only (r19, ADVICE): an exchange whose subtree reaches the
    * marked base scan only through a reused exchange would otherwise be
    * invisible to the overBase pin, letting a real re-shuffle pass. The
    * outer COUNTING walk stays reuse-blind (descending both the
    * original stage and its reuse would double-count). */
  private def allThroughReuse(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => allThroughReuse(a.executedPlan)
      case q: QueryStageExec => q +: allThroughReuse(q.plan)
      case r: ReusedExchangeExec => r +: allThroughReuse(r.child)
      case other => other +: other.children.flatMap(allThroughReuse)
    }
  }

  private def shufflesOverScan(df: DataFrame, marker: String,
      key: String = ""): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    allNodes(df.queryExecution.executedPlan).count {
      case e: ShuffleExchangeLike =>
        (key.isEmpty ||
          e.outputPartitioning.toString.contains(key)) &&
        allThroughReuse(e).exists(n =>
          n.getClass.getSimpleName.contains("FileSourceScan") &&
            n.toString.contains(marker))
      case _ => false
    }
  }

  /** Materialize the frame's OWN query execution (df.count() builds a
    * separate aggregate QE, leaving df's adaptive plan un-finalized)
    * and return its final adaptive plan string. */
  private def executedPlanOf(df: DataFrame): String = {
    df.queryExecution.executedPlan.execute().count()
    df.queryExecution.executedPlan.toString
  }

  test("s10: predicate pushdown and column pruning reach the scan") {
    val p = planOf(SourceSinkQueries.queries("s10_pushdown_scan")(spark, sf))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("IsNotNull(l_quantity)") || p.contains("GreaterThan(l_quantity"))
    // pruned read schema: only the 3 referenced columns
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice"))
  }

  test("j2: 5-row dimension join is a broadcast hash join, no shuffle of the fact side") {
    val p = planOf(RelationalQueries.queries("j2_broadcast_dim")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q1: aggregation has a map-side partial stage before the exchange") {
    val p = planOf(RelationalQueries.queries("q1_agg")(spark, sf))
    assert(p.contains("partial_sum"))
    assert(p.indexOf("partial_sum") > p.indexOf("Exchange"),
      "partial agg must be below the exchange")
  }

  test("dd_minhash_lsh: band join is a hash/merge equi-join, never a cross join") {
    val p = planOf(DedupQueries.queries("dd_minhash_lsh")(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("dd_jaccard_prefix: candidate join is a keyed equi-join; verify " +
    "attaches via hash joins; the only nested loop is the 1-row " +
    "injectivity-guard scalar attach") {
    val p = planOf(DedupQueries.queries("dd_jaccard_prefix")(spark, sf))
    assert(!p.contains("CartesianProduct"))
    // r15: the encoded-verify guard crosses a broadcast ONE-ROW
    // collision count onto the rep frame (the documented scalar-attach
    // pattern) — exactly one BNLJ, nothing corpus-sized on either side
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1)
    // and the array attaches themselves are the hinted hash joins
    assert(p.contains("ShuffledHashJoin"),
      "verify must attach rep arrays via shuffle-hash (the posture " +
        "that survives the ~sf10 decade — SCALE.md r15)")
  }

  test("dedup gate: the corpus-vs-batch band join broadcasts the batch " +
    "probe (no corpus shuffle on band_key)") {
    val p = planOf(OrpQueries.queries("dg_dedup_gate")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup gate: the similarity verify sits ABOVE the candidate-pair " +
    "dedup — one signature walk per distinct (uid, match_id) pair, " +
    "never per band hit") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // The corpus-hit family dedups in verifyOncePerPair, the batch-twin
    // family in verifyTwinPairs (r16 split — from_corpus is a constant
    // within each branch, so RemoveLiteralFromGroupExpressions leaves
    // both aggregates grouping on the bare (uid, match_id) pair); pin
    // the two variants with distinct probe shapes (broadcast in-memory
    // vs bucketed store): each must carry BOTH pair-dedup aggregates.
    for (q <- Seq("dg_dedup_gate", "dg_gate_delta")) {
      val plan = OrpQueries.queries(q)(spark, sf).queryExecution.optimizedPlan
      val pairDedups = plan.collect {
        case a: Aggregate
            if a.groupingExpressions.exists(_.toString.contains("match_id")) &&
              a.groupingExpressions.exists(_.toString.contains("uid")) =>
          a
      }
      assert(pairDedups.size >= 2,
        s"$q: expected the corpus-hit AND batch-twin (uid, match_id) " +
          s"pair-dedup aggregates in the optimized plan, found " +
          s"${pairDedups.size}")
      // The verify is minhashJaccard's zip_with walk, which the
      // GraftRules optimizer rule rewrites into the native SigAgree
      // expression (prints as `sigagree`); either spelling below the
      // dedup aggregate would mean once-per-band-hit evaluation.
      def hasVerify(s: String) =
        s.contains("zip_with") || s.contains("sigagree")
      pairDedups.foreach { a =>
        assert(!hasVerify(a.child.toString),
          s"$q: the similarity verify appears BELOW the pair-dedup " +
            "aggregate — it would run once per band hit")
      }
      assert(hasVerify(plan.toString),
        s"$q: the similarity verify vanished from the plan entirely")
    }
  }

  test("sampling/split filters are scan-narrow: zero exchanges in the plan") {
    for (q <- Seq("samp_stratified", "samp_hash_split")) {
      val p = planOf(MixQueries.queries(q)(spark, sf))
      assert(!p.contains("Exchange"), s"$q must not shuffle")
    }
  }

  test("mix_datacard rollup is one pass: a single scan, partial agg below the exchange") {
    val df = MixQueries.queries("mix_datacard")(spark, sf)
    val p = planOf(df)
    assert(p.contains("Expand"), "rollup should expand grouping sets, not union scans")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "the corpus must be scanned exactly once across all grouping levels")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("dd_decontaminate and ta_oov_rate broadcast the small corpus artifact") {
    val pd = planOf(DedupQueries.queries("dd_decontaminate")(spark, sf))
    assert(pd.contains("BroadcastHashJoin"),
      "benchmark gram set must broadcast")
    val po = planOf(TextQueries.queries("ta_oov_rate")(spark, sf))
    assert(po.contains("BroadcastHashJoin"), "induced vocab must broadcast")
  }

  test("salted LSH self-join produces row-identical pairs to unsalted") {
    import graft.functions.Hashes
    val sig = MinHashPipeline.signatures(
      Tables.documents(spark, sf), "doc_id", col("text"))
    val banded = sig.select(col("doc_id"),
      explode(Hashes.bands(col("sig"), 4, 4)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_key"))
    val unsalted = banded.alias("a")
      .join(banded.alias("b"), Seq("band_id", "band_key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
      .distinct().orderBy("x", "y").collect().toSeq
    val (sa, sb, keys) =
      Skew.saltedSelfJoinSides(banded, Seq("band_id", "band_key"), "doc_id", 8)
    val salted = sa.alias("a").join(sb.alias("b"), keys)
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"))
      .distinct().orderBy("x", "y").collect().toSeq
    assert(salted == unsalted && unsalted.nonEmpty)
  }

  test("top-k-per-group windows get the rank-limit pushdown " +
    "(WindowGroupLimit prunes map-side before the shuffle)") {
    // Spark's InferWindowGroupLimit rewrites `row_number ... rn <= k`
    // into a partial per-key top-k BELOW the exchange — the built-in
    // operator for what would otherwise need a custom SparkPlan. Pin it
    // so a query-shape change never silently loses the pushdown.
    val a3 = planOf(OrpQueries.queries("a3_topk_per_group")(spark, sf))
    assert(a3.contains("WindowGroupLimit"))
    // two instances: Final above the exchange, Partial below — the
    // partial (map-side) one is the pruning that matters at scale
    assert(a3.lastIndexOf("WindowGroupLimit") > a3.indexOf("Exchange"),
      "partial group-limit must appear below the exchange in plan text")
    val m3 = planOf(EnrichQueries.queries("m3_keywords")(spark, sf))
    assert(m3.contains("WindowGroupLimit"))
  }

  test("RewriteMinHashAgreement: the zip_with agreement HOF is rewritten " +
    "to the native SigAgree by the injected optimizer rule") {
    import graft.functions.Hashes
    // the session is built with spark.sql.extensions=GraftExtensions, so
    // the rule is active engine-wide
    val sig = MinHashPipeline.signatures(
      Tables.documents(spark, sf).limit(50), "doc_id", col("text"))
    val est = sig.alias("a").join(sig.alias("b"),
        col("a.doc_id") === col("b.doc_id"))
      .select(Hashes.minhashJaccard(col("a.sig"), col("b.sig")).as("j"))
    assert(est.queryExecution.optimizedPlan.toString.contains("sigagree"),
      "optimizer must substitute SigAgree for the HOF chain")
    assert(est.collect().forall(_.getDouble(0) == 1.0))
  }

  test("SigAgree matches the HOF semantics on ragged and null inputs") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", ArrayType(LongType, containsNull = true)),
      StructField("b", ArrayType(LongType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row(Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),
      Row(Seq(1L, 2L, 3L, 4L), Seq(1L, 2L)), // ragged: zip_with pads null
      Row(Seq(1L, null, 3L, null).map(_.asInstanceOf[java.lang.Long])
        .map(v => if (v == null) null else v.longValue()),
        Seq(1L, 2L, 3L, 4L)))
    val df = spark.createDataFrame(rows, schema)
    val hof = df.select(
      (size(filter(zip_with(col("a"), col("b"), (x, y) => x === y),
        e => e)).cast("double") / size(col("a"))).as("v")).collect().map(_.getDouble(0))
    val native = df.select(
      graft.plans.Native.sig_agree(col("a"), col("b")).as("v"))
      .collect().map(_.getDouble(0))
    assert(hof.toSeq == native.toSeq)
    // r20 review: an EMPTY first (denominator) array replicates the
    // Divide(0, 0) it replaces — DIVIDE_BY_ZERO under ANSI (Spark 4's
    // default), NULL off it — never the old 0.0/0=NaN (NaN would poison
    // avg/sum above it, where NULL is ignored). Both modes pinned.
    val empty = spark.createDataFrame(java.util.Arrays.asList(
      Row(Seq.empty[Long], Seq.empty[Long])), schema)
    def emptyEval() = empty
      .select(graft.plans.Native.sig_agree(col("a"), col("b"))).collect()
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val e = intercept[Exception](emptyEval())
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("DIVIDE_BY_ZERO")),
        s"ANSI mode must raise DIVIDE_BY_ZERO on an empty array: $e")
      spark.conf.set("spark.sql.ansi.enabled", "false")
      assert(emptyEval().head.isNullAt(0),
        "off ANSI, sig_agree on an empty array must be NULL like Divide")
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("sig_min refuses mixed signature widths in one group instead of " +
    "silently truncating by arrival order (r20 review)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("g", IntegerType),
      StructField("s", ArrayType(LongType, containsNull = false))))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1, Seq(5L, 1L, 7L)), Row(1, Seq(2L, 9L))), schema)
    val e = intercept[Exception] {
      df.groupBy("g")
        .agg(graft.plans.Native.sig_min_agg(col("s")).as("m")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("mixed signature widths")),
      s"expected the loud mixed-width refusal, got: $e")
  }

  test("native expressions run inside whole-stage codegen (no fallback)") {
    import graft.plans.Native
    val df = Tables.embeddings(spark, sf)
      .select(Native.cosine_sim(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")).as("c"))
    val p = planOf(df)
    // `*(n)` prefixes mark operators fused into a WholeStageCodegen stage
    // the native prints as the StaticInvoke it is replaced with
    assert(p.contains(
      "*(1) Project [static_invoke(graft.plans.NativeImpl.cosine("))
    // evaluating forces the generated code path; any codegen error would
    // fall back and/or throw here
    assert(df.limit(5).collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("native functions are callable from SQL after registration") {
    graft.plans.Native.register(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |       simhash64(array('a','b')) AS s,
        |       size(minhash_sig('hello world text')) AS m,
        |       size(datasketch_minhash('hello world text')) AS dm,
        |       sorted_intersect_count(array('a','b','c'), array('b','c')) AS i
        |""".stripMargin)
      .head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getInt(2) == 256 && r.getInt(3) == 256)
    assert(r.getInt(4) == 2)
    // top_k_pairs (r19): registered as a UDAF with a literal k; output
    // arrives rank-ordered (score DESC, id ASC)
    val tk = spark.sql(
      """SELECT top_k_pairs(s, i, 2) AS t FROM VALUES
        |  (0.9D, 1L), (0.5D, 2L), (0.95D, 3L) AS v(s, i)""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(x => (x.getDouble(0), x.getLong(1))) ==
      Seq((0.95, 3L), (0.9, 1L)),
      "top_k_pairs must return the rank-ordered bounded top-k from SQL")
    // r20 (ADVICE): arg validation + implicit casts at the SQL surface —
    // an INT id / cast-able score coerces like a built-in aggregate...
    val tkInt = spark.sql(
      """SELECT top_k_pairs(s, i, 1) AS t FROM VALUES
        |  (0.9D, 1), (0.95D, 3) AS v(s, i)""".stripMargin)
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(tkInt.map(x => (x.getDouble(0), x.getLong(1))) ==
      Seq((0.95, 3L)), "INT ids must implicit-cast to LONG")
    // ...a non-foldable k fails analysis with the parameter named...
    val nf = intercept[Exception](spark.sql(
      """SELECT top_k_pairs(s, i, CAST(i AS INT)) FROM VALUES
        |  (0.9D, 1L) AS v(s, i)""".stripMargin))
    assert(nf.getMessage.contains("foldable"),
      s"non-foldable k must name the contract: ${nf.getMessage}")
    // ...and a NULL k is rejected instead of NPE-ing the builder
    val nk = intercept[Exception](spark.sql(
      "SELECT top_k_pairs(1.0D, 1L, CAST(NULL AS INT))"))
    assert(nk.getMessage.contains("NULL"),
      s"null k must be named, not NPE: ${nk.getMessage}")
  }

  test("GraftExtensions installs the same functions at session build time") {
    // a new session's registry is the builtins plus the session
    // extensions (spark.sql.extensions=GraftExtensions here), without
    // the temp functions Native.register adds to this session
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    val injected = reg.listFunction()
      .filter(id => reg.lookupFunction(id).exists(_.getClassName == "graft"))
      .map(_.funcName).toSet
    assert(injected == graft.plans.Native.sqlFunctions.map(_._1).toSet,
      "the extension must inject exactly the Native.sqlFunctions table")
    // gear_boundaries was once missing from the extension: it must run
    // from SQL in a session that never called Native.register
    val g = fresh.sql("SELECT gear_boundaries('content defined chunking " +
      "splits text at gear hash boundaries so edits stay local')")
      .head.getSeq[Int](0)
    assert(g == Seq(22, 48), s"gear boundaries from SQL: $g")
  }

  test("search plan: filter sits under the pagination window, not above it") {
    val req = Search.Request(topicEquals = Some("en"), pageSize = 10)
    val b = Search.Binding("doc_id", "lang", "text", "source", "source",
      "text", "n_chars")
    val df = Search.plan(Tables.documents(spark, sf), req, b)
    val p = planOf(df)
    // the lang filter must be pushed to the scan, not evaluated post-window
    assert(p.contains("PushedFilters") && p.contains("EqualTo(lang,en)"))
  }

  test("j9_asof_join: no join operator at all — union + one keyed window, " +
    "never a per-user range join") {
    val p = planOf(RelationalQueries.queries("j9_asof_join")(spark, sf))
    assert(!p.contains("Join"), "as-of must be the union+window form")
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(user_id"))
  }

  test("sim_knn_graph: bucket self-join is a keyed equi-join with " +
    "bounded map-side top-k aggregation") {
    val p = planOf(SimilarityQueries.queries("sim_knn_graph")(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // r19: the rank stage is the primitive bounded aggregate — partial
    // (map-side) top_k_pairs under ObjectHashAggregate, so the shuffle
    // carries <= k pairs per (task, group) at any fan-out
    assert(p.contains("ObjectHashAggregate") &&
      p.contains("partial_top_k_pairs"),
      s"the knn rank stage must be the bounded aggregate:\n$p")
  }

  test("dd_chunk_dedup: first-occurrence agg and keep-join are keyed " +
    "(hash) operations — no nested loop anywhere") {
    val p = planOf(CorpusQueries.queries("dd_chunk_dedup")(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "first-occurrence must combine map-side")
  }

  test("dd_cdc_dedup: boundary detection is row-local at the scan — no " +
    "join of any kind, and only the slim chunk-hash aggregation " +
    "shuffles") {
    val p = planOf(CorpusQueries.queries("dd_cdc_dedup")(spark, sf))
    assert(!p.contains("Join"), "CDC chunking must not join")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2,
      s"$exchanges exchanges — the per-position boundary predicate and " +
        "chunk assembly must evaluate at the scan; only the chash " +
        "aggregate (partial + distinct-doc expand) may shuffle")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      "the chunk-hash aggregation must combine map-side")
  }

  test("dd_cdc_bounded: the serial clamp stays row-local — the aggregate " +
    "fold runs at the scan, no join, same slim-shuffle posture as the " +
    "unbounded variant") {
    val p = planOf(CorpusQueries.queries("dd_cdc_bounded")(spark, sf))
    assert(!p.contains("Join"), "bounded CDC must not join")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2,
      s"$exchanges exchanges — the legalization fold is per-row array " +
        "arithmetic and must not add a shuffle over the unbounded plan")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      "the chunk-hash aggregation must combine map-side")
  }

  test("ta_tfidf: the vocabulary DF table broadcasts onto per-doc TF") {
    val p = planOf(CorpusQueries.queries("ta_tfidf")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("WindowGroupLimit"))
  }

  test("ta_quality_trim: the corpus never shuffles — only the tiny value " +
    "census does") {
    val p = planOf(CorpusQueries.queries("ta_quality_trim")(spark, sf))
    // the doc-side filter is a broadcast of two scalars, not an exchange
    // of the corpus: no hashpartitioning on any documents column
    assert(!p.contains("hashpartitioning(doc_id"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("pipe_corpus_refinery: composed stages add no cartesian and keep " +
    "the decontamination gram set broadcast") {
    val p = planOf(CorpusQueries.queries("pipe_corpus_refinery")(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("partial_min") || p.contains("partial_count"))
  }

  test("j10_range_join: bucketized interval join is a keyed equi-join, " +
    "never a cartesian theta-join") {
    val p = planOf(RelationalQueries.queries("j10_range_join")(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("sk_kmv_distinct: per-group minimum-hash top-k prunes map-side") {
    val p = planOf(CorpusQueries.queries("sk_kmv_distinct")(spark, sf))
    assert(p.contains("WindowGroupLimit"))
  }

  test("samp_leakage_guard: eval band keys broadcast — the train side " +
    "never shuffles on band_key, and nothing goes cartesian") {
    val p = planOf(MixQueries.queries("samp_leakage_guard")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the eval-side distinct band-key set must broadcast into the probe")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("ta_lm_score: the model collapses to a 1-row broadcast map — " +
    "the scoring pass folds in-row, no corpus-keyed shuffle anywhere") {
    val p = planOf(TextQueries.queries("ta_lm_score")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row model map must broadcast onto the corpus scan")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-sized shuffle may appear anywhere in the plan")
    assert(!p.contains("CartesianProduct"))
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2,
      s"model stats must derive from ONE model reference (windows over " +
        s"the tiny aggregate), not per-stat corpus re-scans; saw $scans")
  }

  test("emb_pca_step: the matvec is join-free — per-dim partial sums " +
    "are the only thing that ever rides an exchange") {
    val p = planOf(SimilarityQueries.queries("emb_pca_step")(spark, sf))
    assert(!p.contains("Join"), "the power-iteration step needs no join")
    assert(p.contains("partial"),
      "per-dim accumulation must partial-aggregate map-side")
  }

  test("ix_phrase_query: the adjacency test is a keyed equi-join — " +
    "Catalyst extracts pos-1 as a hash key, never a theta join") {
    val p = planOf(OrpQueries.queries("ix_phrase_query")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pos-adjacency must hash-join on (doc_id, pos), not nested-loop")
    assert(!p.contains("CartesianProduct"))
  }

  test("dd_span_scrub: gram model and reassembly stay keyed equi-joins") {
    val p = planOf(CorpusQueries.queries("dd_span_scrub")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("runtime bloom-filter join pruning: a selective build side " +
    "injects a might_contain prefilter into the probe-side scan") {
    // the InjectRuntimeFilter rewrite — on a real cluster this is what
    // keeps a selective fact-fact join from scanning the full probe
    // side; thresholds are sized for TB-scale inputs, so the test
    // lowers them to demonstrate the rewrite fires on our plan shape
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val orders = graft.Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val li = graft.Tables.lineitem(spark, sf)
      val p = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"expected a runtime bloom filter on the probe side:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sql_q6: every predicate reaches the parquet scan and the sum " +
    "partial-aggregates map-side — the plan is scan + agg, nothing else") {
    val p = planOf(RelationalQueries.queries("sql_q6")(spark, sf))
    assert(p.contains("PushedFilters"), "predicates must push to parquet")
    assert(p.contains("partial"), "the 1-row sum must map-side combine")
    assert(!p.contains("Join"))
  }

  test("sql_q5: the reduced dim chain broadcasts — no cartesian, no " +
    "nested loop in the 6-way join") {
    val p = planOf(RelationalQueries.queries("sql_q5")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("sql_q18: the corpus-sized quantity roll-up partial-aggregates " +
    "map-side and the HAVING survivors probe as a semi join — facts " +
    "never join before the group filter") {
    val p = planOf(RelationalQueries.queries("sql_q18")(spark, sf))
    assert(p.contains("partial_sum"),
      "the per-orderkey quantity sum must map-side combine — a hot " +
        "orderkey contributes one partial row per partition, not a " +
        "reducer-side pileup")
    assert(p.contains("LeftSemi"),
      "the HAVING survivor set must probe as a semi join, not " +
        "materialize through an inner-join + distinct")
    assert(!p.contains("CartesianProduct"))
  }

  test("sql_q17: the correlated per-partkey avg decorrelates into ONE " +
    "map-side-combined aggregate; the part dim broadcasts") {
    val p = planOf(RelationalQueries.queries("sql_q17")(spark, sf))
    assert(p.contains("partial_avg") || p.contains("partial_sum"),
      "the per-partkey avg must partial-aggregate map-side — the " +
        "decorrelated rewrite, never a re-scan per outer row")
    assert(p.contains("BroadcastHashJoin"),
      "the filtered part dim is dim-sized and must broadcast")
    assert(!p.contains("CartesianProduct"))
    // decorrelation means the fact table appears a bounded number of
    // times (outer scan + subquery aggregate), never once per outer row
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans <= 3, s"$scans fact scans — decorrelation failed:\n$p")
  }

  test("sql_q20: nested IN chain plans as keyed semi joins and the " +
    "grouped-derived-table correlation decorrelates into a bounded " +
    "number of fact scans") {
    val p = planOf(RelationalQueries.queries("sql_q20")(spark, sf))
    assert(p.contains("LeftSemi"),
      "both IN filters must plan as keyed semi joins")
    assert(p.contains("partial_sum"),
      "the per-(supp,part) and per-part sums must partial-aggregate " +
        "map-side")
    assert(p.contains("BroadcastHashJoin"),
      "the red-part probe is dim-sized and must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // bounded: supplier + two fact scans (grouped outer, decorrelated
    // per-part total) + the broadcast part probe under each — never a
    // scan per outer row
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans <= 5, s"$scans scans — decorrelation failed:\n$p")
  }

  test("sql_q21: EXISTS and NOT EXISTS decorrelate into keyed semi/anti " +
    "joins — never per-row subquery re-execution") {
    val p = planOf(RelationalQueries.queries("sql_q21")(spark, sf))
    assert(p.contains("LeftSemi"),
      "EXISTS must plan as a keyed semi join")
    assert(p.contains("LeftAnti"),
      "NOT EXISTS must plan as a keyed anti join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the supplier-inequality must ride the keyed joins as a residual " +
        "condition, not force a nested loop")
  }

  test("sql_q7: the cross-dim nation-pair disjunction stays a residual " +
    "on keyed joins — broadcast dims, never a nested loop") {
    val p = planOf(RelationalQueries.queries("sql_q7")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the 25-row nation dims must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the OR across both nation attaches must evaluate as a post-join " +
        "residual, not degrade the join to a nested loop")
  }

  test("sql_q8: the market-share ratio computes in ONE grouped pass — " +
    "the fact table is scanned once, both sums partial-aggregate") {
    val p = planOf(RelationalQueries.queries("sql_q8")(spark, sf))
    assert(p.contains("partial_sum"),
      "numerator and denominator must map-side combine together")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    val liScans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem"))
    assert(liScans == 1,
      s"$liScans lineitem scans — the CASE-gated numerator and the " +
        s"denominator must share one pass, never two scans joined back")
  }

  test("sql_q13: the zero-order bucket survives — the priority residual " +
    "rides the OUTER join condition, and both aggs partial-combine") {
    val p = planOf(RelationalQueries.queries("sql_q13")(spark, sf))
    assert(p.contains("LeftOuter"),
      "the residual predicate must live in the join condition — a " +
        "WHERE would turn the outer join inner and drop c_count = 0")
    assert(p.contains("partial_count"),
      "the per-customer count must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("sql_q19: the three-branch disjunction spanning both join sides " +
    "keeps the keyed equi-join — one BHJ, no nested loop") {
    val p = planOf(RelationalQueries.queries("sql_q19")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "part reduces to three brands before broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the disjunction must stay a residual on p_partkey = l_partkey")
  }

  test("sql_q22: the no-recent-orders probe is a keyed anti join and " +
    "the balance thresholds are uncorrelated one-row subqueries") {
    val p = planOf(RelationalQueries.queries("sql_q22")(spark, sf))
    assert(p.contains("LeftAnti"),
      "NOT EXISTS must plan as a keyed anti join on o_custkey")
    assert(p.contains("Subquery"),
      "the Σbal and count thresholds must compute once as scalar " +
        "subqueries, broadcast to every customer row")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("sql_q1: eight aggregates in ONE map-side-partial pass over one " +
    "scan — no join, no second pass for the averages") {
    val p = planOf(RelationalQueries.queries("sql_q1")(spark, sf))
    assert(p.contains("partial"), "all aggregates must map-side combine")
    assert(!p.contains("Join"), "Q1 is pure scan bandwidth — no join")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem"))
    assert(scans == 1, s"$scans lineitem scans — the avgs must reuse " +
      s"the sums' pass, never rescan")
  }

  test("sql_q2: the per-part min is a window over the joined sliver — " +
    "exactly ONE lineitem aggregation, broadcast dims, no nested loop") {
    val p = planOf(RelationalQueries.queries("sql_q2")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Window"),
      "the correlated min must be a window min on the filtered frame")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem"))
    assert(scans == 1, s"$scans lineitem scans — the window rewrite " +
      s"must aggregate lineitem exactly once (the r13 shape paid the " +
      s"dominant sp aggregation twice, once per CTE use)")
  }

  test("sql_q4 and sql_q16: EXISTS probes as LeftSemi and the NOT " +
    "EXISTS exclusion as LeftAnti — never the null-aware nested loop " +
    "that NOT IN would force") {
    val p4 = planOf(RelationalQueries.queries("sql_q4")(spark, sf))
    assert(p4.contains("LeftSemi"))
    assert(!p4.contains("BroadcastNestedLoopJoin"),
      "the lateness residual referencing both sides must ride the " +
        "keyed semi join")
    val p16 = planOf(RelationalQueries.queries("sql_q16")(spark, sf))
    assert(p16.contains("LeftAnti"))
    assert(!p16.contains("BroadcastNestedLoopJoin"),
      "the negative-balance exclusion must stay a keyed anti join — " +
        "the null-aware NOT IN form degrades to a nested loop")
    assert(p16.contains("Expand") || p16.contains("distinct"),
      "count(DISTINCT) plans through its expand/distinct machinery")
  }

  test("sql_q10: the top-20 cut fuses into TakeOrderedAndProject — no " +
    "global sort of the grouped revenue") {
    val p = planOf(RelationalQueries.queries("sql_q10")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("partial_sum"))
    assert(!p.contains("CartesianProduct"))
  }

  test("sql_q11 and sql_q15: the global thresholds are bounded " +
    "re-aggregations — a one-row (n, total) broadcast attach for q11, " +
    "a scalar max subquery for q15 — never a self-join of the grouped " +
    "relation or a per-group re-scan") {
    val p11 = planOf(RelationalQueries.queries("sql_q11")(spark, sf))
    assert(p11.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem")) <= 2,
      "sp feeds the winner set and the one-row totals attach — two " +
        "bounded scans, not one per group or per scalar")
    assert(!p11.contains("CartesianProduct"),
      "the totals attach must broadcast its single row")
    val p15 = planOf(RelationalQueries.queries("sql_q15")(spark, sf))
    assert(p15.contains("Subquery"))
    assert(p15.contains("partial_sum"))
    assert(!p15.contains("CartesianProduct"))
  }

  test("sql_q12 and sql_q14: CASE-bucketed aggregates compute in one " +
    "pass over one fact scan") {
    for (q <- Seq("sql_q12", "sql_q14")) {
      val p = planOf(RelationalQueries.queries(q)(spark, sf))
      assert(p.contains("partial"), s"$q buckets must map-side combine")
      val scans = p.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("lineitem"))
      assert(scans == 1,
        s"$q: $scans lineitem scans — conditional buckets must share " +
          s"one pass")
    }
  }

  test("t8_intersect_except: INTERSECT lowers to a distinct LeftSemi " +
    "and EXCEPT to a distinct LeftAnti — keyed joins over pre-pruned " +
    "quarter slivers, never a materialized sort-merge of both inputs") {
    val p = planOf(RelationalQueries.queries("t8_intersect_except")(spark, sf))
    assert(p.contains("LeftSemi"), "INTERSECT must plan as a semi join")
    assert(p.contains("LeftAnti"), "EXCEPT must plan as an anti join")
    assert(p.contains("PushedFilters"),
      "the quarter date bands must prune at the parquet scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("sql_q9: the non-sargable substring dim filter evaluates on the " +
    "broadcast part rows — fact joins stay keyed") {
    val p = planOf(RelationalQueries.queries("sql_q9")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("mix_curriculum: cut-points broadcast back as scan-side " +
    "arithmetic — the corpus branch never sorts or shuffles globally") {
    val p = planOf(MixQueries.queries("mix_curriculum")(spark, sf))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    // the only window runs over the value-domain census, whose input is
    // the (tiny) n_chars census aggregate, never the corpus
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"))
  }

  test("sim_ivf_delta: the base index is read as a bucketed scan, the " +
    "ingest-scale delta converts to a runtime broadcast, and the " +
    "cell-keyed probe never shuffles the stored index") {
    // r17: the delta's broadcast is AQE's runtime decision now (the
    // static hint was the gate-delta defect class — forced broadcast of
    // a frame with no size bound), so this pin reads the FINAL adaptive
    // plan after execution: at this fixture's ingest-scale delta the
    // runtime decision must still be a broadcast.
    val df = SimilarityQueries.queries("sim_ivf_delta")(spark, sf)
    val p = executedPlanOf(df)
    assert(p.contains("SelectedBucketsCount"),
      s"base index read must be a bucketed scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"an ingest-scale delta must convert to a runtime broadcast:\n$p")
    // the stored index side must not re-shuffle on the bucket key. r18
    // (ADVICE): restored to a TIGHT stub-immune pin — instead of
    // tolerating <= 2 cell-keyed exchange LINES (which would also
    // tolerate one real regression), count shuffle exchanges whose
    // subtree contains the bucketed base scan: AQE's unexecuted
    // pre-shuffle stub from the delta's runtime broadcast conversion
    // never has the base scan under it, while a genuine re-shuffle of
    // the stored index always does.
    val overBase = shufflesOverScan(df, "graft_ivf_base", key = "cell")
    assert(overBase == 0,
      s"$overBase cell-keyed shuffle exchanges over the bucketed index " +
        s"scan — the stored index re-shuffled on its own bucket key:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ivf/pq assignment is row-local: no vec_id-keyed exchange " +
    "anywhere — the codebook broadcasts and each vector ranks its " +
    "cells/codes inside its own partition") {
    // r18: the sim decade-3 battery measured the former window-ranked
    // crossJoin shuffling 8 payload-carrying copies of the corpus
    // (0.67-1.27 GB per query at 2M vectors) to pick argmins; the
    // row-local array_sort shape must keep the corpus out of every
    // exchange. q_id-keyed ranking windows and the tiny codebook/ADC
    // aggregations are the only legitimate shuffles.
    for (q <- Seq("sim_ann_ivf", "sim_ann_pq", "sim_kmeans_step")) {
      val p = planOf(SimilarityQueries.queries(q)(spark, sf))
      assert(!p.contains("hashpartitioning(vec_id"),
        s"$q: a vec_id-keyed exchange means the corpus shuffled for " +
          s"its own per-row argmin:\n$p")
    }
  }

  test("sim_knn_graph: the per-vector top-k truncates before the " +
    "exchange — partial top_k_pairs map-side") {
    // r18 measured the rank window vs a boxed CollectTopK heap (heap
    // lost ~4x); r19's primitive slot-array rewrite (top_k_pairs)
    // reversed it — 1.3-1.7x faster than the window at right-sized
    // fan-out AND completes the 8-bit decade-3 geometry the window's
    // sort died on (SCALE.md r19) — so the aggregate is the one rank
    // stage, truncating to k rows per group before its exchange.
    val p = planOf(SimilarityQueries.queries("sim_knn_graph")(spark, sf))
    assert(p.contains("partial_top_k_pairs"),
      s"the default rank stage must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("samp_hard_negatives: dup exclusion and knn both stay keyed " +
    "bucket equi-joins — nothing all-pairs") {
    val p = planOf(
      SimilarityQueries.queries("samp_hard_negatives")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("g_label_prop_step: votes partial-aggregate map-side and the " +
    "per-node winner gets the rank-limit pushdown — a hub's candidate " +
    "run truncates before the exchange") {
    val p = planOf(OrpQueries.queries("g_label_prop_step")(spark, sf))
    assert(p.contains("partial_count"),
      "the (node,label) vote count must map-side combine")
    assert(p.contains("WindowGroupLimit"),
      "rn = 1 must push down as a rank limit, truncating each node's " +
        "vote run map-side instead of sorting full runs on reducers")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("g_triangle_count: every enumeration join is keyed on node ids") {
    val p = planOf(SimilarityQueries.queries("g_triangle_count")(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("mm_phash_dedup: band self-join and Hamming verify stay keyed — " +
    "never all-pairs over the payload table") {
    // Exactly one PHYSICAL BroadcastNestedLoopJoin is legitimate: the
    // one-ROW ghost-offset scalar attach (broadcast of a single
    // max(doc_id) aggregate — 8 bytes at any corpus size). The attach
    // sits inside the persisted hash frame, whose build plan the string
    // rendering reprints under every InMemoryTableScan reference — so
    // walk the ACTUAL node trees (main plan + each distinct cached
    // relation's build plan) and dedupe structurally, instead of
    // bounding raw line counts by reprints (which a second genuine
    // cross join could slip under when ≥2 reprints exist).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    def allPlans(p: SparkPlan): Seq[SparkPlan] = {
      val cached = p.collect { case s: InMemoryTableScanExec =>
        s.relation.cachedPlan }.distinct
      p +: cached.flatMap(allPlans)
    }
    val df = Multimodal.queries("mm_phash_dedup")(spark, sf)
    val plans = allPlans(df.queryExecution.executedPlan)
    val bnljs = plans.flatMap(_.collect {
      case b: BroadcastNestedLoopJoinExec => b }).distinct
    assert(bnljs.size <= 1,
      s"${bnljs.size} distinct BroadcastNestedLoopJoin nodes — a second " +
        s"nested loop entered the plan:\n${plans.map(_.toString).mkString}")
    bnljs.foreach { b =>
      assert(b.joinType == org.apache.spark.sql.catalyst.plans.Cross &&
        b.condition.isEmpty,
        s"the BNLJ must be the condition-free Cross scalar attach:\n$b")
      val build = b.buildSide match {
        case BuildRight => b.right
        case BuildLeft => b.left
      }
      assert(build.toString.contains("max(doc_id"),
        s"the BNLJ's build side must be the one-row max(doc_id) " +
          s"aggregate subtree:\n$build")
    }
    assert(!plans.exists(_.toString.contains("CartesianProduct")))
  }

  test("mm_phash_dedup (r19 fix shape): exactly ONE band self-join — " +
    "the Hamming verify rides the carried h64 row-local, never a " +
    "pair-stream re-attachment join") {
    // the pre-fix shape had THREE equi-joins (candidate self-join +
    // two band-value re-attachments) and shuffled the raw
    // corpus-quadratic pair stream through a distinct before them —
    // the decade-3 disk death (SCALE.md r19). The fixed plan carries
    // the full 64-bit hash through the one band self-join and filters
    // map-side; only Hamming-passing survivors reach an exchange.
    val p = planOf(Multimodal.queries("mm_phash_dedup")(spark, sf))
    val equiJoins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(equiJoins == 1,
      s"expected exactly the band self-join, found $equiJoins " +
        s"equi-join lines:\n$p")
  }

  test("sig_store_refresh: the signature pipeline runs ONLY over the " +
    "mutated delta — zero Generates, exactly one compiled " +
    "portable_minhash_sig, store rows pass through as a projection") {
    // r21 (commit 6c68700): the explode → md5 → grouped-min signature
    // was compiled into the per-row portable_minhash_sig native, so the
    // delta-side shingle Generate and its partial_min keyed aggregation
    // are GONE from the plan. The new invariants: no Generate anywhere
    // (a reappearing explode means the native swap regressed), and the
    // native appears exactly once — on the mutated-delta side only. A
    // second occurrence would mean kept rows are being re-signed
    // instead of passing the stored signature through.
    val p = planOf(DedupQueries.queries("sig_store_refresh")(spark, sf))
    val generates = p.linesIterator.count(_.contains("Generate"))
    assert(generates == 0,
      s"expected 0 Generates (signature build is the compiled per-row " +
        s"portable_minhash_sig), got $generates")
    // the physical plan prints the native as its static call
    val sigs = "NativeImpl\\.portableMinhashSig\\(".r.findAllIn(p).size
    assert(sigs == 1,
      s"expected exactly 1 portable_minhash_sig (delta side only), " +
        s"got $sigs — kept rows must reuse the stored signature, " +
        "never recompute")
  }

  test("ix_postings: postings cap prunes map-side BEFORE collection; " +
    "df/tf_total keep a map-side partial agg") {
    val p = planOf(OrpQueries.queries("ix_postings")(spark, sf))
    assert(p.contains("WindowGroupLimit"),
      "the top-20 cap must truncate each term's run before the shuffle — " +
        "slice-after-collect_list buffers the full hot-term list")
    assert(p.contains("partial_count") || p.contains("partial_merge"),
      "term stats must aggregate partially map-side")
  }

  test("samp_fixed_k compiles to TakeOrderedAndProject (no global sort)") {
    val p = planOf(MixQueries.queries("samp_fixed_k")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("samp_shuffle_shard: within-shard window is keyed — one hash " +
    "exchange on shard, never a single-partition window") {
    val p = planOf(MixQueries.queries("samp_shuffle_shard")(spark, sf))
    assert(p.contains("hashpartitioning(shard"),
      "window must partition by shard")
    assert(!p.contains("Exchange SinglePartition"),
      "a global window would serialize the corpus through one task")
  }

  test("ta_gopher_rules is scan-narrow: zero exchanges") {
    val p = planOf(TextQueries.queries("ta_gopher_rules")(spark, sf))
    assert(!p.contains("Exchange"))
  }

  test("ta_char_entropy is scan-narrow: zero exchanges, no join — the " +
    "whole entropy computation is row-local array arithmetic") {
    val p = planOf(TextQueries.queries("ta_char_entropy")(spark, sf))
    assert(!p.contains("Exchange"))
    assert(!p.contains("Join"))
  }

  test("SigMin UDAF: callable from SQL, merges element-wise, and the " +
    "chunk→doc merge partial-aggregates map-side") {
    val r = spark.sql(
      "SELECT sig_min(s) FROM VALUES (array(5L,1L)), (array(2L,9L)) AS t(s)")
      .head.getSeq[Long](0)
    assert(r == Seq(2L, 1L))
    val p = planOf(DedupQueries.queries("agg_sig_min_chunks")(spark, sf))
    assert(p.contains("ObjectHashAggregate"),
      "TypedImperativeAggregate must plan as object hash aggregation")
    assert(p.contains("partial_sig_min"),
      "signature buffers must combine before the exchange")
  }

  test("sim_kmeans_step: M-step is a keyed partial aggregation over " +
    "(cluster, dim) — never a single-partition reduce") {
    val p = planOf(SimilarityQueries.queries("sim_kmeans_step")(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_avg"),
      "per-dimension means must combine map-side")
    assert(p.contains("hashpartitioning(cluster_id"))
    // r18: exactly ONE single-partition exchange is legitimate — the
    // 8-row codebook collapse feeding cell_rank's broadcast array (its
    // input is the vec_id < 8 slice, bounded at any corpus size). The
    // corpus-sized M-step must stay on the keyed exchange above.
    assert(p.linesIterator.count(_.contains("Exchange SinglePartition")) <= 1,
      s"corpus-sized work reached a single-partition reduce:\n$p")
    assert(p.contains("LessThan(vec_id,8)"),
      "the codebook collapse must read the pushed-down 8-row slice, " +
        "not the corpus")
  }

  test("sk_kmv_overlap: per-source sketch window prunes map-side; the " +
    "pair stage never rescans the corpus") {
    val p = planOf(CorpusQueries.queries("sk_kmv_overlap")(spark, sf))
    // Post-7f56fde the builder is side-effect-free: all sketches collapse
    // into ONE collect_list row before pair expansion, so the corpus
    // subtree appears exactly once in the whole plan — the pair stage
    // explodes the single sketch row and never walks back to the files.
    assert(p.contains("WindowGroupLimit"),
      "the per-source top-64 must prune map-side")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1,
      s"$scans corpus FileScans in the plan — the pair stage must reuse " +
        "the single collapsed sketch row, not rescan the corpus")
  }

  test("dg_gate_stored: the probe join against the on-disk signature " +
    "store shuffles ONLY the batch side — the store's bucket layout is " +
    "the join layout") {
    // Building the query writes the bucketed store table (the write is
    // the operator's semantics, K2 convention).
    OrpQueries.queries("dg_gate_stored")(spark, sf)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqeBc =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // A fresh (non-bucketed) ingest batch, banded to the store's bkey.
      val batch = spark.range(10).select(col("id").as("uid"),
        array((0 until 16).map(i => (col("id") * i).cast("long")): _*)
          .as("sig"))
      val probe = batch.select(col("uid"), col("sig"),
        explode(graft.functions.Hashes.bands(col("sig"), 4, 4)).as("band"))
        .select(col("uid"),
          concat_ws("_", col("band.band_id"), col("band.band_key"))
            .as("bkey"))
      val p = planOf(probe.join(spark.table(OrpQueries.sigStoreTable(sf)), Seq("bkey")))
      assert(p.contains("SelectedBucketsCount"),
        s"store read must be a bucketed scan:\n$p")
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges == 1,
        s"$exchanges exchanges — only the batch side may shuffle " +
          s"(into the store's bucket layout):\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      prevAqeBc match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
      spark.sql(s"DROP TABLE IF EXISTS ${OrpQueries.sigStoreTable(sf)}")
    }
  }

  test("delta-store probe: the tombstone anti-join rides the bucketed " +
    "base scan without an exchange — the per-batch path never shuffles " +
    "the base") {
    // Re-create the bucketed store table (independent of test order).
    OrpQueries.queries("dg_gate_stored")(spark, sf)
    // This pin exists for the regime where the bkey join USES the
    // bucket layout — at production scale both join sides exceed the
    // broadcast threshold. The sf0.001 fixture store is KBs, so drop
    // the threshold to 1 KB to reproduce that regime: probe and store
    // both exceed it (bucketed SMJ), while the 3-row tombstone id set
    // (24 B) stays below it — its broadcast is still a SIZED decision,
    // never a hint (the r18 de-hinted shape).
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try {
      val batch = spark.range(100000).select(col("id").as("uid"),
        array((0 until 16).map(i => (col("id") * i).cast("long")): _*)
          .as("sig"))
      val probe = batch.select(col("uid"), col("sig"),
        explode(graft.functions.Hashes.bands(col("sig"), 4, 4)).as("band"))
        .select(col("uid"),
          concat_ws("_", col("band.band_id"), col("band.band_key"))
            .as("bkey"))
      val tombstones = spark.range(3).select(col("id").as("node_id"))
      // liveBase exactly as classifyStoredDeltas builds it — r18: NO
      // static broadcast hint (the no-size-contract defect class); the
      // ingest-scale tombstone set must resolve to a broadcast from
      // SIZING (planner or AQE runtime), never a hint, so this pin
      // executes the join and reads the final adaptive plan
      val liveBase = spark.table(OrpQueries.sigStoreTable(sf))
        .join(tombstones, Seq("node_id"), "left_anti")
      val joined = probe.join(liveBase, Seq("bkey"))
      val p = executedPlanOf(joined)
      assert(p.contains("SelectedBucketsCount"),
        s"base read must stay a bucketed scan under the anti-join:\n$p")
      assert(p.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
        s"an ingest-scale tombstone set must anti-join as a sized " +
          s"broadcast — the base side must never shuffle for it:\n$p")
      // stub-immune: no shuffle exchange may sit ABOVE the bucketed
      // store scan (the probe side's bkey exchange is on its own
      // branch; AQE stubs from runtime broadcast conversions never
      // have the store scan in their subtree)
      val overBase = shufflesOverScan(joined, OrpQueries.sigStoreTable(sf))
      assert(overBase == 0,
        s"$overBase shuffle exchanges over the bucketed store scan — " +
          s"the anti-join must preserve the base's bucket layout:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql(s"DROP TABLE IF EXISTS ${OrpQueries.sigStoreTable(sf)}")
    }
  }

  test("s13_orc_partitioned: read-back prunes to the lang=en partition") {
    val p = planOf(SourceSinkQueries.queries("s13_orc_partitioned")(spark, sf))
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      "the lang filter must prune partitions at the ORC scan")
  }

  test("dd_bloom_decontaminate: bloom prefilter is semantically invisible " +
    "(row-identical to exact decontamination)") {
    val exact = DedupQueries.queries("dd_decontaminate")(spark, sf)
      .orderBy("doc_id").collect().toSeq
    val bloomDf = DedupQueries.queries("dd_bloom_decontaminate")(spark, sf)
    val bloom = bloomDf.orderBy("doc_id").collect().toSeq
    assert(bloom == exact)
    // the probe is the NATIVE bloom_might_contain expression — no Scala
    // UDF boundary interrupts the scan-side codegen span
    val p = planOf(bloomDf)
    assert(p.contains("bloom_might_contain"))
    assert(!p.toLowerCase.contains("scalaudf") && !p.contains("UDF("))
  }

  test("w7_rolling_range: the RANGE window is keyed on o_custkey — one " +
    "hash exchange, never a single-partition window") {
    val p = planOf(RelationalQueries.queries("w7_rolling_range")(spark, sf))
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(o_custkey"),
      "window exchange must partition by the customer key")
    assert(!p.contains("SinglePartition"),
      "an unkeyed window would move the whole table to one task")
  }

  test("t7_rollup: every grouping level comes from ONE fact scan via " +
    "Expand, with a map-side partial aggregate") {
    val p = planOf(RelationalQueries.queries("t7_rollup")(spark, sf))
    assert(p.contains("Expand"), "rollup must compile to Expand, not rescans")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "one scan feeds all grouping sets")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "partial aggregation must run map-side before the exchange")
  }

  test("dynamic partition pruning: a runtime-only dim filter prunes fact " +
    "partitions at the scan") {
    val dir = "/tmp/graft-test-dpp"
    Tables.lineitem(spark, sf)
      .withColumn("ship_year", year(col("l_shipdate")))
      .write.mode("overwrite").partitionBy("ship_year").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the surviving years exist only at runtime (an aggregate above a
    // filter), so static pruning can't apply — DPP must inject a
    // subquery filter into the fact scan's PartitionFilters
    val dim = Tables.orders(spark, sf)
      .groupBy(year(col("o_orderdate")).as("ship_year"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 2000)
    val q = fact.join(dim, "ship_year")
      .agg(sum(col("l_quantity")).as("s"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      "fact scan must carry a dynamic pruning subquery filter")
  }

  test("ta_dedup_tokens: within-doc dedup is row-local HOFs — zero " +
    "exchanges at any corpus size") {
    val p = planOf(TextQueries.queries("ta_dedup_tokens")(spark, sf))
    assert(!p.contains("Exchange"))
  }

  test("layout_zorder_key: the Morton key is pure codegen'd projection — " +
    "scan-narrow, zero exchanges") {
    val p = planOf(Layout.queries("layout_zorder_key")(spark, sf))
    assert(!p.contains("Exchange"), "key derivation must not shuffle")
    assert(p.contains("*(1) Project"),
      "the unrolled shift/mask arithmetic must stay inside codegen " +
        "(the *(n) prefix is the whole-stage-codegen marker)")
  }

  test("ta_repeated_ngrams: top-50 compiles to TakeOrdered over a " +
    "map-side-partial keyed count — no global sort of the gram space") {
    val p = planOf(CorpusQueries.queries("ta_repeated_ngrams")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "the limit must fuse with the sort")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      "gram counting needs a map-side partial stage")
  }

  test("sim_quantize_int8 is row-local codegen'd projection: zero " +
    "exchanges at any corpus size") {
    val p = planOf(SimilarityQueries.queries("sim_quantize_int8")(spark, sf))
    assert(!p.contains("Exchange"), "quantization must not shuffle")
  }

  test("mix_mixture_plan: one corpus scan reduced map-side; all plan " +
    "math happens on the sources-sized aggregate") {
    val p = planOf(MixQueries.queries("mix_mixture_plan")(spark, sf))
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "the corpus must be read exactly once")
    assert(p.contains("partial_sum"),
      "token census needs a map-side partial stage")
  }

  test("dq_drift: one corpus scan, conditional counts partial-aggregate " +
    "map-side; totals are a window over the tiny lang frame, not a rescan") {
    val p = planOf(CorpusQueries.queries("dq_drift")(spark, sf))
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "the corpus must be read exactly once across both snapshots")
    assert(p.contains("partial_sum"))
    assert(p.contains("Window"), "totals must come from the window pass")
  }

  test("orp_search_by_leg: href probe broadcasts, legCap is a bounded " +
    "top-k merge (the corpus never sorts globally for a related-docs call)") {
    val p = planOf(
      operators.OrpQueries.queries("orp_search_by_leg")(spark, sf))
    // the filtered legislation side is tiny by construction → broadcast
    assert(p.contains("BroadcastHashJoin"))
    // legCap truncation = TakeOrdered (per-partition top-k, one small
    // merge), not a global Sort + Limit
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("orp_search_enriched: page materializes before the edge attach " +
    "(late materialization — the corpus edge table never sorts or " +
    "funnels for a page render)") {
    val p = planOf(
      operators.OrpQueries.queries("orp_search_enriched")(spark, sf))
    // the page is a TakeOrdered (bounded top-k merge), not a global sort
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("dd_ngram_jaccard: prefix-filtered pair join stays a keyed equi-join") {
    val p = planOf(DedupQueries.queries("dd_ngram_jaccard")(spark, sf))
    assert(!p.contains("CartesianProduct"))
    // one BNLJ allowed since r15: the 1-row injectivity-guard scalar
    // attach (see the dd_jaccard_prefix pin)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1)
    // the retired (lang, size-bucket) blocking shape must stay retired:
    // no size-bucket column anywhere in the plan — candidates come from
    // the (lang, prefix-token) equi-join whose population is bounded by
    // similarity structure, not corpus size
    assert(!p.contains("bkt"))
    assert(p.contains("tok"))
  }

  test("store-loop fallback sites at ingest scale: the de-hinted fold " +
      "and cc-overlay anti-joins execute as runtime broadcasts (the " +
      "backfill-keyed regime is the probe artifact's half: " +
      "probe_fallback_store_*.json)") {
    import graft.streaming.{CcStoreLoop, GateStoreLoop}
    import graft.operators.{DedupGate, MinHashPipeline}
    import spark.implicits._
    // gate store: base minus the %7 tranche, one open generation whose
    // tombstones are an ingest-sized id set — the exact store shape the
    // fallback_store probe builds at backfill scale
    val corpus = (1 to 40).map(i => (i.toLong,
      s"fold pin store doc $i words p${i}q p${i}r tail ${i * 31}",
      "en", "published")).toDF("node_id", "text", "meta_key", "status")
    val sigged = corpus.join(
      MinHashPipeline.signatures(corpus, "node_id", col("text")), "node_id")
    val dir = java.nio.file.Files.createTempDirectory("graft-foldpin")
      .toString
    GateStoreLoop.init(DedupGate.bandedSigStore(
      sigged.filter(col("node_id") % 7 =!= 0), 4, 4), dir)
    DedupGate.bandedSigStore(sigged.filter(col("node_id") % 7 === 0), 4, 4)
      .write.parquet(s"$dir/gen_0/delta")
    corpus.filter(col("node_id") % 7 === 3).select("node_id")
      .write.parquet(s"$dir/gen_0/tombs")
    val (_, folded) = GateStoreLoop.foldedBase(spark, dir).get
    val p = executedPlanOf(folded)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"ingest-scale fold anti-join did not broadcast at runtime:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"ingest-scale fold fell back to a keyed join:\n$p")

    // cc LSM overlay: one ingest-sized layer over the assignment base
    val ccDir = java.nio.file.Files.createTempDirectory("graft-ccpin")
      .toString
    val assign = (1 to 40).map(i => (i.toLong, (i - i % 5).toLong))
      .toDF("doc_id", "canonical_id")
    assign.write.parquet(s"$ccDir/assign_-1")
    assign.filter(col("doc_id") % 7 === 3)
      .withColumn("canonical_id", lit(0L))
      .write.parquet(s"$ccDir/gen_3")
    val pc = executedPlanOf(CcStoreLoop.state(spark, ccDir))
    assert(pc.contains("BroadcastHashJoin") && pc.contains("LeftAnti"),
      s"ingest-scale cc overlay anti-join did not broadcast at runtime:\n$pc")
    assert(!pc.contains("SortMergeJoin"),
      s"ingest-scale cc overlay fell back to a keyed join:\n$pc")
  }
}
