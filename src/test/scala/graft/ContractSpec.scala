package graft

/** Driver-contract guards: the per-module query/oracle maps merge with
  * `++`, where a name collision would silently SHADOW one module's
  * implementation with another's, and an oracle keyed to a missing
  * query would silently vanish from the correctness gate. Also mirrors
  * the driver's entry smoke check locally. */
class ContractSpec extends SparkSpec {

  private val modules: Seq[(String, Map[String, _], Map[String, String])] =
    Seq(
      ("RelationalQueries", operators.RelationalQueries.queries,
        operators.RelationalQueries.oracles),
      ("TextQueries", operators.TextQueries.queries,
        operators.TextQueries.oracles),
      ("DedupQueries", operators.DedupQueries.queries,
        operators.DedupQueries.oracles),
      ("SimilarityQueries", operators.SimilarityQueries.queries,
        operators.SimilarityQueries.oracles),
      ("OrpQueries", operators.OrpQueries.queries,
        operators.OrpQueries.oracles),
      ("EnrichQueries", operators.EnrichQueries.queries,
        operators.EnrichQueries.oracles),
      ("SourceSinkQueries", operators.SourceSinkQueries.queries,
        operators.SourceSinkQueries.oracles),
      ("Multimodal", operators.Multimodal.queries,
        operators.Multimodal.oracles),
      ("MixQueries", operators.MixQueries.queries,
        operators.MixQueries.oracles),
      ("CorpusQueries", operators.CorpusQueries.queries,
        operators.CorpusQueries.oracles),
      ("Layout", operators.Layout.queries, operators.Layout.oracles))

  test("no query name collides across modules (++ would silently shadow)") {
    val all = modules.flatMap { case (m, qs, _) => qs.keys.map(_ -> m) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty,
      dups.map { case (k, ms) => s"$k in ${ms.map(_._2).mkString("+")}" }
        .mkString(", "))
    assert(SparkEntry.queries.size == all.size)
  }

  test("every oracle key has a query (an orphan silently leaves the gate)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, orphans.mkString(", "))
  }

  test("oracle coverage stays near-total: only the documented native " +
    "hash paths may lack one") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val allowed = Set("dd_minhash_native", "dd_simhash_native",
      "dd_minhash_datasketch")
    assert(noOracle == allowed,
      s"unexpected oracle-less queries: ${(noOracle -- allowed).mkString(", ")}")
  }

  test("entry smoke: the flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("global plan hygiene: NO query plans a cartesian product, and " +
    "nested-loop joins appear only where a broadcast tiny side is the " +
    "intended shape (allowlist)") {
    // Queries whose plan legitimately carries a BroadcastNestedLoopJoin:
    // a ≤8-row broadcast codebook / 1-row scalar frame crossed onto the
    // corpus — the documented pattern, constant-size by construction.
    val bnljAllowed = Set(
      "sim_ann_ivf", "sim_ivf_delta", "sim_ann_pq", "sim_ann_pq_rerank",
      "sim_ann_recall",
      "sim_kmeans_step", "dd_semdedup", "sk_kmv_overlap",
      "ta_quality_trim", "mix_curriculum", "pipe_corpus_refinery",
      "samp_temperature",
      "ta_oov_rate", "ta_tfidf", "dq_audit", "mix_datacard_incr",
      "dd_decontaminate", "dd_bloom_decontaminate",
      // tiny broadcast EVAL-embedding set crossed onto the corpus scan —
      // the semantic decontamination probe (eval sets are small at any
      // corpus size; the corpus never broadcasts)
      "dd_embed_decontaminate", "sim_ann_bruteforce",
      "sim_ann_bucketed", "sim_knn_graph",
      // 1-row (n_docs, sum_dl) census crossed onto the term stats
      "ix_bm25",
      // composes ix_bm25's census attach + its own 1-row query-vector
      // broadcast crossed onto the embeddings scan (r20)
      "ix_rrf_fusion",
      // 1-row broadcast trigram-model MAP crossed onto the corpus scan
      "ta_lm_score",
      // substring-containment rules join: theta predicate by nature,
      // against a broadcast ≤dozen-phrase rule table
      "m5_doc_type",
      // 1-row max(doc_id)+1 ghost-offset scalar attach (the planted
      // near-dup ids derive from the corpus, never a fixed constant)
      "mm_phash_dedup", "pipe_mm_refinery",
      // 1-row (n, Σvalue) totals frame crossed onto the per-part
      // values — TPC-H Q11's mean-relative threshold attach
      "sql_q11",
      // 1-row token-id collision count crossed onto the rep-set frame —
      // the r15 encoded-verify injectivity guard (raise_error on any
      // xxhash64 vocabulary collision)
      "dd_jaccard_prefix", "dd_ngram_jaccard")
    // Constructing some frames triggers eager driver-side jobs
    // (cluster_cc loop, bloom build, every persist) — sf0.001 keeps the
    // sweep cheap. Each query runs in its own scope, and what is left
    // once that scope closed is an offender too.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val conf0 = spark.conf.getAll
        val before = Scope.leftBehind(spark, conf0)
        val p = Scope.run(spark)(
          fn(spark, sf).queryExecution.executedPlan.toString)
        val left = Scope.leftBehind(spark, conf0).diff(before)
        val cart = p.contains("CartesianProduct")
        val bnlj = p.contains("BroadcastNestedLoopJoin") &&
          !bnljAllowed.contains(name)
        if (cart) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
        else if (left.nonEmpty) Some(s"$name: left ${left.mkString(", ")}")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("environment options stay an explicit allowlist: paths, a core " +
    "count and dev query selectors only") {
    // Execution choices are made from the input at run time (AQE, the
    // self-sized sign-LSH width), not from env switches; a new
    // SPARK_GRAFT_* option must be added here on purpose.
    import scala.jdk.CollectionConverters._
    val allowed = Set("SF_DIR", "CPUS", "BENCH_OUT", "BENCH_ONLY",
      "BENCH_REF", "VERIFY_ONLY", "PLAN_OUT", "PLAN_SUFFIX",
      "SIDECAR_DENY").map("SPARK_GRAFT_" + _)
    val main = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(main),
      "src/main not found: run from the repo root")
    val optionRe = "SPARK_GRAFT_[A-Z_]+".r
    val found = java.nio.file.Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => optionRe.findAllIn(java.nio.file.Files.readString(p)))
      .toSet
    assert(found == allowed,
      s"added: ${(found -- allowed).toSeq.sorted.mkString(", ")}; " +
        s"gone: ${(allowed -- found).toSeq.sorted.mkString(", ")}")
  }

  test("lifecycle calls go through Scope: no persist, cache, unpersist or " +
    "checkpoint outside it, and conf overrides only on an allowlist") {
    // Scope releases what a unit of work persists, checkpoints or
    // overrides; a direct call beside it is a second, unreleased path.
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(main),
      "src/main not found: run from the repo root")
    val sources = java.nio.file.Files.walk(main).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Scope.scala")
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p))
      .toSeq
    val lifecycle = ("(?<!Scope)\\.persist\\(|\\.cache\\(\\)|unpersist\\(|" +
      "localCheckpoint\\(|(?<!Scope)\\.checkpoint\\(").r
    val direct = sources.flatMap { case (f, text) =>
      lifecycle.findAllIn(text).map(m => s"$f: $m") }
    assert(direct.isEmpty, direct.mkString("; "))
    // Each conf.set/unset site, with the reason it is not a Scope.conf:
    val confAllowed = Map(
      // set-if-different reader settings, left set on purpose: restoring
      // them per query re-pays analysis (Tables.readerConf)
      "Tables.scala" -> 1,
      // ccSession's rule exclusion, set on a child session of its own,
      // never on the caller's
      "DedupQueries.scala" -> 1)
    val confSites = sources.map { case (f, text) =>
      f -> "conf\\.(set|unset)\\(".r.findAllIn(text).size
    }.filter(_._2 > 0).toMap
    assert(confSites == confAllowed, s"conf.set/unset sites: $confSites")
  }
}
