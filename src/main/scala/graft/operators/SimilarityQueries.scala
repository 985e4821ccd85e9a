package graft.operators

import graft.Tables
import graft.functions.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` table —
  * the LLM-pipeline similarity-search surface.
  *
  * Two paths:
  *  - `sim_ann_bruteforce`: exact top-k by cosine. Query side is tiny →
  *    Spark broadcasts it; the corpus side streams — at 100 TB this is a
  *    single scan + per-partition top-k (TakeOrdered-shaped), no shuffle
  *    of the corpus.
  *  - `sim_ann_bucketed`: sign-bit LSH bucket (axis-aligned hyperplanes)
  *    as the IVF-style coarse quantizer — candidates only within the
  *    query's bucket, turning the scan into a keyed equi-join.
  */
object SimilarityQueries {
  type Q = (SparkSession, String) => DataFrame

  private val K = 5

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))

  /** Queries whose default plan contains the bounded [[graft.plans
    * .TopKPairs]] aggregate (directly or by composing sim_knn_graph).
    * Bench raises the ObjectHashAggregate sort-based fallback
    * threshold around exactly these (per-query set/restore — the r18
    * ADVICE scoping: the sweep's unbounded collect_list/collect_set
    * queries keep their 128-key spill fallback). A k-slot primitive
    * buffer per group is memory-safe by construction (~52 B × groups),
    * so hash aggregation must not abandon it for a sort of the
    * candidate stream — the exact death the aggregate exists to
    * avoid. */
  val TopKHeapQueries: Set[String] =
    Set("sim_knn_graph", "samp_hard_negatives", "g_triangle_count")

  /** Effective sign-LSH width for the dir's embeddings corpus —
    * derived from the corpus count at plan build (r19; see
    * [[Vectors.sizedSignBitsFor]]). Equals [[Vectors.SignBucketBits]]
    * at the graded scales, so the static oracle strings below (which
    * interpolate the floor) stay exact where they run. */
  private[operators] def effBits(s: SparkSession, d: String): Int =
    Vectors.sizedSignBitsFor(emb(s, d), col("v"), d)

  /** Salt factor for a corpus bucket SELF-join — DEFAULT 1 (plain
    * join), overridable via SPARK_GRAFT_BUCKET_SALT (clamped to 32).
    *
    * r20, closing r19 "What's wrong 3" with a MEASURED NEGATIVE: the
    * occupancy-driven grid salt was implemented and A/B'd twice at the
    * forced-8-bit decade-3 geometry (2M vectors, ~1.5e10 candidate
    * pairs), and it LOSES both times — 905 s salted vs 563 s plain
    * when the per-pair scalar was round()-dominated, and 320 s vs
    * 296 s after fast_round removed that tax — because replicating the
    * vector-carrying side S-fold multiplies shuffle bytes 7.5×
    * (10.3 GB vs 1.4 GB) for a join that is not parallelism-starved
    * once the scalar is cheap (the r19 "~2 cores" reading reflected
    * the round-bound phase, not the join). The mechanism stays as an
    * explicit, parity-pinned knob for genuinely skewed deployments;
    * the default path — self-sized width — never needed it, and the
    * forced path is measurably better off without it. Under the forced
    * width with no override, a LOUD note flags exploded occupancy and
    * names the knob.
    *
    * Two guards hardened by the r20 review:
    *  - the knob applies ONLY under the forced width. It exists as the
    *    forced posture's escape hatch; a leftover
    *    `SPARK_GRAFT_BUCKET_SALT` export must not silently re-shape
    *    every bucket self-join on the self-sized path (where the width
    *    already bounds occupancy and both A/Bs measured the salt's
    *    ~7.5× shuffle-byte tax buying nothing) — ignored with a loud
    *    note instead.
    *  - the advisory occupancy count is MEMOIZED per corpus dir: it
    *    used to run as a fresh `count()` inside every timed query
    *    build in the forced posture — a full corpus scan per min-of-N
    *    bench rerun, and twice for the composed hard-negatives query.
    *    One count per (JVM, corpus), like the width memo it advises
    *    on. `n` stays by-name so the self-sized path never counts. */
  private val forcedOccMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  /** r21 (ADVICE): the occupancy memo must die with the data it
    * describes — ScaleSynth / compactEmbeddings rewrite a corpus in the
    * same JVM and invalidate the width sidecar/memo; without this hook
    * the stale count could wrongly suppress (or fire) the forced-width
    * occupancy warning for the rewritten dir. Called from
    * [[graft.functions.Vectors.forgetSizedWidth]] /
    * [[graft.functions.Vectors.rederiveSignBits]], the two places the
    * sized-width memo is forgotten. Advisory-only either way (the memo
    * feeds a stderr note, never a result). */
  private[graft] def forgetForcedOcc(memoKey: String): Unit = {
    forcedOccMemo.remove(memoKey); ()
  }

  private[graft] def forcedBucketSalt(n: => Long, bits: Int,
      memoKey: String): Int = {
    val knob = sys.env.get("SPARK_GRAFT_BUCKET_SALT").flatMap(_.toIntOption)
      .map(s => math.min(32, math.max(1, s)))
    if (!Vectors.SignBitsForced) {
      knob.filter(_ > 1).foreach(s => System.err.println(
        s"[graft] SPARK_GRAFT_BUCKET_SALT=$s ignored: the sign-LSH " +
          "width is self-sized (the salt is the FORCED-width escape " +
          "hatch — it applies only under SPARK_GRAFT_SIGN_BITS)"))
      1
    } else knob.getOrElse {
      val occ = forcedOccMemo
        .computeIfAbsent(memoKey, _ => java.lang.Long.valueOf(n))
        .longValue >> bits
      if (occ > 8 * Vectors.TargetBucketRows) System.err.println(
        s"[graft] forced sign-LSH width $bits leaves expected bucket " +
          s"occupancy $occ (target ${Vectors.TargetBucketRows}); the " +
          "candidate stream is ~quadratic per bucket. " +
          "SPARK_GRAFT_BUCKET_SALT=N grid-salts the join (measured " +
          "trade: S× parallelism for ~S/2× shuffle bytes — SLOWER at " +
          "the tested geometry, see SCALE.md r20); prefer unsetting " +
          "SPARK_GRAFT_SIGN_BITS so the width self-sizes.")
      1
    }
  }

  /** Equi-join two corpus-sized frames on `bucket`, grid-salted when
    * `salt > 1`: side A slices on pmod(xxhash64(aId), S) — a FUNCTION
    * of the row, so each A-row lands in exactly one slice — and side B
    * replicates to every slice, so every (a, b) bucket pair meets
    * EXACTLY once while the hot bucket's candidate stream fans out
    * S-fold across tasks. This is the structural answer to the one
    * skew AQE cannot see (SCALE.md r19 "what input-size-based planning
    * cannot see"): an LSH band join's map-output BYTES are small while
    * its OUTPUT explodes ~quadratically per bucket, so skew-split
    * never fires and the stage runs on as many cores as there are hot
    * buckets (the forced-8-bit decade-3 run executed on ~2 cores).
    * `salt == 1` returns the plain join with NO added columns — the
    * graded-scale and self-sized paths are structurally unchanged
    * (plan-identical, oracle-identical). */
  private[graft] def bucketSelfJoin(a: DataFrame, b: DataFrame,
      aId: String, salt: Int): DataFrame =
    if (salt <= 1) a.join(b, Seq("bucket"))
    else {
      val aS = a.withColumn("_slice",
        pmod(xxhash64(col(aId)), lit(salt.toLong)))
      val bS = b.withColumn("_slice",
        explode(sequence(lit(0L), lit(salt.toLong - 1L))))
      // SHUFFLE_HASH on the SLICED side (the r20 A/B: without it the
      // planner picked a sort-merge join whose per-key buffered runs —
      // thousands of 540 B vector rows per (bucket, slice) key, past
      // the SMJ buffer's in-memory row threshold — cost ~26× the
      // hash-probe loop per candidate pair: 905 s vs the unsalted
      // 563 s at the forced-8-bit decade-3 geometry, full cores busy
      // doing buffer management). The build side has a size contract
      // BY CONSTRUCTION: per task it is ~corpus/(partitions·salt)
      // sliced rows (~4 MB at the measured geometry) — the same
      // bounded-build SHUFFLE_HASH discipline the jaccard verify
      // documents. The replicated side streams and probes.
      aS.hint("shuffle_hash").join(bS, Seq("bucket", "_slice"))
        .drop("_slice")
    }

  /** The frozen 8-cell IVF codebook (first 8 vectors ≙ a trained
    * coarse quantizer) — shared by sim_ann_ivf and sim_ivf_delta so
    * the monolithic and delta postures assign against the SAME cells. */
  private def centroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"))

  /** Nearest-`rkMax`-cell assignment against a broadcast codebook.
    * L2 is a raw fixed-order fold (see pqRanked): bit-identical across
    * engines, so the assignment rank can't flip on a rounding boundary.
    * Output keeps (vec_id, v, cell, rk).
    *
    * r18 (the sim decade-3 battery's catch): assignment is ROW-LOCAL —
    * the codebook attaches as ONE broadcast array row (the allowlisted
    * scalar attach) and each vector ranks its cells inside a per-row
    * `array_sort` over k structs. The r17 shape cross-joined the k
    * centroids and ranked with a `Window.partitionBy(vec_id)`, which
    * SHUFFLES k copies of the corpus WITH vector payloads just to pick
    * an argmin (measured: 0.67 GB shuffle per ivf query at 2M vectors ⇒
    * ~8× corpus bytes, i.e. a ~full-corpus-sized exchange per
    * assignment at 100 TB where the right number is zero). Semantics
    * are bit-identical: the same left-to-right IEEE d2 fold, and
    * `array_sort` on struct(d2, c_id) orders lexicographically — d2
    * asc, ties to the lowest c_id — exactly the window's order, so the
    * oracle SQL is unchanged. Plan-pinned in PlanSpec (no vec_id-keyed
    * exchange anywhere in sim_ann_ivf). */
  private def ivfAssign(vecs: DataFrame, cents: DataFrame,
      rkMax: Int): DataFrame = {
    val cbArr = cents.agg(
      array_sort(collect_list(struct(col("c_id"), col("c_v")))).as("cb"))
    // graft.plans.CellRank: one compiled pass per row (same IEEE fold,
    // same tie order as the interpreted HOF chain — which the r18
    // battery measured costing 1.4-1.7x wall; see NativeImpl.cellRank)
    val ranked = graft.plans.Native.cell_rank(col("v"), col("cb"))
    vecs.crossJoin(broadcast(cbArr))
      .select(col("vec_id"), col("v"),
        posexplode(slice(ranked, 1, rkMax)).as(Seq("p", "best")))
      .select(col("vec_id"), col("v"), col("best.c_id").as("cell"),
        (col("p") + 1).as("rk"))
  }

  /** The nprobe=2 query set: first 30 vectors probing their 2 nearest
    * cells. */
  private def ivfQueries(e: DataFrame, cents: DataFrame): DataFrame =
    ivfAssign(e.filter(col("vec_id") < 30), cents, 2)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("cell"))

  /** Cell-keyed candidate join against ONE index side — kept separate
    * per side (base probed on its bucket layout, delta probed
    * broadcast) because a union BEFORE the join would erase the base's
    * bucket distribution and force the corpus-sized shuffle the
    * bucketed store exists to avoid. `index` rows are (n_id, n_v,
    * cell). */
  private def ivfCandidates(probed: DataFrame, index: DataFrame): DataFrame =
    probed.join(index, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", Vectors.cosineRounded(col("q_v"), col("n_v")))
      .select("q_id", "n_id", "sim")

  /** Exact-cosine top-3 per query over the unioned candidates — the
    * shared ranking tail of both IVF postures. */
  private def ivfTop3(cands: DataFrame): DataFrame = {
    val bySim = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("n_id").asc)
    cands.withColumn("rk", row_number().over(bySim))
      .filter(col("rk") <= 3)
      .select("q_id", "n_id", "sim", "rk")
  }

  /** PQ encode + ADC ranking, unfiltered (all candidate ranks) — shared
    * by sim_ann_pq (top-3) and sim_ann_pq_rerank (top-10 shortlist).
    *
    * r18: encoding is ROW-LOCAL like ivfAssign — the per-subspace
    * codebook attaches as 4 broadcast rows each carrying its 8
    * centroids as ONE sorted array, and a subvector picks its code
    * inside a per-row `array_sort` (d2 asc, ties to the lowest c_id —
    * the same order the replaced `Window.partitionBy(vec_id, m)` rank
    * imposed, over the same bit-identical fixed-order d2 fold; oracle
    * SQL unchanged). The window shape shuffled 8 subvector-carrying
    * copies of the corpus (measured 1.27 GB per pq query at 2M
    * vectors) to pick per-(vector, subspace) argmins that never needed
    * to leave their partition. */
  private def pqRanked(s: SparkSession, d: String): DataFrame = {
    val M = 4
    val sub = 16
    val e = emb(s, d)
    val subvecs = e.select(col("vec_id"),
      explode(transform(sequence(lit(0), lit(M - 1)),
        m => struct(m.as("m"),
          slice(col("v"), m * sub + 1, lit(sub)).as("v_sub")))).as("mv"))
      .select(col("vec_id"), col("mv.m").as("m"), col("mv.v_sub").as("v_sub"))
    val cb = subvecs.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("m"), col("v_sub").as("c_sub"))
    val cbm = cb.groupBy("m")
      .agg(array_sort(collect_list(struct(col("c_id"), col("c_sub"))))
        .as("cbm"))
    // RAW double, no round(): the fold is a fixed-order (left-to-right)
    // IEEE sum of elementwise squares, so both engines produce the
    // bit-identical value — while a round(…,6) re-introduces divergence
    // exactly at half-way decimals (the sim_quantize_int8 lesson). The
    // oracle mirrors the order with list_reduce, not list_sum.
    // CellRank = the compiled form of that fold (NativeImpl.cellRank).
    val dists = subvecs.join(broadcast(cbm), Seq("m"))
      .withColumn("darr",
        graft.plans.Native.cell_rank(col("v_sub"), col("cbm")))
    val codes = dists
      .select(col("vec_id").as("n_id"), col("m"),
        element_at(col("darr"), 1)("c_id").as("c_id"))
    val qd = dists.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("m"),
        explode(col("darr")).as("dc"))
      .select(col("q_id"), col("m"), col("dc.c_id").as("c_id"),
        col("dc.d2").as("d2"))
    // fixed-order subspace sum (m0+m1+m2+m3) so the float addition
    // order is deterministic and oracle-reproducible; shipped RAW —
    // every addend is itself bit-identical across engines (see d2)
    val adc = qd.join(codes, Seq("m", "c_id"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy("q_id", "n_id")
      .agg(sum(when(col("m") === 0, col("d2"))).as("s0"),
        sum(when(col("m") === 1, col("d2"))).as("s1"),
        sum(when(col("m") === 2, col("d2"))).as("s2"),
        sum(when(col("m") === 3, col("d2"))).as("s3"))
      .select(col("q_id"), col("n_id"),
        (col("s0") + col("s1") + col("s2") + col("s3")).as("ad2"))
    val w = Window.partitionBy("q_id").orderBy(col("ad2").asc, col("n_id").asc)
    adc.withColumn("rk", row_number().over(w))
  }

  val queries: Map[String, Q] = Map(
    // Exact brute-force top-k cosine for the first 20 vectors as queries.
    // Scale shape: the ~20-row QUERY side is broadcast and the corpus
    // streams (never the reverse — broadcasting the corpus OOMs every
    // executor at 100 TB). Top-k is two-phase: per-scan-partition top-k
    // first (keyed on (q_id, partition), so parallelism stays at the scan
    // width), then a final merge ranking over ≤ partitions×K survivors —
    // no stage funnels the full corpus×queries stream through |queries|
    // tasks.
    "sim_ann_bruteforce" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      val cand = e.select(col("vec_id").as("n_id"), col("v").as("n_v"))
      val partial = Window.partitionBy("q_id", "pt")
        .orderBy(col("sim").desc, col("n_id").asc)
      val fin = Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("n_id").asc)
      broadcast(q).join(cand, col("q_id") =!= col("n_id"))
        .withColumn("sim", Vectors.cosineRounded(col("q_v"), col("n_v")))
        .withColumn("pt", spark_partition_id())
        .withColumn("rk1", row_number().over(partial))
        .filter(col("rk1") <= K)
        .withColumn("rk", row_number().over(fin))
        .filter(col("rk") <= K)
        .select("q_id", "n_id", "sim", "rk")
    }),

    // IVF-style ANN: deterministic coarse quantizer (first 8 vectors as
    // centroids ≙ a trained codebook), every vector assigned to its
    // nearest cell, queries probe their 2 nearest cells (nprobe=2) and
    // rank candidates by cosine. At 100 TB: assignment is a broadcast
    // join against the tiny codebook + one keyed shuffle on cell; the
    // probe never scans outside its cells.
    "sim_ann_ivf" -> ((s, d) => {
      val e = emb(s, d)
      val cents = centroids(e)
      val assigned = ivfAssign(e, cents, 1)
        .select(col("vec_id").as("n_id"), col("v").as("n_v"), col("cell"))
      // broadcast(probe): BOUNDED by construction (nprobe × |queries| =
      // 2 × 30 rows at any corpus size) — a static hint WITH a size
      // contract, unlike the unbounded-frame hints r17/r18 removed.
      // Without it the probe's post-window stats are unknown at plan
      // time, so the planner keys the join on cell and the computed
      // index pays a corpus-sized exchange that materializes before
      // AQE can convert (measured: 652 MB shuffle write per query at
      // 2M vectors for a join whose small side is 60 rows).
      ivfTop3(ivfCandidates(broadcast(ivfQueries(e, cents)), assigned))
    }),

    // IVF index in the DELTA posture — the gate's base+delta story
    // applied to the similarity family: the cell-assigned index was
    // materialized at T0 as a bucketed-by-cell on-disk table WITHOUT
    // the late tranche (vec_id % 6 == 0); the late arrivals are
    // assigned with the SAME frozen codebook and ride beside it as an
    // in-memory delta. The probe joins cells against base ∪ delta —
    // base side exchange-free (bucket layout = join layout), delta
    // broadcast — and must return row-identical top-k to the monolithic
    // sim_ann_ivf (same oracle SQL): how the index is physically
    // organized must not change a neighbor. At 100 TB this is how a
    // vector index absorbs a day's ingest without re-clustering the
    // corpus: assignment of the delta is a broadcast-codebook
    // projection, and the periodic compaction (fold delta into base,
    // re-bucket) is the only corpus-sized event.
    "sim_ivf_delta" -> ((s, d) => {
      val e = emb(s, d)
      val cents = centroids(e)
      val baseRows = ivfAssign(e.filter(col("vec_id") % 6 =!= 0), cents, 1)
        .select(col("vec_id").as("n_id"), col("v").as("n_v"), col("cell"))
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-ivfbase-${d.replace('/', '_')}").getAbsolutePath
      Layout.bucketedStoreWrite(baseRows, "graft_ivf_base", dir, 8,
        Seq("cell"))
      val base = s.table("graft_ivf_base")
      val delta = ivfAssign(e.filter(col("vec_id") % 6 === 0), cents, 1)
        .select(col("vec_id").as("n_id"), col("v").as("n_v"), col("cell"))
      val probed = ivfQueries(e, cents)
      // r17: no static broadcast hint on the delta — the same defect
      // class the ~sf100 gate battery caught in classifyStoredDeltas
      // (an unbounded frame under a forced broadcast OOMs under memory
      // pressure; this fixture's delta is 1/6 of ALL vectors, linear in
      // the corpus). AQE's runtime sizing broadcasts the ingest-scale
      // delta it sees at every tested scale and falls back to the
      // keyed cell join when a backfill-scale delta arrives.
      ivfTop3(ivfCandidates(probed, base)
        .unionByName(ivfCandidates(probed, delta)))
    }),

    // One Lloyd iteration of k-means (k = 8, seeds = the first 8 vectors
    // ≙ a provided initialization) — the embedding-clustering primitive
    // under IVF codebook training and SemDeDup-style cluster pruning.
    // E-step: broadcast the 8 centroids, every vector picks its nearest
    // by L2 ROW-LOCALLY (ivfAssign's r18 shape — the former
    // window-ranked crossJoin shuffled 8 payload-carrying copies of the
    // corpus to pick an argmin). M-step: the new
    // centroid matrix as ONE keyed aggregation over (cluster, dim) —
    // per-dimension means partial-aggregate map-side, so at 100 TB the
    // shuffle carries k·dims partial sums per partition, never vectors.
    "sim_kmeans_step" -> ((s, d) => {
      val e = emb(s, d)
      val cents = centroids(e)
      val assigned = ivfAssign(e, cents, 1)
        .select(col("cell").as("cluster_id"), col("v"))
      assigned
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("p", "x")))
        .groupBy(col("cluster_id"), (col("p") + 1).as("pos"))
        .agg(count(lit(1)).as("n_members"), round(avg("x"), 6).as("mean"))
    }),

    // Product-quantization ANN (PQ, Jégou et al. 2011 — public method):
    // 64-dim vectors split into M=4 subspaces × 16 dims, each subvector
    // quantized to its nearest of 8 per-subspace centroids (deterministic
    // codebook: the first 8 vectors' subvectors, as sim_ann_ivf). Query
    // ranking is asymmetric distance (ADC): per query, a 4×8 lookup table
    // of exact subspace distances; a corpus vector's approximate distance
    // is the sum of the 4 entries its codes select. THE memory story at
    // 100 TB: the ranking scan touches 4 code bytes per corpus vector
    // (not 256 float bytes), the LUT is broadcast, and the join is keyed
    // on (subspace, code) — no full-vector reads outside re-ranking.
    "sim_ann_pq" -> ((s, d) =>
      pqRanked(s, d).filter(col("rk") <= 3)
        .select("q_id", "n_id", "ad2", "rk")),

    // Two-stage retrieval: PQ ADC shortlist (top-10, cheap approximate
    // scan) → exact cosine re-rank of the shortlist (top-3). The
    // production recall pattern: the approximate stage bounds how many
    // full vectors are ever read (10 per query), so the exact stage's
    // cost is independent of corpus size.
    "sim_ann_pq_rerank" -> ((s, d) => {
      val e = emb(s, d)
      val shortlist = pqRanked(s, d)
        .filter(col("rk") <= 10)
        .select(col("q_id"), col("n_id"))
      val byCos = Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("n_id").asc)
      shortlist
        .join(e.select(col("vec_id").as("q_id"), col("v").as("q_v")), "q_id")
        .join(e.select(col("vec_id").as("n_id"), col("v").as("n_v")), "n_id")
        .withColumn("sim", Vectors.cosineRounded(col("q_v"), col("n_v")))
        .withColumn("rr", row_number().over(byCos))
        .filter(col("rr") <= 3)
        .select("q_id", "n_id", "sim", "rr")
    }),

    // LSH-bucketed ANN: sign bits of the leading components as the
    // coarse bucket (width self-sized from the corpus count, r19);
    // top-3 within bucket.
    "sim_ann_bucketed" -> ((s, d) => {
      val e = emb(s, d)
        .withColumn("bucket", Vectors.signBucket(col("v"), effBits(s, d)))
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("bucket"))
      val cand = e.select(col("vec_id").as("n_id"), col("v").as("n_v"),
        col("bucket"))
      val w = Window.partitionBy("q_id")
        .orderBy(col("sim").desc, col("n_id").asc)
      q.join(cand, Seq("bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("sim", Vectors.cosineRounded(col("q_v"), col("n_v")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("bucket", "q_id", "n_id", "sim", "rk")
    }),

    // All-pairs k-NN graph (k=3) over the WHOLE corpus — the SemDeDup /
    // embedding-clustering precursor, i.e. sim_ann_bucketed with every
    // vector as a query. The sign-bucket blocks the self-join so the
    // candidate set per vector is corpus/2^bits in expectation
    // regardless of labels; the bucket width SELF-SIZES from the
    // corpus count at plan build (r19, Vectors.sizedSignBitsFor;
    // SPARK_GRAFT_SIGN_BITS is now the override, not the only
    // control), so per-block fan-out stays constant as the corpus
    // grows without a human reading SCALE.md. The per-vector top-k is
    // the PRIMITIVE bounded aggregate (r19 — see the rank-stage note
    // below): r18's boxed CollectTopK lost ~4× to the rank window
    // (bench_scale_sim_syn10_topk_r18.json), but the slot-array
    // rewrite wins at right-sized fan-out AND survives un-sizable
    // fan-out, so the aggregate is now the default and the window the
    // knob (SCALE.md r19).
    "sim_knn_graph" -> ((s, d) => {
      val bits = effBits(s, d)
      val e = emb(s, d)
        .withColumn("bucket", Vectors.signBucket(col("v"), bits))
      val a = e.select(col("vec_id"), col("v").as("a_v"), col("bucket"))
      val b = e.select(col("vec_id").as("nbr_id"), col("v").as("b_v"),
        col("bucket"))
      val salt = forcedBucketSalt(emb(s, d).count(), bits, d)
      // r20 (ADVICE): drop null sim/nbr_id rows BEFORE the impl branch
      // so both rank stages share the same null semantics — TopKPairs'
      // update() silently skips null score/id rows, while the rank
      // window (DESC = NULLS LAST) would still emit them at ranks ≤ 3
      // in a group with fewer than 3 non-null candidates; without this
      // filter an SPARK_GRAFT_KNN_IMPL A/B flip changes output on any
      // corpus with null embeddings. PropertySpec pins the parity on a
      // null-bearing fixture.
      val cand = bucketSelfJoin(a, b, "vec_id", salt)
        .filter(col("vec_id") =!= col("nbr_id"))
        .withColumn("sim", Vectors.cosineRounded(col("a_v"), col("b_v")))
        .filter(col("sim").isNotNull && col("nbr_id").isNotNull)
      // r19 (verdict Next 5): the rank stage DEFAULTS to the PRIMITIVE
      // top-k aggregate (Native.top_k_pairs — two fixed slot arrays per
      // group, output already rank-sorted so pos+1 IS the rank), which
      // reversed the r18 boxed-heap negative result on BOTH axes:
      // 1.3–1.7× FASTER than the rank window at right-sized fan-out
      // (knn 5.99→3.46 s, triangle 8.33→5.01, hard-neg 7.12→5.41 at
      // decade 2, bench_scale_sim_syn10_{win,topk2}_r19.json) and it
      // COMPLETES the 8-bit decade-3 geometry the window's sort died
      // on disk under (562.6 s / zero spill vs r18's ~500 GB death,
      // bench_scale_sim_syn100_bucket8_topk_r19.json) — constant
      // k-slot memory per group at ANY fan-out. Rank parity is pinned
      // in PropertySpec incl. ±0.0/NaN ties and the oracle is green
      // under both impls. SPARK_GRAFT_KNN_IMPL=window selects the old
      // rank window (A/B re-runs). Sessions running this path at scale
      // should raise spark.sql.objectHashAggregate.sortBased
      // .fallbackThreshold (Bench scopes it per-query via
      // TopKHeapQueries); the 128-key default degrades to a sort of
      // the candidate stream — still CORRECT, and at the graded
      // correctness scales (sf0.01/0.1) the un-raised default is fine.
      if (sys.env.get("SPARK_GRAFT_KNN_IMPL").contains("window")) {
        val w = Window.partitionBy("vec_id")
          .orderBy(col("sim").desc, col("nbr_id").asc)
        cand.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("vec_id", "nbr_id", "sim", "rk")
      } else
        cand.groupBy("vec_id")
          .agg(graft.plans.Native.top_k_pairs(col("sim"), col("nbr_id"), 3)
            .as("t"))
          .select(col("vec_id"), posexplode(col("t")))
          .select(col("vec_id"), col("col.nbr").as("nbr_id"),
            col("col.sim").as("sim"), (col("pos") + 1).as("rk"))
    }),

    // SemDeDup-style drop list: greedy keep-lowest-id within embedding
    // near-dup pairs — a vector is dropped iff some LOWER-id bucket-mate
    // sits within the similarity gate, and the drop is attributed to the
    // smallest such keeper (deterministic, order-free). Emitting the
    // DROP list (small) rather than the survivor set (corpus-sized) is
    // the warehouse pattern: downstream anti-joins it. Same sign-bucket
    // equi-join as the knn graph; the gate (0.4 here — the synthetic
    // embeddings are near-orthogonal) is a parameter, not structure.
    "dd_semdedup" -> ((s, d) => {
      val e = emb(s, d)
      val bits = effBits(s, d)
      val victim = e.select(col("vec_id"), col("v").as("a_v"),
        Vectors.signBucket(col("v"), bits).as("bucket"))
      val keeper = e.select(col("vec_id").as("kept_id"), col("v").as("b_v"),
        Vectors.signBucket(col("v"), bits).as("bucket"))
      bucketSelfJoin(victim, keeper, "vec_id",
          forcedBucketSalt(e.count(), bits, d))
        .filter(col("kept_id") < col("vec_id"))
        .withColumn("sim", Vectors.cosineRounded(col("a_v"), col("b_v")))
        .filter(col("sim") >= 0.4)
        .groupBy("vec_id")
        .agg(min(col("kept_id")).as("kept_id"),
          min_by(col("sim"), col("kept_id")).as("sim"))
    }),

    // Embedding-space decontamination — the SEMANTIC tier of the
    // decontamination family (dd_decontaminate / dd_bloom / containment
    // are lexical n-gram tiers; paraphrased eval leakage slips all of
    // them). Every corpus vector within the cosine gate of ANY eval
    // vector is flagged with its strongest eval match (argmax, ties to
    // the lowest eval id). Scale shape: the eval set is SMALL at any
    // corpus size (benchmarks are thousands of rows, not billions) so
    // it broadcasts and the corpus streams through one scan — zero
    // corpus exchange; only the (flag-sized) argmax shuffles. 0.4 gate
    // matches dd_semdedup (synthetic embeddings are near-orthogonal).
    // r18: the eval slice is BOUNDED to the first ScaleSynth replica
    // (vec_id < ScaleSynth.IdOffset — a no-op at the graded scales,
    // whose ids all sit below it) so the fixture honors the operator's
    // own contract: an eval set is benchmark-sized at ANY corpus size.
    // Without the bound, ScaleSynth's id offsets (≡ 0 mod 25) made
    // every replica's copies eval too — the decade batteries would
    // have measured a quadratic workload the operator's design
    // explicitly rules out. r19 (ADVICE): the boundary reads the ONE
    // shared constant (here and in the oracle SQL below) so a future
    // offset change cannot silently break it.
    "dd_embed_decontaminate" -> ((s, d) => {
      val e = emb(s, d)
      val ev = e.filter(col("vec_id") % 25 === 0 &&
          col("vec_id") < graft.ScaleSynth.IdOffset)
        .select(col("vec_id").as("eval_id"), col("v").as("e_v"))
      val corp = e.filter(col("vec_id") % 25 =!= 0 ||
          col("vec_id") >= graft.ScaleSynth.IdOffset)
        .select(col("vec_id"), col("v").as("c_v"))
      corp.crossJoin(broadcast(ev))
        .withColumn("sim", Vectors.cosineRounded(col("c_v"), col("e_v")))
        .filter(col("sim") >= 0.4)
        .groupBy("vec_id")
        .agg(max(struct(col("sim"), (-col("eval_id")).as("ni"))).as("m"))
        .select(col("vec_id"), (-col("m.ni")).cast("long").as("eval_id"),
          col("m.sim").as("sim"))
    }),

    // ANN quality measurement: recall@3 of the IVF probe against the
    // exact top-3 — the accept/reject metric that decides whether an
    // approximate index ships. Pure composition of the two pipelines
    // above; hits are an (q_id, n_id) equi-join, so the metric is
    // integer-exact across engines. (At 100 TB: recall is measured on a
    // sampled query set exactly like this one — the exact side is the
    // only brute-force scan, bounded by the sample.)
    "sim_ann_recall" -> ((s, d) => {
      val exact = queries("sim_ann_bruteforce")(s, d)
        .filter(col("rk") <= 3).select(col("q_id"), col("n_id"))
      val approx = queries("sim_ann_ivf")(s, d)
        .filter(col("q_id") < 20).select(col("q_id"), col("n_id"))
      val hits = exact.join(approx, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("h"))
      // keep zero-hit query points: a miss is exactly what the metric
      // exists to surface
      exact.select("q_id").distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("h"), lit(0L)).as("n_hits"))
    }),

    // Int8 scalar quantization of the embedding column — the storage and
    // shuffle-bandwidth path a 100 TB vector corpus actually ships:
    // 4 bytes/dim float32 → 1 byte/dim code + one scale per vector
    // (symmetric per-vector max-abs scaling, the classic SQ8 shape).
    // Everything is row-local codegen'd projection — ZERO exchanges at
    // any corpus size — and the reconstruction-error column doubles as
    // the quality audit (max over dims is order-independent, so the
    // float math is oracle-reproducible; codes render as a string so no
    // engine-specific array hashing enters the comparison).
    "sim_quantize_int8" -> ((s, d) => {
      emb(s, d)
        .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
        .filter(col("scale") > 0)
        .withColumn("codes", transform(col("v"),
          x => round(x * 127.0 / col("scale")).cast("int")))
        // scale and max_abs_err ship RAW (no round): every op in their
        // lineage is elementwise IEEE double math with a fixed operand
        // order, so both engines produce bit-identical values — while a
        // round(…,6) would re-INTRODUCE divergence at half-way decimals
        // (BigDecimal-on-string vs multiply-by-1e6 rounding disagree on
        // e.g. …12255e-7, observed on 3 of 500 rows at sf0.01).
        .select(col("vec_id"), col("scale"),
          array_join(transform(col("codes"), _.cast("string")), ",")
            .as("codes"),
          array_max(zip_with(col("v"), col("codes"),
            (x, c) => abs(x - c * col("scale") / 127.0)))
            .as("max_abs_err"))
    }),

    // Per-node triangle participation over the mutual-kNN graph — the
    // clustering-coefficient precursor (how clique-like is a vector's
    // neighborhood?) that grades dedup-cluster quality: near-dup groups
    // show as dense triangles, chains of borderline matches don't. The
    // standard edge-iterator enumeration (public method): canonical
    // undirected edges a<b, then e(a,b)⋈e(b,c)⋈e(a,c) — every join a
    // KEYED equi-join on node ids, so at 100 TB this is the classic
    // O(m^1.5) distributed triangle count; the per-node rollup is one
    // keyed agg over 3 rows per triangle. Integer-only output.
    "g_triangle_count" -> ((s, d) => {
      // persisted: the edge set feeds all three enumeration branches —
      // without it the knn bucket-join + cosine pass recomputes per
      // reference. Slim (a, b) pairs only.
      val und = queries("sim_knn_graph")(s, d)
        .select(least(col("vec_id"), col("nbr_id")).as("a"),
          greatest(col("vec_id"), col("nbr_id")).as("b"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tris = und
        .join(und.select(col("a").as("b"), col("b").as("c")), Seq("b"))
        .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"))
      tris.select(col("a").as("node_id"))
        .unionAll(tris.select(col("b").as("node_id")))
        .unionAll(tris.select(col("c").as("node_id")))
        .groupBy("node_id")
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // Hard-negative mining for contrastive embedding training (public
    // recipe: the most similar neighbor that is NOT a near-duplicate —
    // close enough to be informative, far enough to be a true
    // negative). Composes the knn graph with the semantic-dup exclusion
    // set: bucket-mates at or above the dedup gate (0.4) are excluded
    // by a keyed LEFT ANTI, then each anchor keeps its top surviving
    // neighbor. Same sign-bucket equi-joins as the knn graph — nothing
    // all-pairs — and the per-anchor top-1 is a rank window over ≤k
    // rows each.
    "samp_hard_negatives" -> ((s, d) => {
      val knn = queries("sim_knn_graph")(s, d)
      val bits = effBits(s, d)
      val e = emb(s, d)
        .withColumn("bucket", Vectors.signBucket(col("v"), bits))
      val a = e.select(col("vec_id"), col("v").as("a_v"), col("bucket"))
      val b = e.select(col("vec_id").as("nbr_id"), col("v").as("b_v"),
        col("bucket"))
      val dup = bucketSelfJoin(a, b, "vec_id",
          forcedBucketSalt(emb(s, d).count(), bits, d))
        .filter(col("vec_id") =!= col("nbr_id"))
        .filter(Vectors.cosineRounded(col("a_v"), col("b_v")) >= 0.4)
        .select("vec_id", "nbr_id")
      val w = Window.partitionBy("vec_id")
        .orderBy(col("sim").desc, col("nbr_id").asc)
      knn.join(dup, Seq("vec_id", "nbr_id"), "left_anti")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("nbr_id").as("hard_neg_id"), col("sim"))
    }),

    // Embedding-space drift monitor — the vector companion of dq_drift's
    // token-distribution snapshot compare: per label, the cosine between
    // the two snapshot halves' centroid vectors (≈1 stable, departures
    // flag embedding-space shift from recrawls/model swaps). Per-dim
    // means partial-aggregate map-side with the sim_kmeans_step
    // round-6dp recipe (the shuffle carries labels×64 partial sums, no
    // vector rides it); the final cosine runs over the label's two
    // 64-value mean vectors assembled in position order.
    "emb_centroid_drift" -> ((s, d) => {
      val means = emb(s, d)
        .select(col("label"), (col("vec_id") % 2 === 0).as("is_a"),
          posexplode(col("v")).as(Seq("p", "x")))
        .groupBy(col("label"), (col("p") + 1).as("pos"))
        .agg(round(avg(when(col("is_a"), col("x"))), 6).as("ma"),
          round(avg(when(!col("is_a"), col("x"))), 6).as("mb"))
      means.groupBy("label")
        .agg(array_sort(collect_list(
          struct(col("pos"), col("ma"), col("mb")))).as("ms"))
        .select(col("label"),
          transform(col("ms"), m => m("ma")).as("va"),
          transform(col("ms"), m => m("mb")).as("vb"))
        .select(col("label"),
          Vectors.cosineRounded(col("va"), col("vb")).as("drift_cos"))
    }),

    // Embedding outlier scoring — distance to the own-label centroid,
    // the filter that drops mislabeled/garbage vectors before they
    // poison contrastive training or ANN indexes. Two passes: the
    // label-centroid table (labels×64 rows of 6dp-rounded means — the
    // sim_kmeans_step recipe — reassembled into per-label vectors) is
    // LABEL-COUNT-sized → broadcast; each vector then computes its
    // squared distance as a row-local fixed-order fold, shipped RAW
    // (every addend is (x − m)² of a raw datum and a rounded mean —
    // bit-identical across engines, the pqRanked recipe). One keyed
    // exchange for the centroid agg, zero for the scoring scan.
    "emb_outlier_score" -> ((s, d) => {
      val cents = emb(s, d)
        .select(col("label"), posexplode(col("v")).as(Seq("p", "x")))
        .groupBy(col("label"), (col("p") + 1).as("pos"))
        .agg(round(avg("x"), 6).as("m"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("ms"))
        .select(col("label"), transform(col("ms"), e => e("m")).as("mv"))
      val d2 = aggregate(
        zip_with(col("v"), col("mv"), (x, m) => (x - m) * (x - m)),
        lit(0.0), (acc, t) => acc + t)
      emb(s, d).join(broadcast(cents), Seq("label"))
        .select(col("vec_id"), col("label"), d2.as("d2"))
    }),

    // One power-iteration step for the corpus' top principal direction
    // (uncentered PCA / top singular vector — the embedding-analytics
    // primitive under whitening, drift detection, and spectral dedup;
    // centering composes by subtracting a broadcast mean first). THE
    // distributed matvec shape: w = Aᵀ(A·v₀) with v₀ = 1/√64 per dim —
    // each row contributes s·eᵢ where s = e·v₀ is a row-local
    // fixed-order fold, and the elementwise accumulation ships only
    // 64 partial sums per partition map-side (the sim_kmeans_step
    // round-6dp recipe for corpus-order float sums; no vector ever
    // rides a shuffle). The norm over the 64 ROUNDED coordinates is a
    // single-row position-sorted fold, so every shipped value is
    // deterministic. ZERO joins at any corpus size.
    "emb_pca_step" -> ((s, d) => {
      val sDot = aggregate(col("v"), lit(0.0),
        (a, x) => a + x * lit(0.125))
      emb(s, d)
        .select(col("vec_id"), sDot.as("sc"), col("v"))
        .select(col("sc"), posexplode(col("v")).as(Seq("p", "x")))
        .groupBy((col("p") + 1).as("pos"))
        .agg(round(sum(col("x") * col("sc")), 6).as("w"))
        .agg(array_sort(collect_list(struct(col("pos"), col("w"))))
          .as("ws"))
        .select(col("ws"),
          sqrt(aggregate(col("ws"), lit(0.0),
            (a, x) => a + x("w") * x("w"))).as("norm"))
        .select(explode(col("ws")).as("e"), col("norm"))
        .select(col("e.pos").as("pos"), col("e.w").as("w"),
          round(col("e.w") / col("norm"), 6).as("component"))
    })
  )

  private val bruteforceSql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    round(list_cosine_similarity(q.v, c.v), 4) AS sim
       |  FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, n_id ASC) AS rk FROM s)
       |SELECT q_id, n_id, sim, rk FROM r WHERE rk <= $K""".stripMargin

  private val ivfSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cents AS (SELECT vec_id AS c_id, v AS c_v FROM e WHERE vec_id < 8),
      |dist AS (
      |  SELECT e.vec_id, e.v, c.c_id,
      |    list_reduce(list_transform(generate_series(1, 64),
      |      i -> (e.v[i] - c.c_v[i]) * (e.v[i] - c.c_v[i])),
      |      (x, y) -> x + y) AS d2
      |  FROM e, cents c),
      |assigned AS (
      |  SELECT vec_id AS n_id, v AS n_v, c_id AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |             ORDER BY d2 ASC, c_id ASC) AS rk FROM dist) t
      |  WHERE rk = 1),
      |probed AS (
      |  SELECT vec_id AS q_id, v AS q_v, c_id AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |             ORDER BY d2 ASC, c_id ASC) AS rk
      |    FROM dist WHERE vec_id < 30) t
      |  WHERE rk <= 2),
      |scored AS (
      |  SELECT p.q_id, a.n_id,
      |    round(list_cosine_similarity(p.q_v, a.n_v), 4) AS sim
      |  FROM probed p JOIN assigned a ON p.cell = a.cell
      |  WHERE p.q_id <> a.n_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |        ORDER BY sim DESC, n_id ASC) AS rk FROM scored)
      |SELECT q_id, n_id, sim, rk FROM r WHERE rk <= 3""".stripMargin

  /** sim_knn_graph oracle body — also the edge source for
    * g_triangle_count's oracle. */
  private val knnGraphSql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_sum(list_transform(generate_series(0, ${Vectors.SignBucketBits - 1}), i ->
       |      CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS bucket
       |  FROM embeddings),
       |s AS (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    round(list_cosine_similarity(a.v, b.v), 4) AS sim
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sim DESC, nbr_id ASC) AS rk FROM s)
       |SELECT vec_id, nbr_id, sim, rk FROM r WHERE rk <= 3""".stripMargin

  val oracles: Map[String, String] = Map(
    // sc mirrors the engine's in-order fold over v (seedless list_reduce
    // ≡ seeded-from-0.0 because x*0.125 addends are finite and the first
    // is never a sign-flipping -0.0 for real embedding data); per-dim
    // sums are rounded at 6dp (corpus-order accumulation, the
    // sim_kmeans_step recipe) BEFORE the deterministic norm fold.
    "emb_pca_step" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    list_reduce(list_transform(v, x -> x * 0.125),
        |      (x, y) -> x + y) AS sc
        |  FROM e),
        |u AS (
        |  SELECT CAST(i AS INT) AS pos, v[CAST(i AS INT)] * sc AS xs
        |  FROM s, generate_series(1, 64) g(i)),
        |w AS (SELECT pos, round(sum(xs), 6) AS w FROM u GROUP BY pos),
        |n AS (
        |  SELECT sqrt(list_reduce(list_transform(list(w ORDER BY pos),
        |    x -> x * x), (x, y) -> x + y)) AS norm
        |  FROM w)
        |SELECT w.pos, w.w, round(w.w / n.norm, 6) AS component
        |FROM w, n""".stripMargin,
    "sim_ann_bruteforce" -> bruteforceSql,
    "sim_ann_ivf" -> ivfSql,
    // identical output contract: the delta posture must not change a
    // neighbor
    "sim_ivf_delta" -> ivfSql,
    // Both component pipelines are independently oracle-green; the recall
    // oracle composes them verbatim as subqueries so the two engines
    // measure the identical approx-vs-exact comparison.
    "sim_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
        |c AS (SELECT vec_id, v, scale,
        |        list_transform(v, x -> CAST(round(x * 127.0 / scale) AS INT))
        |          AS codes
        |      FROM s WHERE scale > 0)
        |SELECT vec_id, scale,
        |  array_to_string(codes, ',') AS codes,
        |  list_max(list_transform(generate_series(1, 64),
        |    i -> abs(v[i] - codes[i] * scale / 127.0))) AS max_abs_err
        |FROM c""".stripMargin,
    "sim_ann_recall" ->
      s"""WITH exact AS (
         |  SELECT q_id, n_id FROM ($bruteforceSql) WHERE rk <= 3),
         |approx AS (
         |  SELECT q_id, n_id FROM ($ivfSql) WHERE q_id < 20),
         |h AS (SELECT q_id, count(*) AS h
         |      FROM exact JOIN approx USING (q_id, n_id) GROUP BY q_id)
         |SELECT q.q_id, coalesce(h.h, 0)::BIGINT AS n_hits
         |FROM (SELECT DISTINCT q_id FROM exact) q
         |LEFT JOIN h USING (q_id)""".stripMargin,
    "sim_kmeans_step" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS (SELECT vec_id AS c_id, v AS c_v FROM e WHERE vec_id < 8),
        |dist AS (
        |  SELECT e.vec_id, e.v, c.c_id,
        |    list_reduce(list_transform(generate_series(1, 64),
        |      i -> (e.v[i] - c.c_v[i]) * (e.v[i] - c.c_v[i])),
        |      (x, y) -> x + y) AS d2
        |  FROM e, cents c),
        |assigned AS (
        |  SELECT c_id AS cluster_id, v FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |             ORDER BY d2 ASC, c_id ASC) AS rk FROM dist) t
        |  WHERE rk = 1),
        |u AS (
        |  SELECT cluster_id, i AS pos, v[i] AS x
        |  FROM assigned, unnest(generate_series(1, 64)) AS g(i))
        |SELECT cluster_id, pos, count(*) AS n_members,
        |  round(avg(x), 6) AS mean
        |FROM u GROUP BY cluster_id, pos""".stripMargin,
    // dists/adc mirror the engine's FIXED-ORDER raw-double arithmetic:
    // list_reduce is a left fold in element order (≡ Spark's aggregate
    // from 0.0 — squares are never -0.0, so the seedless fold is
    // bit-identical), and the adc sum is the same left-assoc m0..m3
    // chain. No round() anywhere: every value ships as the raw IEEE
    // double both engines computed identically.
    "sim_ann_pq" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sub AS (
        |  SELECT vec_id, m, v[m*16+1 : m*16+16] AS v_sub
        |  FROM e, unnest(generate_series(0, 3)) AS g(m)),
        |cb AS (SELECT vec_id AS c_id, m, v_sub AS c_sub
        |       FROM sub WHERE vec_id < 8),
        |dists AS (
        |  SELECT s.vec_id, s.m, c.c_id,
        |    list_reduce(list_transform(generate_series(1, 16),
        |      i -> (s.v_sub[i] - c.c_sub[i]) * (s.v_sub[i] - c.c_sub[i])),
        |      (x, y) -> x + y) AS d2
        |  FROM sub s JOIN cb c ON s.m = c.m),
        |codes AS (
        |  SELECT vec_id AS n_id, m, c_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
        |             ORDER BY d2 ASC, c_id ASC) AS rk FROM dists) t
        |  WHERE rk = 1),
        |qd AS (SELECT vec_id AS q_id, m, c_id, d2
        |       FROM dists WHERE vec_id < 20),
        |adc AS (
        |  SELECT q_id, n_id,
        |    sum(d2) FILTER (m = 0) + sum(d2) FILTER (m = 1) +
        |    sum(d2) FILTER (m = 2) + sum(d2) FILTER (m = 3) AS ad2
        |  FROM qd JOIN codes USING (m, c_id)
        |  WHERE q_id <> n_id
        |  GROUP BY q_id, n_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY ad2 ASC, n_id ASC) AS rk FROM adc)
        |SELECT q_id, n_id, ad2, rk FROM r WHERE rk <= 3""".stripMargin,
    "sim_ann_pq_rerank" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sub AS (
        |  SELECT vec_id, m, v[m*16+1 : m*16+16] AS v_sub
        |  FROM e, unnest(generate_series(0, 3)) AS g(m)),
        |cb AS (SELECT vec_id AS c_id, m, v_sub AS c_sub
        |       FROM sub WHERE vec_id < 8),
        |dists AS (
        |  SELECT s.vec_id, s.m, c.c_id,
        |    list_reduce(list_transform(generate_series(1, 16),
        |      i -> (s.v_sub[i] - c.c_sub[i]) * (s.v_sub[i] - c.c_sub[i])),
        |      (x, y) -> x + y) AS d2
        |  FROM sub s JOIN cb c ON s.m = c.m),
        |codes AS (
        |  SELECT vec_id AS n_id, m, c_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
        |             ORDER BY d2 ASC, c_id ASC) AS rk FROM dists) t
        |  WHERE rk = 1),
        |qd AS (SELECT vec_id AS q_id, m, c_id, d2
        |       FROM dists WHERE vec_id < 20),
        |adc AS (
        |  SELECT q_id, n_id,
        |    sum(d2) FILTER (m = 0) + sum(d2) FILTER (m = 1) +
        |    sum(d2) FILTER (m = 2) + sum(d2) FILTER (m = 3) AS ad2
        |  FROM qd JOIN codes USING (m, c_id)
        |  WHERE q_id <> n_id
        |  GROUP BY q_id, n_id),
        |shortlist AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |             ORDER BY ad2 ASC, n_id ASC) AS rk FROM adc) t
        |  WHERE rk <= 10),
        |scored AS (
        |  SELECT s.q_id, s.n_id,
        |    round(list_cosine_similarity(q.v, n.v), 4) AS sim
        |  FROM shortlist s
        |  JOIN e q ON s.q_id = q.vec_id
        |  JOIN e n ON s.n_id = n.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY sim DESC, n_id ASC) AS rr FROM scored)
        |SELECT q_id, n_id, sim, rr FROM r WHERE rr <= 3""".stripMargin,
    "sim_ann_bucketed" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_sum(list_transform(generate_series(0, ${Vectors.SignBucketBits - 1}), i ->
        |      CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS bucket
        |  FROM embeddings),
        |s AS (
        |  SELECT q.bucket, q.vec_id AS q_id, c.vec_id AS n_id,
        |    round(list_cosine_similarity(q.v, c.v), 4) AS sim
        |  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 50),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY sim DESC, n_id ASC) AS rk FROM s)
        |SELECT bucket, q_id, n_id, sim, rk FROM r WHERE rk <= 3""".stripMargin,
    "sim_knn_graph" -> knnGraphSql,
    "samp_hard_negatives" ->
      s"""WITH knn AS ($knnGraphSql),
        |e2 AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_sum(list_transform(generate_series(0, ${Vectors.SignBucketBits - 1}), i ->
        |      CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS bucket
        |  FROM embeddings),
        |dp AS (
        |  SELECT a.vec_id, b.vec_id AS nbr_id
        |  FROM e2 a JOIN e2 b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4),
        |f AS (
        |  SELECT k.* FROM knn k
        |  LEFT JOIN dp ON dp.vec_id = k.vec_id AND dp.nbr_id = k.nbr_id
        |  WHERE dp.vec_id IS NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |        ORDER BY sim DESC, nbr_id ASC) AS rn FROM f)
        |SELECT vec_id, nbr_id AS hard_neg_id, sim FROM r WHERE rn = 1""".stripMargin,
    // centroid means rounded 6dp (corpus-order accumulation), the
    // per-vector fold raw fixed-order — same split as the engine.
    "emb_outlier_score" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |u AS (SELECT label, CAST(i AS INT) AS pos, v[CAST(i AS INT)] AS x
        |      FROM e, generate_series(1, 64) g(i)),
        |m AS (SELECT label, pos, round(avg(x), 6) AS m
        |      FROM u GROUP BY 1, 2),
        |c AS (SELECT label, list(m ORDER BY pos) AS mv FROM m
        |      GROUP BY label)
        |SELECT e.vec_id, e.label,
        |  list_reduce(list_transform(generate_series(1, 64),
        |    i -> (e.v[i] - c.mv[i]) * (e.v[i] - c.mv[i])),
        |    (a, b) -> a + b) AS d2
        |FROM e JOIN c USING (label)""".stripMargin,
    "emb_centroid_drift" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |u AS (SELECT label, vec_id % 2 = 0 AS is_a, CAST(i AS INT) AS pos,
        |        v[CAST(i AS INT)] AS x
        |      FROM e, generate_series(1, 64) g(i)),
        |m AS (SELECT label, pos,
        |        round(avg(CASE WHEN is_a THEN x END), 6) AS ma,
        |        round(avg(CASE WHEN NOT is_a THEN x END), 6) AS mb
        |      FROM u GROUP BY 1, 2)
        |SELECT label,
        |  round(list_cosine_similarity(list(ma ORDER BY pos),
        |    list(mb ORDER BY pos)), 4) AS drift_cos
        |FROM m GROUP BY label""".stripMargin,
    // triangles over the knn oracle's edge set; a<b<c holds by
    // construction of the canonical edges, so each triangle enumerates
    // exactly once
    "g_triangle_count" ->
      s"""WITH knn AS ($knnGraphSql),
        |und AS (SELECT DISTINCT least(vec_id, nbr_id) AS a,
        |                        greatest(vec_id, nbr_id) AS b FROM knn),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |un AS (SELECT a AS node_id FROM tri
        |       UNION ALL SELECT b FROM tri
        |       UNION ALL SELECT c FROM tri)
        |SELECT node_id, count(*) AS n_triangles
        |FROM un GROUP BY node_id""".stripMargin,
    "dd_embed_decontaminate" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |ev AS (SELECT vec_id AS eval_id, v FROM e
        |       WHERE vec_id % 25 = 0 AND vec_id < ${graft.ScaleSynth.IdOffset}),
        |corp AS (SELECT vec_id, v FROM e
        |         WHERE vec_id % 25 <> 0 OR vec_id >= ${graft.ScaleSynth.IdOffset}),
        |hits AS (
        |  SELECT c.vec_id, ev.eval_id,
        |    round(list_cosine_similarity(c.v, ev.v), 4) AS sim
        |  FROM corp c JOIN ev ON true
        |  WHERE round(list_cosine_similarity(c.v, ev.v), 4) >= 0.4),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |        ORDER BY sim DESC, eval_id ASC) AS rn FROM hits)
        |SELECT vec_id, eval_id, sim FROM r WHERE rn = 1""".stripMargin,
    "dd_semdedup" ->
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_sum(list_transform(generate_series(0, ${Vectors.SignBucketBits - 1}), i ->
        |      CASE WHEN v[i+1] > 0 THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS bucket
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id, b.vec_id AS kept_id,
        |    round(list_cosine_similarity(a.v, b.v), 4) AS sim
        |  FROM e a JOIN e b ON a.bucket = b.bucket AND b.vec_id < a.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |        ORDER BY kept_id, sim) AS rn FROM p)
        |SELECT vec_id, kept_id, sim FROM r WHERE rn = 1""".stripMargin
  )
}
