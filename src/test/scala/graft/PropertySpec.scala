package graft

import graft.functions.Texts
import graft.operators.Layout
import org.apache.spark.sql.functions._

/** Seeded bulk property checks — each property is ONE Spark job over
  * thousands of generated inputs (not a job per sample), so the suite
  * stays fast while sweeping far more of the input space than pinned
  * fixtures do. Seeds are fixed: failures reproduce. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(0xC0FFEE)

  test("zorderKey equals the reference interleave on 10k random pairs " +
    "and stays bijective") {
    def ref(x: Long, y: Long): Long = (0 until 16).map { i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }.reduce(_ | _)
    val pairs = Seq.fill(10000)((rnd.nextInt(65536).toLong,
      rnd.nextInt(65536).toLong)).distinct
    val df = pairs.toDF("x", "y")
      .select($"x", $"y", Layout.zorderKey($"x", $"y").as("z"))
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(2) == ref(r.getLong(0), r.getLong(1))))
    assert(rows.map(_.getLong(2)).distinct.length == pairs.length)
  }

  test("dedup gate equals a brute-force all-pairs reference on a " +
    "randomized corpus/batch (band shortlist + once-per-pair verify " +
    "lose no candidate and invent none)") {
    import graft.operators.{DedupGate, MinHashPipeline}
    // Pool small enough that duplicates, versions, batch twins, and
    // near-misses all occur; texts long enough to shingle.
    val pool = (0 until 12).map(i =>
      s"pooled document number $i with shared filler words and marker " +
        s"m${i}a m${i}b plus tail ${i * 101}")
    val corpusRows = (1 to 40).map { id =>
      (id.toLong, pool(rnd.nextInt(pool.size)),
        if (rnd.nextInt(4) == 0) "fr" else "en",
        if (rnd.nextInt(10) == 0) "archive" else "published")
    }
    // 40 batch rows over a 12-text pool → signature classes of size
    // 3-6 occur routinely, exercising the r14 class collapse (probe
    // once per class, attach members) against the same all-pairs
    // reference that pinned the member-quadratic path
    val batchRows = (101 to 140).map { uid =>
      val t0 = pool(rnd.nextInt(pool.size))
      val t = if (rnd.nextInt(4) == 0) t0 + s" mutated $uid" else t0
      (uid.toLong, t, if (rnd.nextInt(4) == 0) "fr" else "en")
    }
    val corpus0 = corpusRows.toDF("node_id", "text", "meta_key", "status")
    val batch0 = batchRows.toDF("uid", "itext", "meta_key")
    val corpus = corpus0.join(
      MinHashPipeline.signatures(corpus0, "node_id", $"text"), "node_id")
    val batch = batch0.join(
      MinHashPipeline.signatures(batch0, "uid", $"itext"), "uid")

    // Brute-force reference on collected signatures: ALL pairs, no
    // banding, no pair-dedup — the semantics the LSH shortlist and the
    // once-per-pair verify must reproduce exactly (at >= 0.95 with 16
    // perms a qualifying pair agrees on >= 15.2 -> all 16 components,
    // so every qualifying pair also shares every band: the shortlist
    // is lossless by construction and this property would catch a
    // banding or dedup bug as a missing/extra outcome).
    def sigsOf(df: org.apache.spark.sql.DataFrame, id: String) =
      df.select(col(id), col("sig"), col("meta_key")).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getString(2)))
    val corpSigs = corpus.filter($"status" =!= "archive")
      .select($"node_id", $"sig", $"meta_key").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getString(2)))
    val batchSigs = sigsOf(batch, "uid")
    def sim(a: Seq[Long], b: Seq[Long]): Double =
      BigDecimal(a.zip(b).count(p => p._1 == p._2).toDouble / a.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = batchSigs.map { case (uid, s, meta) =>
      val cands =
        corpSigs.map { case (nid, cs, cm) => (sim(s, cs), true, nid, cm) } ++
          batchSigs.filter(_._1 < uid)
            .map { case (buid, bs, bm) => (sim(s, bs), false, buid, bm) }
      val best = cands.filter(_._1 >= DedupGate.DuplicateThreshold)
        .sortBy { case (sm, fc, id, _) => (-sm, !fc, id) }.headOption
      uid -> (best match {
        case None => ("new", None, None)
        case Some((_, true, nid, cm)) =>
          (if (cm == meta) "duplicate" else "version", Some(nid), None)
        case Some((_, false, buid, bm)) =>
          (if (bm == meta) "duplicate" else "version", None, Some(buid))
      })
    }.toMap

    val got = DedupGate.classify(batch, corpus, 4, 4).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    assert(got.keySet == expected.keySet)
    for ((uid, exp) <- expected)
      assert(got(uid) == exp,
        s"uid $uid: gate said ${got(uid)}, brute-force reference $exp")
  }

  test("g_label_prop_step equals a driver-side brute-force sweep on the " +
    "sf0.001 graph (mode-of-neighbors with smallest-label tie-break, " +
    "undirected, seeded mod 64)") {
    import graft.operators.OrpQueries
    val got = OrpQueries.queries("g_label_prop_step")(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    // independent recomputation: directed edges → undirected distinct
    // neighbor sets → vote count → (cnt desc, label asc) winner
    val (_, links) =
      graft.streaming.StreamPipeline.extractElements(Tables.events(spark, sf))
    val directed = links.select("src_id", "dst_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val und = (directed ++ directed.map(_.swap)).distinct
    val expected = und.groupBy(_._1).map { case (node, nbrs) =>
      val votes = nbrs.map(e => java.lang.Math.floorMod(e._2, 64L))
        .groupBy(identity).map { case (l, v) => (l, v.size.toLong) }
      node -> votes.toSeq.sortBy { case (l, c) => (-c, l) }.head
    }
    assert(got.size == expected.size,
      s"node census drifted: ${got.size} vs ${expected.size}")
    expected.foreach { case (node, (lbl, cnt)) =>
      assert(got(node) == ((lbl, cnt)),
        s"node $node: got ${got(node)}, expected ($lbl, $cnt)")
    }
  }

  test("ccDeltaCompose equals the one-shot recompute on random graphs " +
    "under random base/delta partitions (chains force multi-round " +
    "convergence; modulus varies which vertices are late arrivals)") {
    import graft.operators.DedupQueries
    val s = DedupQueries.ccSession(spark)
    val sq = s.sqlContext; import sq.implicits._
    // sparse random graph: ~1.2 edges/vertex keeps long chains likely
    // (the contraction residue that actually loops), plus a planted
    // 12-cycle so a delta tranche must bridge base fragments
    val n = 60
    val random = Seq.fill(72)(
      (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
    val cycle = (0 until 12).map(i =>
      ((n + i).toLong + 1, (n + (i + 1) % 12).toLong + 1))
    val pairs = (random ++ cycle).filter(e => e._1 != e._2).distinct
    val edges = DedupQueries.truncatedDf(
      pairs.toDF("a_id", "b_id"), eager = true)
    val oneShot = DedupQueries.ccAssignments(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSortedMap
    for (m <- Seq(2L, 3L, 5L)) {
      val got = DedupQueries.ccDeltaCompose(s, edges, c => c % m =!= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSortedMap
      assert(got == oneShot,
        s"mod-$m delta composition diverged from one-shot: " +
          s"${got.toSeq.diff(oneShot.toSeq).take(5)}")
      // the deltaOnly projection must reconstruct the same result when
      // overlaid on the stored base (CcStoreLoop's read path): base
      // rows not re-landed + changed rows = the full apply
      val isBase = (c: org.apache.spark.sql.Column) => c % m =!= 0
      val baseEdges = edges.filter(isBase(col("a_id")) && isBase(col("b_id")))
      val deltaEdges = edges
        .filter(!(isBase(col("a_id")) && isBase(col("b_id"))))
      val baseAssign = DedupQueries.truncatedDf(
        DedupQueries.ccAssignments(baseEdges), eager = true)
      val baseMap = baseAssign.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val layer = DedupQueries
        .ccApplyDelta(s, baseAssign, deltaEdges, deltaOnly = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(layer.keySet.intersect(baseMap.keySet)
          .forall(k => layer(k) != baseMap(k)),
        s"mod-$m deltaOnly re-landed unchanged base rows")
      val overlaid = (baseMap ++ layer).toSeq.sortBy(_._1)
      assert(overlaid == oneShot,
        s"mod-$m base+deltaOnly overlay diverged from one-shot")
    }
  }

  test("ccApplyDelta: the driver arm (union-find) equals the distributed " +
    "arm (fixed-point loop) on random graphs, an empty delta, bridge " +
    "merges, cycles and string ids, with and without deltaOnly") {
    import graft.operators.DedupQueries
    val s = DedupQueries.ccSession(spark)
    val sq = s.sqlContext; import sq.implicits._
    def frame(pairs: Seq[(Long, Long)]) =
      DedupQueries.truncatedDf(pairs.toDF("a_id", "b_id"), eager = true)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0).toString, r.get(1).toString))
        .toSeq.sorted
    // ids rendered as fixed-width digit strings keep the numeric order
    def pad(v: Long) = f"$v%06d"
    def check(base: Seq[(Long, Long)], delta: Seq[(Long, Long)],
        what: String): Unit = {
      val assign = DedupQueries.truncatedDf(
        DedupQueries.ccAssignments(frame(base)), eager = true)
      val d = frame(delta)
      // the string-id store: the same graph under padded string ids
      val sAssign = assign.collect()
        .map(r => (pad(r.getLong(0)), pad(r.getLong(1)))).toSeq
        .toDF("doc_id", "canonical_id")
      val sDelta = delta.map { case (a, b) => (pad(a), pad(b)) }
        .toDF("a_id", "b_id")
      for (deltaOnly <- Seq(false, true)) {
        val dist = rowsOf(
          DedupQueries.ccFoldDistributed(s, assign, d, deltaOnly))
        val local = rowsOf(
          DedupQueries.ccFoldOnDriver(s, assign, d.collect(), deltaOnly))
        assert(local == dist, s"$what (deltaOnly=$deltaOnly): driver arm " +
          s"${local.diff(dist).take(5)} vs distributed " +
          s"${dist.diff(local).take(5)}")
        // string ids take the driver arm through the dispatcher; the
        // distributed arm's numeric checksum cannot run them, so they
        // compare against the long-id run rendered as strings
        val strings = rowsOf(
          DedupQueries.ccApplyDelta(s, sAssign, sDelta, deltaOnly))
        assert(strings == dist.map { case (v, c) =>
            (pad(v.toLong), pad(c.toLong)) }.sorted,
          s"$what (deltaOnly=$deltaOnly): string ids diverged")
      }
      // the full fold is one-shot CC on the union
      val oneShot = rowsOf(DedupQueries.ccAssignments(frame(base ++ delta)))
      val full = rowsOf(DedupQueries.ccApplyDelta(s, assign, d))
      assert(full == oneShot,
        s"$what: the full fold diverged from one-shot CC on the union")
    }
    def randomEdges(n: Int, from: Int, to: Int) =
      Seq.fill(n)((from + rnd.nextInt(to - from) + 1L,
        from + rnd.nextInt(to - from) + 1L)).filter(e => e._1 != e._2)
    for (i <- 1 to 3)
      check(randomEdges(40, 0, 50), randomEdges(15, 0, 70), s"random graph $i")
    check(randomEdges(30, 0, 40), Nil, "empty delta")
    // new vertex 20 bridges {1,2} and {3,4}; 4-10 bridges base to base
    check(Seq((1L, 2L), (3L, 4L), (10L, 11L)),
      Seq((2L, 20L), (20L, 3L), (4L, 10L)), "bridge merges")
    // a new vertex SMALLER than the stored canonicals takes them over
    check(Seq((5L, 6L), (7L, 8L)), Seq((1L, 6L), (1L, 8L)),
      "new minimum takes over two components")
    // a cycle of new vertices, and a cycle through three base components
    check(Seq((2L, 3L), (10L, 12L), (20L, 21L)),
      Seq((100L, 101L), (101L, 102L), (102L, 100L),
        (3L, 12L), (12L, 21L), (21L, 3L)), "cycles")
  }

  test("resolveTargets: the driver walk equals the pointer-jumping arm " +
    "on the chain fixture, a 100-deep chain, random twin forests and an " +
    "unresolved chain — which outcomesDelta still refuses loudly") {
    import graft.operators.DedupGate
    def bothArms(rows: Seq[(Long, String, Option[Long], Option[Long])]) = {
      val links = DedupGate.twinLinks(
        rows.toDF("uid", "outcome", "matched_node_id", "batch_twin"))
      def read(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq.sortBy(_._1)
      val walked = read(DedupGate.walkTwinChains(links, links.collect()))
      val jumped = read(DedupGate.jumpTwinChains(links))
      assert(walked == jumped,
        s"driver walk ${walked.diff(jumped).take(5)} vs pointer jumping " +
          s"${jumped.diff(walked).take(5)}")
      walked.map(r => r._1 -> r._3).toMap
    }
    // StoreLoopSpec's chain fixture
    val fixture = bothArms(Seq(
      (101L, "new", None, None),
      (102L, "version", None, Some(101L)),
      (103L, "version", None, Some(102L)),
      (104L, "version", Some(40L), None),
      (105L, "version", None, Some(104L)),
      (106L, "duplicate", None, Some(105L))))
    assert(fixture == Map(101L -> Some(101L), 102L -> Some(101L),
      103L -> Some(101L), 104L -> Some(40L), 105L -> Some(40L),
      106L -> Some(40L)))
    // 100-deep chains: one rooted at a new doc, one at a corpus node
    val deep = bothArms(
      ((1L, "new", None, None) +: (2L to 100L).map(u =>
        (u, "version", None, Some(u - 1)))) ++
      ((201L, "version", Some(40L), None) +: (202L to 300L).map(u =>
        (u, "duplicate", None, Some(u - 1)))))
    assert((1L to 100L).forall(deep(_) == Some(1L)) &&
      (201L to 300L).forall(deep(_) == Some(40L)))
    // random forests: twins are always lower uids; a few point at a uid
    // absent from the frame, leaving their whole subtree unresolved
    for (_ <- 1 to 3) bothArms((1L to 200L).map { u =>
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => (u, "new", None, None)
        case 3 | 4 => (u, "version", Some(1000L + rnd.nextInt(50)), None)
        case 5 if u > 1 => (u, "duplicate", None, Some(-1L - u))
        case _ if u > 1 =>
          (u, "version", None, Some(1L + rnd.nextInt(u.toInt - 1)))
        case _ => (u, "new", None, None)
      }
    })
    // unresolved: 102's twin 999 is absent, so both arms leave it null
    val unresolved = Seq((102L, "version", None: Option[Long], Some(999L)))
    assert(bothArms(unresolved) == Map(102L -> None))
    val incoming = Seq((102L, (1L to 16L).toSeq, "en"))
      .toDF("uid", "sig", "meta_key")
    val (append, _) = DedupGate.outcomesDelta(incoming,
      unresolved.toDF("uid", "outcome", "matched_node_id", "batch_twin"),
      Seq.empty[Long].toDF("node_id"), 4, 4)
    val e = intercept[Exception] { append.count() }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(
          _.contains("unresolved twin chain"))),
      s"outcomesDelta must raise the twin-chain error, got: $e")
  }

  test("cdc_chunks hashes each chunk exactly as md5(substr(text, start, " +
    "clen)) on ASCII, multibyte and 4-byte text, and yields no chunk for " +
    "empty or null text") {
    val docs = (1 to 200).map { i =>
      val len = rnd.nextInt(700)
      val text = i % 3 match {
        case 0 => Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
        case 1 => Seq.fill(len)("aé中b"(rnd.nextInt(4))).mkString
        case _ => Seq.fill(len)(Seq("x", "ü", "\uD83D\uDE00",
          "q")(rnd.nextInt(4))).mkString
      }
      (i.toLong, text)
    } ++ Seq((1001L, ""), (1002L, null: String))
    val df = docs.toDF("doc_id", "text")
    val spans = graft.operators.CorpusQueries.cdcBoundedSpans(df)
    val wrong = spans.join(df, "doc_id")
      .filter(!($"chash" <=> md5($"text".substr($"start", $"clen"))))
    assert(wrong.isEmpty, wrong.limit(3).collect().mkString(" | "))
    assert(spans.filter($"doc_id" > 1000L).isEmpty,
      "empty and null texts must yield no chunk")
    assert(spans.count() > docs.size, "fixture must cut many chunks")
  }

  private implicit class ToSorted(a: Array[(Long, Long)]) {
    def toSortedMap: Seq[(Long, Long)] = a.toSeq.sortBy(_._1)
  }

  test("cleanText is idempotent over random printable strings") {
    val chars = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++
      Seq(' ', ' ', ' ', '.', ',', '!', '?', ';', ':', '<', '>', '/', 'é')
    def randStr() = Seq.fill(rnd.nextInt(80))(
      chars(rnd.nextInt(chars.length))).mkString
    val df = Seq.fill(2000)(randStr()).toDF("s")
    val bad = df.select(Texts.cleanText($"s").as("c1"))
      .select($"c1", Texts.cleanText($"c1").as("c2"))
      .filter($"c1" =!= $"c2")
    assert(bad.count() == 0, bad.limit(3).collect().mkString(" | "))
  }

  test("nfc_normalize is idempotent and never lengthens (inputs with " +
    "random combining marks)") {
    val marks = Seq("\u0301", "\u0308", "\u0327", "")  // acute, diaeresis, cedilla, none
    def randStr() = Seq.fill(rnd.nextInt(30))(
      ('a' + rnd.nextInt(26)).toChar.toString +
        marks(rnd.nextInt(marks.length))).mkString
    val df = Seq.fill(2000)(randStr()).toDF("s")
      .select($"s", graft.plans.Native.nfc_normalize($"s").as("n1"))
      .select($"s", $"n1", graft.plans.Native.nfc_normalize($"n1").as("n2"),
        length($"s").as("ls"), length($"n1").as("ln"))
    assert(df.filter($"n1" =!= $"n2").count() == 0, "idempotency")
    assert(df.filter($"ln" > $"ls").count() == 0, "NFC never lengthens")
  }

  test("minhashJaccard is 1 on identical signatures, within [0,1] on " +
    "corpus pairs") {
    import graft.functions.Hashes
    val sigs = graft.operators.MinHashPipeline
      .signatures(Tables.documents(spark, sf).limit(200), "doc_id", $"text")
    val self = sigs.select(Hashes.minhashJaccard($"sig", $"sig").as("j"))
    assert(self.filter($"j" =!= 1.0).count() == 0)
    val a = sigs.select($"doc_id".as("ia"), $"sig".as("sa"))
    val b = sigs.select($"doc_id".as("ib"), $"sig".as("sb"))
    val cross = a.join(b, $"ia" < $"ib")
      .select(Hashes.minhashJaccard($"sa", $"sb").as("j"))
    assert(cross.filter($"j" < 0.0 || $"j" > 1.0).count() == 0)
  }

  test("native sorted_intersect_count equals size(array_intersect) on " +
    "5k random sorted-distinct pairs (independent built-in as oracle)") {
    // sort AFTER stringifying: the native's precondition is string order
    // ("w10" < "w2"), and Texts.tokens callers sort with array_sort on
    // the string column
    def randSet() = Seq.fill(rnd.nextInt(60))(rnd.nextInt(80))
      .distinct.map(i => s"w$i").sorted
    val df = Seq.fill(5000)((randSet(), randSet())).toDF("a", "b")
      .select(
        graft.plans.Native.sorted_intersect_count($"a", $"b").as("native"),
        size(array_intersect($"a", $"b")).as("builtin"))
    assert(df.filter($"native" =!= $"builtin").count() == 0)
  }

  test("native cosine_sim matches the interpreted fold bit-for-bit and " +
    "is symmetric with self-similarity 1 (random non-zero vectors)") {
    def randVec() = Seq.fill(16)(rnd.nextDouble() * 2 - 1 + 1e-3)
    val df = Seq.fill(3000)((randVec(), randVec())).toDF("a", "b")
    val interpreted = {
      // the fold cosine_sim replaced — kept inline as the independent oracle
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
      dot($"a", $"b") / (sqrt(dot($"a", $"a")) * sqrt(dot($"b", $"b")))
    }
    val checked = df.select(
      graft.plans.Native.cosine_sim($"a", $"b").as("n"),
      graft.plans.Native.cosine_sim($"b", $"a").as("rev"),
      graft.plans.Native.cosine_sim($"a", $"a").as("self"),
      interpreted.as("i"))
    assert(checked.filter($"n" =!= $"i").count() == 0, "native == fold")
    assert(checked.filter($"n" =!= $"rev").count() == 0, "symmetry")
    assert(checked.filter(abs($"self" - 1.0) > 1e-12).count() == 0,
      "self-similarity")
  }

  test("native cell_rank matches the interpreted array_sort/transform " +
    "chain bit-for-bit, including d2 ties (duplicated centroids)") {
    // the HOF chain cell_rank replaced (r18) — kept inline as the
    // independent oracle; the duplicate centroid forces an exact d2
    // tie, so the (d2 asc, c_id asc) total order is exercised
    def randVec() = Seq.fill(16)(rnd.nextDouble() * 2 - 1)
    val cb = (0L until 8L).map { c =>
      (c, if (c == 5L) Seq.fill(16)(0.25) else randVec())
    } :+ (8L, Seq.fill(16)(0.25)) // duplicate of c_id 5 → guaranteed tie
    val df = Seq.fill(2000)(randVec()).toDF("v")
      .crossJoin(broadcast(cb.toDF("c_id", "c_v")
        .agg(array_sort(collect_list(struct($"c_id", $"c_v"))).as("cb"))))
    val interpreted = array_sort(transform($"cb", c => struct(
      aggregate(zip_with($"v", c("c_v"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x).as("d2"),
      c("c_id").as("c_id"))))
    val checked = df.select(
      graft.plans.Native.cell_rank($"v", $"cb").as("n"),
      interpreted.as("i"))
    assert(checked.filter($"n" =!= $"i").count() == 0,
      "native cell_rank must equal the interpreted chain bit-for-bit")
    // the tied pair must rank c_id 5 before its duplicate 8 everywhere
    assert(checked.filter(
      exists($"n", e => e("c_id") === 8L) &&
        !exists(slice(filter($"n", e => e("c_id").isin(5L, 8L)), 1, 1),
          e => e("c_id") === 5L)).count() == 0,
      "d2 ties must break to the lowest c_id")
  }

  test("top_k_pairs top-3 equals the rank window's rows exactly " +
    "(random groups incl. ±0.0 and NaN sims; output already " +
    "rank-sorted, so pos+1 IS the rank)") {
    // the r19 primitive slot-array aggregate (Native.top_k_pairs) must
    // be bit-identical to row_number over (sim DESC, id ASC). Its
    // comparator reimplements Spark's nan-safe double order (NaN
    // greatest, -0.0 == 0.0) — the NaN rows pin the first half, the
    // ±0.0 rows ride Spark's write-time normalization of -0.0
    // (SPARK-26021), and the dedicated boundary fixture below forces
    // zeros AT rank 3.
    import org.apache.spark.sql.expressions.Window
    val rows = Seq.tabulate(4000) { i =>
      val sim = rnd.nextInt(10) match {
        case 0 => 0.0
        case 1 => -0.0
        case 2 => Double.NaN
        case _ => math.rint(rnd.nextDouble() * 2000 - 1000) / 1000.0
      }
      (i % 97L, i.toLong, sim)
    }
    val df = rows.toDF("g", "id", "sim")
    val w = Window.partitionBy("g").orderBy($"sim".desc, $"id".asc)
    val windowed = df.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3).select("g", "id", "sim", "rk")
    val agged = df.groupBy("g")
      .agg(graft.plans.Native.top_k_pairs($"sim", $"id", 3).as("t"))
      .select($"g", posexplode($"t"))
      .select($"g", $"col.nbr".as("id"), $"col.sim".as("sim"),
        ($"pos" + 1).as("rk"))
    assert(agged.exceptAll(windowed).isEmpty &&
      windowed.exceptAll(agged).isEmpty,
      "top_k_pairs top-3 must equal the window's rows exactly")

    // ±0.0 AT the rank-3 boundary: per group sims {1.0, 0.9, -0.0,
    // +0.0}, the -0.0 row on the lower id — the window keeps the
    // lower-id zero; so must we
    val brows = (0L until 50L).flatMap { g =>
      Seq((g, g * 10 + 1, 1.0), (g, g * 10 + 2, 0.9),
        (g, g * 10 + 3, -0.0), (g, g * 10 + 4, 0.0))
    }
    val bdf = brows.toDF("g", "id", "sim")
    val bwin = bdf.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3).select("g", "id", "rk")
    val bagg = bdf.groupBy("g")
      .agg(graft.plans.Native.top_k_pairs($"sim", $"id", 3).as("t"))
      .select($"g", posexplode($"t"))
      .select($"g", $"col.nbr".as("id"), ($"pos" + 1).as("rk"))
    assert(bagg.exceptAll(bwin).isEmpty && bwin.exceptAll(bagg).isEmpty,
      "top_k_pairs must keep the window's lower-id zero row at the " +
        "±0.0 rank boundary")

    // null semantics (r20, ADVICE): the aggregate DROPS null score/id
    // rows in update(), the same rows sim_knn_graph's pre-filter
    // (sim/nbr_id NOT NULL) drops before the rank stage. A group with
    // fewer than k non-null candidates returns only the non-null rows,
    // never padded ranks.
    val nrows = Seq[(Long, java.lang.Long, java.lang.Double)](
      (1L, 10L, 0.9), (1L, null, 0.95), (1L, 12L, null), (1L, 13L, 0.5),
      (2L, 20L, null), (2L, null, null))
      .toDF("g", "id", "sim")
    val nout = nrows.groupBy("g")
      .agg(graft.plans.Native.top_k_pairs($"sim", $"id", 3).as("t"))
      .select($"g", explode_outer($"t").as("e"))
      .select($"g", $"e.nbr".as("id"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(nout == Set((1L, 10L), (1L, 13L), (2L, -1L)),
      s"null score/id rows must be dropped, got $nout")
  }

  test("fast_round is bit-identical to Spark's round on DOUBLE — " +
    "randoms, decimal half-way points, ±0, NaN/±Inf, subnormals, huge " +
    "magnitudes, at scales 4 and 6") {
    // the r20 hot-path replacement (per-pair rounding was jstack-measured
    // as BigDecimal/Double.toString-bound): the contract is BIT equality
    // with Catalyst's Round(HALF_UP) on every input, fast path and
    // boundary fallback both covered by construction of the fixture.
    val boundary: Seq[Double] = Seq(0.00005, -0.00005, 0.12345, -0.12345,
      0.99995, 1.00005, 0.5e-4, 1.5e-4, 2.5e-4, 0.0, -0.0, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue, 1e-300, -1e-300,
      1e300, -1e300, 4.503599627370496e15, 4.50359962737049e11,
      123456789.00005, -123456789.00005, Double.MaxValue, Double.MinValue)
    val r2 = new scala.util.Random(7)
    val vals: Seq[Double] = boundary ++
      Seq.fill(20000)(r2.nextDouble() * 2 - 1) ++
      // values planted at/near decimal half-way points (the guard band)
      Seq.fill(5000)(math.rint(r2.nextDouble() * 2e4 - 1e4) / 1e4 + 0.5e-4) ++
      Seq.fill(5000)((r2.nextDouble() - 0.5) *
        math.pow(10, r2.nextInt(40) - 20))
    for (scale <- Seq(4, 6)) {
      val rows = vals.toDF("x")
        .select($"x", round($"x", scale).as("r"),
          graft.plans.Native.fast_round($"x", scale).as("f"))
        .collect()
      rows.foreach { row =>
        val (x, r, f) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
        assert((r.isNaN && f.isNaN) ||
          java.lang.Double.doubleToRawLongBits(r) ==
            java.lang.Double.doubleToRawLongBits(f),
          s"mismatch at x=$x scale=$scale: round=$r fast_round=$f")
      }
    }
  }

  test("hamming honors its full 32-bit contract (r20 review: the fold " +
    "walked bits 0-15 only, silently ignoring the upper half)") {
    import graft.functions.Hashes
    val rows = Seq(
      (0x10000L, 0L, 1),          // bit 16 — the formerly ignored half
      (0x80000000L, 0L, 1),       // bit 31, the contract's last bit
      (0xFFFFL, 0L, 16),          // the old range still counts fully
      (0xFFFFFFFFL, 0L, 32),      // all 32 bits differ
      (0xABCD1234L, 0xABCD1234L, 0))
      .toDF("a", "b", "want")
      .withColumn("got", Hashes.hamming(col("a"), col("b")))
    val bad = rows.filter(col("got") =!= col("want")).collect()
    assert(bad.isEmpty, s"hamming mismatches: ${bad.mkString(", ")}")
  }

  test("the Jaccard encoded-verify injectivity guard FIRES on a " +
    "colliding encoder (and is silent under the production hash)") {
    import graft.operators.DedupQueries
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "iota kappa lambda mu nu xi"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        array_sort(array_distinct(split(col("text"), " "))).as("ws"))
    // production path: xxhash64 over a tiny vocabulary — no collision,
    // query evaluates
    assert(DedupQueries.jaccardPrefixPairs(docs, 0.5, byLang = false)
      .count() >= 0)
    // inject a maximally colliding encoder (token length as the id):
    // the broadcast collision count goes nonzero and raise_error must
    // surface with the guard's message, not a silent overcount
    val e = intercept[Exception] {
      DedupQueries.jaccardPrefixPairs(docs, 0.5, byLang = false,
        idOf = c => length(c).cast("long")).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("token-id collision")),
      s"guard did not fire with its own message: ${messages(e)}")
  }

  test("jaccardPrefixPairs equals naive all-pairs Jaccard on a randomized " +
    "corpus, including the exact-threshold boundary geometry") {
    // Brute-force equivalence for the whole prefix-filter pipeline
    // (r15 VERDICT item 2): the family had no such property — the
    // DuckDB oracle adjudicates only the corpus the test data happens
    // to contain. Corpus = perturbation families clustered AROUND the
    // threshold (small random drops/adds on a shared base set) plus one
    // ENGINEERED boundary pair: |A|=66, |B|=67, overlap 63, so
    // J = 63/70 = 0.9 exactly with |A|+|B| = 133 — one of the 46,603
    // sums where the pre-r16 double `lit(t/(1+t)) * (na+nb)` rounds
    // strictly above the exact 9/19 bound — and the shared tokens
    // ordered LAST (uniques are rarer, df=1 < 2, so the df-then-lex
    // global order puts them first), making ubound == the exact bound.
    // Under double arithmetic the position filter dropped this true
    // pair (verified red before the exact-integer fix); under
    // cross-multiplied long arithmetic it must survive.
    import graft.operators.DedupQueries
    val t = 0.9
    val sets = scala.collection.mutable.ArrayBuffer[(Long, Set[String])]()
    def add(s: Seq[String]): Long = {
      val id = sets.size + 1L; sets += ((id, s.toSet)); id
    }
    (1 to 40).foreach { g =>
      val base = (1 to 50 + rnd.nextInt(20)).map(j => s"g${g}_t$j")
      add(base)
      (1 to 2).foreach { v =>
        val kept = base.filter(_ => rnd.nextDouble() > 0.04)
        val extra = (1 to rnd.nextInt(3)).map(j => s"g${g}_v${v}x$j")
        add(kept ++ extra)
      }
    }
    val shared = (1 to 63).map(j => s"bp_s$j")
    val bpA = add((1 to 3).map(j => s"bp_a$j") ++ shared)
    val bpB = add((1 to 4).map(j => s"bp_b$j") ++ shared)

    // Spark's round(x, 6) is HALF_UP on BigDecimal.valueOf — mirror it
    def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val expected = (for {
      i <- sets.indices; j <- (i + 1) until sets.size
      a = sets(i)._2; b = sets(j)._2
      inter = (a & b).size
      jac = round6(inter.toDouble / (a.size + b.size - inter))
      if jac >= t
    } yield (sets(i)._1, sets(j)._1, jac)).sorted

    val docs = sets.toSeq.map { case (id, s) => (id, s.toSeq.sorted) }
      .toDF("doc_id", "ws")
    val got = DedupQueries.jaccardPrefixPairs(docs, t, byLang = false)
      .select("a_id", "b_id", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(got.contains((bpA, bpB, 0.9)),
      "the engineered exact-threshold boundary pair was dropped by the " +
        "candidate prunes (position/length/prefix arithmetic not exact)")
    assert(got == expected,
      s"prefix pipeline diverged from naive all-pairs: got ${got.size} " +
        s"pairs, expected ${expected.size}; " +
        s"missing=${(expected.toSet -- got.toSet).take(3)} " +
        s"spurious=${(got.toSet -- expected.toSet).take(3)}")
  }

  test("dd_span_scrub self-consistency: n_removed equals the token-count " +
    "delta between original and scrubbed text, for every doc") {
    val scrubbed = operators.CorpusQueries.queries("dd_span_scrub")(spark, sf)
    val orig = Tables.documents(spark, sf)
      .select($"doc_id", size(Texts.tokens($"text")).as("n_orig"))
    val bad = scrubbed.join(orig, "doc_id")
      .filter($"n_removed" =!=
        $"n_orig" - size(Texts.tokens($"text_clean")))
    assert(bad.count() == 0, bad.limit(3).collect().mkString(" | "))
  }

  test("two-offset fuzzy-title blocking is lossless and duplicate-free " +
    "over every length-bucket geometry, and matches on real titles") {
    // Exhaustive over the bucket geometry: for all title lengths la, lb
    // in 0..80 the o-sum<2 join over the {k, k+1} emissions must meet
    // on EXACTLY one key when |ka-kb| <= 1 (covers every |dlen| <= 10
    // pair, hence every dist <= 10 pair) and on none otherwise.
    for (la <- 0 to 80; lb <- 0 to 80) {
      val (ka, kb) = (la / 16, lb / 16)
      val meets = (for (i <- 0 to 1; j <- 0 to 1
        if i + j < 2 && ka + i == kb + j) yield ()).size
      val expect = if (math.abs(ka - kb) <= 1) 1 else 0
      assert(meets == expect, s"la=$la lb=$lb: $meets meets")
    }
    // And the Spark expression agrees with the geometry: emissions of
    // random titles reproduce {head|k, head|k+1} with k = len/16.
    val titles = Seq.fill(2000)(
      (0 until (1 + rnd.nextInt(8))).map(_ =>
        "abcdefgh".take(1 + rnd.nextInt(8))).mkString(" ")).distinct
    val rows = titles.toDF("title")
      .select($"title",
        operators.DedupQueries.fuzzyTitleBlocks($"title").as("bs"))
      .collect()
    assert(rows.forall { r =>
      val t = r.getString(0); val k = t.length / 16
      val head = t.split(" ", -1).take(2).mkString(" ")
      r.getSeq[String](1) == Seq(s"$head|$k", s"$head|${k + 1}")
    })
  }

  test("ix_phrase_query soundness: every reported doc really has the " +
    "phrase adjacent at first_pos, and n_matches >= 1") {
    val hits = operators.OrpQueries.queries("ix_phrase_query")(spark, sf)
    val toks = Tables.documents(spark, sf)
      .select($"doc_id", Texts.tokens($"text").as("tk"))
    val bad = hits.join(toks, "doc_id")
      .filter($"n_matches" < 1 ||
        element_at($"tk", $"first_pos") =!= "table" ||
        element_at($"tk", $"first_pos" + 1) =!= "hash")
    assert(bad.count() == 0, bad.limit(3).collect().mkString(" | "))
  }

  test("samp_leakage_guard partition sanity: one split per doc, split " +
    "domain is exactly {train, val, eval, quarantined}") {
    val splits = operators.MixQueries.queries("samp_leakage_guard")(spark, sf)
    val n = Tables.documents(spark, sf).count()
    assert(splits.count() == n)
    assert(splits.select("doc_id").distinct().count() == n)
    val domain = splits.select("split").distinct()
      .as[String].collect().toSet
    assert(domain.subsetOf(Set("train", "val", "eval", "quarantined")))
  }

  test("mix_curriculum monotonicity: phase boundaries partition the " +
    "n_chars axis — max of each phase <= min of the next") {
    val ph = operators.MixQueries.queries("mix_curriculum")(spark, sf)
      .groupBy("phase")
      .agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
      .orderBy("phase").collect()
    assert(ph.forall(r => r.getInt(0) >= 1 && r.getInt(0) <= 5))
    ph.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"),
          s"phase ${a.getInt(0)} max ${a.getAs[Long]("hi")} > " +
            s"phase ${b.getInt(0)} min ${b.getAs[Long]("lo")}")
      case _ =>
    }
  }

  test("cdcBoundedSpans equals a driver-side serial FastCDC walk on " +
    "random strings (the aggregate-fold legalization is exact)") {
    // The clamp is a serial rule; the engine expresses it as a per-row
    // `aggregate` left fold over gear-hash candidates. This check
    // re-states BOTH halves independently: the gear table re-derived
    // from its generation formula (md5 of the single byte, first 60
    // bits, mod 64 — never read from NativeImpl), the boundary rule as
    // the 6-char WINDOWED sum (never the engine's rolling recurrence —
    // so their equivalence is pinned here too), and the clamp as the
    // obvious sequential loop. Chunk tilings compare bit-for-bit.
    // Strings are skewed toward pathological shapes: long runs
    // (candidate deserts -> forced splits), short alphabets (candidate
    // sprays -> suppression), and multibyte text (the non-ASCII
    // codepoint walk must agree with these CHARACTER-unit positions).
    val W = 6; val D = 64; val MinL = 32; val MaxL = 128
    val md = java.security.MessageDigest.getInstance("MD5")
    val gear: Array[Long] = Array.tabulate(256) { b =>
      val h = md.digest(Array(b.toByte)).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16) % 64
    }
    def serialWalk(text: String): Seq[(Int, Int)] = {
      val cps = text.codePoints().toArray
      val n = cps.length
      val g = cps.map(cp => gear(cp % 256))
      val cands = (W to n).filter { i =>
        (0 until W).map(k => g(i - 1 - k) << k).sum % D == 0
      }
      var last = 0
      val bs = Seq.newBuilder[Int]
      for (b <- cands) {
        while (b - last > MaxL) { last += MaxL; bs += last }
        if (b - last >= MinL) { last = b; bs += b }
      }
      while (n - last > MaxL) { last += MaxL; bs += last }
      val all = bs.result()
      val starts = 1 +: all.map(_ + 1)
      val ends = all :+ n
      starts.zip(ends).filter { case (s0, e) => e >= s0 }
        .map { case (s0, e) => (s0, e - s0 + 1) }
    }
    val docs = (1 to 300).map { i =>
      val kind = i % 4
      val len = 1 + rnd.nextInt(600)
      val text = kind match {
        case 0 => Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
        case 1 => Seq.fill(len)(('a' + rnd.nextInt(3)).toChar).mkString
        case 2 => // run-heavy: long repeats punctuated by noise
          (1 to len).map(j => if (j % 97 < 90) 'q'
            else ('a' + rnd.nextInt(26)).toChar).mkString
        case _ => // multibyte: 2- and 3-byte codepoints mixed with ASCII
          (1 to len).map(j => "aéb中"((j + rnd.nextInt(4)) % 4)).mkString
      }
      (i.toLong, text)
    }
    val expected = docs.flatMap { case (id, t) =>
      serialWalk(t).map { case (s0, l) => (id, s0, l) }
    }.sorted
    val got = graft.operators.CorpusQueries
      .cdcBoundedSpans(docs.toDF("doc_id", "text"))
      .select("doc_id", "start", "clen").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    assert(got == expected,
      s"bounded-CDC fold diverged from the serial walk " +
        s"(${got.size} vs ${expected.size} chunks)")
  }
}
