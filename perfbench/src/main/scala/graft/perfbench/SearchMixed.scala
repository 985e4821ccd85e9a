package graft.perfbench

import graft.operators.{GraphMerge, Search}
import java.util.Locale
import org.apache.spark.sql.{DataFrame, Row}

/** One row of the searchable document store (live or archived). */
final case class DocRow(uid: String, topic: String, text: String,
    doc_type: String, title: String, date: String, regulator_id: String,
    version: Long, status: String)

/** The in-memory reference for `search_mixed`: the store's rows with
  * every upsert applied by the `GraphMerge` rules, and each search
  * filtered, sorted and paged over them in plain Scala. */
final class SearchModel(var rows: Vector[DocRow],
    val edges: Vector[(String, String)], val legs: Set[String]) {

  def live: Vector[DocRow] = rows.filter(_.status != "archive")

  /** Apply one upsert batch: (row payload, sim) per distinct uid. */
  def merge(incoming: Seq[(DocRow, Option[Double])]): Unit = {
    val byUid = incoming.map(i => i._1.uid -> i).toMap
    val liveNow = live.map(r => r.uid -> r).toMap
    val kept = rows.flatMap { r =>
      byUid.get(r.uid) match {
        case Some((_, sim)) if r.status != "archive" &&
            sim.getOrElse(0.0) < GraphMerge.VersionForkThreshold =>
          Seq(r.copy(status = "archive"))
        case Some(_) if r.status != "archive" => Nil
        case _ => Seq(r)
      }
    }
    val added = incoming.map { case (in, sim) =>
      liveNow.get(in.uid) match {
        case None => in.copy(version = 1L, status = "published")
        case Some(cur) if sim.getOrElse(0.0) <
            GraphMerge.VersionForkThreshold =>
          in.copy(version = cur.version + 1, status = "published")
        case Some(cur) => in.copy(version = cur.version, status = cur.status)
      }
    }
    rows = kept ++ added
  }

  private def keep(d: DocRow, r: Search.Request): Boolean = {
    def in(xs: Seq[String], v: String) = xs.isEmpty || xs.contains(v)
    r.idEquals.forall(_ == d.uid) && r.topicEquals.forall(_ == d.topic) &&
      r.keywordAnd.forall(d.text.contains(_)) && in(r.typeIn, d.doc_type) &&
      in(r.statusIn, d.status) && in(r.regulatorIn, d.regulator_id) &&
      r.excludeStatus.forall(_ != d.status) &&
      r.dateFrom.forall(d.date >= _) && r.dateTo.forall(d.date <= _) &&
      r.titleContains.forall(t => d.title.toLowerCase(Locale.ROOT)
        .contains(t.toLowerCase(Locale.ROOT)))
  }

  private def ordered(ds: Seq[DocRow], asc: Boolean): Seq[DocRow] = {
    val s = ds.sortBy(d => (d.date, d.uid))
    if (asc) s else s.reverse
  }

  /** The page `Search.plan` must return, as (rn, uid). */
  def page(r: Search.Request): Seq[(Int, String)] = {
    val lo = math.min(r.page.toLong * r.pageSize + 1, r.hardCap + 1L).toInt
    val hi = math.min((r.page.toLong + 1) * r.pageSize, r.hardCap.toLong).toInt
    ordered(live.filter(keep(_, r)), r.orderAscending).take(hi)
      .zipWithIndex.map { case (d, i) => (i + 1, d.uid) }
      .filter { case (rn, _) => rn >= lo && rn <= hi }
  }

  /** The rows `Search.planByLegislation` must return, as (href, rn, uid). */
  def byLegislation(r: Search.Request): Seq[(String, Int, String)] = {
    val wanted = r.legislationHrefIn.toSet & legs
    val docs = live.filter(d => r.excludeStatus.forall(_ != d.status))
      .map(d => d.uid -> d).toMap
    val hits = edges.filter(e => wanted(e._1)).flatMap { case (h, u) =>
      docs.get(u).map(h -> _) }
    val sorted = hits.groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (h, hs) => ordered(hs.map(_._2), r.orderAscending)
        .map(h -> _) }
      .take(r.legCap)
    sorted.groupBy(_._1).toSeq.flatMap { case (h, hs) =>
      hs.zipWithIndex.map { case ((_, d), i) => (h, i + 1, d.uid) } }
      .filter(_._2 <= r.pageSize).sortBy(x => (x._1, x._2))
  }
}

/** Seeded inputs of `search_mixed`, free of Spark: the initial store,
  * the legislation edges, the operation sequence, each search event and
  * each upsert batch. */
final class SearchGen(seed: Long) {
  import SearchMixed._
  val gen = new Gen(seed, "search")
  private var nextUid = 0
  private var block = List.empty[String]

  private def uid(i: Int) = f"doc-$i%06d"

  private def newRow(u: String): DocRow = DocRow(u, gen.pick(Topics),
    gen.text(20, 40), gen.pick(Types),
    (0 until 4 + gen.rng.nextInt(5)).map(_ => gen.word()).mkString(" "),
    java.time.LocalDate.of(2015, 1, 1)
      .plusDays(gen.rng.nextInt(3650).toLong).toString,
    f"reg${gen.rng.nextInt(30)}%02d", 1L, "published")

  /** The initial store of `n` documents (some drafts, some archived, some
    * with an archived earlier version) and its legislation edges. */
  def model(n: Int): SearchModel = {
    val rows = (0 until n).flatMap { i =>
      val r = newRow(uid(i))
      gen.rng.nextInt(20) match {
        case 0 => Seq(r.copy(status = "archive"))
        case 1 | 2 => Seq(r.copy(status = "draft"))
        case 3 | 4 => Seq(r.copy(version = 2L),
          newRow(r.uid).copy(status = "archive"))
        case _ => Seq(r)
      }
    }.toVector
    nextUid = n
    val legs = (0 until 200).map(i => f"leg-$i%04d")
    val edges = rows.map(_.uid).distinct.flatMap(u =>
      gen.rng.shuffle(legs.toList).take(gen.rng.nextInt(4)).map(_ -> u))
    new SearchModel(rows, edges, legs.toSet)
  }

  /** The next operation kind; operations come in shuffled blocks. */
  def nextKind(): String = {
    if (block.isEmpty) block = gen.rng.shuffle(Block)
    val k = block.head
    block = block.tail
    k
  }

  /** Whether the last block has been used up. */
  def atBlockEnd: Boolean = block.isEmpty

  /** A seeded search event of the given shape over the model's rows. */
  def event(kind: String, model: SearchModel): Map[String, String] = {
    val live = model.live
    def some = live(gen.rng.nextInt(live.size))
    def longWords(s: String) = s.split(" ").filter(_.length >= 4).toSeq
    kind match {
      case "keyword" =>
        val ws = gen.rng.shuffle(longWords(some.text)).take(1 +
          gen.rng.nextInt(2))
        Map("keyword" -> ws.mkString(" ")) ++
          Option.when(gen.rng.nextBoolean())("page" -> "1")
      case "topic" => Map("regulatory_topic" -> gen.pick(Topics),
        "document_type" -> gen.rng.shuffle(Types).take(2).mkString(","))
      case "regulator" => Map("regulator_id" -> (0 until 3)
        .map(_ => f"reg${gen.rng.nextInt(30)}%02d").mkString(",")) ++
        Option.when(gen.rng.nextBoolean())("order" -> "asc")
      case "date" =>
        val from = java.time.LocalDate.of(2015, 1, 1)
          .plusDays(gen.rng.nextInt(3300).toLong)
        val to = from.plusDays(30L + gen.rng.nextInt(300))
        Map("date_published" -> (gen.rng.nextInt(3) match {
          case 0 => s"$from..$to"
          case 1 => s"..$to"
          case _ => s"$from.."
        }), "status" -> "published,draft")
      case "title" =>
        val ws = longWords(some.title)
        val w = if (ws.isEmpty) "ka" else gen.pick(ws.toIndexedSeq)
        Map("title" -> (if (gen.rng.nextBoolean()) w.toUpperCase(Locale.ROOT)
          else w))
      case "id" => Map("id" ->
        (if (gen.rng.nextInt(5) == 0) "doc-999999" else some.uid))
      case "deep" => Map("status" -> "published",
        "page" -> (20 + gen.rng.nextInt(30)).toString, "page_size" -> "10")
      case "legislation" => Map("legislation_href" ->
        (0 until 1 + gen.rng.nextInt(3))
          .map(_ => f"leg-${gen.rng.nextInt(200)}%04d").mkString(","))
      case _ => gen.pick(Malformed)
    }
  }

  /** One upsert batch: 8 inserts, 8 in-place updates (sim 0.999) and 4
    * version forks (sim 0.5), each on a distinct uid. */
  def upsert(model: SearchModel): Seq[(DocRow, Option[Double])] = {
    val live = model.live
    val picked = gen.rng.shuffle(live.indices.toList).take(12).map(live(_))
    (0 until 8).map { _ =>
      nextUid += 1
      (newRow(uid(nextUid)), Option.empty[Double])
    } ++ picked.take(8).map(p => (newRow(p.uid).copy(topic = p.topic,
      text = p.text), Some(0.999))) ++
      picked.drop(8).map(p => (newRow(p.uid), Some(0.5)))
  }
}

/** `search_mixed`: one client in a closed loop against a searchable
  * document store (plus legislation and publication-edge tables). In
  * every block of 20 operations 19 are search events of a fixed mix of
  * shapes with seeded parameters, and one is an upsert that merges a
  * small batch through `GraphMerge.merge` and writes the next store
  * version, which every later search reads. */
final class SearchMixed(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._
  import SearchMixed._

  private val StoreDocs = 5000
  private val WarmBlocks = 2
  /** Timed blocks at least, so the upsert latency is a median of five. */
  private val MinBlocks = 5

  private var dir: String = _
  private var sg: SearchGen = _
  private var model: SearchModel = _
  private var current: DataFrame = _
  private var legsDf: DataFrame = _
  private var edgesDf: DataFrame = _
  private var version = 0

  def texts: IndexedSeq[String] = model.rows.map(_.text)

  def build(d: String): Unit = {
    dir = d
    sg = new SearchGen(seed)
    model = sg.model(StoreDocs)
    model.legs.toSeq.sorted.toDF("uri").coalesce(1)
      .write.parquet(s"$d/legislation")
    model.edges.toDF("leg_uri", "doc_uid").coalesce(1)
      .write.parquet(s"$d/publication")
    legsDf = spark.read.parquet(s"$d/legislation")
    edgesDf = spark.read.parquet(s"$d/publication")
    model.rows.toDF().repartition(cores).write.parquet(s"$d/store/v0")
    current = spark.read.parquet(s"$d/store/v0")
  }

  /** Whole blocks of operations; planning code needs a few dozen queries
    * before the JIT has compiled it. */
  def warmUp(rec: Record): Unit =
    (0 until WarmBlocks * Block.size).foreach(_ => op(rec, timed = false))

  /** Whole blocks only, so every run measures the same mix; each block
    * has one upsert. */
  def run(rec: Record): Unit = {
    while (keepGoing(rec) || rec.batches.size < MinBlocks || !sg.atBlockEnd)
      op(rec, timed = true)
    rec.attempted += 1
    if (!storeOk(model, current.as[DocRow].collect().toSeq))
      rec.fail("final store differs from the merged reference")
    rec.storeBytesPerDoc = StoreLoops.bytes(
      java.nio.file.Paths.get(s"$dir/store/v$version")).toDouble /
      model.live.size
  }

  private def op(rec: Record, timed: Boolean): Unit = {
    val kind = sg.nextKind()
    val traced = timed && pickTraced()
    tracer.begin(traced)
    if (kind == "upsert") upsert(rec, timed, traced)
    else request(sg.event(kind, model), rec, timed, traced)
  }

  private def request(ev: Map[String, String], rec: Record, timed: Boolean,
      traced: Boolean): Unit = {
    val t0 = System.nanoTime()
    val result: Either[Search.BadRequest, Seq[Row]] =
      Search.fromEvent(ev).map { r =>
        val df =
          if (Search.isByLegislation(r))
            Search.planByLegislation(legsDf, edgesDf, current, r, Bind, LegBind)
          else Search.plan(current, r, Bind)
        if (traced) tracer.span("plans.plan")(df.queryExecution.executedPlan)
        tracer.span("operators.search_exec")(df.collect().toSeq)
      }
    val s = (System.nanoTime() - t0) / 1e9
    if (timed) {
      rec.measuredNs += (s * 1e9).toLong
      rec.requests += s * 1000
      rec.ops += ((s, traced))
    }
    rec.attempted += 1
    if (!pageOk(model, ev, result))
      rec.fail(s"search $ev returned a wrong page")
  }

  private def upsert(rec: Record, timed: Boolean, traced: Boolean): Unit = {
    val batch = sg.upsert(model)
    val incoming = batch.map { case (d, sim) => (d.uid, d.topic, d.text,
        d.doc_type, d.title, d.date, d.regulator_id, sim) }
      .toDF("uid" +: Payload :+ "sim": _*)
    val t0 = System.nanoTime()
    tracer.span("operators.merge") {
      version += 1
      GraphMerge.merge(current, incoming, Payload).coalesce(cores)
        .write.parquet(s"$dir/store/v$version")
      current = spark.read.parquet(s"$dir/store/v$version")
    }
    val s = (System.nanoTime() - t0) / 1e9
    model.merge(batch)
    if (timed) {
      rec.measuredNs += (s * 1e9).toLong
      rec.batches += s
      rec.ops += ((s, traced))
      rec.docs += batch.size
    }
  }
}

object SearchMixed {
  val Topics: IndexedSeq[String] = IndexedSeq("energy", "finance", "health",
    "transport", "food", "environment", "telecoms", "water", "housing",
    "employment", "trade", "education")
  val Types: IndexedSeq[String] = IndexedSeq("GD", "MSI", "HS", "PB", "OTHER")
  val Payload: Seq[String] =
    Seq("topic", "text", "doc_type", "title", "date", "regulator_id")
  val Bind: Search.Binding = Search.Binding(uid = "uid", topic = "topic",
    text = "text", docType = "doc_type", status = "status", title = "title",
    date = "date", regulator = "regulator_id")
  val LegBind: Search.LegBinding = Search.LegBinding("uri", "leg_uri", "doc_uid")

  /** The fixed mix of one block of 20 operations. */
  val Block: List[String] = List("upsert", "keyword", "keyword", "keyword",
    "topic", "topic", "regulator", "regulator", "date", "date", "title",
    "title", "id", "id", "deep", "deep", "legislation", "legislation",
    "legislation", "malformed")

  /** Events the boundary must answer with a 400. */
  val Malformed: IndexedSeq[Map[String, String]] = IndexedSeq(
    Map("colour" -> "blue"),
    Map("keyword" -> "ka", "page" -> "-1"),
    Map("keyword" -> "ka", "page_size" -> "ten"),
    Map("date_published" -> "2021-02-30"),
    Map("date_published" -> "2020-01-01..2021-01-01..2022-01-01"))

  /** Whether the whole store (live and archived rows) equals the
    * reference's. */
  def storeOk(model: SearchModel, rows: Seq[DocRow]): Boolean = {
    def key(r: DocRow) = (r.uid, r.version, r.status)
    rows.sortBy(key) == model.rows.sortBy(key)
  }

  /** Whether a request's result equals the reference: a 400 exactly for
    * the malformed events, otherwise the reference's page. */
  def pageOk(model: SearchModel, ev: Map[String, String],
      result: Either[Search.BadRequest, Seq[Row]]): Boolean =
    (Search.fromEvent(ev), result) match {
      case (_, Left(bad)) => Malformed.contains(ev) && bad.statusCode == 400
      case (_, Right(_)) if Malformed.contains(ev) => false
      case (Right(r), Right(rows)) if Search.isByLegislation(r) =>
        rows.map(x => (x.getAs[String]("legislation_href"),
          x.getAs[Int]("rn"), x.getAs[String]("uid")))
          .sortBy(x => (x._1, x._2)) == model.byLegislation(r)
      case (Right(r), Right(rows)) =>
        rows.map(x => (x.getAs[Int]("rn"), x.getAs[String]("uid")))
          .sortBy(_._1) == model.page(r)
      case _ => false
    }
}
