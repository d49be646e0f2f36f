package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import graft.ingest.StudyLayout
import graft.metrics.MetricsJob
import graft.protocol.{OaiConfig, OaiRepository}
import graft.query.{HarvestStore, StudyStore, TxStudyStore}
import graft.schema.Study
import graft.sets.{LanguageSet, OpenAireSet, SetFamily, SourceSet}
import graft.sources.TxTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** One client operation. `kind` is `request` (an OAI-PMH `handle`
  * call), `commit` or `scrape`. `key` names what the operation asked
  * for, so exact counts can be compared wherever it repeats; `prefix`
  * marks the fixed leading operations whose exact counts are reported.
  */
final case class Op(
    kind: String, seq: Long, req: Long, startNs: Long, endNs: Long,
    records: Int, bytes: Long, traced: Boolean, key: String, prefix: Boolean,
    verb: String = "") {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Exact counts of one traced commit, measured outside its span. */
final case class CommitCounts(seq: Long, bytesWritten: Long, bytesUpserted: Long, files: Int)

/** What every workload shares: the session, the run's seed, the span
  * recorder (traced runs only), the checks and the operation log.
  */
final class Env(
    val spark: SparkSession,
    val work: java.nio.file.Path,
    val seed: Long,
    val tracer: Option[Tracer]) {
  val checks = new Checks
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]
  val commits = new java.util.concurrent.ConcurrentLinkedQueue[CommitCounts]
  val attempted = new AtomicLong
  /** Requests recorded so far: the stop rule's sample count. */
  val requests = new AtomicLong
  /** Operations of the exact-count prefix recorded so far. */
  val prefixOps = new AtomicLong
  /** Operations are recorded only inside the measured window. */
  @volatile var recording = false

  /** Every other operation of the window is traced in a traced run; the
    * rest are the untraced reference for the tracing overhead.
    */
  def traced(seq: Long): Boolean = tracer.isDefined && recording && seq % 2 == 0

  def span[A](name: String, traced: Boolean, req: Long = -1L)(body: => A): A =
    tracer.filter(_ => traced).fold(body)(_.span(name, req)(body))

  def record(op: Op): Unit = if (recording) {
    ops.add(op)
    if (op.kind == "request") requests.incrementAndGet()
    if (op.prefix) prefixOps.incrementAndGet()
  }

  val sets: Seq[SetFamily] = Seq(LanguageSet, OpenAireSet, SourceSet(Corpus.Sources))

  /** The engine as a harvester reaches it, plus a twin whose store and
    * set families are wrapped in spans (traced runs only).
    */
  final class Served(val store: HarvestStore, listSize: Int) {
    private def repo(s: HarvestStore, fams: Seq[SetFamily]) =
      new OaiRepository(s, fams, OaiConfig(listSize = listSize), now = () => Corpus.Now)
    val plain: OaiRepository = repo(store, sets)
    val traced: Option[OaiRepository] = tracer.map(t =>
      repo(new TracedStore(store, t), sets.map(new TracedSet(_, t))))

    /** One OAI-PMH request, timed; checked by the caller. */
    def request(seq: Long, params: Map[String, String], key: String, prefix: Boolean): Reply = {
      attempted.incrementAndGet()
      val tr = Env.this.traced(seq)
      val req = tracer.filter(_ => tr).map(_.newRequest()).getOrElse(0L)
      val t0 = System.nanoTime()
      val text =
        if (tr) tracer.get.span("protocol.handle", req)(traced.get.handle(params))
        else plain.handle(params)
      val t1 = System.nanoTime()
      val reply = Reply.parse(text)
      record(Op("request", seq, req, t0, t1, reply.items.size, reply.bytes, tr, key, prefix,
        params.getOrElse("verb", "")))
      reply
    }
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** A benchmark workload: one kind of client traffic over a seeded
  * corpus. The harness times [[build]] several times and [[warmUp]]
  * once (together `setup_s`), then runs the clients until the deadline.
  */
trait Workload {
  def name: String
  /** Generate the seeded inputs and their truth (benchmark work,
    * outside `setup_s`).
    */
  def prepare(env: Env): Unit
  /** Build a fresh store from the inputs and serve it; returns the
    * seconds spent writing the store (`ingest.layout_write_s`).
    */
  def build(env: Env, rep: Int): Double
  /** The fixed warm-up against the served store. */
  def warmUp(env: Env): Unit
  def run(env: Env, stop: Workload.Stop): Unit
  /** Operations (of every kind) in the fixed prefix whose exact counts
    * are reported; a run does not end before all of them are done.
    */
  def exactOps: Long
}

object Workload {
  val names: Seq[String] = Seq("point_lookup", "harvest_during_ingest")

  def apply(name: String): Workload = name match {
    case "point_lookup"          => new PointLookup
    case "harvest_during_ingest" => new HarvestDuringIngest
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** Closed-loop stop rule: the deadline, extended until the run holds
    * enough requests for its reported percentiles and has finished the
    * exact-count prefix.
    */
  final case class Stop(env: Env, deadlineNs: Long, minRequests: Int, exactOps: Long) {
    def more: Boolean =
      System.nanoTime() < deadlineNs || env.requests.get < minRequests || env.prefixOps.get < exactOps
  }
}

/** One request of the `point_lookup` mix and the check its reply must pass. */
final case class Ask(params: Map[String, String], check: (Checks, Reply) => Boolean) {
  val key: String = params.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("&")
}

/** `point_lookup`: two closed-loop clients send a seeded mix of point
  * verbs over a static corpus written with `StudyLayout.write` and
  * served by `StudyStore`: `GetRecord` and `ListMetadataFormats?identifier`
  * on Zipf-skewed ids (deleted and unknown ids included), narrow
  * `ListIdentifiers` (set + from/until), `Identify` and `ListSets`. The
  * mix is dealt in decks of 20 with a fixed verb count per deck, so the
  * seed changes ids and order but not the share of each verb.
  *
  * Why: each result is tiny, so per-request fixed costs dominate:
  * Catalyst planning, job launch and a full-corpus scan per point
  * filter. Render work is negligible. Repeated ids let a result or plan
  * cache show, and a render gain must show no change here.
  */
final class PointLookup extends Workload {
  val name = "point_lookup"
  /** The sizes and the mix are assumptions, listed with their reasons in
    * the README.
    */
  private val StudyCount = 1200
  private val ListSize = 100
  /** Two, not four: four clients contending for four cores widened the
    * run-to-run spread of every latency metric.
    */
  private val Clients = 2
  /** Requests whose exact counts are reported: the first ones dealt. */
  private val ExactRequests = 40L
  val exactOps: Long = ExactRequests
  /** Verbs of one deck: 11 GetRecord, 5 ListMetadataFormats, 2
    * ListIdentifiers, 1 Identify, 1 ListSets.
    */
  private val Deck: Seq[Int] = Seq.fill(11)(0) ++ Seq.fill(5)(1) ++ Seq(2, 2, 3, 4)

  private var truth: Truth = _
  private var frame: DataFrame = _
  private var served: Env#Served = _
  private var asks: Vector[Ask] = _
  private var warmAsks: Vector[Ask] = _

  private def mix(seed: Long, decks: Int): Vector[Ask] = {
    val rng = new Random(seed)
    val ids = rng.shuffle(truth.sortedIds)
    // Zipf(0.8) over a seeded ranking of the ids; 1 in 20 ids is unknown
    val cdf = ids.indices.map(r => 1.0 / math.pow(r + 1, 0.8)).scanLeft(0.0)(_ + _).tail.toArray
    def zipfId(): String =
      if (rng.nextInt(20) == 0) s"cdc-unknown-${rng.nextInt(1000)}"
      else {
        val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble() * cdf.last)
        ids(math.min(if (i >= 0) i else -i - 1, ids.size - 1))
      }
    val sets = Corpus.Langs.map("language:" + _) ++ Corpus.Sources.map("source:" + _.source) :+ "openaire_data"
    val day = 86400000L
    val firstDay = truth.byId.valuesIterator.map(_.updatedMs).min / day
    val lastDay = Corpus.IngestFrom / day
    def err(code: String)(c: Checks, r: Reply) =
      c.expect(r.error.contains(code), s"expected $code, got ${r.error}")
    def ask(verb: Int): Ask = verb match {
      case 0 =>
        val id = zipfId()
        val prefix = Seq("oai_dc", "oai_ddi25", "oai_ddi25", "oai_datacite")(rng.nextInt(4))
        Ask(Map("verb" -> "GetRecord", "identifier" -> id, "metadataPrefix" -> prefix),
          truth.byId.get(id).filter(truth.visible(prefix, _)) match {
            case None => err("idDoesNotExist")
            case Some(rec) => (c, r) => c.expect(r.error.isEmpty &&
              r.items == Vector(Item(id, rec.deleted, !rec.deleted)), s"GetRecord $id $prefix: ${r.items}")
          })
      case 1 =>
        val id = zipfId()
        Ask(Map("verb" -> "ListMetadataFormats", "identifier" -> id),
          truth.formatsOf(id) match {
            case None => err("idDoesNotExist")
            case Some(fs) => (c, r) => c.expect(r.error.isEmpty &&
              Reply.texts(r.text, "metadataPrefix") == fs, s"ListMetadataFormats $id")
          })
      case 2 =>
        val set = sets(rng.nextInt(sets.size))
        val from = firstDay + rng.nextInt((lastDay - firstDay).toInt - 30)
        val until = from + Seq(6, 13, 29)(rng.nextInt(3))
        val prefix = Seq("oai_dc", "oai_ddi25", "oai_datacite")(rng.nextInt(3))
        val expected = truth.listIds(prefix, Some(set), from * day, until * day + day - 1000)
        def date(d: Long) = java.time.LocalDate.ofEpochDay(d).toString
        Ask(Map("verb" -> "ListIdentifiers", "metadataPrefix" -> prefix, "set" -> set,
            "from" -> date(from), "until" -> date(until)),
          if (expected.isEmpty) err("noRecordsMatch")
          else (c, r) => c.listPage(r, expected, 0, truth, headersOnly = true, s"ListIdentifiers $set"))
      case 3 =>
        Ask(Map("verb" -> "Identify"), (c, r) => c.expect(r.error.isEmpty &&
          Reply.texts(r.text, "earliestDatestamp") == Vector(truth.earliestDatestamp), "Identify"))
      case _ =>
        Ask(Map("verb" -> "ListSets"), (c, r) => c.expect(r.error.isEmpty &&
          Reply.texts(r.text, "setSpec") == truth.setSpecs, "ListSets"))
    }
    Vector.fill(decks)(rng.shuffle(Deck).map(ask)).flatten
  }

  def prepare(env: Env): Unit = {
    val studies = Corpus.generate(env.seed, StudyCount)
    truth = Corpus.truthOf(studies)
    val spark = env.spark
    import spark.implicits._
    frame = spark.createDataset(studies).toDF()
    asks = mix(env.seed, 100)
    // one request of each verb and format, from a seed of its own
    warmAsks = mix(env.seed ^ 0x5eedL, 2).groupBy(a => (a.params("verb"), a.params.get("metadataPrefix")))
      .values.map(_.head).toVector.sortBy(_.key)
  }

  def build(env: Env, rep: Int): Double = {
    val path = env.work.resolve(s"corpus-$rep").toString
    val (_, s) = env.timed(env.span("ingest.layout_write", traced = true) {
      StudyLayout.write(frame, path)
    })
    served = new env.Served(new StudyStore(env.spark.read.parquet(path)), ListSize)
    s
  }

  /** The clients take requests `seq = 0, 1, …` from `asks` in turn. */
  private def drive(env: Env, asks: Vector[Ask], more: Long => Boolean, prefix: Long => Boolean): Unit = {
    val next = new AtomicLong
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = (0 until Clients).map { i =>
      val t = new Thread(() => {
        try {
          var seq = next.getAndIncrement()
          while (more(seq)) {
            val a = asks((seq % asks.size).toInt)
            val reply = served.request(seq, a.params, a.key, prefix(seq))
            a.check(env.checks, reply)
            seq = next.getAndIncrement()
          }
        } catch { case e: Throwable => failure.compareAndSet(null, e) }
      }, s"perfbench-client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
  }

  def warmUp(env: Env): Unit =
    drive(env, warmAsks, _ < warmAsks.size, _ => false)

  def run(env: Env, stop: Workload.Stop): Unit =
    drive(env, asks, _ => stop.more, _ < ExactRequests)
}

/** `harvest_during_ingest`: one thread runs a fixed interleave over a
  * `TxTable` served through `TxStudyStore`: commit a seeded
  * upsert/delete batch with `TxTable.mergeInto`, harvest a fixed number
  * of `oai_ddi25` pages (39-column projection, heaviest render) with
  * snapshot-pinned tokens, scrape `MetricsJob.run` + `prometheus`,
  * repeat. The harvester drains each list to its end, across commits,
  * then starts the next one.
  *
  * Why: this puts writes beside reads. `mergeInto` rewrites every
  * corpus file per commit, so a read-path gain that costs writes (a
  * heavier layout, indexes) shows here. The harvest pages also carry
  * the full-harvest read path (keyset paging, `formats`, `render`). The
  * single-thread interleave keeps file and byte counts exactly
  * repeatable.
  */
final class HarvestDuringIngest extends Workload {
  val name = "harvest_during_ingest"
  /** Small enough for a run's 40 pages to fit the time budget, so a page
    * scans about 13 rows per record served, not the ~100 of a 50 000-study
    * catalogue. This and the other sizes are assumptions, listed with
    * their reasons in the README.
    */
  private val StudyCount = 1000
  private val ListSize = 100
  private val BatchSize = 100
  private val PagesPerCycle = 20
  private val Prefix = "oai_ddi25"
  private val Key = "_aggregator_identifier"
  /** Pages and cycles whose exact counts are reported: the first ones. */
  private val ExactPages = 24L
  private val ExactCycles = 2L
  /** The prefix pages plus a commit and a scrape per prefix cycle. */
  val exactOps: Long = ExactPages + 2 * ExactCycles

  private var base: Vector[Study] = _
  private var frame: DataFrame = _
  private var served: Env#Served = _
  private var root: String = _
  private var live: Map[String, Study] = _

  // the harvest in flight: the truth its first page pinned, and its position
  private var pinned: Truth = _
  private var expected: Vector[String] = _
  private var token: Option[String] = None
  private var offset = 0

  private def source(env: Env, b: Batch): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    spark.createDataset(b.upserts).toDF().withColumn("_tombstone", lit(false))
      .unionByName(spark.createDataset(b.tombstones).toDF().withColumn("_tombstone", lit(true)))
  }

  private def parquetBytes(dir: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.filter(_.toString.endsWith(".parquet")).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** Commit batch `k`; in a traced cycle also measure its exact counts. */
  private def commit(env: Env, k: Int, seq: Long, prefix: Boolean): Unit = {
    val b = Corpus.batch(env.seed, k, BatchSize, live, 1000000 + k * BatchSize)
    val src = source(env, b)
    val tr = env.traced(seq)
    val before = if (tr) TxTable.latestSnapshot(env.spark, root).files.toSet else Set.empty[String]
    env.attempted.incrementAndGet()
    val req = env.tracer.filter(_ => tr).map(_.newRequest()).getOrElse(0L)
    val t0 = System.nanoTime()
    env.span("sources.merge", tr, req) {
      TxTable.mergeInto(root, src, Key, src.columns.filter(c => c != Key && c != "_tombstone").toSeq,
        "_tombstone")
    }
    val t1 = System.nanoTime()
    live = Corpus.apply(live, b)
    env.record(Op("commit", seq, req, t0, t1, b.upserts.size + b.tombstones.size, 0L, tr,
      s"commit:$k", prefix))
    if (tr) {
      val after = TxTable.latestSnapshot(env.spark, root)
      val written = after.files.filterNot(before).map(f =>
        java.nio.file.Files.size(java.nio.file.Paths.get(root, f))).sum
      val staged = env.work.resolve(s"batch-$k")
      src.coalesce(1).write.parquet(staged.toString)
      env.commits.add(CommitCounts(seq, written, parquetBytes(staged), after.files.size))
    }
  }

  private def page(env: Env, seq: Long, prefix: Boolean): Unit = {
    if (token.isEmpty && offset == 0) {
      pinned = Corpus.truthOf(live.values)
      expected = pinned.listIds(Prefix)
    }
    val params = token.fold(Map("verb" -> "ListRecords", "metadataPrefix" -> Prefix))(
      t => Map("verb" -> "ListRecords", "resumptionToken" -> t))
    val reply = served.request(seq, params, s"page:$seq", prefix)
    // an in-flight harvest equals the snapshot its first page pinned
    env.checks.listPage(reply, expected, offset, pinned, headersOnly = false,
      s"$name page at $offset")
    offset += reply.items.size
    token = reply.token
    if (token.isEmpty) {
      env.checks.expect(offset == expected.size,
        s"$name: pinned harvest ended after $offset of ${expected.size} records")
      offset = 0
    }
  }

  private def scrape(env: Env, seq: Long, prefix: Boolean): Unit = {
    env.attempted.incrementAndGet()
    val tr = env.traced(seq)
    val req = env.tracer.filter(_ => tr).map(_.newRequest()).getOrElse(0L)
    val t0 = System.nanoTime()
    val text = env.span("metrics.scrape", tr, req) {
      MetricsJob.prometheus(MetricsJob.run(served.store.studies))
    }
    val t1 = System.nanoTime()
    env.record(Op("scrape", seq, req, t0, t1, 0, Reply.utf8Length(text), tr, "scrape", prefix))
    // the gauges equal the truth after the latest commit
    env.checks.expect(Reply.gauges(text) == Corpus.truthOf(live.values).gauges,
      s"$name: scrape gauges differ from the truth after commit")
  }

  def prepare(env: Env): Unit = {
    base = Corpus.generate(env.seed, StudyCount)
    val spark = env.spark
    import spark.implicits._
    frame = StudyLayout.withDerived(spark.createDataset(base).toDF())
  }

  def build(env: Env, rep: Int): Double = {
    root = env.work.resolve(s"tx-$rep").toString
    val (_, s) = env.timed(env.span("ingest.layout_write", traced = true) {
      TxTable.create(frame, root)
    })
    served = new env.Served(new TxStudyStore(env.spark, root), ListSize)
    live = base.map(s => s._aggregator_identifier -> s).toMap
    s
  }

  /** One commit, two pinned pages and one scrape; the measured
    * harvest then starts afresh.
    */
  def warmUp(env: Env): Unit = {
    commit(env, 0, -1, prefix = false)
    for (_ <- 0 until 2) page(env, -1, prefix = false)
    scrape(env, -1, prefix = false)
    token = None
    offset = 0
  }

  def run(env: Env, stop: Workload.Stop): Unit = {
    var cycle = 0L
    var pageSeq = 0L
    while (stop.more) {
      commit(env, cycle.toInt + 1, cycle, cycle < ExactCycles)
      for (_ <- 0 until PagesPerCycle) {
        page(env, pageSeq, pageSeq < ExactPages)
        pageSeq += 1
      }
      scrape(env, cycle, cycle < ExactCycles)
      cycle += 1
    }
  }
}
