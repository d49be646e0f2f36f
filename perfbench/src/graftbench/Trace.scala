package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.query.{Filter, HarvestStore, Page, ResumptionToken}
import graft.sets.{SetFamily, SetInfo}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame}

/** One timed call across a layer boundary. Spans of one request share
  * `req`; `parent` is the enclosing span (0 for a root).
  */
final case class Span(
    id: Long, parent: Long, req: Long, name: String, startNs: Long, endNs: Long,
    rows: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One Spark job, tagged with the request and span that submitted it. */
final class JobRec(val jobId: Int, val req: Long, val span: Long, val submitMs: Long) {
  @volatile var endMs: Long = -1L
  var firstLaunchMs: Long = Long.MaxValue
  var recordsRead: Long = 0L
  var bytesRead: Long = 0L
  var taskMs: Long = 0L
  def ms: Double = (endMs - submitMs).toDouble
  def waitMs: Double =
    if (firstLaunchMs == Long.MaxValue) 0.0 else (firstLaunchMs - submitMs).toDouble
}

/** Span recorder. Spans stay in memory until [[Tracer.dump]] at the end
  * of the run. Spark jobs are tagged per request with local properties
  * and collected by a listener registered from the benchmark, so the
  * engine itself is untouched.
  */
final class Tracer(sc: SparkContext) {
  private val ReqKey = "perfbench.req"
  private val SpanKey = "perfbench.span"
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[(Long, Long)] { // (req, span)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def num(k: String) = p.flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)
      val j = new JobRec(e.jobId, num(ReqKey), num(SpanKey), e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime)
        j.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          j.recordsRead += m.inputMetrics.recordsRead
          j.bytesRead += m.inputMetrics.bytesRead
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
  }
  sc.addSparkListener(listener)

  /** A new request id; the caller opens its root span under it. */
  def newRequest(): Long = ids.incrementAndGet()

  /** Time `body` as span `name`; jobs it submits carry the span. */
  def span[A](name: String, req: Long = -1L)(body: => A): A = {
    val (outerReq, outerSpan) = current.get
    val r = if (req >= 0) req else outerReq
    val id = ids.incrementAndGet()
    current.set((r, id))
    sc.setLocalProperty(ReqKey, r.toString)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    var rows = 0L
    try {
      val out = body
      out match {
        case p: Page => rows = p.rows.size
        case _       =>
      }
      out
    } finally {
      spans.add(Span(id, outerSpan, r, name, t0, System.nanoTime(), rows))
      current.set((outerReq, outerSpan))
      sc.setLocalProperty(ReqKey, if (outerReq == 0L) null else outerReq.toString)
      sc.setLocalProperty(SpanKey, if (outerSpan == 0L) null else outerSpan.toString)
    }
  }

  /** Waits for the listener to see every finished job. */
  def settle(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[JobRec] = synchronized(jobs.values.toSeq)

  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    allSpans.sortBy(_.startNs).foreach { s =>
      sb ++= s"""{"type":"span","id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"rows":${s.rows}}""" + "\n"
    }
    allJobs.foreach { j =>
      sb ++= s"""{"type":"job","job":${j.jobId},"req":${j.req},"span":${j.span},"submit_ms":${j.submitMs},""" +
        s""""end_ms":${j.endMs},"first_task_ms":${if (j.firstLaunchMs == Long.MaxValue) -1 else j.firstLaunchMs},""" +
        s""""records_read":${j.recordsRead},"bytes_read":${j.bytesRead},"task_ms":${j.taskMs}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

/** The benchmark's own [[HarvestStore]]: delegates every call and
  * records the `query.*` spans around it.
  */
final class TracedStore(inner: HarvestStore, tracer: Tracer) extends HarvestStore {
  override def studies: DataFrame = inner.studies

  override def queryFlags(filter: Filter, flags: Seq[(String, Filter)]): Option[Seq[String]] =
    tracer.span("query.flags")(inner.queryFlags(filter, flags))

  override def queryPage(
      filter: Filter, fields: Seq[String], listSize: Int,
      token: Option[ResumptionToken], filterFingerprint: String,
      derive: DataFrame => DataFrame, tokenArgs: Map[String, String]): Page =
    tracer.span("query.page")(inner.queryPage(
      filter, fields, listSize, token, filterFingerprint, derive, tokenArgs))
}

/** A set family whose ListSets enumeration is timed as `sets.enumerate`. */
final class TracedSet(inner: SetFamily, tracer: Tracer) extends SetFamily {
  def prefix: String = inner.prefix
  def fields: Seq[String] = inner.fields
  def enumerate(df: DataFrame): Seq[SetInfo] = tracer.span("sets.enumerate")(inner.enumerate(df))
  def labels: Column = inner.labels
  def filterFor(value: Option[String]): Filter = inner.filterFor(value)
}
