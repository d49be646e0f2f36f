package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the spans and Spark jobs the
  * benchmark recorded around each module's public calls. Which
  * end-to-end metric each should move, on which workload, is tabled in
  * `perfbench/README.md`. A metric whose layer the workload does not
  * reach reads 0.
  */
object Layers {

  /** The exact counts; they must repeat bit-for-bit for one seed. */
  val Exact: Seq[String] = Seq(
    "query.rows_scanned_per_row_served", "query.jobs_per_request",
    "protocol.response_bytes_per_record", "sources.bytes_written_per_byte_upserted",
    "sources.files_per_version")

  val Names: Seq[(String, String)] = Seq(
    "protocol.self_ms_per_request" -> "ms",
    "protocol.response_bytes_per_record" -> "bytes",
    "render.ms_per_record" -> "ms",
    "query.page_ms" -> "ms",
    "query.flags_ms" -> "ms",
    "query.rows_scanned_per_row_served" -> "rows",
    "query.bytes_scanned_per_row_served" -> "bytes",
    "query.jobs_per_request" -> "count",
    "query.driver_ms_per_request" -> "ms",
    "query.task_ms_per_request" -> "ms",
    "query.scheduler_wait_ms" -> "ms",
    "sets.enumerate_ms" -> "ms",
    "metrics.scrape_ms" -> "ms",
    "metrics.rows_scanned_per_scrape" -> "rows",
    "sources.merge_ms" -> "ms",
    "sources.bytes_written_per_byte_upserted" -> "ratio",
    "sources.files_per_version" -> "count",
    "ingest.layout_write_s" -> "s",
    "jvm.gc_ms_per_s" -> "ms/s",
    "trace.overhead_pct" -> "%")

  private val StoreSpans = Set("query.page", "query.flags")
  /** Spans of the modules `handle` calls into: the store and the set families. */
  private val ModuleSpans = StoreSpans + "sets.enumerate"

  /** What one traced operation cost, per layer. `direct` marks a request
    * that opened no module span: `GetRecord` and `Identify` build their
    * query on `store.studies` inside `handle`, so the wrapper never sees
    * their planning and collect.
    */
  private final case class Cost(
      op: Op, handleMs: Double, storeMs: Double, moduleMs: Double, pageMs: Double,
      jobMs: Double, storeJobMs: Double, moduleJobMs: Double, taskMs: Double,
      rowsRead: Long, bytesRead: Long, jobs: Int, waits: Seq[Double], direct: Boolean) {
    /** Planning and collect of the query: the store span minus its jobs,
      * or, for a direct request, the whole handle span minus its jobs.
      */
    def driverMs: Double = if (direct) handleMs - jobMs else storeMs - storeJobMs
    /** The protocol's own work: the handle span minus the module spans and
      * minus jobs outside them. A direct request's time is all counted as
      * query driver time (its render is one record or none).
      */
    def selfMs: Double = if (direct) 0.0 else handleMs - moduleMs - (jobMs - moduleJobMs)
  }

  def metrics(
      env: Env, tracer: Tracer, ops: Seq[Op], buildS: Seq[Double], gcPerS: Double,
      exactOps: Long, exactFile: Option[Path]): Map[String, (Double, String)] = {
    import Stats._
    val spans = tracer.allSpans.groupBy(_.req)
    val jobs = tracer.allJobs.groupBy(_.req)
    val costs = ops.filter(_.traced).map { op =>
      val ss = spans.getOrElse(op.req, Nil)
      val js = jobs.getOrElse(op.req, Nil)
      val store = ss.filter(s => StoreSpans(s.name))
      val module = ss.filter(s => ModuleSpans(s.name))
      val storeIds = store.map(_.id).toSet
      val moduleIds = module.map(_.id).toSet
      Cost(op, ss.filter(_.parent == 0L).map(_.ms).sum, store.map(_.ms).sum, module.map(_.ms).sum,
        ss.filter(_.name == "query.page").map(_.ms).sum,
        js.map(_.ms).sum, js.filter(j => storeIds(j.span)).map(_.ms).sum,
        js.filter(j => moduleIds(j.span)).map(_.ms).sum,
        js.map(_.taskMs.toDouble).sum, js.map(_.recordsRead).sum, js.map(_.bytesRead).sum,
        js.size, js.map(_.waitMs), op.kind == "request" && module.isEmpty)
    }
    val reqs = costs.filter(_.op.kind == "request")
    val lists = reqs.filter(c => c.op.verb == "ListRecords" || c.op.verb == "ListIdentifiers")
    val exactReqs = reqs.filter(_.op.prefix)
    val scrapes = costs.filter(_.op.kind == "scrape")
    val commits = env.commits.asScala.toSeq.filter(c => ops.exists(o => o.kind == "commit" && o.seq == c.seq && o.prefix))
    val opSpans = costs.flatMap(c => spans.getOrElse(c.op.req, Nil))
    def spanMs(name: String) = opSpans.filter(_.name == name).map(_.ms)
    val listSets = reqs.count(_.op.verb == "ListSets")
    val n = reqs.size.toDouble
    val records = reqs.map(_.op.records.toLong).sum.toDouble

    // the same request must cost the same counts every time it repeats
    reqs.groupBy(_.op.key).foreach { case (key, cs) =>
      val distinct = cs.map(c => (c.rowsRead, c.jobs, c.op.bytes)).distinct
      env.checks.expect(distinct.size == 1,
        s"exact counts of '$key' differ between repeats: $distinct")
    }
    // tracing overhead: traced over untraced median latency per verb,
    // weighted by the traced requests of each verb (the mixes differ)
    val untraced = ops.filter(o => o.kind == "request" && !o.traced).groupBy(_.verb)
    val matched = reqs.groupBy(_.op.verb).toSeq.collect {
      case (verb, cs) if untraced.contains(verb) =>
        (cs.size * median(cs.map(_.op.ms)), cs.size * median(untraced(verb).map(_.ms)))
    }

    val m = Map[String, Double](
      "protocol.self_ms_per_request" -> ratio(reqs.map(_.selfMs).sum, n),
      "protocol.response_bytes_per_record" ->
        ratio(exactReqs.map(_.op.bytes).sum.toDouble, exactReqs.map(_.op.records.toLong).sum.toDouble),
      "render.ms_per_record" ->
        ratio(lists.map(c => c.handleMs - c.pageMs).sum, lists.map(_.op.records.toLong).sum.toDouble),
      "query.page_ms" -> mean(spanMs("query.page")),
      "query.flags_ms" -> mean(spanMs("query.flags")),
      "query.rows_scanned_per_row_served" ->
        ratio(exactReqs.map(_.rowsRead).sum.toDouble, exactReqs.map(_.op.records.toLong).sum.toDouble),
      "query.bytes_scanned_per_row_served" -> ratio(reqs.map(_.bytesRead).sum.toDouble, records),
      "query.jobs_per_request" -> ratio(exactReqs.map(_.jobs).sum.toDouble, exactReqs.size.toDouble),
      "query.driver_ms_per_request" -> ratio(reqs.map(_.driverMs).sum, n),
      "query.task_ms_per_request" -> ratio(reqs.map(_.taskMs).sum, n),
      "query.scheduler_wait_ms" -> mean(reqs.flatMap(_.waits)),
      "sets.enumerate_ms" -> ratio(spanMs("sets.enumerate").sum, listSets.toDouble),
      "metrics.scrape_ms" -> mean(scrapes.map(_.handleMs)),
      "metrics.rows_scanned_per_scrape" -> ratio(scrapes.map(_.rowsRead).sum.toDouble, scrapes.size.toDouble),
      "sources.merge_ms" -> mean(spanMs("sources.merge")),
      "sources.bytes_written_per_byte_upserted" ->
        ratio(commits.map(_.bytesWritten).sum.toDouble, commits.map(_.bytesUpserted).sum.toDouble),
      "sources.files_per_version" -> mean(commits.map(_.files.toDouble)),
      "ingest.layout_write_s" -> median(buildS),
      "jvm.gc_ms_per_s" -> gcPerS,
      "trace.overhead_pct" -> (ratio(matched.map(_._1).sum, matched.map(_._2).sum) - 1.0) * 100.0)

    env.checks.expect(ops.count(_.prefix) == exactOps,
      s"the exact-count prefix holds ${ops.count(_.prefix)} operations, not $exactOps")
    exactFile.foreach(f => selfCheck(env, f, Exact.map(k => k -> m(k))))
    Names.map { case (k, unit) => k -> (m(k), unit) }.toMap
  }

  /** The exact counts of a seed must equal those of the previous run of
    * the same seed on the same code: the first run records them, later
    * runs compare.
    */
  private def selfCheck(env: Env, file: Path, exact: Seq[(String, Double)]): Unit = {
    val now = exact.map { case (k, v) => s"$k=${java.lang.Double.doubleToLongBits(v)}" }
    if (Files.exists(file)) {
      val before = Files.readAllLines(file).asScala.toSeq
      env.checks.expect(before == now,
        s"exact counts differ from an earlier run of this seed: ${before.diff(now)} vs ${now.diff(before)}")
    } else {
      Files.createDirectories(file.getParent)
      Files.write(file, now.asJava)
    }
  }
}
