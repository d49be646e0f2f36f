package graft.metrics

import graft.schema.RecordStatus
import graft.sources.TxTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class PublisherCounts(
    baseUrl: String,
    records: Long,
    recordsWithoutDeleted: Long)

final case class AggMetrics(
    recordsTotal: Long,
    recordsTotalWithoutDeleted: Long,
    publishersTotal: Long,
    perPublisher: Seq[PublisherCounts])

/** The /metrics aggregation workload (SURVEY.md §2.4; metrics.py:148-201).
  *
  * The reference issues 2 + 2·N DocStore count queries — one pair per
  * publisher (tests/test_metrics.py:28-74). Here every gauge comes from
  * ONE aggregate ([[deltas]]): a hash aggregate on the denormalized
  * `_direct_base_url` that sums a ±1 sign per row, plus a driver-side
  * fold for the globals. [[run]] recounts a corpus with sign +1;
  * [[MetricsMaintainer]] folds a [[TxTable]] change batch with the sign
  * of each `_change_type`, so a scrape after a commit aggregates the
  * batch, not the corpus. Map-side partial aggregation means the
  * shuffle carries at most (#publishers × #partitions) rows regardless
  * of corpus size.
  */
object MetricsJob {

  private[metrics] val Empty = AggMetrics(0L, 0L, 0L, Nil)

  /** Per publisher (null for a null `_direct_base_url`): the sum of
    * `sign` over its rows, and over its live rows (status ≠ deleted; a
    * null status is not live).
    */
  private def deltas(rows: DataFrame, sign: Column): Seq[(String, Long, Long)] =
    rows
      .groupBy(col("_direct_base_url"))
      .agg(
        sum(sign),
        sum(when(col("_metadata.status") =!= RecordStatus.Deleted, sign)
          .otherwise(0L)))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq

  /** `m` plus per-publisher deltas. A null publisher counts in the
    * totals only; a publisher left with no records disappears.
    */
  private def plus(m: AggMetrics, d: Seq[(String, Long, Long)]): AggMetrics = {
    val before = m.perPublisher
      .map(p => p.baseUrl -> ((p.records, p.recordsWithoutDeleted))).toMap
    val after = d.filter(_._1 != null).foldLeft(before) {
      case (acc, (u, dn, dl)) =>
        val (n, l) = acc.getOrElse(u, (0L, 0L))
        acc + (u -> ((n + dn, l + dl)))
    }
    val named = after.collect {
      case (u, (n, l)) if n > 0 => PublisherCounts(u, n, l)
    }.toSeq.sortBy(_.baseUrl)
    AggMetrics(m.recordsTotal + d.map(_._2).sum,
      m.recordsTotalWithoutDeleted + d.map(_._3).sum,
      named.size.toLong, named)
  }

  /** Exact gauges over `studies`: one Spark job. */
  def run(studies: DataFrame): AggMetrics = plus(Empty, deltas(studies, lit(1L)))

  /** `m` advanced by one typed change batch (the
    * [[TxTable.readChangesTyped]] shape): `insert` and
    * `update_postimage` rows add, `delete` and `update_preimage` rows
    * subtract, so an update moves its contribution when the publisher
    * or status changed and cancels when neither did.
    */
  private[metrics] def fold(m: AggMetrics, changes: DataFrame): AggMetrics =
    plus(m, deltas(
      changes.filter(col("_change_type").isin(
        "insert", "delete", "update_preimage", "update_postimage")),
      when(col("_change_type").isin("insert", "update_postimage"), 1L)
        .otherwise(-1L)))

  /** Prometheus label-value escaping (exposition format: backslash,
    * double quote and newline are escaped). Label values carry outside
    * input — a client's User-Agent, a harvested base URL — and one
    * unescaped quote would make the whole scrape unparseable.
    */
  private[metrics] def labelValue(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** Prometheus exposition text (metrics.py:103-145,199-201; IO4). */
  def prometheus(m: AggMetrics): String = {
    val sb = new StringBuilder
    // HELP and TYPE once per family, and only for a family with samples
    def family(name: String, help: String, samples: Seq[(String, Long)]): Unit =
      if (samples.nonEmpty) {
        sb ++= s"# HELP $name $help\n# TYPE $name gauge\n"
        samples.foreach { case (labels, v) => sb ++= s"$name$labels $v\n" }
      }
    def perPublisher(v: PublisherCounts => Long): Seq[(String, Long)] =
      m.perPublisher.map(p => s"""{publisher="${labelValue(p.baseUrl)}"}""" -> v(p))
    family("records_total", "Total number of records",
      Seq("" -> m.recordsTotal))
    family("records_total_without_deleted",
      "Total number of records without logically deleted",
      Seq("" -> m.recordsTotalWithoutDeleted))
    family("publishers_total", "Total number of publishers",
      Seq("" -> m.publishersTotal))
    family("publisher_records", "Records per publisher",
      perPublisher(_.records))
    family("publisher_records_without_deleted",
      "Live records per publisher", perPublisher(_.recordsWithoutDeleted))
    sb.toString
  }

  /** Full /metrics page: corpus gauges + OAI request counters/summaries
    * (the reference exposes both through one registry, metrics.py:52-70).
    */
  def prometheus(m: AggMetrics, requests: RequestMetrics): String =
    prometheus(m) + requests.prometheus
}

/** The gauges of one [[TxTable]], kept at its tip between scrapes. The
  * first [[gauges]] call recounts with [[MetricsJob.run]]; each later
  * call that finds a newer tip folds the typed change feed from the
  * counted version to the tip, one batch-sized aggregate. When that
  * range cannot be replayed — a vacuum swept past the counted version
  * ([[TxTable.VacuumedVersionException]]), or it holds a rewrite with
  * no change feed (compact, restore, feed-less merge) — it recounts at
  * the tip instead, so the gauges never go stale and never fail on a
  * gap.
  */
final class MetricsMaintainer(spark: SparkSession, root: String) {

  private var counted = MetricsJob.Empty
  private var version = -1L // the version `counted` describes; -1 = none
  // how many calls brought the gauges to a new tip each way
  private[graft] var folds, recounts = 0

  def gauges: AggMetrics = synchronized {
    val tip = TxTable.latestSnapshot(spark, root).version
    if (tip != version) {
      val changes =
        if (version < 0L) None
        else try Some(TxTable.readChangesTyped(spark, root, version, tip))
        catch { case _: IllegalStateException => None } // vacuumed or rewritten
      counted = changes.fold(
        MetricsJob.run(TxTable.readVersion(spark, root, tip)))(
        MetricsJob.fold(counted, _))
      if (changes.isDefined) folds += 1 else recounts += 1
      version = tip
    }
    counted
  }
}
