package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Metrics workload — SURVEY.md §2.4 (A1..A5), from
  * cdcagg_oai/metrics.py:148-201. The reference issues 2 + 2·N count
  * queries (one pair per publisher, tests/test_metrics.py:28-74); the
  * Spark design collapses all of it into single-pass hash aggregates with
  * map-side partial aggregation — one shuffle regardless of N, which is
  * what survives 100 TB / thousands of publishers.
  *
  * Testdata mapping: documents.source ~ `_direct_base_url` (publisher),
  * documents.lang='zh' ~ the soft-deleted status (metrics.py:42).
  */
object MetricsQueries extends QueryGroup {

  /** A1 total count incl. deleted (metrics.py:170). */
  val a1Total: QueryDef = QueryDef(
    "a1_total_count",
    (s, dir) => Tables(s, dir).documents.agg(count(lit(1)).as("records_total")),
    Some("SELECT count(*) AS records_total FROM documents"))

  /** A2 filtered count — `$ne deleted` (metrics.py:171-176). */
  val a2WithoutDeleted: QueryDef = QueryDef(
    "a2_count_without_deleted",
    (s, dir) =>
      Tables(s, dir).documents
        .filter(col("lang") =!= "zh")
        .agg(count(lit(1)).as("records_total_without_deleted")),
    Some(
      "SELECT count(*) AS records_total_without_deleted FROM documents " +
        "WHERE lang <> 'zh'"))

  /** A3 distinct publisher cardinality (metrics.py:179). countDistinct is
    * exact (two-phase aggregate); at 100 TB prefer approx_count_distinct —
    * see ext_approx_distinct below for the HLL path.
    */
  val a3DistinctPublishers: QueryDef = QueryDef(
    "a3_distinct_publishers",
    (s, dir) =>
      Tables(s, dir).documents
        .agg(countDistinct(col("source")).as("publishers_total")),
    Some("SELECT count(DISTINCT source) AS publishers_total FROM documents"))

  /** A4 per-publisher counts — the N+1 loop (metrics.py:180-198) as ONE
    * hash aggregate: count(*) and a conditional count in the same pass.
    */
  val a4PerPublisher: QueryDef = QueryDef(
    "a4_per_publisher_counts",
    (s, dir) =>
      Tables(s, dir).documents
        .groupBy("source")
        .agg(
          count(lit(1)).as("cnt"),
          count(when(col("lang") =!= "zh", 1)).as("cnt_without_deleted"))
        .orderBy("source"),
    Some(
      "SELECT source, count(*) AS cnt, " +
        "count(CASE WHEN lang <> 'zh' THEN 1 END) AS cnt_without_deleted " +
        "FROM documents GROUP BY source ORDER BY source"))

  /** A4 maintained INCREMENTALLY from the change feed
    * ([[graft.metrics.MetricsMaintainer]]): one recount at v1, then ONE
    * read at the tip folds the typed events of v2..v4 — append
    * (inserts), change-feed merge (status flips, so update pre/post
    * pairs MOVE the live contribution), DV delete — in one
    * batch-sized aggregate, with no second recount. In-gate the folded
    * gauges are asserted equal to [[graft.metrics.MetricsJob.run]]
    * over the final table; the oracle restates the final counts in
    * SQL, so the hash pins fold ≡ recount.
    */
  val a4Incremental: QueryDef = QueryDef(
    "a4_incremental_counts",
    (s, dir) => {
      import s.implicits._
      val studies = Tables(s, dir).documents.select(
        col("doc_id"),
        col("source").as("_direct_base_url"),
        struct(when(col("lang") === "zh",
            graft.schema.RecordStatus.Deleted)
          .otherwise(graft.schema.RecordStatus.Created).as("status"))
          .as("_metadata"))
      val rootPath = java.nio.file.Files
        .createTempDirectory("graft-incmet-")
      val root = rootPath.toString
      val out = try {
        graft.sources.TxTable.create(
          studies.filter(col("doc_id") % 2 === 0), root)           // v0
        graft.sources.TxTable.setChangeFeed(s, root, enabled = true) // v1
        val maintainer = new graft.metrics.MetricsMaintainer(s, root)
        maintainer.gauges                                          // recount
        graft.sources.TxTable.append(
          studies.filter(col("doc_id") % 2 === 1), root)           // v2
        graft.sources.TxTable.mergeInto(root,
          studies.filter(col("doc_id") % 9 === 1)
            .withColumn("_metadata",
              struct(lit(graft.schema.RecordStatus.Deleted).as("status")))
            .withColumn("_del", lit(false)),
          "doc_id", Seq("_direct_base_url", "_metadata"), "_del")  // v3
        graft.sources.TxTable.deleteWhere(s, root,
          col("doc_id") % 10 === 7)                                // v4
        val folded = maintainer.gauges                             // fold
        require(maintainer.recounts == 1 && maintainer.folds == 1,
          "the maintainer re-anchored instead of folding v2..v4")
        val recount = graft.metrics.MetricsJob.run(
          graft.sources.TxTable.read(s, root))
        require(folded == recount,
          "incremental fold diverged from the full recount")
        folded.perPublisher.map(p =>
          (p.baseUrl, p.records, p.recordsWithoutDeleted))
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(rootPath).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      out.toDF("source", "cnt", "cnt_without_deleted").orderBy("source")
    },
    Some(
      """SELECT source, count(*) AS cnt,
        |  count(CASE WHEN NOT (lang = 'zh' OR doc_id % 9 = 1) THEN 1 END)
        |    AS cnt_without_deleted
        |FROM documents WHERE doc_id % 10 <> 7
        |GROUP BY source ORDER BY source""".stripMargin))

  /** A5 request metrics — per-label counters (metrics.py:52-70) as a
    * group-by over an event log.
    */
  val a5RequestMetrics: QueryDef = QueryDef(
    "a5_request_metrics",
    (s, dir) =>
      Tables(s, dir).events
        .groupBy("event_type")
        .agg(count(lit(1)).as("requests_total"))
        .orderBy("event_type"),
    Some(
      "SELECT event_type, count(*) AS requests_total FROM events " +
        "GROUP BY event_type ORDER BY event_type"))

  override def defs: Seq[QueryDef] =
    Seq(a1Total, a2WithoutDeleted, a3DistinctPublishers, a4PerPublisher,
      a4Incremental, a5RequestMetrics)
}
