package graft.metrics

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.schema.RecordStatus
import graft.sources.TxTable

/** Gauges kept at the tip of a change-feed table must equal a full
  * recount after any typed change traffic — including the two
  * contribution-moving update shapes (status flip, publisher move) and
  * null publishers — and each read must fold the new commits when the
  * feed can replay them and recount only when it cannot.
  */
class MetricsMaintainerSpec extends SparkSpec {

  import spark.implicits._

  private def studies(
      rows: Seq[(Long, String, Boolean)]): DataFrame =
    rows.toDF("doc_id", "pub", "del")
      .select(col("doc_id"), col("pub").as("_direct_base_url"),
        struct(when(col("del"), RecordStatus.Deleted)
          .otherwise(RecordStatus.Created).as("status")).as("_metadata"))

  private def table(rows: Seq[(Long, String, Boolean)],
      changeFeed: Boolean = true): String = {
    val root = Files.createTempDirectory("graft-metmaint-").toString
    TxTable.create(studies(rows), root)                            // v0
    if (changeFeed) TxTable.setChangeFeed(spark, root, enabled = true) // v1
    root
  }

  /** Reads the gauges, asserts they equal a recount of the tip, and
    * that the read took the expected (folds, recounts) totals so far.
    */
  private def assertGauges(m: MetricsMaintainer, root: String,
      folds: Int, recounts: Int): AggMetrics = {
    val g = m.gauges
    assert(g == MetricsJob.run(TxTable.read(spark, root)))
    assert((m.folds, m.recounts) == ((folds, recounts)))
    g
  }

  private def upsert(root: String, rows: Seq[(Long, String, Boolean)],
      tombstones: Seq[(Long, String, Boolean)] = Nil): Unit =
    TxTable.mergeInto(root,
      studies(rows).withColumn("_del", lit(false))
        .unionByName(studies(tombstones).withColumn("_del", lit(true))),
      "doc_id", Seq("_direct_base_url", "_metadata"), "_del")

  test("gauges fold each commit between reads, equal to a recount at " +
    "every step") {
    val root = table(Seq(
      (1L, "pubA", false), (2L, "pubA", true), (3L, "pubB", false)))
    val m = new MetricsMaintainer(spark, root)
    assertGauges(m, root, folds = 0, recounts = 1)
    TxTable.append(studies(Seq((4L, "pubC", false))), root)        // v2
    assertGauges(m, root, folds = 1, recounts = 1)
    upsert(root, Seq((1L, "pubA", true), (3L, "pubC", false),
      (5L, "pubB", false)))                                        // v3
    assertGauges(m, root, folds = 2, recounts = 1)
    TxTable.deleteWhere(spark, root, col("doc_id") === 2L)         // v4
    assertGauges(m, root, folds = 3, recounts = 1)
  }

  test("one read folds a range of commits: insert, status flip, " +
    "publisher move, tombstone, DV delete — null publisher in totals only") {
    val root = table(Seq(
      (1L, "pubA", false), (2L, "pubA", true), (3L, "pubB", false),
      (4L, null, false)))
    val m = new MetricsMaintainer(spark, root)
    val first = assertGauges(m, root, folds = 0, recounts = 1)
    assert(first.recordsTotal == 4L)
    assert(first.publishersTotal == 2L) // null not named

    TxTable.append(studies(Seq((5L, "pubC", false))), root)        // v2
    // one merge: status flip (1), publisher move (3), tombstone (2),
    // fresh insert (6)
    upsert(root, Seq((1L, "pubA", true), (3L, "pubC", false),
      (6L, "pubB", false)), tombstones = Seq((2L, "pubA", true)))  // v3
    TxTable.deleteWhere(spark, root, col("doc_id") === 4L)         // v4
    val g = assertGauges(m, root, folds = 1, recounts = 1)
    // the moved/flipped shape: pubA = {1 deleted}, pubB = {6},
    // pubC = {3, 5}
    assert(g.perPublisher == Seq(
      PublisherCounts("pubA", 1L, 0L),
      PublisherCounts("pubB", 1L, 1L),
      PublisherCounts("pubC", 2L, 2L)))
  }

  test("a publisher whose last record leaves disappears from the gauges") {
    val root = table(Seq((1L, "pubX", false), (2L, "pubY", false)))
    val m = new MetricsMaintainer(spark, root)
    assertGauges(m, root, folds = 0, recounts = 1)
    TxTable.deleteWhere(spark, root, col("doc_id") === 1L)         // v2
    val g = assertGauges(m, root, folds = 1, recounts = 1)
    assert(g.perPublisher.map(_.baseUrl) == Seq("pubY"))
    assert(g.publishersTotal == 1L)
  }

  test("a second read with no new commit folds nothing") {
    val root = table(Seq((1L, "pubA", false)))
    val m = new MetricsMaintainer(spark, root)
    val first = assertGauges(m, root, folds = 0, recounts = 1)
    assert(assertGauges(m, root, folds = 0, recounts = 1) == first)
    TxTable.append(studies(Seq((2L, "pubB", false))), root)        // v2
    val second = assertGauges(m, root, folds = 1, recounts = 1)
    assert(assertGauges(m, root, folds = 1, recounts = 1) == second)
  }

  test("a vacuum past the counted version between two reads re-anchors " +
    "with one recount, then folds again") {
    val root = table(Seq((1L, "pubA", false)))
    val m = new MetricsMaintainer(spark, root)
    assertGauges(m, root, folds = 0, recounts = 1)                 // at v1
    TxTable.append(studies(Seq((2L, "pubB", false))), root)        // v2
    TxTable.deleteWhere(spark, root, col("doc_id") === 1L)         // v3
    TxTable.append(studies(Seq((3L, "pubC", false))), root)        // v4
    TxTable.vacuum(spark, root, keepVersions = 1)
    assert(TxTable.versions(spark, root).min > 2L,
      "test setup: vacuum must sweep past the counted version")
    assertGauges(m, root, folds = 0, recounts = 2)
    TxTable.append(studies(Seq((4L, "pubD", false))), root)
    assertGauges(m, root, folds = 1, recounts = 2)
  }

  test("a merge with the change feed off re-anchors instead of throwing") {
    val root = table(Seq((1L, "pubA", false), (2L, "pubB", false)),
      changeFeed = false)
    val m = new MetricsMaintainer(spark, root)
    assertGauges(m, root, folds = 0, recounts = 1)                 // at v0
    upsert(root, Seq((1L, "pubB", true), (3L, "pubC", false)))     // v1
    intercept[IllegalStateException] {
      TxTable.readChangesTyped(spark, root, 0L, 1L)
    }
    assertGauges(m, root, folds = 0, recounts = 2)
    // an append needs no change feed: the next read folds it
    TxTable.append(studies(Seq((4L, "pubA", false))), root)        // v2
    assertGauges(m, root, folds = 1, recounts = 2)
  }
}
