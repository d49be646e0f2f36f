package graft.sources

import java.nio.file.Files

import graft.SparkSpec

import org.apache.spark.sql.functions._

/** Deletion-vector (merge-on-read) semantics of
  * [[TxTable.deleteWhere]]: logical deletes without data rewrites,
  * materialization by the copy-on-write ops, and vacuum GC.
  */
class TxTableDvSpec extends SparkSpec {

  import spark.implicits._

  private def mkTable(): String = {
    val root = Files.createTempDirectory("graft-dv-spec-").toString
    val df = (1L to 40L).map(i => (i, if (i % 4 == 0) "bad" else "good"))
      .toDF("id", "tag").repartition(4)
    TxTable.create(df, root)
    root
  }

  test("deleteWhere hides rows without touching data files; " +
    "time travel still serves the pre-delete snapshot") {
    val root = mkTable()
    val filesBefore = TxTable.read(spark, root).inputFiles.toSet
    val v = TxTable.deleteWhere(spark, root, col("tag") === "bad")
    assert(v === 1L)
    val after = TxTable.read(spark, root)
    assert(after.count() === 30L)
    assert(after.filter(col("tag") === "bad").count() === 0L)
    // zero data bytes rewritten: same DATA file set; the plan's only
    // addition is the dv/ position file the anti-join reads
    assert(after.inputFiles.filter(_.contains("/data/")).toSet ===
      filesBefore)
    assert(after.inputFiles.exists(_.contains("/dv/")))
    assert(TxTable.snapshot(spark, root, 1L).dvFiles.nonEmpty)
    // the old version is untouched
    assert(TxTable.readVersion(spark, root, 0L).count() === 40L)
  }

  test("double delete is a no-op; empty match commits nothing") {
    val root = mkTable()
    val v1 = TxTable.deleteWhere(spark, root, col("tag") === "bad")
    val v2 = TxTable.deleteWhere(spark, root, col("tag") === "bad")
    assert(v1 === 1L && v2 === 1L) // second matched nothing: no commit
    assert(TxTable.versions(spark, root) === Seq(0L, 1L))
    assert(TxTable.read(spark, root).count() === 30L)
    val v3 = TxTable.deleteWhere(spark, root, col("id") > 1000L)
    assert(v3 === 1L)
  }

  test("appends carry DVs: deleted rows stay hidden, new rows land") {
    val root = mkTable()
    TxTable.deleteWhere(spark, root, col("id") <= 10L)
    TxTable.append(
      (101L to 110L).map(i => (i, "new")).toDF("id", "tag"), root)
    val got = TxTable.read(spark, root)
    assert(got.count() === 40L) // 40 - 10 + 10
    assert(got.agg(min("id")).head().getLong(0) === 11L)
    assert(TxTable.latestSnapshot(spark, root).dvFiles.nonEmpty)
  }

  test("mergeInto and compact MATERIALIZE deletes (dv lines dropped, " +
    "rows correct)") {
    val root = mkTable()
    TxTable.deleteWhere(spark, root, col("tag") === "bad") // 30 live
    TxTable.mergeInto(root,
      Seq((1L, "patched", false), (999L, "inserted", false))
        .toDF("id", "tag", "_del"),
      "id", Seq("tag"), "_del")
    val s = TxTable.latestSnapshot(spark, root)
    assert(s.dvFiles.isEmpty, "merge must materialize DVs")
    val rows = TxTable.read(spark, root)
      .as[(Long, String)].collect().toMap
    assert(rows.size === 31) // 30 live + 1 insert
    assert(rows(1L) === "patched" && rows(999L) === "inserted")
    assert(!rows.contains(4L)) // deleted row did not resurrect
    TxTable.compact(spark, root, buckets = 2)
    assert(TxTable.latestSnapshot(spark, root).dvFiles.isEmpty)
    assert(TxTable.read(spark, root).count() === 31L)
  }

  test("readRange respects DVs on a clustered table") {
    val root = Files.createTempDirectory("graft-dv-range-").toString
    TxTable.create(
      (1L to 100L).map(i => (i, i * 10L)).toDF("k", "v"), root,
      clusterCol = Some("k"), buckets = 4)
    TxTable.deleteWhere(spark, root, col("k") % 10L === 0L)
    val got = TxTable.readRange(spark, root, 1L, 50L)
      .select("k").as[Long].collect().sorted
    assert(got.toSeq === (1L to 50L).filterNot(_ % 10 == 0))
  }

  test("vacuum collects dv dirs once a rewrite materialized them") {
    val root = mkTable()
    TxTable.deleteWhere(spark, root, col("tag") === "bad")
    TxTable.compact(spark, root, buckets = 2) // v2: no dv refs
    val dvDir = new java.io.File(root, "dv")
    assert(dvDir.exists && dvDir.listFiles().nonEmpty)
    TxTable.vacuum(spark, root, keepVersions = 1, retentionMs = 0L)
    val left = Option(dvDir.listFiles()).map(_.length).getOrElse(0)
    assert(left === 0, s"dv dirs not collected: $left left")
    assert(TxTable.read(spark, root).count() === 30L)
  }

  test("DV-free tables read without the anti-join (no plan tax)") {
    val root = mkTable()
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Join"))
    assert(joins(TxTable.read(spark, root)) === 0)
    TxTable.deleteWhere(spark, root, col("tag") === "bad")
    assert(joins(TxTable.read(spark, root)) > 0) // DV anti-join present
    TxTable.compact(spark, root, buckets = 2) // materializes
    assert(joins(TxTable.read(spark, root)) === 0) // tax gone again
  }

  test("restore re-lists an earlier version as a new commit; " +
    "history describes every version") {
    val root = mkTable() // v0: 40 rows
    TxTable.deleteWhere(spark, root, col("tag") === "bad") // v1: 30
    TxTable.append(Seq((500L, "late")).toDF("id", "tag"), root) // v2: 31
    // roll back PAST the delete: the bad rows come back, versioned
    val v = TxTable.restore(spark, root, toVersion = 0L)
    assert(v === 3L)
    assert(TxTable.read(spark, root).count() === 40L)
    assert(TxTable.latestSnapshot(spark, root).dvFiles.isEmpty)
    // nothing was erased: v2 still time-travels
    assert(TxTable.readVersion(spark, root, 2L).count() === 31L)
    // restoring TO a DV version carries its deletes
    TxTable.restore(spark, root, toVersion = 1L)
    assert(TxTable.read(spark, root).count() === 30L)
    assert(TxTable.latestSnapshot(spark, root).dvFiles.nonEmpty)
    assert(TxTable.versions(spark, root) === (0L to 4L))
    val h = (0L to 4L).map(v => TxTable.snapshot(spark, root, v))
    assert(h(0).dvFiles.isEmpty && h(1).dvFiles.size === 1) // the delete's DV
    // restores mirror their targets: same data files, same DVs
    assert(h(3).files === h(0).files && h(3).dvFiles.isEmpty)
    assert(h(4).files === h(1).files && h(4).dvFiles === h(1).dvFiles)
    intercept[IllegalArgumentException] {
      TxTable.restore(spark, root, toVersion = 99L)
    }
  }

  test("deleteRange: file-pruned DV delete on the cluster column") {
    val root = Files.createTempDirectory("graft-dv-rangedel-").toString
    TxTable.create((1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"),
      root, clusterCol = Some("k"), buckets = 8)
    // the range touches a strict subset of files (manifest stats)
    val s0 = TxTable.latestSnapshot(spark, root)
    val cand = TxTable.prunedFiles(s0, 50L, 99L)
    assert(cand.nonEmpty && cand.size < s0.files.size,
      s"range matched ${cand.size} of ${s0.files.size} files")
    TxTable.deleteRange(spark, root, 50L, 99L)
    val live = TxTable.read(spark, root).select("k").as[Long]
      .collect().toSet
    assert(live === ((1L to 400L).toSet -- (50L to 99L)))
    // unclustered tables refuse (no stats channel to prune on)
    val flat = Files.createTempDirectory("graft-dv-flat-").toString
    TxTable.create(Seq((1L, "a")).toDF("k", "v"), flat)
    intercept[IllegalArgumentException] {
      TxTable.deleteRange(spark, flat, 0L, 10L)
    }
  }
}
