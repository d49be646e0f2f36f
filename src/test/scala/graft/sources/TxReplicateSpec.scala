package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Delta-bounded CDC apply: replica state converges to the source
  * under mixed traffic, and redelivered batches are wholesale no-ops
  * (the high-water skip guards the non-idempotent key-delete).
  */
class TxReplicateSpec extends SparkSpec {

  import spark.implicits._

  private def rows(ks: Seq[Long]) =
    ks.map(k => (k, s"v$k")).toDF("k", "v")

  test("mirror converges under append, feed-merge updates/inserts/" +
    "tombstones, and DV deletes — without rewriting the replica") {
    val src = Files.createTempDirectory("graft-rep-src-").toString
    val dst = Files.createTempDirectory("graft-rep-dst-").toString
    TxTable.create(rows(1L to 6L), src)                            // v0
    TxTable.setChangeFeed(spark, src, enabled = true)              // v1
    TxTable.append(rows(7L to 8L), src)                            // v2
    TxTable.mergeInto(src,
      Seq((2L, "UPD", false), (9L, "NEW", false), (5L, "x", true))
        .toDF("k", "v", "deleted"),
      "k", Seq("v"), "deleted")                                    // v3
    TxTable.deleteWhere(spark, src, col("k") === 7L)               // v4

    TxReplicate.mirror(spark, src, dst, "k")
    val a = TxTable.read(spark, src).as[(Long, String)].collect().toSet
    val b = TxTable.read(spark, dst).as[(Long, String)].collect().toSet
    assert(a == b)
    assert(b == Set(1L -> "v1", 2L -> "UPD", 3L -> "v3", 4L -> "v4",
      6L -> "v6", 8L -> "v8", 9L -> "NEW"))
    // the replica never rewrote its bootstrap files: v0's data files
    // all survive in the latest manifest (appends + DVs only)
    val boot = TxTable.snapshot(spark, dst, 0L).files.toSet
    assert(boot.subsetOf(
      TxTable.latestSnapshot(spark, dst).files.toSet))
  }

  test("a redelivered batch skips wholesale — its key-delete never " +
    "reaches postimage rows the first delivery appended") {
    val src = Files.createTempDirectory("graft-rep-src-").toString
    val dst = Files.createTempDirectory("graft-rep-dst-").toString
    TxTable.create(rows(1L to 3L), src)                            // v0
    TxTable.setChangeFeed(spark, src, enabled = true)              // v1
    TxTable.mergeInto(src,
      Seq((2L, "UPD", false)).toDF("k", "v", "deleted"),
      "k", Seq("v"), "deleted")                                    // v2
    TxReplicate.mirror(spark, src, dst, "k")
    assert(TxTable.read(spark, dst).filter($"v" === "UPD").count() == 1L)

    val ev = TxTable.readChangesTyped(spark, src, 1L, 2L)
    assert(TxReplicate.applyTyped(spark, dst, "k", ev,
      streamId = "mirror", batchId = 2L) == 0)
    // the updated row survived the replay attempt
    assert(TxTable.read(spark, dst).filter($"v" === "UPD").count() == 1L)
  }

  test("resume tails from the recorded high-water when the feed " +
    "survives, and reports reconciled=false") {
    val src = Files.createTempDirectory("graft-rep-src-").toString
    val dst = Files.createTempDirectory("graft-rep-dst-").toString
    TxTable.create(rows(1L to 4L), src)                            // v0
    TxTable.setChangeFeed(spark, src, enabled = true)              // v1
    TxReplicate.mirror(spark, src, dst, "k")
    TxTable.append(rows(Seq(5L)), src)                             // v2
    TxTable.mergeInto(src,
      Seq((1L, "UPD", false)).toDF("k", "v", "deleted"),
      "k", Seq("v"), "deleted")                                    // v3
    val r = TxReplicate.resume(spark, src, dst, "k", "v")
    assert(r == TxReplicate.ResumeResult(3L, reconciled = false))
    val a = TxTable.read(spark, src).as[(Long, String)].collect().toSet
    val b = TxTable.read(spark, dst).as[(Long, String)].collect().toSet
    assert(a == b && b.contains(1L -> "UPD") && b.contains(5L -> "v5"))
  }

  test("resume across a vacuum-swept gap falls back to the Merkle " +
    "reconcile: replica converges, bootstrap files survive, and the " +
    "high-water advances so the next resume tails") {
    val src = Files.createTempDirectory("graft-rep-src-").toString
    val dst = Files.createTempDirectory("graft-rep-dst-").toString
    TxTable.create(rows(1L to 50L), src)                           // v0
    TxTable.setChangeFeed(spark, src, enabled = true)              // v1
    TxReplicate.mirror(spark, src, dst, "k")
    // the consumer sleeps through three versions...
    TxTable.append(rows(Seq(51L)), src)                            // v2
    TxTable.mergeInto(src,
      Seq((7L, "UPD7", false), (52L, "NEW", false), (9L, "x", true))
        .toDF("k", "v", "deleted"),
      "k", Seq("v"), "deleted")                                    // v3
    TxTable.deleteWhere(spark, src, col("k") === 13L)              // v4
    // ...and vacuum sweeps everything but the tip
    TxTable.vacuum(spark, src, keepVersions = 1, retentionMs = 0L)

    val r = TxReplicate.resume(spark, src, dst, "k", "v", nBuckets = 16)
    assert(r.reconciled && r.version == 4L)
    val a = TxTable.read(spark, src).as[(Long, String)].collect().toSet
    val b = TxTable.read(spark, dst).as[(Long, String)].collect().toSet
    assert(a == b && b.contains(7L -> "UPD7") && b.contains(52L -> "NEW")
      && !b.exists(_._1 == 9L) && !b.exists(_._1 == 13L))
    // repair was bucket-scoped, not a re-bootstrap: the replica's v0
    // data files all survive in the latest manifest
    val boot = TxTable.snapshot(spark, dst, 0L).files.toSet
    assert(boot.subsetOf(TxTable.latestSnapshot(spark, dst).files.toSet))
    // high-water advanced: a fresh resume is a pure no-drift tail
    val r2 = TxReplicate.resume(spark, src, dst, "k", "v", nBuckets = 16)
    assert(r2 == TxReplicate.ResumeResult(4L, reconciled = false))
    assert(TxTable.read(spark, dst).as[(Long, String)].collect().toSet == a)
  }

  test("reconcile repairs arbitrary replica drift (bucket-scoped " +
    "delete + append), and is a header-only no-op when in sync") {
    val src = Files.createTempDirectory("graft-rep-src-").toString
    val dst = Files.createTempDirectory("graft-rep-dst-").toString
    TxTable.create(rows(1L to 30L), src)                           // v0
    TxReplicate.mirror(spark, src, dst, "k")
    // corrupt the replica directly: drop a row, mangle another
    TxTable.deleteWhere(spark, dst, col("k") === 5L)
    TxTable.mergeInto(dst,
      Seq((11L, "CORRUPT", false)).toDF("k", "v", "deleted"),
      "k", Seq("v"), "deleted")
    TxReplicate.reconcile(spark, src, dst, "k", "v", nBuckets = 8)
    val a = TxTable.read(spark, src).as[(Long, String)].collect().toSet
    val b = TxTable.read(spark, dst).as[(Long, String)].collect().toSet
    assert(a == b)
    // in sync: no data commit, just the high-water header
    val before = TxTable.latestSnapshot(spark, dst).files.size
    TxReplicate.reconcile(spark, src, dst, "k", "v", nBuckets = 8)
    assert(TxTable.latestSnapshot(spark, dst).files.size == before)
  }

  test("a delete-only batch advances the high-water (header-only " +
    "append), so its replay cannot re-mask later re-inserts") {
    val src = Files.createTempDirectory("graft-rep-src-").toString
    val dst = Files.createTempDirectory("graft-rep-dst-").toString
    TxTable.create(rows(1L to 4L), src)                            // v0
    TxTable.setChangeFeed(spark, src, enabled = true)              // v1
    TxTable.deleteWhere(spark, src, col("k") === 3L)               // v2
    TxReplicate.mirror(spark, src, dst, "k")
    assert(TxTable.read(spark, dst).count() == 3L)
    // replay of the delete-only version: skipped, count unchanged
    val ev = TxTable.readChangesTyped(spark, src, 1L, 2L)
    assert(TxReplicate.applyTyped(spark, dst, "k", ev,
      streamId = "mirror", batchId = 2L) == 0)
    assert(TxTable.read(spark, dst).count() == 3L)
  }

  test("delete masks are path-equal across the inline-key threshold: " +
    "semi-join batches reach the same state as literal In batches") {
    val dstA = Files.createTempDirectory("graft-rep-thr-a-").toString
    val dstB = Files.createTempDirectory("graft-rep-thr-b-").toString
    val n = TxReplicate.MaxInlineDeleteKeys + 2000L
    val base = spark.range(0, n + 1000)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    TxTable.create(base, dstA)
    TxTable.create(base, dstB)
    // A: over the threshold → the apply masks by broadcast semi-join
    val events = spark.range(0, n)
      .select(col("id").as("k"), lit("x").as("v"),
        lit("delete").as("_change_type"))
    assert(TxReplicate.applyTyped(spark, dstA, "k", events,
      streamId = "mirror", batchId = 1L) == 2)
    // B: the twin masks the same keys as one literal In list
    TxTable.deleteWhere(spark, dstB, col("k").isInCollection(0L until n))
    val a = TxTable.read(spark, dstA).as[(Long, String)].collect().toSet
    val b = TxTable.read(spark, dstB).as[(Long, String)].collect().toSet
    assert(a == b)
    assert(a.size == 1000 && a.forall(_._1 >= n))
    // the apply advanced the high-water → its replay skips
    assert(TxReplicate.applyTyped(spark, dstA, "k", events,
      streamId = "mirror", batchId = 1L) == 0)
  }

  test("a 50k-key catch-up batch delete-masks without inlining 50k " +
    "literals into the plan") {
    val dst = Files.createTempDirectory("graft-rep-50k-").toString
    TxTable.create(
      spark.range(0, 60000)
        .select(col("id").as("k"), concat(lit("v"), col("id")).as("v")),
      dst)
    val events = spark.range(0, 50000)
      .select(col("id").as("k"), lit("x").as("v"),
        lit("delete").as("_change_type"))
    // 50k > the default 10k threshold → TxTable.deleteKeys semi-join
    assert(TxReplicate.applyTyped(spark, dst, "k", events,
      streamId = "mirror", batchId = 1L) == 2)
    assert(TxTable.read(spark, dst).count() == 10000L)
    assert(TxTable.read(spark, dst).agg(min(col("k"))).head.getLong(0)
      == 50000L)
  }
}
