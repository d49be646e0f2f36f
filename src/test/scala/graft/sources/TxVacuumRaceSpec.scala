package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec

import org.apache.spark.sql.functions._

/** Vacuum-vs-reader race, two JVMs (the TxRaceSpec harness): a
  * time-travel reader in a SEPARATE driver process pins version 0's
  * file list, then this process vacuums with version 0 dropped —
  * once with the files INSIDE the retention window (reader must
  * finish cleanly: manifests gate discovery, retention gates bytes)
  * and once with retention zero (reader must fail with missing
  * files: the contract's documented outer edge). Pins the paragraph
  * on [[TxTable.vacuum]].
  */
class TxVacuumRaceSpec extends SparkSpec {

  import TxRaceSpec.launchWorker

  /** v0 = 20 rows across several files; v1 = a merge rewriting EVERY
    * key, so all of v0's files are unreferenced by the kept snapshot.
    */
  private def buildTable(): String = {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-vacrace-").toString
    val rows = (1L to 20L).map(k => (k, s"v0:$k")).toDF("k", "v")
      .repartition(4)
    TxTable.create(rows, root)
    val rewrite = (1L to 20L).map(k => (k, s"v1:$k", false))
      .toDF("k", "v", "_del")
    TxTable.mergeInto(root, rewrite, "k", Seq("v"), "_del")
    assert(TxTable.versions(spark, root) == Seq(0L, 1L))
    root
  }

  private def holdAndVacuum(retentionMs: Long): (Int, String) = {
    val root = buildTable()
    val signal = Files.createTempDirectory("graft-vacsig-")
      .resolve("go").toString
    val (p, out) = launchWorker(Seq("readhold", root, "0", signal))
    // wait until the worker has PINNED v0's file list
    val deadline = System.currentTimeMillis() + 60000L
    while (!out.synchronized(out.result()).contains("resolved=0") &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(out.synchronized(out.result()).contains("resolved=0"),
      s"worker never resolved v0:\n${out.result()}")

    TxTable.vacuum(spark, root, keepVersions = 1, retentionMs = retentionMs)
    // v0's manifest is gone either way: new time travel fails NOW
    intercept[Exception] { TxTable.readVersion(spark, root, 0L) }
    // v1 stays intact either way
    assert(TxTable.read(spark, root).count() === 20L)

    Files.createFile(Paths.get(signal))
    val exit = p.exitValue()
    (exit, out.synchronized(out.result()))
  }

  test("reader inside the retention window survives vacuum " +
    "(manifest dropped, bytes retained)") {
    val (exit, log) = holdAndVacuum(retentionMs = 3600L * 1000)
    assert(exit === 0, s"reader failed inside retention:\n$log")
    assert(log.contains("count=20"), s"wrong row count:\n$log")
  }

  test("reader outside the retention window loses the race " +
    "(retention 0 physically deletes the pinned files)") {
    val (exit, log) = holdAndVacuum(retentionMs = 0L)
    assert(exit === 3, s"expected readfail exit 3, got $exit:\n$log")
    assert(log.contains("readfail="), s"no readfail marker:\n$log")
  }

  test("two driver JVMs racing deleteWhere: commits serialize, " +
    "no slice lost, no foreign slice touched") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-dvrace-").toString
    TxTable.create((0L until 1000L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(4), root)

    val perWorker = 5 // each deletes 5 disjoint 10-key slices
    val (p1, out1) = launchWorker(
      Seq("dvdel", root, "w1", perWorker.toString))
    val (p2, out2) = launchWorker(
      Seq("dvdel", root, "w2", perWorker.toString))
    val ex1 = p1.exitValue()
    val ex2 = p2.exitValue()
    assert(ex1 == 0, s"worker 1 failed:\n${out1.result().takeRight(2000)}")
    assert(ex2 == 0, s"worker 2 failed:\n${out2.result().takeRight(2000)}")

    // contiguous history, one winner per version
    val vs = TxTable.versions(spark, root)
    assert(vs == (0L to (2L * perWorker)),
      s"non-contiguous version history: $vs")
    val claimed = TxRaceSpec
      .claimedVersions(out1.result() + out2.result()).map(_._3)
    assert(claimed.distinct.size == 2 * perWorker,
      s"two workers claimed one version: $claimed")

    // exactly the union of both workers' slices is gone — a stale
    // re-publish would silently resurrect the other worker's deletes
    val deleted = (0 until perWorker).flatMap { i =>
      (i * 10L until i * 10L + 10L) ++
        (500L + i * 10L until 500L + i * 10L + 10L)
    }.toSet
    val live = TxTable.read(spark, root).select("k")
      .as[Long].collect().toSet
    assert(live == (0L until 1000L).toSet -- deleted,
      s"missing=${((0L until 1000L).toSet -- deleted -- live).toSeq.sorted.take(20)} " +
        s"resurrected=${(live & deleted).toSeq.sorted.take(20)}")
    // every surviving version still time-travels consistently:
    // row counts decrease by exactly 10 per delete commit
    val counts = vs.map(v =>
      TxTable.readVersion(spark, root, v).count())
    assert(counts == (0 to 2 * perWorker).map(1000L - 10L * _),
      s"per-version counts: $counts")
  }
}
