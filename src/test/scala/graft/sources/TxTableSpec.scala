package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TxTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  // MUST reuse the JVM-shared session: builder().getOrCreate() returns
  // the suite-shared one anyway, and stopping it here killed every
  // suite scheduled after this spec (SparkPlan.session() NPEs).
  private lazy val spark = graft.SparkSpec.session

  private def tmpRoot() =
    Files.createTempDirectory("graft-txtable-").toString

  private def rows(ids: Long*) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"text-$i")).toDF("id", "text")
  }

  test("create/read roundtrip and version 0") {
    val root = tmpRoot()
    assert(TxTable.create(rows(1L, 2L, 3L), root) == 0L)
    val got = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "text-1"), (2L, "text-2"), (3L, "text-3")))
    assert(TxTable.versions(spark, root) == Seq(0L))
    intercept[IllegalArgumentException] {
      TxTable.create(rows(9L), root) // already exists
    }
  }

  test("append commits a new version; old snapshots stay stable") {
    val root = tmpRoot()
    TxTable.create(rows(1L, 2L), root)
    // resolve v0 BEFORE the append: snapshot isolation means this
    // frame must not see appended rows
    val v0 = TxTable.read(spark, root)
    assert(TxTable.append(rows(3L), root) == 1L)
    assert(v0.count() == 2L)
    assert(TxTable.read(spark, root).count() == 3L)
    assert(TxTable.readVersion(spark, root, 0L).count() == 2L)
    assert(TxTable.versions(spark, root) == Seq(0L, 1L))
  }

  test("readChanges returns exactly the appended delta, empty range is empty") {
    val root = tmpRoot()
    TxTable.create(rows(1L, 2L), root)          // v0
    TxTable.append(rows(3L), root)              // v1
    TxTable.append(rows(4L, 5L), root)          // v2
    def ids(from: Long, to: Long) =
      TxTable.readChanges(spark, root, from, to)
        .collect().map(_.getLong(0)).toSet
    assert(ids(0L, 2L) == Set(3L, 4L, 5L))
    assert(ids(1L, 2L) == Set(4L, 5L))
    assert(ids(0L, 1L) == Set(3L))
    assert(ids(2L, 2L) == Set.empty[Long]) // same version → empty, no throw
    // schema survives the empty case
    assert(TxTable.readChanges(spark, root, 2L, 2L).columns.toSeq ==
      Seq("id", "text"))
  }

  test("append retries past a lost commit race") {
    val root = tmpRoot()
    TxTable.create(rows(1L), root)
    // steal version 1 out from under the next append by publishing a
    // valid manifest for it directly (what a concurrent winner does):
    // v1 = v0's file set, i.e. a no-op commit
    val v0 = TxTable.snapshot(spark, root, 0L)
    val log = new java.io.File(root, "_txlog")
    val stolen = new java.io.File(log, f"${1L}%020d.txn")
    val w = new java.io.PrintWriter(stolen, "UTF-8")
    try { w.println("version=1"); v0.files.foreach(w.println) }
    finally w.close()
    // the append resolves the foreign v1 and lands at v2 — commits
    // from other writers never block or corrupt an append
    assert(TxTable.append(rows(60L), root) == 2L)
    assert(TxTable.read(spark, root).count() == 2L)
    assert(TxTable.versions(spark, root) == Seq(0L, 1L, 2L))
  }

  test("mergeInto fails with CommitConflict when a commit lands " +
    "mid-merge; nothing half-visible") {
    val root = tmpRoot()
    TxTable.create(rows(1L, 2L), root)
    val v0Files = TxTable.snapshot(spark, root, 0L).files
    val stolen = new java.io.File(new java.io.File(root, "_txlog"),
      f"${1L}%020d.txn").toPath
    // a concurrent writer publishes v1 (v0's file set) while the
    // merge's own job runs, i.e. after the merge resolved v0
    val steal = udf { (id: Long) =>
      try java.nio.file.Files.write(stolen,
        ("version=1" +: v0Files).mkString("", "\n", "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      catch { case _: java.nio.file.FileAlreadyExistsException => }
      id
    }
    val changes = rows(3L).withColumn("id", steal(col("id")))
      .withColumn("del", lit(false))
    intercept[TxTable.CommitConflict] {
      TxTable.mergeInto(root, changes, "id", Seq("text"), "del")
    }
    assert(TxTable.versions(spark, root) == Seq(0L, 1L))
    assert(TxTable.read(spark, root).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
  }

  test("mergeInto applies CDC semantics as one atomic version") {
    val s = spark
    import s.implicits._
    val root = tmpRoot()
    TxTable.create(rows(1L, 2L, 3L), root)
    val changes = Seq(
      (2L, "text-2 v2", false), // update
      (3L, "text-3", true),     // tombstone
      (4L, "text-4", false))    // insert
      .toDF("id", "text", "del")
    assert(TxTable.mergeInto(root, changes, "id", Seq("text"), "del") == 1L)
    val got = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "text-1"), (2L, "text-2 v2"), (4L, "text-4")))
    // the action column is merge metadata, not table state
    assert(!TxTable.read(spark, root).columns.contains("action"))
    // time travel still serves the pre-merge table
    assert(TxTable.readVersion(spark, root, 0L).count() == 3L)
  }

  test("range-clustered table records per-file stats and prunes reads") {
    val root = tmpRoot()
    TxTable.create(rows(1L to 400L: _*), root,
      clusterCol = Some("id"), buckets = 8)
    val snap = TxTable.latestSnapshot(spark, root)
    assert(snap.clusterCol.contains("id"))
    assert(snap.files.size >= 4, s"expected several files, got ${snap.files}")
    assert(snap.stats.size == snap.files.size)
    // range clustering: file spans are disjoint, so a narrow range
    // must touch a strict subset of files
    val pruned = TxTable.prunedFiles(snap, 10L, 20L)
    assert(pruned.size < snap.files.size,
      s"no pruning: ${pruned.size} of ${snap.files.size}")
    val got = TxTable.readRange(spark, root, 10L, 20L)
      .collect().map(_.getLong(0)).toSet
    assert(got == (10L to 20L).toSet)
    // stats survive an append and the appended rows are found
    TxTable.append(rows(1000L), root)
    val got2 = TxTable.readRange(spark, root, 900L, 1100L)
      .collect().map(_.getLong(0)).toSet
    assert(got2 == Set(1000L))
  }

  test("compact folds small files down without changing contents") {
    val root = tmpRoot()
    TxTable.create(rows(1L to 50L: _*), root,
      clusterCol = Some("id"), buckets = 4)
    (0 until 5).foreach(i => TxTable.append(rows(100L + i), root))
    val before = TxTable.latestSnapshot(spark, root)
    val pre = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val v = TxTable.compact(spark, root, buckets = 4)
    val after = TxTable.snapshot(spark, root, v)
    assert(after.files.size < before.files.size,
      s"${after.files.size} !< ${before.files.size}")
    val post = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(post == pre)
    // compaction preserves clustering + stats (skipping still works)
    assert(after.stats.size == after.files.size)
  }

  test("streaming batches commit exactly once across redelivery") {
    val root = tmpRoot()
    TxTable.create(rows(1L), root)
    assert(TxTable.addStreamingBatch(rows(10L), root, "s1", 0L).contains(1L))
    assert(TxTable.addStreamingBatch(rows(11L), root, "s1", 1L).contains(2L))
    // restart redelivers batch 1: must be a no-op skip
    assert(TxTable.addStreamingBatch(rows(11L), root, "s1", 1L).isEmpty)
    assert(TxTable.addStreamingBatch(rows(12L), root, "s1", 2L).contains(3L))
    // an independent stream has its own high-water mark
    assert(TxTable.addStreamingBatch(rows(20L), root, "s2", 0L).contains(4L))
    val got = TxTable.read(spark, root).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 10L, 11L, 12L, 20L))
    val s = TxTable.latestSnapshot(spark, root)
    assert(s.headers.get("stream:s1").contains("2"))
    assert(s.headers.get("stream:s2").contains("0"))
  }

  test("vacuum drops unreferenced files but keeps readable versions") {
    val root = tmpRoot()
    TxTable.create(rows(1L, 2L), root)
    TxTable.mergeInto(root,
      rows(1L).withColumn("del", lit(true)), "id", Seq("text"), "del")
    TxTable.append(rows(7L), root)
    // retention 0: this test IS the excluded-writers case
    TxTable.vacuum(spark, root, keepVersions = 2, retentionMs = 0L)
    // v0's files are referenced by no kept manifest → gone
    assert(TxTable.versions(spark, root) == Seq(1L, 2L))
    intercept[Exception] { TxTable.readVersion(spark, root, 0L) }
    assert(TxTable.read(spark, root).collect().map(_.getLong(0)).toSet ==
      Set(2L, 7L))
  }

  test("vacuum leaves a crisp CDC edge: reads predating the sweep " +
    "throw VacuumedVersionException naming the oldest survivor; reads " +
    "from the boundary serve exactly the surviving range") {
    val root = tmpRoot()
    TxTable.create(rows(1L, 2L), root)   // v0
    TxTable.append(rows(3L), root)       // v1
    TxTable.append(rows(4L), root)       // v2
    TxTable.vacuum(spark, root, keepVersions = 2, retentionMs = 0L)
    val ex = intercept[TxTable.VacuumedVersionException] {
      TxTable.readChangesTyped(spark, root, 0L, 2L).count()
    }
    assert(ex.getMessage.contains("retention boundary"))
    assert(ex.getMessage.contains("oldest available version is 1"))
    // the untyped feed and plain snapshot reads fail the same way
    intercept[TxTable.VacuumedVersionException] {
      TxTable.readChanges(spark, root, 0L, 2L).count()
    }
    intercept[TxTable.VacuumedVersionException] {
      TxTable.readVersion(spark, root, 0L).count()
    }
    // a version that never existed is a different, non-vacuum error
    val miss = intercept[IllegalArgumentException] {
      TxTable.readVersion(spark, root, 9L).count()
    }
    assert(miss.getMessage.contains("no committed version 9"))
    // from the boundary: exactly the surviving range, nothing partial
    val got = TxTable.readChangesTyped(spark, root, 1L, 2L)
    assert(got.collect().map(_.getLong(0)).toSet == Set(4L))
  }

  test("autoCompact folds only small files and keeps large ones") {
    val s = spark
    import s.implicits._
    val root = tmpRoot()
    // one "large" initial file (single bucket) + several small appends
    val big = (0L until 2000L).map(i => (i, s"text-$i"))
      .toDF("id", "text")
    TxTable.create(big, root, clusterCol = Some("id"), buckets = 1)
    (0 until 5).foreach { k =>
      TxTable.append(rows(10000L + k), root, buckets = 1)
    }
    val before = TxTable.latestSnapshot(spark, root)
    assert(before.files.size == 6)
    val bigFile = TxTable.snapshot(spark, root, 0L).files.head
    // threshold between the sizes: the 2000-row file stays put
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigLen = f.getFileStatus(
      new org.apache.hadoop.fs.Path(root, bigFile)).getLen
    val v = TxTable.autoCompact(spark, root, smallBytes = bigLen,
      targetBytes = 1L << 30, minSmallFiles = 2)
    assert(v.nonEmpty)
    val after = TxTable.latestSnapshot(spark, root)
    // 5 small files folded into 1; the large file survives UNTOUCHED
    assert(after.files.size == 2)
    assert(after.files.contains(bigFile))
    // stats survive for the kept large file
    assert(after.stats.contains(bigFile))
    // contents identical
    assert(TxTable.read(spark, root).count() == 2005L)
    // below minSmallFiles → no-op
    assert(TxTable.autoCompact(spark, root, smallBytes = bigLen,
      targetBytes = 1L << 30, minSmallFiles = 4).isEmpty)
  }

  test("vacuum retention protects in-flight writers' staged files") {
    val root = tmpRoot()
    TxTable.create(rows(1L), root)
    TxTable.append(rows(2L), root)
    TxTable.append(rows(3L), root)
    // simulate an in-flight writer: freshly staged data dir, no
    // manifest yet — default retention must NOT delete it
    val staged = new org.apache.hadoop.fs.Path(
      root, s"data/${java.util.UUID.randomUUID()}")
    val f = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(staged)
    val out = f.create(new org.apache.hadoop.fs.Path(staged, "part-0.parquet"))
    out.write(Array[Byte](1, 2, 3)); out.close()
    TxTable.vacuum(spark, root, keepVersions = 1)
    assert(f.exists(staged), "retention window must protect staged files")
    // with retention waived, the unreferenced staged dir goes
    TxTable.vacuum(spark, root, keepVersions = 1, retentionMs = 0L)
    assert(!f.exists(staged))
  }

  test("versions ignores temp manifests from in-flight commits") {
    val root = tmpRoot()
    TxTable.create(rows(1L), root)
    // a crashed writer's leftover temp manifest must not break reads
    val tmp = new org.apache.hadoop.fs.Path(
      root, s"_txlog/.tmp-${java.util.UUID.randomUUID()}.txn")
    val f = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(tmp)
    out.write("version=99\n".getBytes); out.close()
    assert(TxTable.versions(spark, root) == Seq(0L))
    assert(TxTable.read(spark, root).collect().map(_.getLong(0)).toSet ==
      Set(1L))
    val v = TxTable.append(rows(2L), root)
    assert(v == 1L)
    // vacuum with retention 0 clears the orphan
    TxTable.vacuum(spark, root, keepVersions = 2, retentionMs = 0L)
    assert(!f.exists(tmp))
  }
}
