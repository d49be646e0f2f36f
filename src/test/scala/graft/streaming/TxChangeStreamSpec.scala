package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.TxTable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Batch ≡ streaming for the TxTable change feed (the
  * StreamingOaiLoopSpec discipline): the CDC stream tailing the
  * manifest log must replay exactly [[TxTable.readChanges]]' file-set
  * delta, version by version, across restarts, with correct
  * `_commit_version` stamps — including timestamp and array columns
  * through the executor-side parquet record reader.
  */
class TxChangeStreamSpec extends SparkSpec {

  import spark.implicits._

  private def mkTable(): (String, DataFrame) = {
    val df = (1L to 30L).map { i =>
      (i, s"name$i", i * 1.5,
        java.sql.Timestamp.valueOf(s"2024-01-0${(i % 9) + 1} 10:00:00"),
        Seq(i.toFloat, -i.toFloat), i % 2 == 0)
    }.toDF("id", "name", "score", "ts", "emb", "flag")
    val root = Files.createTempDirectory("graft-cdc-spec-").toString
    (root, df)
  }

  private def drain(df: DataFrame, sink: String, ckpt: String): Unit = {
    val q = df.writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("stream replays create+appends with per-version stamps, " +
    "all column types intact") {
    val (root, df) = mkTable()
    TxTable.create(df.filter($"id" <= 10), root)
    TxTable.append(df.filter($"id" > 10 && $"id" <= 20), root)
    TxTable.append(df.filter($"id" > 20), root)

    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    drain(TxTable.readChangeStream(spark, root), "cdc_all", ckpt)
    val got = spark.table("cdc_all")

    // versions route exactly as committed
    val byVersion = got.groupBy("_commit_version")
      .agg(min("id").as("lo"), max("id").as("hi"), count(lit(1)).as("n"))
      .orderBy("_commit_version")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(byVersion === Seq((0L, 1L, 10L, 10L), (1L, 11L, 20L, 10L),
      (2L, 21L, 30L, 10L)))

    // value fidelity through the Group reader: ts, array, boolean
    val r7 = got.filter($"id" === 7L).collect().head
    assert(r7.getAs[String]("name") === "name7")
    assert(r7.getAs[Double]("score") === 10.5)
    assert(r7.getAs[java.sql.Timestamp]("ts") ===
      java.sql.Timestamp.valueOf("2024-01-08 10:00:00"))
    assert(r7.getAs[Seq[Float]]("emb") === Seq(7.0f, -7.0f))
    assert(r7.getAs[Boolean]("flag") === false)

    // append-only commits are all inserts
    assert(got.select("_change_type").distinct()
      .as[String].collect().toSeq === Seq("insert"))

    // batch ≡ streaming: same multiset as readChanges over the range
    val batch = TxTable.readChanges(spark, root, 0L, 2L)
      .unionByName(TxTable.readVersion(spark, root, 0L))
    val stream = got.drop("_commit_version", "_change_type")
    assert(stream.except(batch).count() === 0L)
    assert(batch.except(stream).count() === 0L)
    assert(got.count() === 30L)
  }

  test("startingVersion skips earlier commits") {
    val (root, df) = mkTable()
    TxTable.create(df.filter($"id" <= 10), root)
    TxTable.append(df.filter($"id" > 10 && $"id" <= 20), root)
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    drain(TxTable.readChangeStream(spark, root, startingVersion = 1L),
      "cdc_from1", ckpt)
    val got = spark.table("cdc_from1")
    assert(got.agg(min("id"), max("id"), count(lit(1)))
      .as[(Long, Long, Long)].head() === ((11L, 20L, 10L)))
    assert(got.select("_commit_version").distinct()
      .as[Long].collect().toSeq === Seq(1L))
  }

  test("maxVersionsPerTrigger paces the replay one version per batch") {
    val (root, df) = mkTable()
    TxTable.create(df.filter($"id" <= 10), root)
    TxTable.append(df.filter($"id" > 10 && $"id" <= 20), root)
    TxTable.append(df.filter($"id" > 20), root)
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = TxTable
      .readChangeStream(spark, root, maxVersionsPerTrigger = 1)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val vs = b.select("_commit_version").distinct()
          .collect().map(_.getLong(0)).toSet
        seen.synchronized { seen += vs }: Unit
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // every non-empty micro-batch carries exactly one version
    val nonEmpty = seen.filter(_.nonEmpty)
    assert(nonEmpty.forall(_.size == 1))
    assert(nonEmpty.flatten.toSet === Set(0L, 1L, 2L))
  }

  test("restart from checkpoint resumes exactly-once (no replay, " +
    "no loss) and picks up commits made while down") {
    val (root, df) = mkTable()
    TxTable.create(df.filter($"id" <= 10), root)
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def run(): Unit = {
      val q = TxTable.readChangeStream(spark, root)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.select("id", "_commit_version")
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          got.synchronized { got ++= rows }: Unit
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    assert(got.map(_._1).sorted.toSeq === (1L to 10L))
    // two commits while the stream is down
    TxTable.append(df.filter($"id" > 10 && $"id" <= 20), root)
    TxTable.append(df.filter($"id" > 20), root)
    run()
    // ids 1..30 exactly once each; versions stamped per commit
    assert(got.map(_._1).sorted.toSeq === (1L to 30L))
    assert(got.toMap.values.toSet === Set(0L, 1L, 2L))
    assert(got.filter(_._2 == 2L).map(_._1).min === 21L)
  }

  test("a deletion-vector commit emits its rows as _change_type=delete " +
    "(full values, correct version; insert-minus-delete tracks the table)") {
    val (root, df) = mkTable()
    TxTable.create(df.filter($"id" <= 10), root) // v0
    TxTable.deleteWhere(spark, root,
      org.apache.spark.sql.functions.col("id") <= 3) // v1: dv only
    TxTable.append(df.filter($"id" > 10 && $"id" <= 20), root) // v2
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    drain(TxTable.readChangeStream(spark, root), "cdc_dv", ckpt)
    val got = spark.table("cdc_dv")

    // v1's micro-batch is exactly the deleted rows, delete-typed, with
    // their FULL values resolved back from the data file
    val dels = got.filter($"_change_type" === "delete")
    assert(dels.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L))
    assert(dels.select("_commit_version").distinct()
      .as[Long].collect().toSeq === Seq(1L))
    val d2 = dels.filter($"id" === 2L).collect().head
    assert(d2.getAs[String]("name") === "name2")
    assert(d2.getAs[Seq[Float]]("emb") === Seq(2.0f, -2.0f))

    // the consumer fold (insert minus delete) equals the live table;
    // rename the delete side's key — both branches read the same sink
    // view, so a same-name anti-join is a conflicting-reference self-join
    val ins = got.filter($"_change_type" === "insert")
    val folded = ins.join(dels.select($"id".as("del_id")),
        $"id" === $"del_id", "left_anti")
      .drop("_commit_version", "_change_type")
    val live = TxTable.read(spark, root)
    assert(folded.except(live).count() === 0L)
    assert(live.except(folded).count() === 0L)
    assert(got.count() === 23L) // 10 inserts + 3 deletes + 10 inserts
  }

  test("a second delete over the same predicate emits nothing new " +
    "(DV-aware matching: already-deleted rows cannot re-match)") {
    val (root, df) = mkTable()
    TxTable.create(df.filter($"id" <= 10), root) // v0
    TxTable.deleteWhere(spark, root,
      org.apache.spark.sql.functions.col("id") <= 3) // v1
    // same predicate again: matches nothing, commits nothing
    val v = TxTable.deleteWhere(spark, root,
      org.apache.spark.sql.functions.col("id") <= 3)
    assert(v === 1L)
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    drain(TxTable.readChangeStream(spark, root), "cdc_dv2", ckpt)
    assert(spark.table("cdc_dv2")
      .filter($"_change_type" === "delete").count() === 3L)
  }

  test("a rewrite commit (compact) mid-stream FAILS the feed with " +
    "guidance instead of silently re-delivering rows; " +
    "allowRewrites opts into the raw delta") {
    val (root, df) = mkTable()
    TxTable.create(df.filter($"id" <= 10), root) // v0
    TxTable.append(df.filter($"id" > 10 && $"id" <= 20), root) // v1
    TxTable.compact(spark, root, buckets = 1) // v2: removes v0+v1 files
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(TxTable.readChangeStream(spark, root), "cdc_rewrite", ckpt)
    }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(ex).getMessage.contains("removed"),
      s"unexpected failure: ${rootCause(ex).getMessage}")

    // restart from the post-rewrite version works (the guidance path)
    val ckpt2 = Files.createTempDirectory("graft-cdc-ckpt-").toString
    TxTable.append(df.filter($"id" > 20), root) // v3
    drain(TxTable.readChangeStream(spark, root, startingVersion = 3L),
      "cdc_after_rewrite", ckpt2)
    assert(spark.table("cdc_after_rewrite").count() === 10L)

    // the explicit opt-in replays the raw file delta (documented)
    val ckpt3 = Files.createTempDirectory("graft-cdc-ckpt-").toString
    drain(TxTable.readChangeStream(spark, root, allowRewrites = true),
      "cdc_raw", ckpt3)
    // v0: 10, v1: 10, v2 re-delivers all 20 rewritten, v3: 10
    assert(spark.table("cdc_raw").count() === 50L)
  }

  test("a restore that rewinds ONLY a deleteWhere (dv files removed, " +
    "data files unchanged) also fails the feed — the rows came back " +
    "but no file is new, so silence would strand the consumer's deletes") {
    val (root, df) = mkTable()
    TxTable.create(df.filter($"id" <= 10), root) // v0
    TxTable.deleteWhere(spark, root,
      org.apache.spark.sql.functions.col("id") <= 3) // v1: +dv
    TxTable.restore(spark, root, toVersion = 0L) // v2: -dv, data unchanged
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(TxTable.readChangeStream(spark, root), "cdc_dvrewind", ckpt)
    }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(ex).getMessage.contains("removed"))
  }

  test("a change-feed merge emits update pre/post-images, inserts, and " +
    "tombstone deletes (Delta-CDF shape); the consumer fold tracks the " +
    "live table; feed-less merges and compactions still fail the guard") {
    val df = (1L to 10L).map(i => (i, s"old$i")).toDF("id", "txt")
    val root = Files.createTempDirectory("graft-cdc-merge-").toString
    TxTable.create(df, root) // v0
    TxTable.setChangeFeed(spark, root, enabled = true) // v1
    // merge: update 3 & 7, insert 11, tombstone 4, no-op tombstone 99
    val src = Seq(
      (3L, "new3", false), (7L, "new7", false),
      (11L, "new11", false), (4L, "", true), (99L, "", true))
      .toDF("id", "txt", "deleted")
    TxTable.mergeInto(root, src, "id", Seq("txt"), "deleted") // v2
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    drain(TxTable.readChangeStream(spark, root, startingVersion = 2L),
      "cdc_merge", ckpt)
    val got = spark.table("cdc_merge")
    assert(got.select("_commit_version").distinct()
      .as[Long].collect().toSeq === Seq(2L))
    // exact change multiset: 2 pre + 2 post + 1 insert + 1 delete;
    // the absent-key tombstone (99) is a MERGE no-op, the untouched
    // rows (1,2,5,6,8,9,10) appear in no change row
    val byType = got.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType === Map("update_preimage" -> 2L,
      "update_postimage" -> 2L, "insert" -> 1L, "delete" -> 1L))
    val pre3 = got.filter($"_change_type" === "update_preimage" &&
      $"id" === 3L).collect().head
    assert(pre3.getAs[String]("txt") === "old3")
    val post3 = got.filter($"_change_type" === "update_postimage" &&
      $"id" === 3L).collect().head
    assert(post3.getAs[String]("txt") === "new3")
    assert(got.filter($"_change_type" === "delete")
      .select("id", "txt").as[(Long, String)].collect().toSeq ===
      Seq((4L, "old4")))
    assert(got.filter($"_change_type" === "insert")
      .select("id", "txt").as[(Long, String)].collect().toSeq ===
      Seq((11L, "new11")))
    // the fold: start from v0's rows, apply post-images as upserts,
    // inserts as adds, deletes as removes — must equal the live table
    val v0 = TxTable.readVersion(spark, root, 0L)
    val posts = got.filter($"_change_type".isin("update_postimage", "insert"))
      .select($"id".as("c_id"), $"txt".as("c_txt"))
    val dels = got.filter($"_change_type" === "delete")
      .select($"id".as("d_id"))
    val folded = v0.join(posts, $"id" === $"c_id", "left_anti")
      .unionByName(posts.select($"c_id".as("id"), $"c_txt".as("txt")))
      .join(dels, $"id" === $"d_id", "left_anti")
    val live = TxTable.read(spark, root)
    assert(folded.except(live).count() === 0L)
    assert(live.except(folded).count() === 0L)
    // a compaction is STILL a guard failure — the feed covers merges,
    // not layout rewrites (nothing changed row-wise)
    TxTable.compact(spark, root, buckets = 1) // v3
    val ckpt2 = Files.createTempDirectory("graft-cdc-ckpt-").toString
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(TxTable.readChangeStream(spark, root, startingVersion = 3L),
        "cdc_merge_compact", ckpt2)
    }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(ex).getMessage.contains("removed"))
    // and with the feed DISABLED, a merge fails the guard as before
    TxTable.setChangeFeed(spark, root, enabled = false) // v4
    TxTable.mergeInto(root, src.filter($"id" === 3L), "id", Seq("txt"),
      "deleted") // v5
    val ckpt3 = Files.createTempDirectory("graft-cdc-ckpt-").toString
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(TxTable.readChangeStream(spark, root, startingVersion = 5L),
        "cdc_merge_nofeed", ckpt3)
    }
    assert(rootCause(ex2).getMessage.contains("removed"))
  }

  test("a batch appended with a case-variant column name serves real " +
    "values through the feed (field resolution is case-insensitive, " +
    "matching batch reads)") {
    val df = (1L to 5L).map(i => (i, i * 10L)).toDF("id", "v")
    val root = Files.createTempDirectory("graft-cdc-case-").toString
    TxTable.create(df, root) // declares (id, v)
    // checkSchema blesses "V" as the declared "v" (case-insensitive),
    // so the appended files carry field name "V"
    val variant = (6L to 10L).map(i => (i, i * 10L)).toDF("id", "V")
    TxTable.append(variant, root)
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    drain(TxTable.readChangeStream(spark, root), "cdc_case", ckpt)
    val got = spark.table("cdc_case")
    // every row — both casings — serves v = id * 10, never null
    assert(got.filter($"v".isNull).count() === 0L)
    assert(got.filter($"v" =!= $"id" * 10L).count() === 0L)
    assert(got.count() === 10L)
    // and a DV delete of a case-variant row resolves its value too
    TxTable.deleteWhere(spark, root, col("id") === 7L)
    val ckpt2 = Files.createTempDirectory("graft-cdc-ckpt-").toString
    drain(TxTable.readChangeStream(spark, root, startingVersion = 2L),
      "cdc_case_del", ckpt2)
    val del = spark.table("cdc_case_del").collect().head
    assert(del.getAs[String]("_change_type") === "delete")
    assert(del.getAs[Long]("v") === 70L)
  }

  test("readChangesTyped (batch) emits the SAME typed events as the " +
    "stream across all three channels, and keeps the rewrite guard") {
    val df = (1L to 12L).map(i => (i, s"t$i")).toDF("id", "txt")
    val root = Files.createTempDirectory("graft-typed-cdc-").toString
    TxTable.create(df.filter($"id" <= 6), root) // v0
    TxTable.append(df.filter($"id" > 6), root) // v1
    TxTable.deleteWhere(spark, root, col("id") % 4 === 1) // v2
    TxTable.setChangeFeed(spark, root, enabled = true) // v3
    TxTable.mergeInto(root,
      Seq((2L, "new2", false), (13L, "new13", false), (3L, "", true))
        .toDF("id", "txt", "deleted"),
      "id", Seq("txt"), "deleted") // v4
    val ckpt = Files.createTempDirectory("graft-typed-ckpt-").toString
    drain(TxTable.readChangeStream(spark, root), "typed_vs_stream", ckpt)
    val stream = spark.table("typed_vs_stream")
    val batch = TxTable.readChangesTyped(spark, root, -1L, 4L)
    assert(batch.count() === stream.count())
    assert(batch.exceptAll(stream).count() === 0L)
    assert(stream.exceptAll(batch).count() === 0L)
    // the guard: a compact version fails the typed batch face too
    TxTable.compact(spark, root, buckets = 1) // v5
    intercept[IllegalStateException] {
      TxTable.readChangesTyped(spark, root, 4L, 5L).count()
    }
    // empty range: zero rows, schema intact
    assert(TxTable.readChangesTyped(spark, root, 3L, 3L).count() === 0L)
  }

  test("a change range SPANNING a mergeSchema widening serves the " +
    "older generation with the added column as null, stream and typed " +
    "batch alike") {
    val (root, df) = mkTable()
    TxTable.create(df.filter($"id" <= 10).drop("emb"), root)   // v0 narrow
    TxTable.append(df.filter($"id" > 10 && $"id" <= 20), root,
      mergeSchema = true)                                     // v1 wide
    val typed = TxTable.readChangesTyped(spark, root, -1L, 1L)
    assert(typed.columns.contains("emb"))
    assert(typed.filter($"_change_type" === "insert").count() === 20L)
    assert(typed.filter($"emb".isNull)
      .select("id").as[Long].collect().sorted.toSeq === (1L to 10L))
    assert(typed.filter($"id" === 12L).select("emb").as[Seq[Float]].head()
      === Seq(12f, -12f))
    // the streaming face serves the destination schema too
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    drain(TxTable.readChangeStream(spark, root), "cdc_widen_span", ckpt)
    val got = spark.table("cdc_widen_span")
    assert(got.count() === 20L)
    assert(got.filter($"emb".isNull).count() === 10L)
  }

  test("null fields survive the record reader") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("d", DoubleType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, "a", 1.0), Row(2L, null, null)), 1),
      schema)
    val root = Files.createTempDirectory("graft-cdc-null-").toString
    TxTable.create(df, root)
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt-").toString
    drain(TxTable.readChangeStream(spark, root), "cdc_nulls", ckpt)
    val got = spark.table("cdc_nulls").orderBy("id").collect()
    assert(got(1).isNullAt(1) && got(1).isNullAt(2))
    assert(got(0).getAs[String]("s") === "a")
  }
}
