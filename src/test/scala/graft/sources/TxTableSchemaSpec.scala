package graft.sources

import java.nio.file.Files

import graft.SparkSpec

import org.apache.spark.sql.functions._

/** Schema evolution for [[TxTable]] (manifest header `schema=<json>`):
  * writers validate every batch against the DECLARED schema before a
  * file lands, readers scan BY the declared schema so columns resolve
  * by name across files written by different-width commits, and
  * evolution is explicit — `append(mergeSchema = true)` may ADD
  * columns, never change or drop a type. Without the header,
  * `spark.read.parquet` over mixed-width files picks one footer and a
  * wider append's columns silently vanish — the hazard this closes.
  */
class TxTableSchemaSpec extends SparkSpec {

  import spark.implicits._

  private def narrow = (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v")
  private def wide = (11L to 20L).map(k => (k, s"v$k", k * 2L))
    .toDF("k", "v", "extra")

  test("create declares the schema; exact-schema appends pass, " +
    "column order is irrelevant") {
    val root = Files.createTempDirectory("graft-schema-").toString
    TxTable.create(narrow, root)
    assert(TxTable.latestSnapshot(spark, root).tableSchema.isDefined)
    // permuted column order is the same schema
    TxTable.append(narrow.select("v", "k"), root)
    assert(TxTable.read(spark, root).count() === 20L)
  }

  test("strict appends reject extra columns, missing columns, and " +
    "type conflicts — before any file lands") {
    val root = Files.createTempDirectory("graft-schema-").toString
    TxTable.create(narrow, root)
    intercept[IllegalArgumentException] { TxTable.append(wide, root) }
    intercept[IllegalArgumentException] {
      TxTable.append(narrow.select("k"), root)
    }
    intercept[IllegalArgumentException] {
      TxTable.append(narrow.select(col("k"), col("v").cast("int").as("v")),
        root)
    }
    // nothing staged leaked into the manifest; table unchanged
    assert(TxTable.versions(spark, root) === Seq(0L))
    assert(TxTable.read(spark, root).count() === 10L)
  }

  test("mergeSchema append widens: union schema publishes in the same " +
    "commit, pre-evolution files serve the new column as null") {
    val root = Files.createTempDirectory("graft-schema-").toString
    TxTable.create(narrow, root) // v0
    TxTable.append(wide, root, mergeSchema = true) // v1
    val got = TxTable.read(spark, root).orderBy("k")
    assert(got.columns.toSeq === Seq("k", "v", "extra"))
    assert(got.filter($"k" <= 10L && $"extra".isNull).count() === 10L)
    assert(got.filter($"k" > 10L)
      .select("extra").as[Long].collect().sorted.toSeq ===
      (11L to 20L).map(_ * 2L))
    // time travel: v0 still serves the narrow declared schema
    assert(TxTable.readVersion(spark, root, 0L).columns.toSeq ===
      Seq("k", "v"))
    // readChanges at the evolved tip sees the union schema too
    assert(TxTable.readChanges(spark, root, 0L, 1L).columns.toSeq ===
      Seq("k", "v", "extra"))
  }

  test("mergeSchema tolerates a batch MISSING declared columns " +
    "(its rows serve them as null) but still rejects type conflicts") {
    val root = Files.createTempDirectory("graft-schema-").toString
    TxTable.create(narrow, root)
    TxTable.append(
      (21L to 25L).map(k => k).toDF("k"), root, mergeSchema = true)
    val got = TxTable.read(spark, root)
    assert(got.filter($"k" > 20L && $"v".isNull).count() === 5L)
    intercept[IllegalArgumentException] {
      TxTable.append(narrow.select(col("k"), col("v").cast("int").as("v")),
        root, mergeSchema = true)
    }
  }

  test("evolved column works end to end: CHECK constraints, " +
    "deleteWhere predicates, and the change-stream schema see it") {
    val root = Files.createTempDirectory("graft-schema-").toString
    TxTable.create(narrow, root) // v0
    TxTable.append(wide, root, mergeSchema = true) // v1
    // a predicate on the evolved column scans pre-evolution files too
    TxTable.deleteWhere(spark, root, $"extra" === 22L) // v2
    assert(TxTable.read(spark, root).count() === 19L)
    // NULL extra passes SQL CHECK semantics; a violating batch aborts
    TxTable.setCheckConstraint(spark, root, "extra >= 0") // v3
    intercept[IllegalArgumentException] {
      TxTable.append(
        Seq((99L, "bad", -1L)).toDF("k", "v", "extra"), root)
    }
    // the streaming schema is the declared (union) schema
    val ss = graft.streaming.TxChangeStream.schemaFor(spark, root)
    assert(ss.fieldNames.toSeq ===
      Seq("k", "v", "extra", "_change_type", "_commit_version"))
  }

  test("name matching is case-insensitive like Spark's parquet " +
    "resolution: a case-variant is the SAME column, never a new one, " +
    "and case-duplicate batches are rejected") {
    val root = Files.createTempDirectory("graft-schema-").toString
    TxTable.create(narrow, root)
    // "V" is declared "v": strict append passes, no schema widening
    TxTable.append(
      (31L to 33L).map(k => (k, s"v$k")).toDF("k", "V"), root)
    assert(TxTable.latestSnapshot(spark, root).tableSchema.get
      .fieldNames.toSeq === Seq("k", "v"))
    // a case-variant under mergeSchema must NOT become a second column
    TxTable.append(
      (34L to 35L).map(k => (k, s"v$k")).toDF("k", "V"), root,
      mergeSchema = true)
    assert(TxTable.latestSnapshot(spark, root).tableSchema.get
      .fieldNames.toSeq === Seq("k", "v"))
    assert(TxTable.read(spark, root).count() === 15L)
    // case-variant with a CONFLICTING type is a conflict, not an add
    intercept[IllegalArgumentException] {
      TxTable.append(
        (36L to 37L).map(k => (k, k.toInt)).toDF("k", "V"), root,
        mergeSchema = true)
    }
    // a batch with case-duplicate columns can never commit
    intercept[IllegalArgumentException] {
      TxTable.append(
        (38L to 39L).map(k => (k, s"a$k", s"b$k")).toDF("k", "v", "V"),
        root, mergeSchema = true)
    }
  }

  test("create and overwrite reject case-duplicate columns BEFORE any " +
    "file lands — a case-duplicate schema header would fail every read") {
    val root = Files.createTempDirectory("graft-schema-").toString
    val dup = (1L to 3L).map(k => (k, s"a$k", s"b$k")).toDF("k", "v", "V")
    intercept[IllegalArgumentException] { TxTable.create(dup, root) }
    // nothing committed, nothing staged into a manifest
    assert(TxTable.versions(spark, root).isEmpty)
    TxTable.create(narrow, root)
    intercept[IllegalArgumentException] { TxTable.overwrite(dup, root, 0L) }
    assert(TxTable.versions(spark, root) === Seq(0L))
    assert(TxTable.read(spark, root).count() === 10L)
  }

  test("renameColumn is a pure metadata commit: zero new data files, " +
    "values served across mixed generations, old name rejected") {
    val root = Files.createTempDirectory("graft-rename-").toString
    TxTable.create(narrow, root) // v0: (k, v) — gen-1 files carry "v"
    val filesBefore = TxTable.latestSnapshot(spark, root).files.toSet
    val v = TxTable.renameColumn(spark, root, "v", "value") // v1
    assert(v === 1L)
    // ZERO rewrites: the file set is byte-identical
    assert(TxTable.latestSnapshot(spark, root).files.toSet === filesBefore)
    val got = TxTable.read(spark, root)
    assert(got.columns.toSeq === Seq("k", "value"))
    assert(got.filter($"value" === "v3").select("k").as[Long].head() === 3L)
    // the OLD name is gone: reads of it fail, strict appends with it
    // are rejected
    intercept[org.apache.spark.sql.AnalysisException] {
      got.select("v").collect()
    }
    intercept[IllegalArgumentException] { TxTable.append(narrow, root) }
    // appends under the NEW name land (files carry the PHYSICAL name)
    TxTable.append(
      (11L to 15L).map(k => (k, s"v$k")).toDF("k", "value"), root) // v2
    val mixed = TxTable.read(spark, root).orderBy("k")
    assert(mixed.count() === 15L)
    assert(mixed.filter($"value".isNull).count() === 0L)
    assert(mixed.filter($"k" === 13L).select("value").as[String].head()
      === "v13")
    // deleteWhere predicates resolve the renamed column
    TxTable.deleteWhere(spark, root, $"value" === "v7") // v3
    assert(TxTable.read(spark, root).count() === 14L)
    // the change stream serves the renamed column across generations:
    // the v3 DV delete resolves its row's value by PHYSICAL name
    val ss = graft.streaming.TxChangeStream.schemaFor(spark, root)
    assert(ss.fieldNames.take(2).toSeq === Seq("k", "value"))
    val ckpt = Files.createTempDirectory("graft-rename-ckpt-").toString
    val q = TxTable.readChangeStream(spark, root, startingVersion = 3L)
      .writeStream.format("memory").queryName("rename_cdc")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val delRow = spark.table("rename_cdc").collect().head
    assert(delRow.getAs[String]("_change_type") === "delete")
    assert(delRow.getAs[String]("value") === "v7")
    // compact rewrites under the physical name; values survive
    TxTable.compact(spark, root, buckets = 1) // v4
    assert(TxTable.read(spark, root)
      .filter($"value" === "v13").count() === 1L)
    // mergeSchema cannot re-add the retired logical-name slot's
    // PHYSICAL name — old bytes would resurrect under it
    intercept[IllegalArgumentException] {
      TxTable.append(
        (16L to 17L).map(k => (k, s"v$k", k)).toDF("k", "value", "v"),
        root, mergeSchema = true)
    }
    // double rename keeps the ORIGINAL physical pin
    TxTable.renameColumn(spark, root, "value", "val2")
    assert(TxTable.read(spark, root)
      .filter($"val2" === "v13").count() === 1L)
  }

  test("column mapping composes with clustering: rename the cluster " +
    "column — range reads, range deletes, appends, and recluster all " +
    "keep working through the physical-name stats") {
    val root = Files.createTempDirectory("graft-rename-cl-").toString
    val df = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
    TxTable.create(df, root, clusterCol = Some("k"), buckets = 4) // v0
    TxTable.renameColumn(spark, root, "k", "key") // v1
    // the cluster header keeps the PHYSICAL name; the read filter
    // resolves back to the logical one
    val r = TxTable.readRange(spark, root, 10L, 20L)
    assert(r.columns.toSeq === Seq("key", "v"))
    assert(r.count() === 11L)
    // appends under the new logical name land physically and carry
    // range stats (pruning still engages)
    TxTable.append(
      (101L to 120L).map(k => (k, s"v$k")).toDF("key", "v"), root,
      buckets = 2) // v2
    assert(TxTable.readRange(spark, root, 95L, 105L).count() === 11L)
    val snap = TxTable.latestSnapshot(spark, root)
    assert(TxTable.prunedFiles(snap, 10L, 20L).size < snap.files.size)
    // deleteRange predicates on the renamed column
    TxTable.deleteRange(spark, root, 15L, 18L) // v3
    assert(TxTable.readRange(spark, root, 10L, 20L).count() === 7L)
    // recluster BY THE LOGICAL NAME: rewrite lands physically, rows kept
    TxTable.recluster(spark, root, Seq("key"), buckets = 2) // v4
    assert(TxTable.read(spark, root).count() === 116L)
    assert(TxTable.readRange(spark, root, 10L, 20L).count() === 7L)
    assert(TxTable.read(spark, root).columns.toSeq === Seq("key", "v"))
  }

  test("renameColumn guards: collision, missing column") {
    val root = Files.createTempDirectory("graft-rename-g-").toString
    TxTable.create(narrow, root)
    intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, root, "v", "K") // case-collides with k
    }
    intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, root, "nope", "x")
    }
  }

  test("dropColumn retires the physical name: reads stop projecting, " +
    "re-adding the name is rejected, other columns intact") {
    val root = Files.createTempDirectory("graft-drop-").toString
    TxTable.create(wide, root) // (k, v, extra)
    val filesBefore = TxTable.latestSnapshot(spark, root).files.toSet
    TxTable.dropColumn(spark, root, "extra") // v1, zero rewrites
    assert(TxTable.latestSnapshot(spark, root).files.toSet === filesBefore)
    val got = TxTable.read(spark, root)
    assert(got.columns.toSeq === Seq("k", "v"))
    assert(got.count() === 10L)
    // strict appends now take the narrow shape
    TxTable.append(
      (21L to 22L).map(k => (k, s"v$k")).toDF("k", "v"), root)
    // re-adding "extra" via mergeSchema would resurrect old bytes
    val ex = intercept[IllegalArgumentException] {
      TxTable.append(
        (23L to 24L).map(k => (k, s"v$k", k * 9L)).toDF("k", "v", "extra"),
        root, mergeSchema = true)
    }
    assert(ex.getMessage.contains("resurrect"))
    // a DIFFERENT new column still widens fine
    TxTable.append(
      (23L to 24L).map(k => (k, s"v$k", k * 9L)).toDF("k", "v", "extra2"),
      root, mergeSchema = true)
    assert(TxTable.read(spark, root).columns.toSeq ===
      Seq("k", "v", "extra2"))
    // renamed-THEN-dropped: the retired name is the PHYSICAL one
    intercept[IllegalArgumentException] {
      TxTable.dropColumn(spark, root, "k") // k is the... (not cluster)
      TxTable.dropColumn(spark, root, "v")
      TxTable.dropColumn(spark, root, "extra2") // last column
    }
  }

  test("rename/drop interlock with CHECK constraints: a breaking " +
    "rename or drop is rejected in the same call naming the " +
    "constraint; unrelated ones commit fine") {
    val root = Files.createTempDirectory("graft-ck-rn-").toString
    TxTable.create(wide, root, check = Some("k >= 0")) // (k, v, extra)
    val ex = intercept[IllegalArgumentException] {
      TxTable.renameColumn(spark, root, "k", "key")
    }
    assert(ex.getMessage.contains("CHECK (k >= 0)"))
    assert(ex.getMessage.contains("setCheckConstraint"))
    val ex2 = intercept[IllegalArgumentException] {
      TxTable.dropColumn(spark, root, "k")
    }
    assert(ex2.getMessage.contains("CHECK (k >= 0)"))
    // neither failed attempt committed a version
    assert(TxTable.versions(spark, root) === Seq(0L))
    // a rename/drop NOT referenced by the CHECK goes through, and the
    // constraint still enforces on the next append
    TxTable.renameColumn(spark, root, "v", "val2") // v1
    TxTable.dropColumn(spark, root, "extra")       // v2
    intercept[IllegalArgumentException] {
      TxTable.append(Seq((-1L, "bad")).toDF("k", "val2"), root)
    }
    TxTable.append(Seq((99L, "ok")).toDF("k", "val2"), root) // v3
    assert(TxTable.read(spark, root).count() === 11L)
    // the migration order: drop the CHECK, rename, re-pin under the
    // new name — and the re-pinned constraint enforces again
    TxTable.dropCheckConstraint(spark, root)             // v4
    TxTable.renameColumn(spark, root, "k", "key")        // v5
    TxTable.setCheckConstraint(spark, root, "key >= 0")  // v6
    intercept[IllegalArgumentException] {
      TxTable.append(Seq((-2L, "bad")).toDF("key", "val2"), root)
    }
    assert(TxTable.read(spark, root).count() === 11L)
  }

  test("overwrite composes with column mapping: after renaming the " +
    "cluster column, overwrite lands under logical names, rewrites the " +
    "cluster header, and clears the dropped-name retirement list") {
    val root = Files.createTempDirectory("graft-ow-map-").toString
    val df = (1L to 100L).map(k => (k, s"v$k", k * 2L))
      .toDF("k", "v", "extra")
    TxTable.create(df, root, clusterCol = Some("k"), buckets = 4) // v0
    TxTable.renameColumn(spark, root, "k", "key")                 // v1
    TxTable.dropColumn(spark, root, "extra")                      // v2
    // pre-fix this threw: writeDataFiles resolved the stale PHYSICAL
    // cluster name "k" against the logical-named frame
    val v = TxTable.overwrite(
      (1L to 50L).map(k => (k, s"w$k")).toDF("key", "v"), root, 2L)
    assert(v === 3L)
    val snap = TxTable.latestSnapshot(spark, root)
    // the mapping era ends with the old files: cluster header carries
    // the LOGICAL name, retirement list is gone, schema is mapping-free
    assert(snap.clusterCols === Seq("key"))
    assert(!snap.headers.contains("dropped"))
    // range reads prune on the new files' own stats
    assert(TxTable.readRange(spark, root, 10L, 20L).count() === 11L)
    assert(TxTable.prunedFiles(snap, 10L, 20L).size < snap.files.size)
    // the once-retired name is re-admittable: no old bytes remain
    TxTable.append(
      (51L to 52L).map(k => (k, s"w$k", k * 9L)).toDF("key", "v", "extra"),
      root, mergeSchema = true)
    assert(TxTable.read(spark, root).count() === 52L)
    assert(TxTable.read(spark, root).filter($"extra".isNotNull).count() === 2L)
  }

  test("overwrite replaces the declared schema with the new frame's") {
    val root = Files.createTempDirectory("graft-schema-").toString
    TxTable.create(narrow, root)
    val v = TxTable.overwrite(
      (1L to 5L).map(k => (k, k * 1.5)).toDF("k", "score"), root, 0L)
    assert(v === 1L)
    assert(TxTable.read(spark, root).columns.toSeq === Seq("k", "score"))
    TxTable.append((6L to 8L).map(k => (k, k * 1.5)).toDF("k", "score"), root)
    assert(TxTable.read(spark, root).count() === 8L)
    intercept[IllegalArgumentException] { TxTable.append(narrow, root) }
  }

  test("a data column named _metadata maps to a physical name so " +
    "DV reads and the change feed keep the hidden file-metadata " +
    "column (the reference's own record schema)") {
    def withMeta(ks: Seq[Long]) = ks.map(k => (k, s"v$k"))
      .toDF("k", "v")
      .withColumn("_metadata", struct(lit("created").as("status"),
        ($"k" * 10).as("stamp")))
    val root = Files.createTempDirectory("graft-schema-").toString
    TxTable.create(withMeta(1L to 8L), root)                       // v0
    // bytes land under the mapped physical name, never `_metadata`
    val footerCols = spark.read
      .parquet(TxTable.latestSnapshot(spark, root).files
        .map(f => s"$root/$f"): _*).columns.toSet
    assert(footerCols.contains("_gm_metadata") &&
      !footerCols.contains("_metadata"))
    // reads serve the LOGICAL name
    val t0 = TxTable.read(spark, root)
    assert(t0.columns.contains("_metadata"))
    assert(t0.filter($"_metadata.stamp" === 30L).count() === 1L)
    // the DV path needs the HIDDEN _metadata.file_path/row_index —
    // the shadow this mapping exists to prevent
    TxTable.deleteWhere(spark, root, $"_metadata.stamp" >= 70L)    // v1
    assert(TxTable.read(spark, root).count() === 6L)
    val changes = TxTable.readChangesTyped(spark, root, 0L, 1L)
    assert(changes.filter($"_change_type" === "delete").count() === 2L)
    assert(changes.columns.contains("_metadata"))
    // mergeSchema-ADDED reserved name gets the mapping too
    val root2 = Files.createTempDirectory("graft-schema-").toString
    TxTable.create(narrow, root2)
    TxTable.append(withMeta(11L to 12L), root2, mergeSchema = true)
    TxTable.deleteWhere(spark, root2, $"k" === 11L)
    val t2 = TxTable.read(spark, root2)
    assert(t2.count() === 11L)
    assert(t2.filter($"_metadata.stamp" === 120L).count() === 1L)
  }
}
