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

  test("evolved column works end to end: deleteWhere predicates and " +
    "the change-stream schema see it") {
    val root = Files.createTempDirectory("graft-schema-").toString
    TxTable.create(narrow, root) // v0
    TxTable.append(wide, root, mergeSchema = true) // v1
    // a predicate on the evolved column scans pre-evolution files too
    TxTable.deleteWhere(spark, root, $"extra" === 22L) // v2
    assert(TxTable.read(spark, root).count() === 19L)
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

  test("create rejects case-duplicate columns BEFORE any file lands — " +
    "a case-duplicate schema header would fail every read") {
    val root = Files.createTempDirectory("graft-schema-").toString
    val dup = (1L to 3L).map(k => (k, s"a$k", s"b$k")).toDF("k", "v", "V")
    intercept[IllegalArgumentException] { TxTable.create(dup, root) }
    // nothing committed, nothing staged into a manifest
    assert(TxTable.versions(spark, root).isEmpty)
    TxTable.create(narrow, root)
    assert(TxTable.read(spark, root).count() === 10L)
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
    // the streaming face resolves the deleted rows the same way
    val ckpt = Files.createTempDirectory("graft-schema-ckpt-").toString
    TxTable.readChangeStream(spark, root, startingVersion = 1L)
      .writeStream.format("memory").queryName("reserved_cdc")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    assert(spark.table("reserved_cdc")
      .select($"_metadata.stamp", $"_change_type").as[(Long, String)]
      .collect().toSet === Set((70L, "delete"), (80L, "delete")))
    // the /metrics fold path: a change-feed merge over the mapped
    // column, read back through the typed feed under the logical name
    TxTable.setChangeFeed(spark, root, enabled = true)             // v2
    TxTable.mergeInto(root,
      withMeta(Seq(2L, 20L)).withColumn("v", concat($"v", lit("'")))
        .withColumn("del", lit(false)),
      "k", Seq("v", "_metadata"), "del")                           // v3
    val merged = TxTable.readChangesTyped(spark, root, 1L, 3L)
      .select($"k", $"v", $"_metadata.stamp", $"_change_type")
      .as[(Long, String, Long, String)].collect().toSet
    assert(merged === Set((2L, "v2", 20L, "update_preimage"),
      (2L, "v2'", 20L, "update_postimage"), (20L, "v20'", 200L, "insert")))
    // compact rewrites under the physical name; values survive
    TxTable.compact(spark, root, buckets = 1)                      // v4
    val t4 = TxTable.read(spark, root)
    assert(t4.count() === 7L)
    assert(t4.filter($"_metadata.stamp" === 200L).count() === 1L)
    // mergeSchema cannot add a column under the mapped PHYSICAL name:
    // the scan would serve the mapped column's bytes as its values
    val ex = intercept[IllegalArgumentException] {
      TxTable.append(withMeta(Seq(30L)).withColumn("_gm_metadata", lit(1L)),
        root, mergeSchema = true)
    }
    assert(ex.getMessage.contains("resurrect"))
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
