package graft.ingest

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.Bm25

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

class TextIndexSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (1L, "spark makes vector search fast"),
    (2L, "the customer wants spark spark spark"),
    (3L, "a plain document about nothing relevant"),
    (4L, "vector vector vector and customer data"),
    (5L, "   "), // termless doc: still shapes N and avgdl
    (6L, "Spark VECTOR Customer mixed case")
  ).toDF("doc_id", "text")

  private lazy val path = TextIndex.writeBm25(
    docs, "doc_id", "text",
    Files.createTempDirectory("graft-bm25-spec-").toString,
    termBuckets = 16)

  private def scored(df: DataFrame): Map[Long, Double] =
    df.select(col("doc_id"), round(col("bm25"), 9).as("b"))
      .as[(Long, Double)].collect().toMap

  test("indexed probe equals the in-plan Bm25.score exactly") {
    val terms = Seq("spark", "vector", "customer")
    val direct = scored(Bm25.score(docs, "text", "doc_id", terms))
    val indexed = scored(TextIndex.bm25Indexed(spark, path, terms,
      termBuckets = 16))
    assert(indexed.keySet === direct.keySet)
    for ((id, s) <- direct)
      assert(math.abs(indexed(id) - s) < 1e-9, s"doc $id: $s vs ${indexed(id)}")
    // the termless and no-match docs are absent from both
    assert(!direct.contains(3L) && !direct.contains(5L))
  }

  test("probe scan prunes to the query terms' buckets") {
    val probe = TextIndex.bm25Indexed(spark, path, Seq("spark"),
      termBuckets = 16)
    probe.collect() // materialize so AQE finalizes the plan
    def collectScans(
        p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
      val nested = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case _ => Seq.empty
      }
      (p match {
        case f: FileSourceScanExec => Seq(f)
        case _ => Seq.empty
      }) ++ (p.children ++ nested).flatMap(collectScans)
    }
    val scans = collectScans(probe.queryExecution.executedPlan)
    val postings = scans.filter(
      _.metadata.get("Location").exists(_.contains("postings")))
    assert(postings.nonEmpty, s"no postings scan in:\n$scans")
    val scan = postings.head
    assert(scan.partitionFilters.nonEmpty,
      s"no partition filters:\n${scan.metadata.mkString("\n")}")
    assert(scan.metadata("PartitionFilters").contains("tb"))
    val selected = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters)
      .map(_.values).distinct.size
    val total = scan.relation.location.listFiles(Nil, Nil)
      .map(_.values).distinct.size
    assert(selected < total,
      s"pruning selected $selected of $total partitions")
    assert(selected === 1)
  }

  test("postings carry denormalized dl; stats count every doc") {
    val p = spark.read.parquet(s"$path/postings")
    // doc 2: dl = 6 tokens, tf(spark) = 3
    val r = p.filter(col("doc_id") === 2L && col("term") === "spark")
      .select("dl", "tf").as[(Long, Long)].head()
    assert(r === ((6L, 3L)))
    val st = spark.read.parquet(s"$path/_stats")
      .as[(Long, Long)].head()
    assert(st._1 === 6L) // termless doc 5 included in N
    // Σdl: 5 + 6 + 6 + 6 + 1 + 5 = 29 (trim-split counts the empty
    // token of the blank doc)
    assert(st._2 === 29L)
  }

  test("single-term query; term absent from the corpus is empty") {
    val one = scored(TextIndex.bm25Indexed(spark, path, Seq("plain"),
      termBuckets = 16))
    assert(one.keySet === Set(3L))
    val none = TextIndex.bm25Indexed(spark, path, Seq("zzzmissing"),
      termBuckets = 16)
    assert(none.count() === 0L)
  }

  test("appendBm25: probe after append ≡ Bm25.score on the union corpus") {
    val half1 = docs.filter($"doc_id" % 2 === 0)
    val half2 = docs.filter($"doc_id" % 2 === 1)
    val p = TextIndex.writeBm25(half1, "doc_id", "text",
      Files.createTempDirectory("graft-bm25-app-").toString,
      termBuckets = 16)
    val added = TextIndex.appendBm25(half2, "doc_id", "text", p,
      termBuckets = 16)
    assert(added > 0L)
    val terms = Seq("spark", "vector", "customer")
    val direct = scored(Bm25.score(docs, "text", "doc_id", terms))
    val indexed = scored(TextIndex.bm25Indexed(spark, p, terms,
      termBuckets = 16))
    assert(indexed.keySet === direct.keySet)
    for ((id, s) <- direct)
      assert(math.abs(indexed(id) - s) < 1e-9,
        s"doc $id after append: $s vs ${indexed(id)}")
    // exact integer stats merged: N and Σdl equal the one-shot build
    val st = spark.read.parquet(s"$p/_stats").as[(Long, Long)].head()
    assert(st === ((6L, 29L)))
  }

  test("phraseDocs: consecutive tokens only, occurrences counted, " +
    "duplicate-term phrases work") {
    val pdocs = Seq(
      (1L, "spark vector search and spark vector again"),
      (2L, "spark search vector"), // not adjacent
      (3L, "vector spark"), // wrong order
      (4L, "a spark vector"),
      (5L, "go go go")).toDF("doc_id", "text")
    val p = TextIndex.writePositions(pdocs, "doc_id", "text",
      Files.createTempDirectory("graft-pos-spec-").toString,
      termBuckets = 16)
    val hits = TextIndex.phraseDocs(spark, p, Seq("spark", "vector"),
      termBuckets = 16).as[(Long, Long)].collect().toMap
    assert(hits === Map(1L -> 2L, 4L -> 1L))
    // duplicate-term phrase: "go go" matches twice in "go go go"
    val dup = TextIndex.phraseDocs(spark, p, Seq("go", "go"),
      termBuckets = 16).as[(Long, Long)].collect().toMap
    assert(dup === Map(5L -> 2L))
    // single-term phrase degenerates to term occurrences
    val one = TextIndex.phraseDocs(spark, p, Seq("spark"),
      termBuckets = 16).as[(Long, Long)].collect().toMap
    assert(one === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("conjunctiveDocs: AND semantics with summed tf") {
    val got = TextIndex.conjunctiveDocs(spark, path,
      Seq("spark", "customer"), termBuckets = 16)
      .as[(Long, Long)].collect().toMap
    // docs containing BOTH: doc2 (3+1), doc6 (1+1)
    assert(got === Map(2L -> 4L, 6L -> 2L))
    val all3 = TextIndex.conjunctiveDocs(spark, path,
      Seq("spark", "vector", "customer"), termBuckets = 16)
      .as[(Long, Long)].collect().toMap
    assert(all3 === Map(6L -> 3L))
  }

  test("bm25IndexedBatch ≡ per-query bm25Indexed, one scan") {
    val queries = Seq(
      "qa" -> Seq("spark", "vector"),
      "qb" -> Seq("customer", "plain"))
    val batch = TextIndex.bm25IndexedBatch(spark, path, queries,
      termBuckets = 16)
      .select(col("qid"), col("doc_id"), round(col("bm25"), 9).as("b"))
      .as[(String, Long, Double)].collect()
      .map { case (q2, id, s2) => (q2, id) -> s2 }.toMap
    val single = queries.flatMap { case (q2, ts) =>
      TextIndex.bm25Indexed(spark, path, ts, termBuckets = 16)
        .select(col("doc_id"), round(col("bm25"), 9).as("b"))
        .as[(Long, Double)].collect()
        .map { case (id, s2) => (q2, id) -> s2 }
    }.toMap
    assert(batch.keySet === single.keySet)
    for ((k2, v) <- single)
      assert(math.abs(batch(k2) - v) < 1e-9, s"$k2: $v vs ${batch(k2)}")
    assert(queries.flatMap(_._2).contains("plain")) // qb hits doc 3 only
    assert(batch.keySet.filter(_._1 == "qb").map(_._2) === Set(2L, 3L, 4L, 6L))
  }

  test("termBucketsOf recovers the build fan-out") {
    assert(TextIndex.termBucketsOf(spark, path) <= 16)
    intercept[IllegalArgumentException] {
      TextIndex.bm25Indexed(spark, path, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextIndex.bm25Indexed(spark, path, Seq("a", "a"))
    }
  }
}
