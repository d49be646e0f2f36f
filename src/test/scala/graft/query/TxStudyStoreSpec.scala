package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TxTable

/** Snapshot-pinned pagination: one harvest = one committed version,
  * no matter what lands mid-harvest; vacuum retention expires the
  * token as badResumptionToken.
  */
class TxStudyStoreSpec extends SparkSpec {

  private def keyed(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, s"body-$i"))
      .toDF("doc_id", "text")
      .withColumn("_aggregator_identifier",
        lpad(col("doc_id").cast("string"), 6, "0"))
  }

  private def tempRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-txpager-").toString

  private val fp = ResumptionToken.fingerprint("spec-harvest")

  private def drain(
      store: TxStudyStore, first: Page): Seq[(Long, String)] = {
    val out = Seq.newBuilder[(Long, String)]
    var p = first
    var continue = true
    while (continue) {
      out ++= p.rows.map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      p.token match {
        case Some(t) =>
          p = store.queryPage(True, Seq("doc_id", "text"), 3, Some(t), fp)
        case None => continue = false
      }
    }
    out.result()
  }

  test("a harvest spanning append, update, and delete serves exactly " +
    "the pinned snapshot; a fresh harvest sees the new state") {
    val root = tempRoot()
    TxTable.create(keyed(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L)), root)
    val store = new TxStudyStore(spark, root)
    val p1 = store.queryPage(True, Seq("doc_id", "text"), 3, None, fp)
    assert(p1.completeListSize == 7)
    assert(p1.token.isDefined)

    // mid-harvest: new record, mutated body, deleted record — all of
    // which a live-store pager would leak into later pages
    TxTable.append(keyed(Seq(8L)), root)
    val s = spark
    import s.implicits._
    // mergeInto rewrites the table to key + valueCols, so the harvest
    // key column rides along as a value column
    TxTable.mergeInto(root,
      Seq((5L, "MUTATED", "000005", false))
        .toDF("doc_id", "text", "_aggregator_identifier", "deleted"),
      "doc_id", Seq("text", "_aggregator_identifier"), "deleted")
    TxTable.deleteWhere(spark, root, col("doc_id") === 6L)

    val harvested = drain(store, p1)
    assert(harvested == (1L to 7L).map(i => (i, s"body-$i")),
      "harvest must equal the pinned v0 snapshot exactly")

    val fresh = store.queryPage(True, Seq("doc_id", "text"), 3, None, fp)
    assert(fresh.completeListSize == 7) // 7 - deleted 6 + appended 8
    val freshAll = drain(store, fresh)
    assert(freshAll.toMap.get(5L).contains("MUTATED"))
    assert(!freshAll.exists(_._1 == 6L))
    assert(freshAll.exists(_._1 == 8L))
  }

  test("vacuum sweeping the pinned version expires the token as " +
    "badResumptionToken; a latest-pinned token survives") {
    val root = tempRoot()
    TxTable.create(keyed(1L to 9L), root)
    val store = new TxStudyStore(spark, root)
    val old = store.queryPage(True, Seq("doc_id", "text"), 4, None, fp)
    TxTable.append(keyed(Seq(10L)), root)
    TxTable.append(keyed(Seq(11L)), root)
    val latest = store.queryPage(True, Seq("doc_id", "text"), 4, None, fp)
    TxTable.vacuum(spark, root, keepVersions = 1, retentionMs = 0L)

    val e = intercept[OaiError] {
      store.queryPage(True, Seq("doc_id", "text"), 4, old.token, fp)
    }
    assert(e.code == "badResumptionToken")
    assert(e.message.contains("expired"))

    val cont = store.queryPage(
      True, Seq("doc_id", "text"), 4, latest.token, fp)
    assert(cont.rows.nonEmpty)
  }

  test("a token without a pinned version and a mismatched fingerprint " +
    "are both badResumptionToken") {
    val root = tempRoot()
    TxTable.create(keyed(1L to 5L), root)
    val store = new TxStudyStore(spark, root)
    val noPin = ResumptionToken(fp, "000002", 2L, 5L)
    val e1 = intercept[OaiError] {
      store.queryPage(True, Seq("doc_id", "text"), 3, Some(noPin), fp)
    }
    assert(e1.code == "badResumptionToken")

    val p1 = store.queryPage(True, Seq("doc_id", "text"), 3, None, fp)
    val e2 = intercept[OaiError] {
      store.queryPage(True, Seq("doc_id", "text"), 3, p1.token,
        ResumptionToken.fingerprint("some-other-query"))
    }
    assert(e2.code == "badResumptionToken")
  }

  test("a forged pinned version, not a number or never committed, is " +
    "badResumptionToken") {
    val root = tempRoot()
    TxTable.create(keyed(1L to 5L), root)
    TxTable.append(keyed(Seq(6L)), root)
    val store = new TxStudyStore(spark, root)
    val issued = store.queryPage(True, Seq("doc_id", "text"), 3, None, fp).token.get
    assert(issued.args("txv") == "1")
    for (txv <- Seq("one", "", "2", "99")) {
      val forged = issued.copy(args = issued.args + ("txv" -> txv))
      val e = intercept[OaiError] {
        store.queryPage(True, Seq("doc_id", "text"), 3, Some(forged), fp)
      }
      assert(e.code == "badResumptionToken", txv)
    }
  }
}
