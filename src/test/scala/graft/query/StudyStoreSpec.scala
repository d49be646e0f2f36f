package graft.query

import java.nio.file.Files
import java.sql.Timestamp

import graft.{Fixtures, JobProbe, SparkSpec}
import graft.formats.{FormatColumns, MetadataFormat, MetadataFormats}
import graft.sets.{ConfigurableSet, LanguageSet, OpenAireSet, SourceSet}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** [[Collect.rows]] against `Dataset.collect()`, and the jobs a page
  * costs now that `completeListSize` is counted only for a full first page.
  */
class StudyStoreSpec extends SparkSpec {

  private val Key = "_aggregator_identifier"
  private val sets = Seq(LanguageSet, OpenAireSet,
    SourceSet.fromYaml(Fixtures.sourcesYaml),
    ConfigurableSet.fromYaml(Fixtures.configurableYaml))
  private val fp = ResumptionToken.fingerprint("spec-page")

  /** The fixtures, the rich ddi25 study and a study whose arrays are null
    * or empty, written to parquet so every frame runs a real scan.
    */
  private lazy val studies: DataFrame = {
    val s = spark
    import s.implicits._
    val nullArrays = Fixtures.minimal.copy(
      _aggregator_identifier = "agg_id_null",
      identifiers = null, study_titles = null, keywords = Nil, publishers = null)
    val dir = Files.createTempDirectory("graft-studystore").toString + "/studies"
    s.createDataset(Fixtures.all ++ Seq(Fixtures.ddiRich, nullArrays)).toDF()
      .write.parquet(dir)
    s.read.parquet(dir)
  }
  private lazy val corpusSize = studies.count().toInt

  private def fieldsOf(fmt: MetadataFormat): Seq[String] =
    (fmt.recordFields ++ FormatColumns.headerFields ++ sets.flatMap(_.fields)).distinct

  private def derived(fmt: MetadataFormat): DataFrame => DataFrame =
    df => fmt.derive(FormatColumns.withHeader(df, sets))

  private def assertSameRows(got: Seq[Row], df: DataFrame): Unit = {
    val expected = df.collect().toSeq
    assert(got == expected)
    got.foreach(r => assert(r.schema == df.schema))
  }

  test("Collect.rows equals Dataset.collect on GetRecord frames of every " +
    "format: deleted, datacite-invalid, null and empty arrays") {
    val ids = Seq("agg_id_1", "agg_id_2", "agg_id_del", "agg_id_ddi", "agg_id_null", "nope")
    val served = (for (fmt <- MetadataFormats.all; id <- ids) yield {
      // the frame OaiRepository.getRecord builds
      val df = studies
        .filter(And(FilterDsl.byIdentifier(id), fmt.validFilter).toColumn)
        .select(fieldsOf(fmt).map(col): _*)
        .transform(derived(fmt))
        .limit(1)
      val got = Collect.rows(df)
      assertSameRows(got, df)
      got.foreach(r => assert(r.getAs[Timestamp]("oai_datestamp") != null))
      (fmt.prefix, id) -> got.size
    }).toMap
    for (id <- ids.init) assert(served(("oai_dc", id)) == 1, id)
    assert(served(("oai_datacite", "agg_id_2")) == 1)
    // no OpenAIRE id: datacite cannot disseminate these
    assert(served(("oai_datacite", "agg_id_1")) == 0)
    assert(served(("oai_datacite", "agg_id_null")) == 0)
    assert(MetadataFormats.all.forall(f => served((f.prefix, "nope")) == 0))
  }

  test("Collect.rows equals Dataset.collect on page frames of every format") {
    val store = new StudyStore(studies)
    for (fmt <- MetadataFormats.all) {
      var frame: DataFrame = null
      val page = store.queryPage(True, fieldsOf(fmt), 100, None, fp,
        df => { frame = derived(fmt)(df); frame })
      assert(page.rows.size == corpusSize)
      assertSameRows(page.rows, frame)
      val deleted = page.rows.find(_.getAs[String](Key) == "agg_id_del").get
      assert(deleted.getAs[Boolean]("oai_deleted"))
      assert(deleted.getAs[Timestamp]("oai_datestamp") ==
        Fixtures.ts("2000-01-01T23:00:00Z"))
    }
  }

  test("a short first page runs one job and is its own completeListSize") {
    val store = new StudyStore(studies)
    val probe = JobProbe(spark)(
      store.queryPage(True, Seq(Key), corpusSize + 3, None, fp))
    assert(probe.jobs == 1)
    assert(probe.result.rows.size == corpusSize)
    assert(probe.result.completeListSize == corpusSize)
    assert(probe.result.token.isEmpty)
  }

  test("a full first page holding the whole list has no token") {
    val page = new StudyStore(studies)
      .queryPage(True, Seq(Key), corpusSize, None, fp)
    assert(page.rows.size == corpusSize)
    assert(page.completeListSize == corpusSize)
    assert(page.token.isEmpty)
  }

  test("one row more than a page counts the list and issues a token") {
    val store = new StudyStore(studies)
    val listSize = corpusSize - 1
    val page = store.queryPage(True, Seq(Key), listSize, None, fp)
    assert(page.rows.size == listSize)
    assert(page.completeListSize == listSize + 1)
    val t = page.token.get
    assert(t.cursor == listSize && t.completeListSize == listSize + 1)
    val last = store.queryPage(True, Seq(Key), listSize, Some(t), fp)
    assert(last.rows.size == 1 && last.token.isEmpty)
    assert(last.completeListSize == listSize + 1)
  }
}
