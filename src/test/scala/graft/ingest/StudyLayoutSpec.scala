package graft.ingest

import java.io.File
import java.nio.file.Files
import graft.{Fixtures, JobProbe, SparkSpec}
import graft.protocol.{OaiConfig, OaiRepository}
import graft.query.StudyStore
import graft.schema.{RecordStatus, Study}
import graft.sets.{ConfigurableSet, LanguageSet, OpenAireSet, SourceSet}
import org.apache.spark.sql.DataFrame

import scala.xml.XML

class StudyLayoutSpec extends SparkSpec {

  private val Key = "_aggregator_identifier"
  private val SplitConf = "spark.sql.files.maxPartitionBytes"

  private def rawOf(studies: Seq[Study]): DataFrame = {
    val s = spark
    import s.implicits._
    s.createDataset(studies).toDF().drop("_direct_base_url")
  }

  private def parquetFiles(dir: String): Seq[File] =
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq

  private def idsOf(file: File): Seq[String] =
    spark.read.parquet(file.getPath).select(Key).collect().map(_.getString(0)).toSeq

  /** 60 studies in scrambled id order: three record shapes (two sources,
    * DOI / language-set members), one updated day each, every 7th deleted.
    */
  private lazy val corpus: Seq[Study] = (0 until 60).map(i => (i * 37) % 60).map { k =>
    val base = Seq(Fixtures.dataciteValid, Fixtures.multiLang, Fixtures.minimal)(k % 3)
    val day = java.time.LocalDate.of(2021, 1, 1).plusDays(k.toLong).toString + "T12:00:00Z"
    base.copy(
      _aggregator_identifier = f"study-$k%03d",
      _metadata =
        if (k % 7 == 3) Fixtures.meta(RecordStatus.Deleted, updated = day, deleted = day)
        else Fixtures.meta(updated = day))
  }

  /** The corpus written under a split size a quarter of its estimated
    * size, so the sizing rule writes several files.
    */
  private lazy val multiFileDir: String = {
    val dir = Files.createTempDirectory("graft-layout-range").toString + "/studies"
    val raw = rawOf(corpus)
    val estimate = StudyLayout.withDerived(raw).queryExecution.optimizedPlan.stats.sizeInBytes
    val prior = spark.conf.getOption(SplitConf)
    spark.conf.set(SplitConf, (estimate / 4).max(1).toString)
    try StudyLayout.write(raw, dir)
    finally prior match {
      case Some(v) => spark.conf.set(SplitConf, v)
      case None    => spark.conf.unset(SplitConf)
    }
    dir
  }

  private def repoOver(studies: DataFrame): OaiRepository =
    new OaiRepository(
      new StudyStore(studies),
      Seq(LanguageSet, OpenAireSet,
        SourceSet.fromYaml(Fixtures.sourcesYaml),
        ConfigurableSet.fromYaml(Fixtures.configurableYaml)),
      OaiConfig(listSize = 7),
      now = () => Fixtures.ts("2022-01-01T00:00:00Z"))

  test("ingest materializes _direct_base_url from first direct provenance") {
    val raw = rawOf(Fixtures.all)
    val derived = StudyLayout.withDerived(raw)
      .select("_aggregator_identifier", "_direct_base_url")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(derived("agg_id_1") == "http://somebaseurl")
    assert(derived("agg_id_lang") == "https://www.da-ra.de/oaip")
    // nestedProvenance: second hop is direct=false → first hop wins
    assert(derived("agg_id_prov") == "http://somebaseurl")
  }

  test("written layout round-trips and stays query-identical") {
    val dir = Files.createTempDirectory("graft-layout").toString + "/studies"
    StudyLayout.write(rawOf(Fixtures.all), dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == Fixtures.all.size)
    assert(back.schema.fieldNames.contains("_direct_base_url"))
    val metrics = graft.metrics.MetricsJob.run(back)
    assert(metrics.recordsTotal == 5)
    assert(metrics.publishersTotal == 2)
  }

  test("under the default split size a small corpus is written as one file") {
    val dir = Files.createTempDirectory("graft-layout-one").toString + "/studies"
    StudyLayout.write(rawOf(corpus), dir)
    val files = parquetFiles(dir)
    assert(files.size == 1)
    assert(idsOf(files.head) == corpus.map(_._aggregator_identifier).sorted)
  }

  test("a small split size writes several files, each id-sorted, " +
    "covering disjoint ascending id ranges") {
    val files = parquetFiles(multiFileDir)
    assert(files.size > 1, s"expected several files, got ${files.size}")
    val ids = files.map(idsOf).filter(_.nonEmpty)
    ids.foreach(f => assert(f == f.sorted, s"file not id-sorted: $f"))
    ids.sliding(2).foreach {
      case Seq(a, b) => assert(a.last < b.head, s"ranges overlap: ${a.last} >= ${b.head}")
      case _         =>
    }
    assert(ids.flatten == corpus.map(_._aggregator_identifier).sorted)
  }

  test("verbs over the multi-file layout answer byte-identically to the " +
    "in-memory frame") {
    val onDisk = repoOver(spark.read.parquet(multiFileDir))
    val inMemory = repoOver(StudyLayout.withDerived(rawOf(corpus)))

    /** Every page of a list, following resumption tokens to the end. */
    def drain(repo: OaiRepository, params: Map[String, String]): Seq[String] = {
      val pages = Vector.newBuilder[String]
      var next = Option(params)
      while (next.nonEmpty) {
        val page = repo.handle(next.get)
        pages += page
        val token = (XML.loadString(page) \\ "resumptionToken").text
        next = Option.when(token.nonEmpty)(
          Map("verb" -> params("verb"), "resumptionToken" -> token))
      }
      pages.result()
    }

    val live = "study-005"
    val deleted = "study-003"
    val ids = Seq(live, deleted, "study-999", "aaa")
    val points =
      ids.flatMap(id => Seq("oai_dc", "oai_ddi25", "oai_datacite").map(p =>
        Map("verb" -> "GetRecord", "identifier" -> id, "metadataPrefix" -> p))) ++
      ids.map(id => Map("verb" -> "ListMetadataFormats", "identifier" -> id)) ++
      Seq(Map("verb" -> "Identify"), Map("verb" -> "ListSets"))
    points.foreach(p => assert(onDisk.handle(p) == inMemory.handle(p), p))

    val lists = Seq(
      Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_dc",
        "set" -> "source:FSD", "from" -> "2021-01-10", "until" -> "2021-02-20"),
      Map("verb" -> "ListRecords", "metadataPrefix" -> "oai_ddi25"))
    lists.foreach { p =>
      val pages = drain(onDisk, p)
      assert(pages.size > 1, s"expected several pages for $p")
      assert(pages == drain(inMemory, p), p)
    }
    // the cases above reach both record kinds and the in-band error
    val byId = (id: String) => onDisk.handle(
      Map("verb" -> "GetRecord", "identifier" -> id, "metadataPrefix" -> "oai_dc"))
    assert((XML.loadString(byId(live)) \\ "metadata").nonEmpty)
    assert((XML.loadString(byId(deleted)) \\ "header" \ "@status").text == "deleted")
    assert((XML.loadString(byId("study-999")) \ "error" \ "@code").text == "idDoesNotExist")
  }

  test("GetRecord over the multi-file layout reads no more records than " +
    "the largest file holds") {
    val largest = parquetFiles(multiFileDir).map(idsOf(_).size).max
    assert(largest < corpus.size)
    val repo = repoOver(spark.read.parquet(multiFileDir))
    for (id <- Seq("study-005", "study-058", "study-003")) {
      val read = JobProbe(spark)(repo.handle(
        Map("verb" -> "GetRecord", "identifier" -> id, "metadataPrefix" -> "oai_dc"))).recordsRead
      assert(read > 0 && read <= largest, s"$id read $read records, largest file $largest")
    }
  }
}
