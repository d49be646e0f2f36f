package graft.protocol

import graft.{Fixtures, SparkSpec}
import graft.query.{ResumptionToken, StudyStore}
import graft.sets.{ConfigurableSet, LanguageSet, OpenAireSet, SourceSet}

import scala.xml.XML

/** End-to-end verb tests — the Spark analogue of the reference's
  * AsyncHTTPTestCase suite (SURVEY.md §5): build the repository over
  * fixture studies, parse the actual XML responses.
  */
class OaiRepositorySpec extends SparkSpec {

  private lazy val repo: OaiRepository = {
    val s = spark
    import s.implicits._
    val studies = s.createDataset(Fixtures.all).toDF()
    new OaiRepository(
      new StudyStore(studies),
      Seq(LanguageSet, OpenAireSet,
        SourceSet.fromYaml(Fixtures.sourcesYaml),
        ConfigurableSet.fromYaml(Fixtures.configurableYaml)),
      OaiConfig(listSize = 2),
      now = () => Fixtures.ts("2022-01-01T00:00:00Z"))
  }

  test("GetRecord oai_dc renders header + provenance") {
    val xml = XML.loadString(
      repo.getRecord("agg_id_1", "oai_dc"))
    val rec = xml \ "GetRecord" \ "record"
    assert((rec \ "header" \ "identifier").text == "agg_id_1")
    assert((rec \ "header" \ "datestamp").text == "2021-06-01T12:00:00Z")
    assert((rec \ "header" \ "setSpec").map(_.text).contains("source:FSD"))
    val od = rec \ "about" \ "provenance" \ "originDescription"
    assert((od \ "baseURL").text == "http://somebaseurl")
    assert((od \ "@altered").text == "true")
    assert((rec \ "metadata" \\ "type").text == "Dataset")
  }

  test("provenance recursion: element 0 outermost") {
    val xml = XML.loadString(repo.getRecord("agg_id_prov", "oai_dc"))
    val outer =
      xml \ "GetRecord" \ "record" \ "about" \ "provenance" \ "originDescription"
    assert((outer \ "baseURL").text.startsWith("http://somebaseurl"))
    val inner = outer \ "originDescription"
    assert((inner \ "baseURL").text == "http://upstream")
    assert((inner \ "@altered").text == "false")
    assert((inner \ "originDescription").isEmpty)
  }

  test("deleted record: header-only, status=deleted, deletion datestamp") {
    val xml = XML.loadString(repo.getRecord("agg_id_del", "oai_dc"))
    val rec = xml \ "GetRecord" \ "record"
    assert((rec \ "header" \ "@status").text == "deleted")
    assert((rec \ "header" \ "datestamp").text == "2000-01-01T23:00:00Z")
    assert((rec \ "metadata").isEmpty)
    assert((rec \ "about").isEmpty)
  }

  test("GetRecord unknown id → idDoesNotExist error, in-band") {
    val xml = XML.loadString(repo.handle(
      Map("verb" -> "GetRecord", "identifier" -> "nope",
        "metadataPrefix" -> "oai_dc")))
    assert((xml \ "error" \ "@code").text == "idDoesNotExist")
  }

  test("datacite GetRecord drops id-less records (T7 + validity filter)") {
    val xml = XML.loadString(repo.handle(
      Map("verb" -> "GetRecord", "identifier" -> "agg_id_1",
        "metadataPrefix" -> "oai_datacite")))
    assert((xml \ "error" \ "@code").text == "idDoesNotExist")
    val ok = XML.loadString(repo.getRecord("agg_id_2", "oai_datacite"))
    val res = ok \ "GetRecord" \ "record" \ "metadata" \ "resource"
    assert((res \ "identifier").text == "some_id")
    assert((res \ "identifier" \ "@identifierType").text == "DOI")
    assert((res \ "publicationYear").text == "2012")
  }

  test("ListRecords pages with resumption token; every record exactly once") {
    def page(extra: Map[String, String]) = XML.loadString(repo.handle(
      Map("verb" -> "ListRecords", "metadataPrefix" -> "oai_dc") ++ extra))
    val p1 = page(Map.empty)
    val ids1 = (p1 \ "ListRecords" \ "record" \ "header" \ "identifier").map(_.text)
    assert(ids1.size == 2)
    val tok1 = (p1 \ "ListRecords" \ "resumptionToken").text
    assert(tok1.nonEmpty)
    assert((p1 \ "ListRecords" \ "resumptionToken" \ "@completeListSize").text == "5")
    val p2 = page(Map("resumptionToken" -> tok1))
    val ids2 = (p2 \ "ListRecords" \ "record" \ "header" \ "identifier").map(_.text)
    val tok2 = (p2 \ "ListRecords" \ "resumptionToken").text
    val p3 = page(Map("resumptionToken" -> tok2))
    val ids3 = (p3 \ "ListRecords" \ "record" \ "header" \ "identifier").map(_.text)
    val all = ids1 ++ ids2 ++ ids3
    assert(all.distinct.size == 5)
    assert(all.toSet == Fixtures.all.map(_._aggregator_identifier).toSet)
  }

  private lazy val ddiRepo: OaiRepository = {
    val s = spark
    import s.implicits._
    new OaiRepository(
      new StudyStore(s.createDataset(Fixtures.all :+ Fixtures.ddiRich).toDF()),
      Seq(LanguageSet),
      OaiConfig(),
      now = () => Fixtures.ts("2022-01-01T00:00:00Z"))
  }

  private def xmlLang(n: scala.xml.Node): String =
    n.attributes.collectFirst {
      case a: scala.xml.PrefixedAttribute if a.pre == "xml" && a.key == "lang" =>
        a.value.text
    }.getOrElse("")

  private lazy val ddiBook = {
    val xml = XML.loadString(ddiRepo.getRecord("agg_id_ddi", "oai_ddi25"))
    xml \ "GetRecord" \ "record" \ "metadata" \ "codeBook"
  }

  test("ddi25: document titles in docDscr, study uris as holdings@URI") {
    // tests/test_serve.py:382-403 and :359-380
    val docTitles = (ddiBook \ "docDscr" \ "citation" \ "titlStmt" \ "titl")
      .map(t => (xmlLang(t), t.text)).toMap
    assert(docTitles == Map("en" -> "some_doc", "fi" -> "joku_doc"))
    val holdings = (ddiBook \ "stdyDscr" \ "citation" \ "holdings")
      .map(h => (xmlLang(h), h \@ "URI")).toMap
    assert(holdings == Map("fi" -> "some_study_uri", "en" -> "another_study_uri"))
  }

  test("ddi25: distDate carries date attr and description text") {
    // tests/test_serve.py:454-478
    val dd = (ddiBook \ "stdyDscr" \ "citation" \ "distStmt" \ "distDate")
      .map(d => (xmlLang(d), (d \@ "date", d.text))).toMap
    assert(dd == Map("en" -> ("1984", "Year 1984"), "fi" -> ("1984", "Vuosi 1984")))
  }

  test("ddi25: collDate renders date/event attrs per collection period") {
    // tests/test_serve.py:513-540
    val cds = (ddiBook \ "stdyDscr" \ "stdyInfo" \ "sumDscr" \ "collDate")
      .map(c => (c \@ "date",
        (xmlLang(c), c \@ "event", c.text))).toMap
    assert(cds == Map(
      "2000-01-02" -> (("fi", "single", "")),
      "2000-01-03" -> (("en", "start", "January 2000")),
      "2000-02-04" -> (("en", "end", "February 2000"))))
  }

  test("ddi25: dataKind and universe in sumDscr; fileName in fileDscr") {
    // tests/test_serve.py:405-426
    val kinds = (ddiBook \ "stdyDscr" \ "stdyInfo" \ "sumDscr" \ "dataKind")
      .map(k => (xmlLang(k), k.text)).toMap
    assert(kinds == Map("en" -> "some kind", "fi" -> "joku kind"))
    assert((ddiBook \ "stdyDscr" \ "stdyInfo" \ "sumDscr" \ "universe").text == "some universe")
    assert((ddiBook \ "fileDscr" \ "fileTxt" \ "fileName").text == "file1.csv")
  }

  test("ddi25: conditions carry elementVersion only when present") {
    // tests/test_serve.py:428-452
    val conds = (ddiBook \ "stdyDscr" \ "dataAccs" \ "useStmt" \ "conditions")
      .map(c => (xmlLang(c),
        (c.text, Option(c \@ "elementVersion").filter(_.nonEmpty)))).toMap
    assert(conds == Map(
      "en" -> (("some conditions", Some("elem_vers"))),
      "fi" -> (("joku conditions", None))))
    assert((ddiBook \ "stdyDscr" \ "dataAccs" \ "useStmt" \ "restrctn").text == "open")
  }

  test("ddi25: vocab fields render concept with vocab/vocabURI + description text") {
    // tests/test_serve.py:480-511 (resInstru shape, shared by timeMeth/sampProc/collMode)
    val ris = (ddiBook \ "stdyDscr" \ "method" \ "dataColl" \ "resInstru")
      .map { ri =>
        val concept = (ri \ "concept").head
        (xmlLang(ri),
          (concept.text, concept \@ "vocab", concept \@ "vocabURI",
            ri.child.collect { case scala.xml.Text(t) => t }.mkString))
      }.toMap
    assert(ris == Map(
      "en" -> (("some.resinstru", "vocab", "vocaburi", "some research instrument")),
      "fi" -> (("other.resinstru", "sanasto", "sanastouri", "joku research instrument"))))
    val tm = (ddiBook \ "stdyDscr" \ "method" \ "dataColl" \ "timeMeth" \ "concept").head
    assert((tm.text, tm \@ "vocab", tm \@ "vocabURI") == (("time.meth", "tmvocab", "tmuri")))
    val sp = (ddiBook \ "stdyDscr" \ "method" \ "dataColl" \ "sampProc").head
    assert((sp \ "concept").text == "samp.proc")
    assert(sp.child.collect { case scala.xml.Text(t) => t }.mkString == "a sampling procedure")
    assert((ddiBook \ "stdyDscr" \ "method" \ "dataColl" \ "collMode" \ "concept").text == "coll.mode")
  }

  test("ddi25: prodStmt renders copyright, prodDate, fundAg and grantNo") {
    val prod = ddiBook \ "stdyDscr" \ "citation" \ "prodStmt"
    assert((prod \ "copyright").text == "copyright text")
    assert((prod \ "prodDate" \@ "date") == "2012-05-01")
    assert((prod \ "fundAg").text == "Funder X")
    val gn = (prod \ "grantNo").head
    assert((gn.text, gn \@ "agency") == (("grant-42", "EC")))
  }

  test("per-format list sizes: each format pages at its own size") {
    val s = spark
    import s.implicits._
    val studies = s.createDataset(Fixtures.all).toDF()
    val r = new OaiRepository(
      new StudyStore(studies),
      Seq(LanguageSet),
      OaiConfig(listSize = 2, listSizeByPrefix = Map("oai_ddi25" -> 3)),
      now = () => Fixtures.ts("2022-01-01T00:00:00Z"))
    val dc = XML.loadString(r.handle(
      Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_dc")))
    assert((dc \ "ListIdentifiers" \ "header").size == 2) // global default
    val p1 = XML.loadString(r.handle(
      Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_ddi25")))
    val ids1 = (p1 \ "ListIdentifiers" \ "header" \ "identifier").map(_.text)
    assert(ids1.size == 3) // per-format override
    // token completeness property intact at the overridden size
    val tok = (p1 \ "ListIdentifiers" \ "resumptionToken").text
    assert(tok.nonEmpty)
    val p2 = XML.loadString(r.handle(
      Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_ddi25",
        "resumptionToken" -> tok)))
    val ids2 = (p2 \ "ListIdentifiers" \ "header" \ "identifier").map(_.text)
    assert((ids1 ++ ids2).distinct.size == 5)
  }

  test("mixed from/until datestamp granularity → badArgument") {
    val xml = XML.loadString(repo.handle(
      Map("verb" -> "ListRecords", "metadataPrefix" -> "oai_dc",
        "from" -> "2020-01-01", "until" -> "2021-06-01T12:00:00Z")))
    assert((xml \ "error" \ "@code").text == "badArgument")
    // same granularity on both sides stays valid
    val ok = XML.loadString(repo.handle(
      Map("verb" -> "ListRecords", "metadataPrefix" -> "oai_dc",
        "from" -> "2000-01-01", "until" -> "2021-12-31")))
    assert((ok \ "error").isEmpty)
  }

  test("bare-token continuation: page 2 needs only verb + resumptionToken") {
    // page 1 names its prefix (a NON-default one, so continuation cannot
    // work by falling back to oai_dc); page 2 sends the token ALONE, as
    // OAI-PMH §3.5's exclusive-argument rule allows
    val p1 = XML.loadString(repo.handle(
      Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_ddi25")))
    val ids1 = (p1 \\ "ListIdentifiers" \\ "header" \\ "identifier").map(_.text)
    val tok = (p1 \\ "ListIdentifiers" \\ "resumptionToken").text
    assert(ids1.size == 2 && tok.nonEmpty)
    val p2 = XML.loadString(repo.handle(
      Map("verb" -> "ListIdentifiers", "resumptionToken" -> tok)))
    assert((p2 \\ "error").isEmpty)
    val ids2 = (p2 \\ "ListIdentifiers" \\ "header" \\ "identifier").map(_.text)
    assert((ids1 ++ ids2).distinct.size == ids1.size + ids2.size)
    assert(ids2.nonEmpty)
  }

  test("token + contradicting explicit argument → badArgument") {
    val p1 = XML.loadString(repo.handle(
      Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_ddi25")))
    val tok = (p1 \\ "ListIdentifiers" \\ "resumptionToken").text
    val bad = XML.loadString(repo.handle(
      Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_dc",
        "resumptionToken" -> tok)))
    assert((bad \\ "error" \\ "@code").text == "badArgument")
    // the SAME prefix restated is tolerated
    val ok = XML.loadString(repo.handle(
      Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_ddi25",
        "resumptionToken" -> tok)))
    assert((ok \\ "error").isEmpty)
  }

  test("date-only until is end-of-day inclusive") {
    // fixtures are updated at 2021-06-01T12:00:00Z — a date-granularity
    // until of that same day must still harvest them (§3.3.1)
    val xml = XML.loadString(repo.handle(
      Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_dc",
        "from" -> "2021-06-01", "until" -> "2021-06-01")))
    assert((xml \\ "error").isEmpty)
    assert((xml \\ "ListIdentifiers" \\ "header").nonEmpty)
  }

  test("date-only from/until are UTC days whatever the JVM's time zone") {
    val s = spark
    import s.implicits._
    val stamped = Fixtures.minimal.copy(
      _metadata = Fixtures.meta(updated = "2024-01-14T12:00:00Z"))
    val dated = new OaiRepository(
      new StudyStore(s.createDataset(Seq(stamped)).toDF()), Nil,
      OaiConfig(listSize = 2), now = () => Fixtures.ts("2025-01-01T00:00:00Z"))
    def ids(args: (String, String)*): Seq[String] =
      (XML.loadString(dated.handle(Map("verb" -> "ListIdentifiers",
        "metadataPrefix" -> "oai_dc") ++ args)) \\ "header" \\ "identifier")
        .map(_.text)
    val zone = java.util.TimeZone.getDefault
    // UTC+14: local midnight of 2024-01-15 is 2024-01-14T10:00:00Z
    java.util.TimeZone.setDefault(
      java.util.TimeZone.getTimeZone("Pacific/Kiritimati"))
    try {
      assert(ids("from" -> "2024-01-15").isEmpty)
      assert(ids("from" -> "2024-01-14") == Seq("agg_id_1"))
      assert(ids("until" -> "2024-01-14") == Seq("agg_id_1"))
      assert(ids("until" -> "2024-01-13").isEmpty)
    } finally java.util.TimeZone.setDefault(zone)
  }

  test("bad resumption token → badResumptionToken error") {
    val xml = XML.loadString(repo.handle(
      Map("verb" -> "ListRecords", "metadataPrefix" -> "oai_dc",
        "resumptionToken" -> "garbage!!!")))
    assert((xml \ "error" \ "@code").text == "badResumptionToken")
  }

  test("a token with impossible progress → badResumptionToken") {
    val p1 = XML.loadString(repo.handle(
      Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_dc")))
    val issued = ResumptionToken.decode(
      (p1 \ "ListIdentifiers" \ "resumptionToken").text)
    assert(issued.cursor == 2 && issued.completeListSize == 5)
    // an edited completeListSize at or below the cursor would otherwise
    // end the harvest early, without any error
    val forged = Seq(
      issued.copy(completeListSize = issued.cursor),
      issued.copy(completeListSize = 1),
      issued.copy(cursor = 0),
      issued.copy(cursor = -3))
    forged.foreach { t =>
      val xml = XML.loadString(repo.handle(
        Map("verb" -> "ListIdentifiers", "resumptionToken" -> t.encode)))
      assert((xml \ "error" \ "@code").text == "badResumptionToken", t)
    }
  }

  test("ListRecords with set + until filters") {
    val xml = XML.loadString(repo.handle(
      Map("verb" -> "ListRecords", "metadataPrefix" -> "oai_dc",
        "set" -> "source:GESIS")))
    val ids = (xml \ "ListRecords" \ "record" \ "header" \ "identifier").map(_.text)
    assert(ids == Seq("agg_id_lang"))
    val none = XML.loadString(repo.handle(
      Map("verb" -> "ListRecords", "metadataPrefix" -> "oai_dc",
        "until" -> "1999-01-01")))
    assert((none \ "error" \ "@code").text == "noRecordsMatch")
  }

  test("ListIdentifiers returns headers only") {
    val xml = XML.loadString(repo.handle(
      Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_datacite")))
    val hs = xml \ "ListIdentifiers" \ "header"
    assert(hs.size == 2) // only datacite-valid records
    assert((xml \ "ListIdentifiers" \ "record").isEmpty)
  }

  test("ListSets enumerates all four families") {
    val xml = XML.loadString(repo.handle(Map("verb" -> "ListSets")))
    val specs = (xml \ "ListSets" \ "set" \ "setSpec").map(_.text)
    assert(specs.contains("language:fi"))
    assert(specs.contains("openaire_data"))
    assert(specs.contains("source:FSD"))
    assert(specs.contains("thematic:social_sciences"))
    val names = (xml \ "ListSets" \ "set" \ "setName").map(_.text)
    assert(names.contains("Language fi"))
  }

  test("datacite attribute rules: relationType, no xml:lang on publisher") {
    val xml = XML.loadString(repo.getRecord("agg_id_2", "oai_datacite"))
    val res = xml \ "GetRecord" \ "record" \ "metadata" \ "resource"
    val rel = res \ "relatedIdentifiers" \ "relatedIdentifier"
    assert((rel \ "@relationType").text == "IsCitedBy")
    assert((rel \ "@relatedIdentifierType").text == "DOI")
    val pub = (res \ "publisher").head
    assert(pub.attribute("http://www.w3.org/XML/1998/namespace", "lang").isEmpty)
    val fund = res \ "fundingReferences" \ "fundingReference"
    assert((fund \ "funderName").text == "EC")
    assert((fund \ "awardNumber").text == "info:eu-repo/grantAgreement/EC/FP7/12345")
  }

  test("ListMetadataFormats with identifier filters by record validity") {
    // agg_id_1 has no OpenAIRE id → datacite cannot disseminate it
    val xml = XML.loadString(repo.handle(
      Map("verb" -> "ListMetadataFormats", "identifier" -> "agg_id_1")))
    val prefixes = (xml \ "ListMetadataFormats" \ "metadataFormat" \ "metadataPrefix")
      .map(_.text).toSet
    assert(prefixes == Set("oai_dc", "oai_ddi25"))
    // agg_id_2 (DOI) gets all three
    val xml2 = XML.loadString(repo.handle(
      Map("verb" -> "ListMetadataFormats", "identifier" -> "agg_id_2")))
    assert((xml2 \ "ListMetadataFormats" \ "metadataFormat").size == 3)
    // unknown identifier → idDoesNotExist
    val bad = XML.loadString(repo.handle(
      Map("verb" -> "ListMetadataFormats", "identifier" -> "nope")))
    assert((bad \ "error" \ "@code").text == "idDoesNotExist")
  }

  test("stylesheet PI renders on line 2 when configured") {
    val s = spark
    import s.implicits._
    val repo2 = new OaiRepository(
      new graft.query.StudyStore(s.createDataset(Fixtures.all).toDF()),
      Nil,
      OaiConfig(stylesheet = Some("/v0/oai/static/oai2.xsl")),
      now = () => Fixtures.ts("2022-01-01T00:00:00Z"))
    val lines = repo2.handle(Map("verb" -> "Identify")).linesIterator.toSeq
    assert(lines.head.startsWith("<?xml version"))
    assert(lines(1) ==
      """<?xml-stylesheet type="text/xsl" href="/v0/oai/static/oai2.xsl"?>""")
  }

  test("Identify + ListMetadataFormats + badVerb") {
    val id = XML.loadString(repo.handle(Map("verb" -> "Identify")))
    assert((id \ "Identify" \ "deletedRecord").text == "transient")
    // earliest datestamp = min header datestamp across fixtures (the
    // deleted record's 2000-01-01 deletion time)
    assert((id \ "Identify" \ "earliestDatestamp").text == "2000-01-01T23:00:00Z")
    val fm = XML.loadString(repo.handle(Map("verb" -> "ListMetadataFormats")))
    assert((fm \ "ListMetadataFormats" \ "metadataFormat" \ "metadataPrefix")
      .map(_.text).toSet == Set("oai_dc", "oai_ddi25", "oai_datacite"))
    val bad = XML.loadString(repo.handle(Map("verb" -> "Nope")))
    assert((bad \ "error" \ "@code").text == "badVerb")
    val missing = XML.loadString(repo.handle(Map.empty))
    assert((missing \ "error" \ "@code").text == "badVerb")
  }
}
