package graft.metrics

import graft.{Fixtures, SparkSpec}
import graft.protocol.{OaiConfig, OaiRepository, RequestContext}
import graft.query.StudyStore
import graft.sets.LanguageSet

/** Request-metrics semantics mirrored from the reference
  * (metrics.py:224-246 log_request; tests/test_metrics.py:276-337):
  * success/failure splits at HTTP 300; durations observed only for
  * successful responses that are not in-band OAI errors; per-user-agent
  * counters.
  */
class RequestMetricsSpec extends SparkSpec {

  private def repoWith(metrics: RequestMetrics): OaiRepository = {
    val s = spark
    import s.implicits._
    new OaiRepository(
      new StudyStore(s.createDataset(Fixtures.all).toDF()),
      Seq(LanguageSet),
      OaiConfig(),
      now = () => Fixtures.ts("2022-01-01T00:00:00Z"),
      metrics = Some(metrics),
      nanoTime = {
        // deterministic clock: +5ms per call
        var t = 0L
        () => { t += 5000000L; t }
      })
  }

  test("every OAI request counts; status >= 300 counts as failed") {
    val m = new RequestMetrics
    val repo = repoWith(m)
    repo.handle(Map("verb" -> "Identify"))
    // the reference splits at exactly 300 (tests/test_metrics.py:276-287)
    for (status <- Seq(300, 301, 400, 500))
      repo.handle(Map("verb" -> "Identify"), RequestContext(httpStatus = status))
    assert(m.requestsTotal == 5)
    assert(m.requestsSucceeded == 1)
    assert(m.requestsFailed == 4)
  }

  test("durations observed only for successful non-OAI-error responses") {
    val m = new RequestMetrics
    val repo = repoWith(m)
    repo.handle(Map("verb" -> "Identify"))
    // in-band OAI error: counted as succeeded (HTTP 200) but NOT timed
    repo.handle(Map("verb" -> "NoSuchVerb"))
    // failed transport: not timed either
    repo.handle(Map("verb" -> "Identify"), RequestContext(httpStatus = 500))
    assert(m.requestsSucceeded == 2)
    assert(m.requestsFailed == 1)
    val d = m.durations
    assert(d.keySet == Set(("Identify", "")))
    val (count, sum) = d(("Identify", ""))
    assert(count == 1)
    assert(sum > 0.0)
    // verb+prefix label pair for list requests
    repo.handle(Map("verb" -> "ListIdentifiers", "metadataPrefix" -> "oai_dc"))
    assert(m.durations.keySet == Set(("Identify", ""), ("ListIdentifiers", "oai_dc")))
  }

  test("per-user-agent counters") {
    val m = new RequestMetrics
    val repo = repoWith(m)
    repo.handle(Map("verb" -> "Identify"), RequestContext(userAgent = Some("harvester-a")))
    repo.handle(Map("verb" -> "Identify"), RequestContext(userAgent = Some("harvester-a")))
    repo.handle(Map("verb" -> "Identify"), RequestContext(userAgent = Some("harvester-b")))
    repo.handle(Map("verb" -> "Identify"))
    assert(m.requestsPerUserAgent ==
      Map("harvester-a" -> 2L, "harvester-b" -> 1L, "" -> 1L))
  }

  test("prometheus exposition carries counters and summaries") {
    val m = new RequestMetrics
    val repo = repoWith(m)
    repo.handle(Map("verb" -> "Identify"), RequestContext(userAgent = Some("ua1")))
    repo.handle(Map("verb" -> "Identify"), RequestContext(httpStatus = 404))
    val text = m.prometheus
    assert(text.contains("requests_total 2"))
    assert(text.contains("requests_succeeded 1"))
    assert(text.contains("requests_failed 1"))
    assert(text.contains("""requests_per_user_agent{harvester="ua1"} 1"""))
    assert(text.contains("""requests_duration_count{verb="Identify",metadataPrefix=""} 1"""))
    // combined page: corpus gauges + request metrics through one call
    val s = spark
    import s.implicits._
    val agg = MetricsJob.run(s.createDataset(Fixtures.all).toDF())
    val page = MetricsJob.prometheus(agg, m)
    assert(page.contains("records_total 5"))
    assert(page.contains("requests_total 2"))
  }

  test("prometheus label values are escaped") {
    val m = new RequestMetrics
    m.record(Some("Identify"), None, Some("bad\"agent\nwith\\stuff"),
      200, oaiError = false, durationMillis = 1.0)
    val text = m.prometheus
    assert(text.contains("""harvester="bad\"agent\nwith\\stuff""""))
    assert(!text.contains("bad\"agent\nwith"))
  }

  test("publisher label values are escaped on the gauge page") {
    val page = MetricsJob.prometheus(AggMetrics(1L, 1L, 1L, Seq(
      PublisherCounts("http://x/\"q\"\\p\nq", 1L, 1L))))
    val label = """{publisher="http://x/\"q\"\\p\nq"}"""
    assert(page.contains(s"publisher_records$label 1\n"))
    assert(page.contains(s"publisher_records_without_deleted$label 1\n"))
    // every line is a comment or `name{labels} value`: no raw newline
    // or unescaped quote split a sample
    assert(page.split("\n").forall(l =>
      l.startsWith("# ") || l.matches("""[a-z_]+(\{publisher="(\\.|[^"\\])*"\})? -?\d+""")))
  }

  test("gauge page writes each family's HELP and TYPE once") {
    val page = MetricsJob.prometheus(AggMetrics(3L, 2L, 2L, Seq(
      PublisherCounts("http://a", 2L, 1L),
      PublisherCounts("http://b", 1L, 1L))))
    assert(page ==
      """# HELP records_total Total number of records
        |# TYPE records_total gauge
        |records_total 3
        |# HELP records_total_without_deleted Total number of records without logically deleted
        |# TYPE records_total_without_deleted gauge
        |records_total_without_deleted 2
        |# HELP publishers_total Total number of publishers
        |# TYPE publishers_total gauge
        |publishers_total 2
        |# HELP publisher_records Records per publisher
        |# TYPE publisher_records gauge
        |publisher_records{publisher="http://a"} 2
        |publisher_records{publisher="http://b"} 1
        |# HELP publisher_records_without_deleted Live records per publisher
        |# TYPE publisher_records_without_deleted gauge
        |publisher_records_without_deleted{publisher="http://a"} 1
        |publisher_records_without_deleted{publisher="http://b"} 1
        |""".stripMargin)
    // no publishers: the per-publisher families are left out entirely
    assert(!MetricsJob.prometheus(AggMetrics(0L, 0L, 0L, Nil))
      .contains("publisher_records"))
  }

  test("a crashed verb still counts as a failed request") {
    val m = new RequestMetrics
    val s = spark
    import s.implicits._
    // store over a dataframe missing every expected column → dispatch
    // throws an AnalysisException, not an OaiError
    val broken = new OaiRepository(
      new StudyStore(Seq((1, "x")).toDF("a", "b")),
      Nil, OaiConfig(), metrics = Some(m))
    intercept[Throwable] {
      broken.handle(Map("verb" -> "ListMetadataFormats", "identifier" -> "someid"))
    }
    assert(m.requestsTotal == 1)
    assert(m.requestsFailed == 1)
    assert(m.durations.isEmpty)
  }
}
