package graft.tools

import java.sql.Timestamp

import graft.formats.FormatColumns
import graft.metrics.MetricsJob
import graft.protocol.{OaiConfig, OaiRepository}
import graft.query.StudyStore
import graft.schema._
import graft.sets.{ConfigurableSet, LanguageSet, OpenAireSet, SourceDef, SourceSet}
import org.apache.spark.sql.SparkSession

/** Demo/driver CLI: stands up the OAI engine over a small synthetic study
  * corpus and prints responses for the requested verb.
  *
  * Usage: runMain graft.tools.OaiDemo <verb> [k=v ...]
  * e.g.   runMain graft.tools.OaiDemo ListRecords metadataPrefix=oai_dc set=source:FSD
  *        runMain graft.tools.OaiDemo metrics
  */
object OaiDemo {

  def corpus(n: Int): Seq[Study] = {
    def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))
    (1 to n).map { i =>
      val url = s"http://archive${i % 3}.example.org/oai"
      Study(
        study_number = s"study_$i",
        _aggregator_identifier = f"oai:demo:$i%04d",
        _direct_base_url = url,
        _metadata = RecordMeta(
          if (i % 7 == 0) RecordStatus.Deleted else RecordStatus.Created,
          ts("2020-01-01T00:00:00Z"),
          ts(f"2021-01-${i % 28 + 1}%02dT00:00:00Z"),
          if (i % 7 == 0) ts(f"2021-02-${i % 28 + 1}%02dT00:00:00Z") else null),
        _provenance = Seq(Provenance(
          "2021-03-01", altered = true, url, s"local:$i", "2021-02-28",
          direct = true, "ddi")),
        identifiers =
          if (i % 2 == 0) Seq(LangAttr(s"10.1234/demo.$i", "en", agency = "DOI"))
          else Seq(LangAttr(s"internal-$i", "en", agency = "Internal")),
        study_titles = Seq(
          LangAttr(s"Demo study $i", "en"),
          LangAttr(s"Demostudie $i", "de")),
        publishers = Seq(LangAttr(s"Publisher ${i % 3}", "en")),
        abstracts = Seq(LangAttr(s"Abstract of study $i", "en")),
        keywords = Seq(LangAttr(s"kw${i % 5}", "en")),
        publication_years = Seq(LangAttr(s"${2000 + i % 20}", "en")))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-oai-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val studies = spark.createDataset(corpus(25)).toDF()
    val sets = Seq(
      LanguageSet, OpenAireSet,
      SourceSet(Seq(
        SourceDef("http://archive0.example.org/oai", "A0", "Archive zero"),
        SourceDef("http://archive1.example.org/oai", "A1", "Archive one"),
        SourceDef("http://archive2.example.org/oai", "A2", "Archive two"))),
      ConfigurableSet("thematic", "Thematic", None, Seq(
        graft.sets.ConfigurableNode("pilot", "Pilot studies",
          (1 to 5).map(i => f"oai:demo:$i%04d")))))
    val repo = new OaiRepository(new StudyStore(studies), sets,
      OaiConfig(listSize = 10))

    args.headOption match {
      case Some("metrics") =>
        println(MetricsJob.prometheus(MetricsJob.run(studies)))
      case Some("layout") =>
        // ingest-layout drive: derive _direct_base_url, write id-range-
        // partitioned, id-sorted parquet sized from the data, reread, run
        // metrics
        val dir = java.nio.file.Files.createTempDirectory("graft-layout")
          .toString + "/studies"
        graft.ingest.StudyLayout.write(studies.drop("_direct_base_url"), dir)
        val back = spark.read.parquet(dir)
        println(s"layout written to $dir; rows=${back.count()}")
        println(MetricsJob.prometheus(MetricsJob.run(back)).linesIterator
          .filter(_.startsWith("publishers_total")).mkString("\n"))
        // salted-join drive: skew-safe join equals plain join
        import org.apache.spark.sql.functions.{col, count, lit}
        val plain = back.join(studies.select(col("_aggregator_identifier").as("id2")),
          col("_aggregator_identifier") === col("id2")).count()
        val salted = graft.operators.SkewJoin.saltedInnerJoin(
          back, studies.select(col("_aggregator_identifier").as("id2")),
          "_aggregator_identifier", "id2", factor = 4,
          saltSource = col("study_number")).count()
        println(s"plain join rows=$plain salted join rows=$salted match=${plain == salted}")
      case Some("harvest") =>
        // streaming ingest drive: custom micro-batch source → keyed
        // last-writer-wins upsert → memory sink
        val q = graft.streaming.StreamingIngest.runToMemory(
          spark, "harvest_demo", recordsPerBatch = 100, maxRecords = 500)
        q.processAllAvailable(); q.stop()
        val resolved = graft.streaming.StreamingIngest.latestByKeyBatch(
          spark.sql("SELECT * FROM harvest_demo"))
        println(s"resolved studies: ${resolved.count()}")
        resolved.groupBy("status").count().orderBy("status").collect()
          .foreach(r => println(s"  ${r.getString(0)}: ${r.getLong(1)}"))
        resolved.orderBy("study_id").limit(3).collect()
          .foreach(r => println(s"  sample: ${r.mkString(" | ")}"))
      case Some(verb) =>
        val params = args.tail.flatMap { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => Some(k -> v)
            case _           => None
          }
        }.toMap + ("verb" -> verb)
        println(repo.handle(params))
      case None =>
        println(repo.handle(Map("verb" -> "Identify")))
    }
    spark.stop()
  }
}
