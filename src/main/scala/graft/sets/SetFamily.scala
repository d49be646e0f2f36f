package graft.sets

import graft.query._
import graft.schema.Study
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One OAI set family — the uniform interface every set class implements in
  * the reference (`fields() / query(cb) / get(study) / filter(value)`,
  * metadataformats.py:59-430; SURVEY.md §2.2).
  *
  * Design notes for scale:
  *  - [[labels]] is a pure Column (array<string> of setSpecs) so computing
  *    per-record headers for a 100 TB ListRecords sweep stays inside
  *    whole-stage codegen — no UDF, no join for the YAML-backed families
  *    (their mappings are tiny and become literal MapType expressions,
  *    the Column analogue of a broadcast variable).
  *  - [[filterFor]] returns a [[Filter]] AST node, so set-based selective
  *    harvest composes with datestamp windows into one pushed conjunction.
  */
trait SetFamily {

  /** setSpec prefix before ':' — dispatch key (metadataformats.py:110-112). */
  def prefix: String

  /** Record fields this family needs projected for membership evaluation. */
  def fields: Seq[String]

  /** ListSets enumeration. Data-driven families scan `df`; config-driven
    * families ignore it (metadataformats.py:245-258,378-395).
    */
  def enumerate(df: DataFrame): Seq[SetInfo]

  /** Per-record setSpec labels as an array<string> Column (header
    * <setSpec> values, metadataformats.py:260-275,397-414).
    */
  def labels: Column

  /** Selective-harvest membership filter for `set=<prefix>:<value>` or
    * bare `set=<prefix>` (metadataformats.py:416-430).
    */
  def filterFor(value: Option[String]): Filter
}

final case class SetInfo(spec: String, name: String, description: Option[String] = None)

/** S1 `language`: one set per distinct `study_titles.language`
  * (tests/test_serve.py:1199-1211); generated names "Language <lang>"
  * (tests/test_serve.py:1208-1216).
  */
object LanguageSet extends SetFamily {
  val prefix = "language"
  val fields = Seq("study_titles")

  def enumerate(df: DataFrame): Seq[SetInfo] =
    Collect.rows(df.select(explode(col("study_titles.lang")).as("lang"))
      .where(col("lang").isNotNull)
      .distinct().orderBy("lang"))
      .map(r => SetInfo(s"$prefix:${r.getString(0)}", s"Language ${r.getString(0)}"))

  def labels: Column =
    array_distinct(filter(
      transform(col("study_titles"),
        t => when(t.getField("lang").isNotNull,
          concat(lit(s"$prefix:"), t.getField("lang")))),
      x => x.isNotNull))

  def filterFor(value: Option[String]): Filter = value match {
    case Some(lang) => ElemMatch("study_titles", ElemEq("lang", lang))
    case None       => ElemMatch("study_titles", ElemExists("lang", exists = true))
  }
}

/** S2 `openaire_data`: records with at least one identifier whose agency is
  * a valid OpenAIRE type (metadataformats.py:26,786-788; membership label
  * tests/test_serve.py:321-323).
  */
object OpenAireSet extends SetFamily {
  val prefix = "openaire_data"
  val fields = Seq("identifiers")

  private val member: Column =
    exists(col("identifiers"),
      i => i.getField("agency").isin(Study.OpenAireIdAgencies: _*))

  def enumerate(df: DataFrame): Seq[SetInfo] =
    Seq(SetInfo(prefix, "OpenAIRE"))

  def labels: Column =
    when(member, array(lit(prefix))).otherwise(array().cast("array<string>"))

  def filterFor(value: Option[String]): Filter =
    ElemMatch("identifiers", ElemIn("agency", Study.OpenAireIdAgencies))
}
