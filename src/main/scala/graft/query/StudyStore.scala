package graft.query

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** OAI protocol error — rendered in-band as an <error> element, never an
  * HTTP failure (tests/test_serve.py:204-206; metrics.py:236-246).
  */
final case class OaiError(code: String, message: String)
    extends RuntimeException(s"$code: $message")

/** Opaque resumption token = (filter fingerprint, keyset cursor, progress)
  * (CHANGELOG.md:69-73,108-110; SURVEY.md §2.1 Q12).
  *
  * Keyset design: pages are `key > lastKey ORDER BY key LIMIT n`, so the
  * cursor predicate pushes to the scan and page N never re-reads pages
  * 1..N-1 — OFFSET pagination would re-scan quadratically at 100 TB. The
  * filter hash pins the token to its query; a token replayed against a
  * different filter/format is a BadResumptionToken, as in the reference.
  */
final case class ResumptionToken(
    filterHash: String,
    lastKey: String,
    cursor: Long,
    completeListSize: Long,
    // the originating request's harvest arguments (metadataPrefix, set,
    // from, until) — OAI-PMH §3.5 makes resumptionToken an EXCLUSIVE
    // argument, so a bare-token request must be able to reconstruct its
    // list from the token alone (the reference's kuha controller serves
    // bare-token continuations; templates/agg_list_records.xml:20)
    args: Map[String, String] = Map.empty) {

  // lastKey goes last (limit-split) because aggregator identifiers may
  // contain any character, including the separator; arg values are
  // URL-encoded so set specs/dates can never smuggle a separator.
  def encode: String = {
    val argsStr = args.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        k + "=" + java.net.URLEncoder.encode(v, UTF_8)
      }
      .mkString("&")
    Base64.getUrlEncoder.withoutPadding.encodeToString(
      s"$filterHash $cursor $completeListSize $argsStr $lastKey".getBytes(UTF_8))
  }
}

object ResumptionToken {

  def decode(token: String): ResumptionToken =
    try {
      val parts = new String(Base64.getUrlDecoder.decode(token), UTF_8)
        .split(" ", 5)
      require(parts.length == 5)
      val args = parts(3).split("&").iterator.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        require(i > 0)
        kv.take(i) -> java.net.URLDecoder.decode(kv.drop(i + 1), UTF_8)
      }.toMap
      ResumptionToken(parts(0), parts(4), parts(1).toLong, parts(2).toLong, args)
    } catch {
      case _: Exception =>
        throw OaiError("badResumptionToken", s"cannot parse '$token'")
    }

  def fingerprint(parts: String*): String =
    Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(parts.mkString("")))
}

/** One page of a list response. */
final case class Page(
    rows: Seq[Row],
    token: Option[ResumptionToken],
    completeListSize: Long)

/** What [[graft.protocol.OaiRepository]] needs from a record store:
  * the live study view (point verbs, set enumeration, Identify's
  * earliest datestamp) plus keyset-paged lists. [[StudyStore]] is the
  * single-frame implementation; [[TxStudyStore]] serves the view from
  * a TxTable's latest version and pins every harvest to one committed
  * snapshot.
  */
trait HarvestStore {

  /** Current study corpus — re-resolved per call by versioned stores. */
  def studies: DataFrame

  /** Several predicates over `filter`'s matches in ONE scan — see
    * [[StudyStore.queryFlags]].
    */
  def queryFlags(
      filter: Filter, flags: Seq[(String, Filter)]): Option[Seq[String]]

  def queryPage(
      filter: Filter,
      fields: Seq[String],
      listSize: Int,
      token: Option[ResumptionToken],
      filterFingerprint: String,
      derive: DataFrame => DataFrame = identity,
      tokenArgs: Map[String, String] = Map.empty): Page
}

/** The engine's DocStore over the studies DataFrame: multi-predicate
  * flags and keyset-paged lists (SURVEY.md §2.1 Q2, Q12). Point lookups
  * and set enumeration build their own plans on [[studies]]. All methods
  * take a [[Filter]] AST so predicates arrive at Catalyst as one
  * conjunction.
  */
final class StudyStore(val studies: DataFrame) extends HarvestStore {

  private val Key = "_aggregator_identifier"

  /** Evaluate several predicates over the rows matching `filter` in ONE
    * scan: returns None when nothing matches, otherwise the names whose
    * predicate holds on at least one matching row. Collapses
    * ListMetadataFormats' 1 + #formats count queries into a single job
    * (the reference's N+1 pattern, vs. one boolean aggregate here).
    */
  override def queryFlags(filter: Filter, flags: Seq[(String, Filter)]): Option[Seq[String]] = {
    val aggs = flags.map { case (name, f) =>
      max(when(f.toColumn, lit(1)).otherwise(lit(0))).as(name)
    }
    val row = studies.filter(filter.toColumn)
      .agg(count(lit(1)).as("_matched"), aggs: _*)
      .collect().head
    if (row.getLong(0) == 0L) None
    else Some(flags.map(_._1).zipWithIndex.collect {
      case (name, i) if row.getInt(i + 1) == 1 => name
    })
  }

  /** Q2 + Q12: filtered, projected scan, paged by keyset cursor.
    *
    * `derive` runs AFTER the page limit: per-record transforms only touch
    * `listSize` rows, not the whole corpus — mirroring the reference's
    * `_on_record` post-processing of streamed rows.
    */
  override def queryPage(
      filter: Filter,
      fields: Seq[String],
      listSize: Int,
      token: Option[ResumptionToken],
      filterFingerprint: String,
      derive: DataFrame => DataFrame,
      tokenArgs: Map[String, String]): Page = {

    token.foreach { t =>
      if (t.filterHash != filterFingerprint)
        throw OaiError("badResumptionToken", "token does not match this query")
    }
    val base = studies.filter(filter.toColumn)
    val completeListSize =
      token.map(_.completeListSize).getOrElse(base.count())
    val afterCursor = token match {
      case Some(t) => base.filter(col(Key) > t.lastKey)
      case None    => base
    }
    val proj = (fields :+ Key).distinct.map(col)
    val pageDf = afterCursor
      .select(proj: _*)
      .orderBy(col(Key))
      .limit(listSize)
    val rows = derive(pageDf).collect().toSeq

    val served = token.map(_.cursor).getOrElse(0L) + rows.size
    val next =
      if (rows.size < listSize || served >= completeListSize) None
      else Some(ResumptionToken(
        filterFingerprint,
        rows.last.getAs[String](Key),
        served,
        completeListSize,
        tokenArgs))
    Page(rows, next, completeListSize)
  }
}
