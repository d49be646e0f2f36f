package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.TxTable

/** Snapshot-pinned harvest pagination: [[StudyStore.queryPage]]'s
  * keyset cursor over a [[graft.sources.TxTable]] root, where EVERY
  * page of one harvest reads the SAME committed version.
  *
  * The reference serves ListRecords continuations straight from the
  * live record collection (`/root/reference/cdcagg_oai/serve.py:25-34`
  * delegates to kuha's `QueryController.query_multiple`, which
  * re-queries MongoDB per resumption request —
  * `tests/test_serve.py:176-177`), so a harvest that
  * spans upserts can return a TORN view: a record updated between
  * pages surfaces with its new body after its neighbours were listed
  * from the old state, and a record whose sort key the upsert moved
  * across the cursor boundary is skipped or listed twice. This class
  * pins the FIRST page's table version into the resumption token
  * (`txv` arg) and serves every continuation from
  * [[graft.sources.TxTable.readVersion]] at that version — an
  * immutable file list, so the complete harvest equals one
  * consistent snapshot no matter what commits land mid-harvest. A
  * fresh harvest (no token) re-resolves the latest version and sees
  * all of them.
  *
  * Retention is the token's natural expiry: when
  * [[graft.sources.TxTable.vacuum]] sweeps the pinned version, the
  * continuation maps [[graft.sources.TxTable.VacuumedVersionException]]
  * to `badResumptionToken` — OAI-PMH §3.5's documented answer for an
  * idle harvest that outlived the server's token lifetime (the
  * protocol makes tokens explicitly expirable; the reference's kuha
  * backend expires them implicitly by serving whatever the live
  * store holds) — never a torn or silently partial list.
  *
  * 100 TB shape: per-page cost is one manifest read (KB-scale) plus
  * the keyset-pushed page scan [[StudyStore.queryPage]] already
  * does; pinning adds NO data copies — the snapshot is the
  * manifest's immutable file list, shared with every other reader.
  */
final class TxStudyStore(spark: SparkSession, root: String)
    extends HarvestStore {

  private val VersionArg = "txv"

  /** The latest committed version, re-resolved per call (the file
    * list is pinned at resolution, so each individual verb still
    * reads one consistent snapshot).
    */
  override def studies: DataFrame = TxTable.read(spark, root)

  /** Point-verb flags run against the latest version (one snapshot
    * per call, like [[studies]]).
    */
  override def queryFlags(
      filter: Filter, flags: Seq[(String, Filter)]): Option[Seq[String]] =
    new StudyStore(studies).queryFlags(filter, flags)

  /** [[StudyStore.queryPage]] against the pinned (continuation) or
    * latest (first page) committed version; the returned token
    * carries the pin.
    */
  override def queryPage(
      filter: Filter,
      fields: Seq[String],
      listSize: Int,
      token: Option[ResumptionToken],
      filterFingerprint: String,
      derive: DataFrame => DataFrame,
      tokenArgs: Map[String, String]): Page = {
    val version = token match {
      case Some(t) =>
        val pinned = t.args.getOrElse(VersionArg,
          throw OaiError("badResumptionToken",
            "token carries no pinned snapshot version"))
        pinned.toLongOption.getOrElse(
          throw OaiError("badResumptionToken",
            s"pinned snapshot version '$pinned' is not a number"))
      case None =>
        val vs = TxTable.versions(spark, root)
        require(vs.nonEmpty, s"$root is not a TxTable (no versions)")
        vs.max
    }
    val studies =
      try TxTable.readVersion(spark, root, version)
      catch {
        case _: TxTable.VacuumedVersionException =>
          throw OaiError("badResumptionToken",
            s"harvest snapshot v$version expired: swept by vacuum " +
              "retention — restart the harvest from the beginning")
        case _: TxTable.MissingVersionException =>
          throw OaiError("badResumptionToken",
            s"harvest snapshot v$version was never committed")
      }
    new StudyStore(studies).queryPage(
      filter, fields, listSize, token, filterFingerprint, derive,
      tokenArgs + (VersionArg -> version.toString))
  }
}
