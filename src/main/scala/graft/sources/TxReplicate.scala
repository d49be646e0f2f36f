package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Delta-bounded CDC apply: mirror a change-feed-enabled [[TxTable]]
  * into a replica with per-version work proportional to the CHANGE
  * BATCH, never the replica.
  *
  * The obvious apply — [[TxTable.mergeInto]] per version (the
  * `io_tx_cdc_replicate` gate) — is correct but rewrites the entire
  * replica on every applied version, because merge is read-modify-
  * write over the whole table; at 100 TB that prices a KB-sized
  * harvest batch at a full-table write. This apply decomposes each
  * typed event batch into the two delta-bounded primitives instead:
  *
  *  - `delete` + `update_preimage` events contribute their KEYS and
  *    mask via the deletion-vector path: small batches inline the
  *    keys as an `In(key, …)` predicate (pushes to parquet, so a
  *    key-clustered replica opens only overlapping row groups), and
  *    batches past `spark.graft.replicate.maxInlineDeleteKeys`
  *    (default 10k) switch to [[TxTable.deleteKeys]]'s broadcast
  *    semi-join so the plan never carries 10⁵ literal nodes. Either
  *    way: a KB-scale position write, zero data-file rewrites;
  *  - `insert` + `update_postimage` events APPEND — work bounded by
  *    the batch rows.
  *
  * An update therefore lands as DV-mask(preimage) + append(postimage)
  * — two replica commits per applied version, converging to the same
  * state the merge apply reaches (`io_tx_cdc_replicate_dv` pins both
  * against the same oracle). The replica's version NUMBERS are not
  * parity with the source's; state is.
  *
  * Redelivery safety: delete-by-key is NOT idempotent on its own (a
  * re-run's mask would catch the postimage rows the first run already
  * appended), so [[applyTyped]] takes the source version as an
  * exactly-once batch id — the append half routes through
  * [[TxTable.addStreamingBatch]], whose per-stream high-water header
  * commits WITH the rows, and a batch at or below the high-water is
  * skipped wholesale before any delete runs. The high-water advances
  * even for delete-only batches (an empty streaming append is a
  * header-only commit), so no replayed batch can reach its delete.
  *
  * Contract: the source versions applied must carry row-accurate
  * typed events ([[TxTable.readChangesTyped]] throws on
  * non-representable rewrites), keys are unique per row (the
  * [[TxTable.mergeInto]] invariant), and one mirror consumer writes
  * the replica at a time.
  */
object TxReplicate {

  /** Apply ONE typed event batch (the `readChangesTyped` shape) to
    * the replica at `root`, exactly once under `(streamId, batchId)`
    * (use the source version as the batch id). Returns the number of
    * replica commits made (0 for an empty or already-applied batch).
    */
  def applyTyped(
      spark: SparkSession, root: String, keyCol: String,
      events: DataFrame, streamId: String, batchId: Long): Int = {
    val applied = TxTable.latestSnapshot(spark, root)
      .headers.get(s"stream:$streamId").map(_.toLong)
    if (applied.exists(_ >= batchId)) return 0
    // Delete-key mask, thresholded on batch size: up to
    // `maxInlineDeleteKeys` the keys inline as an `In` literal list
    // (which pushes to parquet stats, so a key-clustered replica opens
    // only overlapping row groups); above it — a retention-window
    // catch-up batch can carry 10⁵+ keys, and that many literals blow
    // up the PLAN before any data is read while pushdown has long
    // given up — the mask switches to [[TxTable.deleteKeys]]'s
    // broadcast semi-join (plan stays O(1), keys ship once per
    // executor). The collect is the only pass over the typed changes,
    // bounded by the change batch: the semi-join side is rebuilt from
    // the collected keys, so neither the mask nor a `deleteImpl` retry
    // re-runs the typed-changes subtree. A `limit(n).collect()` would
    // route through the incremental-take executor, which re-runs that
    // subtree per size escalation — measured 4 s → 20 s on the
    // replicate gate before this was caught.
    val maxInline = spark.conf
      .getOption("spark.graft.replicate.maxInlineDeleteKeys")
      .map(_.toInt).getOrElse(10000)
    val goneDf = events
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .select(col(keyCol)).distinct()
    val gone = goneDf.collect().map(_.get(0)).toSeq // bounded by the batch
    val add = events
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .drop("_change_type", "_commit_version")
    var commits = 0
    if (gone.nonEmpty) {
      if (gone.size <= maxInline)
        TxTable.deleteWhere(spark, root, col(keyCol).isInCollection(gone))
      else
        TxTable.deleteKeys(spark, root, keyCol, spark.createDataFrame(
          gone.map(Row(_)).asJava, goneDf.schema))
      commits += 1
    }
    // always runs (even with zero add rows): the high-water header
    // must advance so a redelivered batch skips before its delete
    if (TxTable.addStreamingBatch(add, root, streamId, batchId).isDefined)
      commits += 1
    commits
  }

  /** Bootstrap-plus-tail mirror: create the replica from the source's
    * `fromVersion` snapshot (one table-sized copy — the only
    * table-bounded step) and apply every later version's typed feed
    * delta-boundedly. Returns the source version mirrored up to.
    */
  def mirror(
      spark: SparkSession, srcRoot: String, dstRoot: String,
      keyCol: String, fromVersion: Long = 0L): Long = {
    TxTable.create(
      TxTable.readVersion(spark, srcRoot, fromVersion), dstRoot)
    val vs = TxTable.versions(spark, srcRoot).filter(_ > fromVersion)
    vs.foreach { v =>
      applyTyped(spark, dstRoot, keyCol,
        TxTable.readChangesTyped(spark, srcRoot, v - 1L, v),
        streamId = "mirror", batchId = v)
    }
    vs.lastOption.getOrElse(fromVersion)
  }

  /** How a [[resume]] caught the replica up: `version` is the source
    * version now mirrored, `reconciled` is true when the feed gap was
    * vacuum-swept and the Merkle repair ran instead of the tail.
    */
  final case class ResumeResult(version: Long, reconciled: Boolean)

  /** Resume a lapsed mirror from the replica's recorded high-water.
    * The normal path tails the typed feed exactly like [[mirror]];
    * when the consumer slept past the source's vacuum retention the
    * feed read throws [[TxTable.VacuumedVersionException]] (never a
    * silently partial feed) and this falls back to the repair the
    * exception message prescribes: [[reconcile]], one Merkle-bucket
    * diff plus a changed-buckets-only rewrite — work proportional to
    * the DRIFT, not the table, where a naive recovery re-bootstraps
    * the whole replica.
    */
  def resume(
      spark: SparkSession, srcRoot: String, dstRoot: String,
      keyCol: String, contentCol: String,
      nBuckets: Int = 1024): ResumeResult = {
    val hw = TxTable.latestSnapshot(spark, dstRoot)
      .headers.get("stream:mirror").map(_.toLong).getOrElse(0L)
    val vs = TxTable.versions(spark, srcRoot).filter(_ > hw)
    try {
      vs.foreach { v =>
        applyTyped(spark, dstRoot, keyCol,
          TxTable.readChangesTyped(spark, srcRoot, v - 1L, v),
          streamId = "mirror", batchId = v)
      }
      ResumeResult(vs.lastOption.getOrElse(hw), reconciled = false)
    } catch {
      case _: TxTable.VacuumedVersionException =>
        ResumeResult(
          reconcile(spark, srcRoot, dstRoot, keyCol, contentCol, nBuckets),
          reconciled = true)
    }
  }

  /** Merkle-anchored repair: make the replica equal the source's
    * LATEST snapshot by touching only the buckets that actually
    * differ. [[graft.operators.DataProfile.changedBuckets]] compares
    * the two tables as `nBuckets` order-independent digests (the
    * exchange is nBuckets-scale — KBs at any table size); the repair
    * is one DV-mask of the replica's drifted buckets (a position-
    * finding scan whose WRITE is a KB position list) plus one append
    * of the source's rows for those buckets — bytes written
    * proportional to the DRIFT volume, zero data-file rewrites,
    * where a naive recovery re-copies the table. A crash mid-repair
    * converges on re-run: the
    * missing rows keep their buckets `changed`, so the next
    * reconcile re-selects them.
    *
    * `contentCol` must functionally determine the row's value state
    * (concat the value columns into one if there are several) —
    * divergence in columns outside it is invisible to the digest.
    * Advances the replica's mirror high-water to the reconciled
    * source version so a later [[resume]] tails from there.
    */
  def reconcile(
      spark: SparkSession, srcRoot: String, dstRoot: String,
      keyCol: String, contentCol: String,
      nBuckets: Int = 1024): Long = {
    val srcV = TxTable.versions(spark, srcRoot).max
    val src = TxTable.readVersion(spark, srcRoot, srcV)
    val dst = TxTable.read(spark, dstRoot)
    val changed = graft.operators.DataProfile
      .changedBuckets(dst, src, keyCol, contentCol, nBuckets)
      .filter(col("status") =!= "unchanged")
      .select("bucket").collect().map(_.getLong(0)).toSeq
    if (changed.nonEmpty) {
      val bucketOf =
        graft.operators.DataProfile.digestBucket(keyCol, nBuckets)
      TxTable.deleteWhere(spark, dstRoot,
        bucketOf.isInCollection(changed))
      TxTable.addStreamingBatch(
        src.filter(bucketOf.isInCollection(changed)), dstRoot,
        streamId = "mirror", batchId = srcV)
    } else {
      // nothing drifted — still advance the high-water (header-only)
      TxTable.addStreamingBatch(dst.limit(0), dstRoot,
        streamId = "mirror", batchId = srcV)
    }
    srcV
  }
}
