package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Storage layout for the studies corpus (SURVEY.md §4):
  *
  *  - `_direct_base_url` is MATERIALIZED at ingest as a generated column
  *    (first direct provenance hop), exactly the denormalization the
  *    reference's 0.7.0 schema evolution performed so /metrics never
  *    $elemMatch-es into `_provenance` (metrics.py:179-182,
  *    CHANGELOG.md:111-113).
  *  - files are range-partitioned on `_aggregator_identifier` and sorted
  *    by it within each file, so files and row groups cover disjoint,
  *    ascending id ranges. Parquet min/max stats then skip every row
  *    group whose range excludes a point filter's id (GetRecord,
  *    ListMetadataFormats?identifier) — the engine analogue of the
  *    reference's indexed `_aggregator_identifier` lookup — and keyset
  *    pages read ids in stored order.
  *  - the file count follows the data: the optimizer's size estimate
  *    over `spark.sql.files.maxPartitionBytes`, so each file is one read
  *    split. A corpus smaller than one split is one file, so a point
  *    verb plans and opens one file, not a fixed fan-out.
  */
object StudyLayout {

  private val Key = "_aggregator_identifier"

  /** First direct provenance base_url, null when none. */
  def directBaseUrl: Column =
    get(filter(col("_provenance"), p => p.getField("direct")), lit(0))
      .getField("base_url")

  /** Apply ingest-time derivations. */
  def withDerived(studies: DataFrame): DataFrame =
    studies.withColumn("_direct_base_url", directBaseUrl)

  /** Write the corpus in query-optimal layout. */
  def write(studies: DataFrame, path: String): Unit = {
    val derived = withDerived(studies)
    derived
      .repartitionByRange(fileCount(derived), col(Key))
      .sortWithinPartitions(col(Key))
      .write.mode("overwrite").parquet(path)
  }

  /** One file per read split: the plan's estimated size over the split
    * size, at least one. A plan without size statistics estimates
    * `Long.MaxValue`, hence the clamp; the range partitioner then writes
    * at most one file per sampled key.
    */
  private def fileCount(df: DataFrame): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val split = BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    ((bytes + split - 1) / split).max(1).min(Int.MaxValue).toInt
  }
}
