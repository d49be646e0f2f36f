package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid lexical+vector retrieval via reciprocal-rank fusion
  * (Cormack/Clarke/Buettcher's RRF, SIGIR 2009 — public literature).
  * The training-data-curation shape: select corpus
  * documents relevant to a topic by FUSING a BM25 term ranking with an
  * embedding-cosine ranking, so lexical-only matches (exact terms,
  * OOV strings) and semantic-only matches (paraphrases) both surface.
  *
  * RRF(d) = Σ_lists 1 / (rrfK + rank_list(d)), summed over the lists
  * that contain d. Rank fusion needs no score calibration between the
  * two scales (BM25 is unbounded, cosine is [-1,1]) — only ranks.
  *
  * 100 TB shape: each ranking is cut to a `poolSize` candidate pool
  * FIRST — BM25 by TakeOrdered over its scan-local scores, cosine by
  * the broadcast-query top-k kernel ([[Similarity.topKCosine]]) — so
  * the rank windows and the fusion join run on two ≤poolSize frames,
  * never on the corpus. Ranks are assigned on ROUNDED scores (4 dp
  * lexical / 6 dp cosine, the gates' proven cross-engine contract)
  * with ascending-id tie-break, making the fusion deterministic and
  * oracle-stateable end to end.
  */
object HybridSearch {

  /** Top-`k` fused results: (docId, rrf, lex_rank, vec_rank) ordered by
    * descending RRF then id; ranks are null for a document absent from
    * that list's pool.
    */
  def rrfFusion(
      docs: DataFrame, embeddings: DataFrame,
      textCol: String, docIdCol: String, terms: Seq[String],
      vecIdCol: String, vecCol: String, queryVecId: Long,
      k: Int, poolSize: Int = 100, rrfK: Int = 60): DataFrame = {
    val lexPool = Bm25.score(docs, textCol, docIdCol, terms)
      .select(col(docIdCol).cast("long").as("_lex_id"),
        round(col("bm25"), 4).as("_lex_score"))
      .orderBy(col("_lex_score").desc, col("_lex_id"))
      .limit(poolSize)
    val lex = lexPool.withColumn("lex_rank",
      row_number().over( // ≤ poolSize rows — single-partition window is the point
        Window.orderBy(col("_lex_score").desc, col("_lex_id"))))
    val vecPool = Similarity
      .topKCosine(embeddings, vecIdCol, vecCol, queryVecId, poolSize)
      .select(col(vecIdCol).cast("long").as("_vec_id"), col("sim"))
    val vec = vecPool.withColumn("vec_rank",
      row_number().over(Window.orderBy(col("sim").desc, col("_vec_id"))))
    lex.join(vec, col("_lex_id") === col("_vec_id"), "full_outer")
      .select(
        coalesce(col("_lex_id"), col("_vec_id")).as(docIdCol),
        (coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)))
          .as("_rrf"),
        col("lex_rank"), col("vec_rank"))
      // the top-k cut orders on the ROUNDED score (the oracle's ORDER BY
      // binds to the rounded output alias) with id tie-break — ordering
      // on raw _rrf could pick a different row set when two sums land
      // within 5e-7 at the k boundary
      .orderBy(round(col("_rrf"), 6).desc, col(docIdCol))
      .limit(k)
      .select(col(docIdCol), round(col("_rrf"), 6).as("rrf"),
        col("lex_rank"), col("vec_rank"))
  }

  /** [[rrfFusion]] served ENTIRELY FROM PERSISTED INDEXES — the
    * production retrieval stack: the lexical pool probes the
    * [[graft.ingest.TextIndex]] BM25 layout (partition-pruned to the
    * query terms' buckets, row-identical to [[Bm25.score]]) and the
    * vector pool probes the [[graft.ingest.AnnIndex]] IVF layout
    * (probe-all = exact, or pruned for the approximate serving path).
    * With `nProbes` = the index's centroid count the result is
    * row-identical to [[rrfFusion]] — same pools, same rounded ranks,
    * same fusion — but NEITHER side rescans the corpus: a query
    * touches ~|terms|/termBuckets of the postings and
    * nProbes/numCentroids of the vectors. That difference is the
    * whole point at 100 TB: retrieval cost is index-probe-bounded,
    * not corpus-bounded.
    */
  def rrfFusionIndexed(
      spark: org.apache.spark.sql.SparkSession,
      textIndexPath: String, annIndexPath: String,
      terms: Seq[String], queryVec: Array[Double], excludeId: Long,
      k: Int, poolSize: Int = 100, rrfK: Int = 60,
      termBuckets: Int = 64, nProbes: Int = 16): DataFrame = {
    val lexPool = graft.ingest.TextIndex
      .bm25Indexed(spark, textIndexPath, terms, termBuckets)
      .select(col("doc_id").cast("long").as("_lex_id"),
        round(col("bm25"), 4).as("_lex_score"))
      .orderBy(col("_lex_score").desc, col("_lex_id"))
      .limit(poolSize)
    val lex = lexPool.withColumn("lex_rank",
      row_number().over(
        Window.orderBy(col("_lex_score").desc, col("_lex_id"))))
    val vecPool = graft.ingest.AnnIndex
      .ivfTopK(spark, annIndexPath, "vec_id", "embedding", queryVec,
        k = poolSize, nProbes = nProbes, excludeId = Some(excludeId))
      .select(col("vec_id").cast("long").as("_vec_id"), col("sim"))
    val vec = vecPool.withColumn("vec_rank",
      row_number().over(Window.orderBy(col("sim").desc, col("_vec_id"))))
    lex.join(vec, col("_lex_id") === col("_vec_id"), "full_outer")
      .select(
        coalesce(col("_lex_id"), col("_vec_id")).as("doc_id"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)))
          .as("_rrf"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(round(col("_rrf"), 6).desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), round(col("_rrf"), 6).as("rrf"),
        col("lex_rank"), col("vec_rank"))
  }
}
