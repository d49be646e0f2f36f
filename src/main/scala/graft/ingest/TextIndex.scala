package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted text index — the lexical-retrieval twin of
  * [[AnnIndex]] (VERDICT r12 #3): [[graft.operators.Bm25.score]]
  * recomputes tf/df/doclen over the CORPUS on every query batch; at
  * 100 TB that is a full scan per query, which defeats repeated
  * retrieval. Here the postings materialize ONCE at ingest as a
  * parquet layout PARTITIONED BY TERM BUCKET, and a probe reads only
  * the query terms' buckets — Catalyst partition pruning turns the
  * `tb IN (...)` filter into directory selection, exactly the
  * [[AnnIndex]] probe contract.
  *
  * Layout under `path`:
  *  - `postings/` partitioned by `tb = pmod(hash(term), termBuckets)`:
  *    one row per (doc, term) with `tf` AND the document length `dl`
  *    DENORMALIZED into the posting (the reference's
  *    `_direct_base_url` move: +8 bytes per posting kills the
  *    corpus-scale doclen join every probe would otherwise pay —
  *    CHANGELOG.md:104-113 of the reference argues the same trade).
  *  - `_stats/` one row: (n_docs, avgdl) — the only corpus-global
  *    numbers BM25 needs.
  *
  * A probe is: prune to ≤|terms| buckets → row-filter `term IN (...)`
  * → per-term df from the pruned scan itself (a posting row IS "doc
  * contains term", so df needs no extra pass) → broadcast the
  * term-count-bounded df frame + the 1-row stats back → one hash
  * aggregate per doc. Zero corpus-scale shuffles; the scan touches
  * ~|terms|/termBuckets of the postings.
  *
  * Tokenization and arithmetic are IDENTICAL to [[graft.operators
  * .Bm25.score]] (lowercase-trim whitespace split; dl counts empty
  * tokens the same way; BM25+ idf ln(1+(N−df+½)/(df+½))), so the
  * indexed probe is row-identical to the in-plan scorer — gated by
  * `text_bm25_indexed` against the same oracle as `text_bm25`.
  */
object TextIndex {

  /** Materialize the BM25 layout; returns `path`. One corpus pass:
    * tokenize → explode → (doc, term) count, with dl carried scan-local
    * (computed before the explode, so it never re-aggregates).
    */
  def writeBm25(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, termBuckets: Int = 64): String = {
    require(termBuckets > 0, s"termBuckets must be positive: $termBuckets")
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val base = docs.select(
      col(idCol).as("doc_id"),
      toks.as("_toks"),
      size(toks).cast("long").as("dl")) // Bm25.score's dl: empties count
    // corpus stats over ALL docs (termless docs still shape N/avgdl),
    // kept as EXACT INTEGER moments (n, Σdl): avgdl divides at probe
    // time — bit-identical to avg() on either engine (integer doubles
    // ≤ 2^53 sum exactly) and append-mergeable without float drift
    base.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_stats")
    base
      .select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(hash(col("term")), lit(termBuckets)))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$path/postings")
    path
  }

  /** Incrementally index a NEW batch of documents into an existing
    * layout (the [[AnnIndex.appendIvf]] maintenance contract): the
    * batch's postings append into the same term-bucket partitions —
    * per-batch cost is one scan of the BATCH, the corpus never
    * rescans — and the 1-row `_stats` sidecar updates by exact moment
    * algebra (n' = n + n_new; avgdl' = (n·avgdl + Σ dl_new) / n').
    * Per-term df needs no sidecar at all: a posting row IS "doc
    * contains term", so probes recount df from the pruned scan and
    * stay row-identical to [[graft.operators.Bm25.score]] on the
    * UNION corpus. Returns rows appended.
    *
    * Caller contract: `docs` must be NEW doc_ids (re-indexing an
    * existing id would double its postings — dedup upstream, the
    * appendIvf discipline), and the layout is SINGLE-WRITER,
    * NO-CONCURRENT-PROBE for the duration of the append: without a
    * manifest the batch publishes file by file, so a concurrent probe
    * can observe a partial batch and a concurrent append races the
    * `_stats` read-modify-write.
    * The caller keeps that contract: serialize every append and probe
    * on one `path` outside this call.
    */
  def appendBm25(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, termBuckets: Int = 64): Long = {
    val spark = docs.sparkSession
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val base = docs.select(
      col(idCol).as("doc_id"),
      toks.as("_toks"),
      size(toks).cast("long").as("dl"))
    val postings = base
      .select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(hash(col("term")), lit(termBuckets)))
    val appended = postings.count()
    postings.write.mode("append").partitionBy("tb")
      .parquet(s"$path/postings")
    // exact integer moment merge: (n, Σdl) add without float drift
    val old = spark.read.parquet(s"$path/_stats").head()
    val (n0, s0) = (old.getLong(0), old.getLong(1))
    val b = base.agg(count(lit(1)).as("n"),
      sum(col("dl")).as("s")).head()
    val (n1, s1) = (b.getLong(0),
      if (b.isNullAt(1)) 0L else b.getLong(1))
    import spark.implicits._
    Seq((n0 + n1, s0 + s1)).toDF("n_docs", "sum_dl")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_stats")
    appended
  }

  /** Batched multi-query BM25: score every query of `queries`
    * (qid → its term set) in ONE pruned postings scan — the
    * query-batch serving shape ([[graft.ingest.AnnIndex.ivfTopKBatch]]'s
    * contract for the lexical side). The scan prunes to the UNION of
    * all queries' buckets; per-term df comes from that scan (full df —
    * pruning is by term, not by doc); the (qid, term) routing frame is
    * query-batch-bounded and broadcasts. Result (qid, doc_id, bm25) is
    * row-identical to running [[bm25Indexed]] per query.
    */
  def bm25IndexedBatch(
      spark: SparkSession, path: String,
      queries: Seq[(String, Seq[String])],
      termBuckets: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "at least one query required")
    queries.foreach { case (q, ts) =>
      require(ts.nonEmpty, s"query '$q' has no terms")
      require(ts.toSet.size == ts.size, s"query '$q' has duplicate terms: $ts")
    }
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val tbs = bucketsFor(spark, allTerms, termBuckets)
    val cand = spark.read.parquet(s"$path/postings")
      .filter(col("tb").isin(tbs: _*) && col("term").isin(allTerms: _*))
    val dfs = cand.groupBy("term").agg(count(lit(1)).as("_df"))
    val stats = spark.read.parquet(s"$path/_stats")
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    val routing = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("qid", "term")
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("_df").cast("double") + lit(0.5)) /
        (col("_df").cast("double") + lit(0.5)))
    val contrib = idf * tf * lit(k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("dl").cast("double") / col("avgdl")))
    cand
      .join(broadcast(routing), "term")
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"), contrib.as("_c"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("_c")).as("bm25"))
  }

  /** Materialize the POSITIONAL layout under `path/positions`: one
    * row per token occurrence (doc_id, pos, term), term-bucket
    * partitioned like the postings — the phrase-query face a search
    * stack adds beside BM25 (positions keep the ORIGINAL token index,
    * empties included, so adjacency is literal adjacency in the
    * normalized text). ~token-count rows, but a probe reads only the
    * phrase terms' buckets.
    */
  def writePositions(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, termBuckets: Int = 64): String = {
    require(termBuckets > 0, s"termBuckets must be positive: $termBuckets")
    val toks = split(lower(trim(col(textCol))), "\\s+")
    docs.select(col(idCol).as("doc_id"), posexplode(toks).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .withColumn("tb", pmod(hash(col("term")), lit(termBuckets)))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$path/positions")
    path
  }

  /** Incrementally index a NEW batch into an existing positional
    * layout — the [[appendBm25]] maintenance contract applied to the
    * phrase index (a growing corpus must not force full rebuilds):
    * the batch's (doc_id, pos, term) rows append into the same
    * term-bucket partitions, so per-batch cost is one scan of the
    * BATCH and the corpus never rescans. The positional layout keeps
    * no corpus-global sidecar (phrase adjacency is per-doc), so
    * append is pure partition-append — probes over the union corpus
    * are row-identical to a fresh [[writePositions]] build because a
    * term's bucket is a pure function of the term. Returns rows
    * appended.
    *
    * Caller contract: `docs` must be NEW doc_ids (re-indexing an
    * existing id would double its occurrences — dedup upstream), and
    * the layout is SINGLE-WRITER, NO-CONCURRENT-PROBE for the
    * duration of the append: the standalone layout has no manifest,
    * so a mid-append [[phraseDocs]] can observe a partially-visible
    * batch (some term buckets appended, others not), a CONCURRENT
    * APPEND gets the other writer's files attributed to its returned
    * count (the before/after directory diff below is not atomic on
    * object stores), and nothing detects either.
    * The caller keeps that contract: serialize every append and probe
    * on one `path` outside this call.
    */
  def appendPositions(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, termBuckets: Int = 64): Long = {
    require(termBuckets > 0, s"termBuckets must be positive: $termBuckets")
    val spark = docs.sparkSession
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val rows = docs
      .select(col(idCol).as("doc_id"), posexplode(toks).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .withColumn("tb", pmod(hash(col("term")), lit(termBuckets)))
    // write FIRST, then derive the appended count from the files the
    // write produced — counting the frame up front would re-run the
    // whole tokenize/explode pipeline a second time for the write
    val dest = new org.apache.hadoop.fs.Path(s"$path/positions")
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = leafParquetFiles(fs, dest)
    rows.write.mode("append").partitionBy("tb").parquet(dest.toString)
    val added = (leafParquetFiles(fs, dest) -- before).toSeq
    // metadata-only count (parquet row-group counts), no column decode
    if (added.isEmpty) 0L else spark.read.parquet(added: _*).count()
  }

  /** All committed parquet leaf files under `dir` (recursive across
    * `tb=` partition dirs) — the before/after set difference that lets
    * [[appendPositions]] count what one append produced without
    * re-evaluating its input.
    */
  private def leafParquetFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Set[String] = {
    if (!fs.exists(dir)) return Set.empty
    val it = fs.listFiles(dir, true)
    val b = Set.newBuilder[String]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        b += st.getPath.toString
    }
    b.result()
  }

  /** Exact phrase retrieval over the positional layout: documents
    * containing `phrase` as CONSECUTIVE tokens, with the occurrence
    * count. Each phrase slot i anchors at (doc, pos − i); an n-term
    * phrase is n−1 equi-joins on (doc_id, anchor) — all inputs
    * partition-pruned to the phrase's term buckets, join keys
    * posting-scale, never corpus-scale. Duplicate terms in the phrase
    * are handled naturally (each slot filters independently).
    */
  def phraseDocs(
      spark: SparkSession, path: String, phrase: Seq[String],
      termBuckets: Int = 64): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val tbs = bucketsFor(spark, phrase.distinct, termBuckets)
    val pruned = spark.read.parquet(s"$path/positions")
      .filter(col("tb").isin(tbs: _*) &&
        col("term").isin(phrase.distinct: _*))
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      pruned.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("anchor"))
    }
    slots.reduce((a, b) => a.join(b, Seq("doc_id", "anchor")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Conjunctive (AND) retrieval over the BM25 postings: documents
    * containing EVERY query term, with the summed term frequency —
    * the boolean-retrieval face beside the ranked one. One pruned
    * scan, one per-doc aggregate; `distinct-term count = |terms|`
    * is the containment test (postings are (doc, term)-unique).
    */
  def conjunctiveDocs(
      spark: SparkSession, path: String, terms: Seq[String],
      termBuckets: Int = 64): DataFrame = {
    require(terms.nonEmpty, "at least one query term required")
    require(terms.toSet.size == terms.size, s"duplicate query terms: $terms")
    val tbs = bucketsFor(spark, terms, termBuckets)
    spark.read.parquet(s"$path/postings")
      .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("_nt"), sum("tf").as("tf_total"))
      .filter(col("_nt") === terms.size)
      .select(col("doc_id"), col("tf_total"))
  }

  /** The bucket a term routes to — evaluated through Spark's own
    * `hash` expression (one driver-local row; the probe's pruning
    * predicate must use the exact build-time hash).
    */
  private def bucketsFor(
      spark: SparkSession, terms: Seq[String], termBuckets: Int): Seq[Int] = {
    import spark.implicits._
    terms.toDF("term")
      .select(pmod(hash(col("term")), lit(termBuckets)).as("tb"))
      .distinct().as[Int].collect().toSeq
  }

  /** Number of term buckets the layout was built with (from the
    * postings directory names — `tb=K`).
    */
  def termBucketsOf(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$path/postings")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("tb="))
    require(dirs.nonEmpty, s"no postings partitions under $path")
    dirs.map(_.stripPrefix("tb=").toInt).max + 1
  }

  /** (doc_id, bm25) for every document containing ≥1 query term —
    * row-identical to [[graft.operators.Bm25.score]] on the corpus the
    * index was built from, but reading only the query terms' buckets.
    */
  def bm25Indexed(
      spark: SparkSession, path: String, terms: Seq[String],
      termBuckets: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "at least one query term required")
    require(terms.toSet.size == terms.size, s"duplicate query terms: $terms")
    val tbs = bucketsFor(spark, terms, termBuckets)
    val cand = spark.read.parquet(s"$path/postings")
      .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
    // df per term from the pruned scan itself; ≤ |terms| rows
    val dfs = cand.groupBy("term").agg(count(lit(1)).as("_df"))
    val stats = spark.read.parquet(s"$path/_stats")
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("_df").cast("double") + lit(0.5)) /
        (col("_df").cast("double") + lit(0.5)))
    val contrib = idf * tf * lit(k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("dl").cast("double") / col("avgdl")))
    cand
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), contrib.as("_c"))
      .groupBy("doc_id")
      .agg(sum(col("_c")).as("bm25"))
  }
}
