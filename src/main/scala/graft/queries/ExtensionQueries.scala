package graft.queries

import graft.Tables
import graft.ingest.AnnIndex
import graft.operators.{ConnectedComponents, Decontamination, Dedup, Dsir, GraphMetrics, IncrementalDedup, Multimodal, Packing, QualityClassifier, Similarity, TextAnalysis}
import graft.streaming.EventWindows
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators over the driver testdata (the extension
  * surface BASELINE.json mandates): dedup family, similarity search,
  * text analysis, multimodal plumbing, event windows. Oracle SQL given
  * wherever DuckDB can state the same semantics; hash-based approximate
  * ops (minhash/simhash/ANN) are rows-only by design.
  */
object DedupQueries extends QueryGroup {

  /** Exact dedup via 256-bit content-hash groupBy. */
  val exact: QueryDef = QueryDef(
    "dedup_exact",
    (s, dir) =>
      Dedup.exact(Tables(s, dir).documents, "text", "doc_id")
        .select("doc_id", "dup_count")
        .orderBy("doc_id"),
    Some(
      "SELECT min(doc_id) AS doc_id, count(*) AS dup_count FROM documents " +
        "GROUP BY text ORDER BY doc_id"))

  /** Brute-force word-set Jaccard near-dup pairs (oracle-checkable
    * baseline the LSH path approximates). Gated on the shuffle-based
    * size-pruned token join — fully distributed; the broadcast-block
    * kernel remains as the small-corpus variant (spec-equal).
    */
  val ngramJaccard: QueryDef = QueryDef(
    "dedup_ngram_jaccard",
    (s, dir) =>
      Dedup.ngramJaccardPairs(Tables(s, dir).documents, "text", "doc_id", 0.95)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
    Some(
      """WITH t AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM t a JOIN t b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
        |FROM c JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95 ORDER BY id_a, id_b""".stripMargin))

  /** MinHash+LSH near-dups on 3-gram shingles, exact-verified. LSH is a
    * candidate pruner, so no SQL oracle — rows-only check; the unit spec
    * asserts recall against the brute-force baseline.
    */
  val minhashLsh: QueryDef = QueryDef(
    "dedup_minhash_lsh",
    (s, dir) =>
      Dedup.minhashNearDups(Tables(s, dir).documents, "text", "doc_id",
          threshold = 0.5, numHashes = 64, bands = 32)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
    None)

  /** SimHash near-dups (hamming ≤ 3 via pigeonhole banding) — the
    * shuffle-based path; the broadcast-block kernel remains as the
    * small-corpus variant (spec-equal).
    */
  val simhash: QueryDef = QueryDef(
    "dedup_simhash",
    (s, dir) =>
      Dedup.simhashNearDups(Tables(s, dir).documents, "text", "doc_id", 3)
        .orderBy("id_a", "id_b"),
    None)

  /** Embedding-cosine near-dup pairs; exact, so oracle-checkable. Gated
    * on the distributed block self-join — no driver-side corpus; the
    * broadcast-block kernel remains as the small-corpus variant.
    */
  val embeddingCosine: QueryDef = QueryDef(
    "dedup_embedding_cosine",
    (s, dir) =>
      Similarity.cosinePairsBlockJoin(Tables(s, dir).embeddings, "vec_id", "embedding", 0.4)
        .orderBy("id_a", "id_b"),
    Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin))

  /** Dup → survivor remap table (what a pipeline applies after dedup):
    * every non-surviving id with its group's min id. Gated on the
    * word-set-normalized key — the testdata has no byte-exact dups at
    * sf0.01, but 54 order/whitespace-shuffled copies, so this key keeps
    * the oracle check non-vacuous AND is the more useful dedup in
    * practice.
    */
  val remap: QueryDef = QueryDef(
    "dedup_remap",
    (s, dir) =>
      Dedup.remapByKey(Tables(s, dir).documents,
          Dedup.normalizedSetKey("text"), "doc_id")
        .orderBy("doc_id"),
    Some(
      """WITH k AS (SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), ' ') AS key
        |FROM documents),
        |m AS (SELECT key, min(doc_id) AS survivor FROM k GROUP BY key)
        |SELECT k.doc_id, m.survivor FROM k JOIN m USING (key)
        |WHERE k.doc_id <> m.survivor ORDER BY k.doc_id""".stripMargin))

  /** Priority survivor selection: same normalized-set groups as
    * [[remap]], but the LONGEST copy survives (ties → lower id) — the
    * keep-the-best-duplicate policy production dedup uses.
    */
  val remapPriority: QueryDef = QueryDef(
    "dedup_remap_priority",
    (s, dir) =>
      Dedup.remapByKeyPriority(Tables(s, dir).documents,
          Dedup.normalizedSetKey("text"), "doc_id", col("n_chars"))
        .orderBy("doc_id"),
    Some(
      """WITH k AS (SELECT doc_id, n_chars,
        |  array_to_string(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), ' ') AS key
        |FROM documents),
        |m AS (SELECT key, first(doc_id ORDER BY n_chars DESC, doc_id) AS survivor
        |      FROM k GROUP BY key)
        |SELECT k.doc_id, m.survivor FROM k JOIN m USING (key)
        |WHERE k.doc_id <> m.survivor ORDER BY k.doc_id""".stripMargin))

  /** Exact shared-span pairs (verbatim 5-token windows, boilerplate
    * guard at df ≤ 100) — the copy-paste signal, full oracle.
    */
  val sharedSpans: QueryDef = QueryDef(
    "dedup_shared_spans",
    (s, dir) =>
      Dedup.sharedSpanPairs(Tables(s, dir).documents, "text", "doc_id",
          spanTokens = 5, minSpans = 1, maxSpanDf = 100)
        .orderBy("id_a", "id_b"),
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
        |   ELSE list_transform(range(1, len(ws) - 3), i -> array_to_string(list_slice(ws, i, i + 4), ' ')) END)) AS s FROM w),
        |d AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        |keep AS (SELECT sh.doc_id, sh.s FROM sh JOIN d USING (s) WHERE d.df BETWEEN 2 AND 100)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_spans
        |FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin))

  /** Maximal repeated spans ([[graft.operators.RepeatedSpans.spans]],
    * the Lee et al. 2022 ExactSubstr shape): token intervals covered
    * by corpus-duplicated 8-grams, overlapping hits merged per doc —
    * where [[sharedSpans]] counts window PAIRS, this reports the
    * merged REGIONS a span-removal pass would cut. md5 gram keys, so
    * the oracle replays identity exactly.
    */
  val repeatedSpansGate: QueryDef = QueryDef(
    "dedup_repeated_spans",
    (s, dir) =>
      graft.operators.RepeatedSpans.spans(
          Tables(s, dir).documents, "text", "doc_id", n = 8)
        .orderBy("doc_id", "start"),
    Some(
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '')
        |      AS ws FROM documents),
        |g AS (SELECT doc_id, i AS idx,
        |    md5(array_to_string(ws[i+1:i+8], ' ')) AS gram
        |  FROM d, unnest(range(0, greatest(len(ws) - 7, 0))) AS u(i)),
        |f AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |h AS (SELECT doc_id, idx, idx + 7 AS e FROM g JOIN f USING (gram)),
        |m AS (SELECT doc_id, idx, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |  FROM h),
        |sx AS (SELECT doc_id, idx, e,
        |    sum(CASE WHEN pe IS NULL OR idx > pe + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY idx) AS grp
        |  FROM m)
        |SELECT doc_id, min(idx)::BIGINT AS start, max(e)::BIGINT AS "end",
        |  count(*)::BIGINT AS n_hits
        |FROM sx GROUP BY doc_id, grp ORDER BY doc_id, start""".stripMargin))

  /** Canonical-survivor span removal ([[graft.operators.RepeatedSpans
    * .removeRepeated]]): every duplicated 8-gram keeps ONLY its
    * (doc, idx)-minimum occurrence; all other covered tokens are cut
    * and the text reassembled — exactly one copy of every duplicated
    * region survives corpus-wide. The oracle rebuilds the cleaned
    * strings token-by-token, so the hash locks the reconstruction,
    * not just the counts.
    */
  val repeatedSpanRemoval: QueryDef = QueryDef(
    "dedup_repeated_span_removal",
    (s, dir) =>
      graft.operators.RepeatedSpans.removeRepeated(
          Tables(s, dir).documents, "text", "doc_id", n = 8)
        .orderBy("doc_id"),
    Some(
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '')
        |      AS ws FROM documents),
        |g AS (SELECT doc_id, i AS idx,
        |    md5(array_to_string(ws[i+1:i+8], ' ')) AS gram
        |  FROM d, unnest(range(0, greatest(len(ws) - 7, 0))) AS u(i)),
        |x AS (SELECT doc_id, idx,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, idx)
        |      AS rn,
        |    count(*) OVER (PARTITION BY gram) AS df
        |  FROM g),
        |rem AS (SELECT DISTINCT doc_id, idx + k AS tok_idx
        |  FROM x, unnest(range(0, 8)) AS r(k)
        |  WHERE df >= 2 AND rn > 1),
        |tok AS (SELECT doc_id, i AS tok_idx, ws[i+1] AS tok
        |  FROM d, unnest(range(0, len(ws))) AS t(i)),
        |tot AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        |kept AS (SELECT t.doc_id,
        |    string_agg(t.tok, ' ' ORDER BY t.tok_idx) AS cleaned,
        |    count(*) AS n_kept
        |  FROM tok t LEFT JOIN rem r
        |    ON t.doc_id = r.doc_id AND t.tok_idx = r.tok_idx
        |  WHERE r.doc_id IS NULL GROUP BY t.doc_id)
        |SELECT tot.doc_id, coalesce(k.cleaned, '') AS cleaned,
        |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
        |  (tot.n - coalesce(k.n_kept, 0))::BIGINT AS n_removed
        |FROM tot LEFT JOIN kept k ON tot.doc_id = k.doc_id
        |ORDER BY tot.doc_id""".stripMargin))

  /** Incremental cross-corpus dedup: odd doc_ids are the "new batch",
    * even doc_ids the existing corpus; keep the batch rows whose
    * normalized word-set key is unseen. Bloom-prefiltered on the Spark
    * side (exact semantics — the oracle is the plain set difference).
    */
  val incrementalNew: QueryDef = QueryDef(
    "dedup_incremental_new",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      IncrementalDedup.newAgainstCorpus(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          Dedup.normalizedSetKey("text"))
        .select("doc_id")
        .orderBy("doc_id")
    },
    Some(
      """WITH k AS (SELECT doc_id, array_to_string(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), ' ') AS key
        |FROM documents)
        |SELECT i.doc_id FROM k i WHERE i.doc_id % 2 = 1 AND NOT EXISTS (
        |  SELECT 1 FROM k c WHERE c.doc_id % 2 = 0 AND c.key = i.key)
        |ORDER BY doc_id""".stripMargin))

  /** Sub-document dedup at aligned 8-token blocks: later occurrences of
    * a repeated block are cut, docs reassembled — full oracle (DuckDB
    * reproduces block grid, first-occurrence window, reassembly).
    */
  val tokenBlocks: QueryDef = QueryDef(
    "dedup_token_blocks",
    (s, dir) =>
      Dedup.dedupTokenBlocks(Tables(s, dir).documents, "text", "doc_id",
          blockTokens = 8)
        .orderBy("doc_id"),
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |n AS (SELECT doc_id, ws, greatest(1, CAST(ceil(len(ws)*1.0/8) AS BIGINT)) AS nb FROM w),
        |x AS (SELECT doc_id, ws, unnest(range(0, nb)) AS idx FROM n),
        |b AS (SELECT doc_id, idx, array_to_string(list_slice(ws, idx*8+1, idx*8+8), ' ') AS block FROM x),
        |r AS (SELECT doc_id, idx, block, row_number() OVER (PARTITION BY block ORDER BY doc_id, idx) AS rn FROM b)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN block END, ' ' ORDER BY idx), '') AS text,
        |  count(*) FILTER (WHERE rn > 1) AS n_dropped
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Boilerplate block removal (C4's "discard any line occurring three
    * or more times" rule at the aligned 8-token-block grid): every
    * occurrence of a corpus-frequent block is cut — distinct from
    * [[tokenBlocks]]' first-survivor rule. Full oracle: DuckDB rebuilds
    * the block grid, counts frequencies, drops hot blocks everywhere.
    */
  val boilerplate: QueryDef = QueryDef(
    "dedup_boilerplate",
    (s, dir) =>
      Dedup.removeBoilerplateBlocks(Tables(s, dir).documents, "text",
          "doc_id", blockTokens = 8, minDf = 3L)
        .orderBy("doc_id"),
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |n AS (SELECT doc_id, ws, greatest(1, CAST(ceil(len(ws)*1.0/8) AS BIGINT)) AS nb FROM w),
        |x AS (SELECT doc_id, ws, unnest(range(0, nb)) AS idx FROM n),
        |b AS (SELECT doc_id, idx, array_to_string(list_slice(ws, idx*8+1, idx*8+8), ' ') AS block FROM x),
        |f AS (SELECT block, count(*) AS df FROM b GROUP BY block),
        |r AS (SELECT doc_id, idx, block, df FROM b JOIN f USING (block))
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN df < 3 THEN block END, ' ' ORDER BY idx), '') AS text,
        |  count(*) FILTER (WHERE df >= 3) AS n_dropped
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** SemDeDup: within-cluster pairwise-cosine pruning over the
    * embedding corpus (cluster = the dataset's cell label here; in the
    * full pipeline [[graft.operators.Similarity.centroidAssign]] or an
    * IVF cell feeds the same operator). Full oracle — the drop rule
    * (some lower id in the cell with 6-dp cosine ≥ t) is one SQL join.
    * Threshold 0.35 sits ≥ 4.7e-4 from every actual pair cosine at
    * sf0.01, orders above the 6-dp round — no float flips.
    */
  val semantic: QueryDef = QueryDef(
    "dedup_semantic",
    (s, dir) =>
      Similarity.semanticDedup(Tables(s, dir).embeddings,
          "vec_id", "embedding", "label", threshold = 0.35)
        .orderBy("vec_id"),
    Some(
      """WITH e AS (SELECT vec_id, CAST(label AS INT) AS cluster,
        |             CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |d AS (SELECT a.vec_id AS id, min(b.vec_id) AS dup_of
        |      FROM e a JOIN e b
        |        ON a.cluster = b.cluster AND b.vec_id < a.vec_id
        |      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35
        |      GROUP BY a.vec_id)
        |SELECT e.vec_id, e.cluster, d.id IS NULL AS keep, d.dup_of,
        |  CASE WHEN d.id IS NULL THEN NULL
        |       ELSE round(list_cosine_similarity(e.v, b.v), 6) END AS sim
        |FROM e LEFT JOIN d ON d.id = e.vec_id
        |       LEFT JOIN e b ON b.vec_id = d.dup_of
        |ORDER BY e.vec_id""".stripMargin))

  /** Directed shingle containment (subset-duplicate detection): src's
    * 3-gram shingle set ≥ 80% inside dst's — the asymmetric relation a
    * quote-farm / template-expansion dup needs (Jaccard dilutes it).
    * Full oracle: all-pairs shared-shingle counts over a self-join.
    */
  /** The full-corpus t=0.8 containment pair set — built once per corpus
    * dir and checkpointed (same pattern as the jaccard pair cache in
    * [[PipelineQueries]]). Containment is PAIRWISE (|sh(src)∩sh(dst)| /
    * |sh(src)| depends on the two docs alone), so any consumer that
    * needs the pairs among a SUBSET of docs can semi-join this list on
    * both endpoints instead of re-running the shingle join.
    */
  private val containmentCache =
    new graft.operators.LruCache[String, org.apache.spark.sql.DataFrame](8)

  private[queries] def containmentPairsFor(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    containmentCache.getOrElseUpdate(dir) {
      Dedup.containmentPairs(Tables(s, dir).documents, "text", "doc_id", 0.8)
        .localCheckpoint(true)
    }

  val containment: QueryDef = QueryDef(
    "dedup_containment",
    (s, dir) =>
      containmentPairsFor(s, dir)
        .orderBy("src", "dst"),
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |   ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(list_slice(ws, i, i + 2), ' ')) END) AS shs FROM w),
        |t AS (SELECT doc_id, unnest(shs) AS sng FROM sh),
        |n AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |i AS (SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS c
        |      FROM t a JOIN t b ON a.sng = b.sng AND a.doc_id <> b.doc_id
        |      GROUP BY 1, 2)
        |SELECT src, dst, round(c * 1.0 / n.n, 6) AS containment
        |FROM i JOIN n ON n.doc_id = i.src
        |WHERE c * 1.0 / n.n >= 0.8
        |ORDER BY src, dst""".stripMargin))

  /** Exact Levenshtein near-dup pairs over the distinct part-name
    * dictionary ([[graft.operators.EditDistance]]): q-gram count-filter
    * candidates + threshold-bounded verify, oracle = the naive
    * length-banded all-pairs join (identical result set by the filter's
    * soundness bound). Names span the operator's short AND long classes
    * (len 7–12 vs shortMax 8 at k=2, q=3), so both candidate paths are
    * under the hash.
    */
  val editDistance: QueryDef = QueryDef(
    "dedup_edit_distance",
    (s, dir) =>
      graft.operators.EditDistance.pairs(
        Tables(s, dir).part.groupBy(col("p_name"))
          .agg(min(col("p_partkey")).as("id")),
        "p_name", "id", maxDist = 2)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b"),
    Some(
      """WITH p AS (SELECT min(p_partkey) AS id, p_name AS s FROM part GROUP BY p_name)
        |SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.s, b.s) AS dist
        |FROM p a JOIN p b ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 2
        |WHERE levenshtein(a.s, b.s) <= 2 ORDER BY id_a, id_b""".stripMargin))

  /** Prefix-filtered edit-distance pairs ([[graft.operators
    * .EditDistance.pairsPrefix]], round 16): identical result to
    * [[editDistance]] by construction — candidates meet on their
    * `maxDist·q+1` globally-RAREST gram occurrences instead of every
    * shared gram, so frequent grams (shared formatting) never drive
    * the Σ|bucket|² candidate join that dominated the round-16
    * probe (PERF.md). Same oracle SQL as `dedup_edit_distance`: the
    * hash pins result-set equality between the two candidate plans.
    */
  val editDistancePrefix: QueryDef = QueryDef(
    "dedup_edit_distance_prefix",
    (s, dir) =>
      graft.operators.EditDistance.pairsPrefix(
        Tables(s, dir).part.groupBy(col("p_name"))
          .agg(min(col("p_partkey")).as("id")),
        "p_name", "id", maxDist = 2)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b"),
    editDistance.oracle)

  /** Entity-resolution scored pairs ([[graft.operators.EntityResolution
    * .scoredPairs]]): multi-pass blocking (2-char prefix OR suffix key)
    * → codegen'd Jaro–Winkler on the candidates → 6-dp-rounded
    * threshold. The oracle states the IDENTICAL blocking contract —
    * pairs disagreeing on both keys are unscored by design on both
    * engines, so the hash pins the blocking semantics, not just the
    * scorer.
    */
  val erPairs: QueryDef = QueryDef(
    "er_scored_pairs",
    (s, dir) =>
      graft.operators.EntityResolution.scoredPairs(
          Tables(s, dir).part.groupBy(col("p_name"))
            .agg(min(col("p_partkey")).as("id")),
          "p_name", "id", threshold = 0.9)
        .orderBy("id_a", "id_b"),
    Some(
      """WITH p AS (SELECT min(p_partkey) AS id, p_name AS s FROM part GROUP BY p_name),
        |k AS (SELECT id, s, unnest([substr(lower(s), 1, 2), 'sfx:' || right(lower(s), 2)]) AS bk FROM p),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b
        |         FROM k a JOIN k b ON a.bk = b.bk AND a.id < b.id)
        |SELECT id_a, id_b, round(jaro_winkler_similarity(s_a, s_b), 6) AS jw
        |FROM cand WHERE round(jaro_winkler_similarity(s_a, s_b), 6) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin))

  /** Full entity assignment ([[graft.operators.EntityResolution
    * .clusters]]): every dictionary row labelled with its transitive
    * cluster (min reachable id through the ≥0.9 match graph; singletons
    * keep their own id). Oracle = the same blocking+scoring feeding a
    * RECURSIVE CTE min-reachable-id, LEFT-joined back onto the full
    * dictionary — the total-assignment contract, not just the matched
    * subset.
    */
  val erClusters: QueryDef = QueryDef(
    "er_clusters",
    (s, dir) =>
      graft.operators.EntityResolution.clusters(
          Tables(s, dir).part.groupBy(col("p_name"))
            .agg(min(col("p_partkey")).as("id")),
          "p_name", "id", threshold = 0.9)
        .orderBy("id"),
    Some(
      """WITH RECURSIVE
        |p AS (SELECT min(p_partkey) AS id, p_name AS s FROM part GROUP BY p_name),
        |k AS (SELECT id, s, unnest([substr(lower(s), 1, 2), 'sfx:' || right(lower(s), 2)]) AS bk FROM p),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b
        |         FROM k a JOIN k b ON a.bk = b.bk AND a.id < b.id),
        |m AS (SELECT id_a, id_b FROM cand
        |      WHERE round(jaro_winkler_similarity(s_a, s_b), 6) >= 0.9),
        |e AS (SELECT id_a AS src, id_b AS dst FROM m UNION SELECT id_b, id_a FROM m),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |reach(node, r) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node),
        |lab AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
        |SELECT p.id, coalesce(lab.component, p.id) AS cluster
        |FROM p LEFT JOIN lab ON lab.node = p.id ORDER BY id""".stripMargin))

  /** Portable MinHash+LSH under the HARD oracle
    * ([[graft.operators.PortableSketches.minhashPairs]]): md5-derived
    * token hashes and hash family, banded candidates, exact-jaccard
    * verify — the oracle replays the ENTIRE pipeline (signatures,
    * band keys, candidate join, verify), so the S-curve approximation
    * itself is pinned, not just the final pair set. The xxhash-based
    * [[minhashLsh]] stays rows-only (Spark-internal hashes have no SQL
    * replay); this gate proves the LSH machinery.
    */
  val minhashExact: QueryDef = QueryDef(
    "dedup_minhash_exact",
    (s, dir) =>
      graft.operators.PortableSketches.minhashPairs(
          Tables(s, dir).documents, "text", "doc_id", 0.8)
        .orderBy("id_a", "id_b"),
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |tk AS (SELECT DISTINCT doc_id, unnest(list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |   ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(list_slice(ws, i, i + 2), ' ')) END)) AS w FROM w),
        |hx AS (SELECT doc_id, ('0x'||substr(md5(w),1,15))::BIGINT % 2147483647 AS x FROM tk),
        |fam AS (SELECT i, ('0x'||substr(md5('a'||i::VARCHAR),1,7))::BIGINT % 2147483646 + 1 AS a,
        |               ('0x'||substr(md5('b'||i::VARCHAR),1,7))::BIGINT % 2147483647 AS b
        |        FROM range(32) f(i)),
        |sg AS (SELECT doc_id, i, min((a * x + b) % 2147483647) AS mh
        |       FROM hx CROSS JOIN fam GROUP BY doc_id, i),
        |bd AS (SELECT doc_id, i // 4 AS band, string_agg(mh::VARCHAR, ':' ORDER BY i) AS key
        |       FROM sg GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bd a JOIN bd b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |ints AS (SELECT cd.id_a, cd.id_b, count(*) AS c
        |         FROM cand cd JOIN tk a ON a.doc_id = cd.id_a JOIN tk b ON b.doc_id = cd.id_b AND b.w = a.w
        |         GROUP BY cd.id_a, cd.id_b)
        |SELECT i.id_a, i.id_b, round(i.c * 1.0 / (sa.n + sb.n - i.c), 6) AS jaccard
        |FROM ints i JOIN sz sa ON sa.doc_id = i.id_a JOIN sz sb ON sb.doc_id = i.id_b
        |WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= 0.8 ORDER BY id_a, id_b""".stripMargin))

  /** Portable 60-bit SimHash under the HARD oracle
    * ([[graft.operators.PortableSketches.simhashPairs]]): md5-bit
    * signatures, pigeonhole-complete banding (4×15 bits ⇒ banded join
    * ≡ all-pairs at hamming ≤ 3), so unlike the xxhash-based rows-only
    * [[simhash]] gate the full pair set is value-checked — DuckDB
    * recomputes every signature bit from md5 and every distance from
    * bit_count(xor).
    */
  val simhashExact: QueryDef = QueryDef(
    "dedup_simhash_exact",
    (s, dir) =>
      graft.operators.PortableSketches.simhashPairs(
          Tables(s, dir).documents, "text", "doc_id", 3)
        .orderBy("id_a", "id_b"),
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents),
        |h AS (SELECT doc_id, ('0x'||substr(md5(w),1,15))::BIGINT AS h FROM tk),
        |b AS (SELECT doc_id, r, CASE WHEN ((h >> r) & 1) = 1 THEN 1 ELSE -1 END AS cc
        |      FROM h CROSS JOIN range(60) rr(r)),
        |s AS (SELECT doc_id, r, CASE WHEN sum(cc) > 0 THEN (1::BIGINT << r) ELSE 0::BIGINT END AS bitv
        |      FROM b GROUP BY doc_id, r),
        |sig AS (SELECT doc_id, sum(bitv)::BIGINT AS sig FROM s GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.sig, b.sig)) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3 ORDER BY id_a, id_b""".stripMargin))

  /** Skew-hardened ER pairs ([[graft.operators.EntityResolution
    * .scoredPairsCapped]]): no block may exceed maxBlock=6 rows — hot
    * keys are sub-blocked by the next 6 chars, still-hot extended keys
    * dropped by contract. On this dictionary every 8-row block crosses
    * the cap, so the oracle (which replays cap, sub-block extension,
    * and drop with the same window counts) is exercising the
    * mitigation, not an idle code path.
    */
  val erPairsCapped: QueryDef = QueryDef(
    "er_scored_pairs_capped",
    (s, dir) =>
      graft.operators.EntityResolution.scoredPairsCapped(
          Tables(s, dir).part.groupBy(col("p_name"))
            .agg(min(col("p_partkey")).as("id")),
          "p_name", "id", threshold = 0.9, maxBlock = 6)
        .orderBy("id_a", "id_b"),
    Some(
      """WITH p AS (SELECT min(p_partkey) AS id, p_name AS s FROM part GROUP BY p_name),
        |k1 AS (SELECT id, s, substr(lower(s), 1, 2) AS bk, substr(lower(s), 3, 6) AS ext FROM p),
        |k1e AS (SELECT id, s, CASE WHEN cnt <= 6 THEN bk ELSE bk || '#' || ext END AS bk
        |        FROM (SELECT *, count(*) OVER (PARTITION BY bk) AS cnt FROM k1)),
        |k1f AS (SELECT id, s, bk FROM (SELECT *, count(*) OVER (PARTITION BY bk) AS cnt FROM k1e) WHERE cnt <= 6),
        |k2 AS (SELECT id, s, 'sfx:' || right(lower(s), 2) AS bk, substr(right(lower(s), 8), 1, 6) AS ext FROM p),
        |k2e AS (SELECT id, s, CASE WHEN cnt <= 6 THEN bk ELSE bk || '#' || ext END AS bk
        |        FROM (SELECT *, count(*) OVER (PARTITION BY bk) AS cnt FROM k2)),
        |k2f AS (SELECT id, s, bk FROM (SELECT *, count(*) OVER (PARTITION BY bk) AS cnt FROM k2e) WHERE cnt <= 6),
        |k AS (SELECT * FROM k1f UNION ALL SELECT * FROM k2f),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS s_a, b.s AS s_b
        |         FROM k a JOIN k b ON a.bk = b.bk AND a.id < b.id)
        |SELECT id_a, id_b, round(jaro_winkler_similarity(s_a, s_b), 6) AS jw
        |FROM cand WHERE round(jaro_winkler_similarity(s_a, s_b), 6) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin))

  /** Absolute-overlap verify ([[Dedup.verifyOverlapCount]]) over a
    * deterministic candidate list (consecutive-id pairs): keeps pairs
    * sharing ≥ 25 distinct md5-h28 word hashes via the codegen'd
    * [[graft.expressions.SortedIntersectCount]] under the
    * [[graft.expressions.IntersectPrefilterRule]] optimizer rule
    * (derived `size >= 25` conjuncts short-circuit the merge walk —
    * plan-locked in IntersectPrefilterRuleSpec). The oracle replays
    * hashing, distinct-set intersection, and the threshold; 92/499
    * pairs survive at sf0.01, so the filter is non-vacuous both ways.
    */
  val overlapVerified: QueryDef = QueryDef(
    "dedup_overlap_verified",
    (s, dir) => {
      val d = Tables(s, dir).documents
      val cand = d.select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b"))
        .join(d.select(col("doc_id").as("id_b")), "id_b")
        .select("id_a", "id_b")
      Dedup.verifyOverlapCount(cand, d,
          split(lower(col("text")), "\\s+"), "doc_id", minOverlap = 25)
        .orderBy("id_a")
    },
    Some(
      """WITH w AS (SELECT doc_id,
        |    list_sort(list_distinct(list_transform(
        |      string_split_regex(lower(text), '\s+'),
        |      x -> ('0x' || substr(md5(x), 1, 7))::BIGINT))) AS hs
        |  FROM documents),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.hs, b.hs))::BIGINT AS overlap
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id + 1)
        |SELECT id_a, id_b, overlap FROM p WHERE overlap >= 25
        |ORDER BY id_a""".stripMargin))

  /** Dedup threshold sweep ([[graft.operators.Dedup.thresholdSweep]]):
    * the pair list is computed ONCE at the lowest threshold and the
    * per-threshold impact curve (pairs, touched docs) read off it —
    * how a pipeline picks its near-dup threshold without re-running
    * the join per setting. Zero-pair thresholds appear with zeros.
    */
  val thresholdSweepGate: QueryDef = QueryDef(
    "dedup_threshold_sweep",
    (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        Tables(s, dir).documents, "text", "doc_id", 0.8)
      Dedup.thresholdSweep(pairs, "jaccard", "id_a", "id_b",
          Seq(0.8, 0.85, 0.9, 0.95, 1.0))
        .orderBy("t")
    },
    Some(
      """WITH t AS (SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM t a JOIN t b ON a.w = b.w AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b, c * 1.0 / (sa.n + sb.n - c) AS j
        |      FROM c JOIN sz sa ON sa.doc_id = id_a
        |        JOIN sz sb ON sb.doc_id = id_b
        |      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
        |th AS (SELECT unnest([0.8, 0.85, 0.9, 0.95, 1.0])::DOUBLE AS t),
        |s AS (SELECT t, id_a, id_b FROM p JOIN th ON j >= t),
        |np AS (SELECT t, count(*) AS n_pairs FROM s GROUP BY t),
        |nd AS (SELECT t, count(DISTINCT d) AS n_docs FROM (
        |    SELECT t, id_a AS d FROM s
        |    UNION ALL SELECT t, id_b FROM s) GROUP BY t)
        |SELECT th.t, coalesce(n_pairs, 0)::BIGINT AS n_pairs,
        |  coalesce(n_docs, 0)::BIGINT AS n_docs
        |FROM th LEFT JOIN np ON th.t = np.t LEFT JOIN nd ON th.t = nd.t
        |ORDER BY th.t""".stripMargin))

  /** Cross-source overlap matrix ([[graft.operators.Dedup
    * .sourceOverlapMatrix]]): per unordered source pair, how many
    * near-dup pairs straddle it — the provenance report that decides
    * which of two substantially-duplicating crawls to drop. Runs off
    * the checkpointed t=0.95 pair list (shared with the components /
    * cascade gates); the corpus-scale label frame streams past a
    * broadcast of the pairs, so labels never shuffle.
    */
  val sourceOverlap: QueryDef = QueryDef(
    "dedup_source_overlap",
    (s, dir) =>
      Dedup.sourceOverlapMatrix(
          PipelineQueries.jaccardPairsFor(s, dir),
          Tables(s, dir).documents, "id_a", "id_b", "doc_id", "source")
        .orderBy("source_a", "source_b"),
    Some(
      """WITH t AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM t a JOIN t b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (SELECT id_a, id_b
        |       FROM c JOIN sz sa ON sa.doc_id = id_a
        |       JOIN sz sb ON sb.doc_id = id_b
        |       WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |lab AS (SELECT doc_id, source FROM documents)
        |SELECT least(la.source, lb.source) AS source_a,
        |  greatest(la.source, lb.source) AS source_b,
        |  count(*) AS n_pairs
        |FROM jp JOIN lab la ON la.doc_id = id_a
        |JOIN lab lb ON lb.doc_id = id_b
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin))

  def defs: Seq[QueryDef] =
    Seq(exact, remap, remapPriority, ngramJaccard, minhashLsh, simhash,
      embeddingCosine, sharedSpans, repeatedSpansGate, repeatedSpanRemoval,
      incrementalNew, tokenBlocks, boilerplate,
      semantic,
      containment, editDistance, editDistancePrefix,
      erPairs, erPairsCapped, erClusters,
      minhashExact, simhashExact, overlapVerified, thresholdSweepGate,
      sourceOverlap)
}

object SimilarityQueries extends QueryGroup {

  /** Brute-force top-10 for query vector 0 — the expected side of every
    * exact-equivalence ANN gate below as well as the baseline's own.
    */
  private def bruteForceTop10SqlFor(qid: Long): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v FROM e WHERE vec_id = $qid)
       |SELECT e.vec_id, round(list_cosine_similarity(e.v, q.v), 6) + 0 AS sim
       |FROM e, q WHERE e.vec_id <> $qid
       |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin

  private val bruteForceTop10Sql: String = bruteForceTop10SqlFor(0L)

  /** Exact brute-force cosine top-k — the ANN baseline. */
  val topK: QueryDef = QueryDef(
    "sim_topk_bruteforce",
    (s, dir) =>
      Similarity.topKCosine(Tables(s, dir).embeddings, "vec_id", "embedding",
        queryId = 0L, k = 10),
    Some(bruteForceTop10Sql))

  /** Batch exact top-k: many query vectors answered in ONE corpus pass
    * (broadcast queries → per-partition k-bounded lists → tiny merge).
    */
  val topKBatch: QueryDef = QueryDef(
    "sim_topk_batch",
    (s, dir) =>
      Similarity.topKCosineBatch(Tables(s, dir).embeddings, "vec_id", "embedding",
          queryIds = Seq(0L, 1L, 2L), k = 5)
        .orderBy(col("query_id"), col("sim").desc, col("vec_id")),
    Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
        |s AS (SELECT q.query_id, e.vec_id, round(list_cosine_similarity(e.v, q.qv), 6) + 0 AS sim
        |      FROM e, q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, vec_id, sim FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) <= 5
        |ORDER BY query_id, sim DESC, vec_id""".stripMargin))

  /** Hard-negative mining ([[graft.operators.Similarity
    * .hardNegativesBatch]]): per query, the top-5 most-similar vectors
    * with a DIFFERENT label — the contrastive-training examples a
    * retrieval model learns most from. Same broadcast-queries
    * partial-top-k kernel as `sim_topk_batch` with the label-mismatch
    * test inside the scan; the oracle replays cosine + label filter +
    * ranked window.
    */
  val hardNegatives: QueryDef = QueryDef(
    "sim_hard_negatives",
    (s, dir) =>
      Similarity.hardNegativesBatch(Tables(s, dir).embeddings, "vec_id",
          "embedding", "label", queryIds = Seq(0L, 1L, 2L), k = 5)
        .orderBy(col("query_id"), col("sim").desc, col("vec_id")),
    Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             label FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv, label AS qlbl
        |      FROM e WHERE vec_id IN (0, 1, 2)),
        |s AS (SELECT q.query_id, e.vec_id,
        |        CAST(e.label AS BIGINT) AS neg_label,
        |        round(list_cosine_similarity(e.v, q.qv), 6) + 0 AS sim
        |      FROM e, q
        |      WHERE e.vec_id <> q.query_id AND e.label <> q.qlbl)
        |SELECT query_id, vec_id, neg_label, sim FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |                           ORDER BY sim DESC, vec_id) <= 5
        |ORDER BY query_id, sim DESC, vec_id""".stripMargin))

  /** LSH-bucketed single-probe ANN against the PERSISTED index (the
    * 100 TB path: the bucket layout is written once at ingest; the probe
    * scans only its bucket's partition). Approximate — rows-only; the
    * unit spec checks equality with the in-memory probe and overlap
    * with the exact top-k.
    */
  val annLsh: QueryDef = QueryDef(
    "sim_ann_lsh",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = AnnIndex.lshIndexFor(emb, "vec_id", "embedding",
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"), dim = 64, numPlanes = 4)
      AnnIndex.lshTopK(s, idx, "vec_id", "embedding",
        AnnIndex.lookupVector(emb, "vec_id", "embedding", 0L),
        k = 10, excludeId = Some(0L))
    },
    None)

  /** IVF ANN against the PERSISTED inverted file (corpus partitioned by
    * coarse-quantizer cell at ingest; a probe prunes to its nProbes
    * cells). Approximate — rows-only; spec checks equality with the
    * in-memory probe and recall against exact top-k.
    */
  val annIvf: QueryDef = QueryDef(
    "sim_ann_ivf",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = AnnIndex.ivfIndexFor(emb, "vec_id", "embedding",
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"), numCentroids = 16)
      AnnIndex.ivfTopK(s, idx, "vec_id", "embedding",
        AnnIndex.lookupVector(emb, "vec_id", "embedding", 0L),
        k = 10, nProbes = 4, excludeId = Some(0L))
    },
    None)

  /** Multi-probe LSH against the persisted index: the query's bucket
    * plus every hamming-1 neighbour (planes the query sat close to) —
    * recall rises toward exact while the scan stays partition-pruned.
    * Approximate — rows-only; spec asserts recall ≥ single-probe.
    */
  val annLshMultiProbe: QueryDef = QueryDef(
    "sim_ann_lsh_multiprobe",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = AnnIndex.lshIndexFor(emb, "vec_id", "embedding",
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"), dim = 64, numPlanes = 4)
      AnnIndex.lshTopK(s, idx, "vec_id", "embedding",
        AnnIndex.lookupVector(emb, "vec_id", "embedding", 0L),
        k = 10, excludeId = Some(0L), maxHamming = 1)
    },
    None)

  /** Batch IVF probe: many query vectors answered from ONE pruned scan
    * of the union of their probed cells (broadcast fan-out + per-query
    * rank). Per-query results exactly equal the per-query probes
    * (AnnIndexSpec). Approximate — rows-only.
    */
  val annIvfBatch: QueryDef = QueryDef(
    "sim_ann_ivf_batch",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = AnnIndex.ivfIndexFor(emb, "vec_id", "embedding",
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"), numCentroids = 16)
      val queries = Seq(0L, 1L, 2L).map(q =>
        q -> AnnIndex.lookupVector(emb, "vec_id", "embedding", q))
      AnnIndex.ivfTopKBatch(s, idx, "vec_id", "embedding",
          queries, k = 5, nProbes = 4)
        .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
    },
    None)

  /** Exact-equivalence twin for the BATCH IVF probe: with nProbes =
    * numCentroids every query's probed union is the whole corpus, so
    * the batch fan-out (broadcast routes, shared pruned scan, per-query
    * window rank, self-exclusion) must reproduce the brute-force batch
    * top-k bit for bit — the same oracle as `sim_topk_batch`. The
    * pruned-probe batch gate above stays rows-only by design.
    */
  val annIvfBatchExact: QueryDef = QueryDef(
    "sim_ann_ivf_batch_exact",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = AnnIndex.ivfIndexFor(emb, "vec_id", "embedding",
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"), numCentroids = 16)
      val queries = Seq(0L, 1L, 2L).map(q =>
        q -> AnnIndex.lookupVector(emb, "vec_id", "embedding", q))
      AnnIndex.ivfTopKBatch(s, idx, "vec_id", "embedding",
          queries, k = 5, nProbes = 16)
        .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
    },
    Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
        |s AS (SELECT q.query_id, e.vec_id, round(list_cosine_similarity(e.v, q.qv), 6) + 0 AS sim
        |      FROM e, q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, vec_id, sim FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) <= 5
        |ORDER BY query_id, sim DESC, vec_id""".stripMargin))

  /** Exact-equivalence twin for the MULTI-PROBE LSH path on a probe
    * route of its own: query vector 7 (a different bucket walk than
    * the `sim_ann_lsh_exact` query-0 twin), maxHamming = numPlanes so
    * the hamming-neighbour enumeration visits every one of the 2^4
    * bucket directories — the enumeration machinery itself must
    * reassemble the exact brute-force top-k for ITS query.
    */
  val annLshMultiProbeExact: QueryDef = QueryDef(
    "sim_ann_lsh_multiprobe_exact",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = AnnIndex.lshIndexFor(emb, "vec_id", "embedding",
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"), dim = 64, numPlanes = 4)
      AnnIndex.lshTopK(s, idx, "vec_id", "embedding",
        AnnIndex.lookupVector(emb, "vec_id", "embedding", 7L),
        k = 10, excludeId = Some(7L), maxHamming = 4)
    },
    Some(bruteForceTop10SqlFor(7L)))

  /** Exact-equivalence gate for the persisted IVF probe: probing ALL
    * numCentroids cells must return exactly the brute-force top-k —
    * same rows, same 6-dp scores — because the probed union is the
    * whole corpus. Puts the IVF probe path (directory pruning, cell
    * routing, score expression) under the hard DuckDB oracle; the
    * pruned nProbes < numCentroids probes stay rows-only above.
    */
  val annIvfExact: QueryDef = QueryDef(
    "sim_ann_ivf_exact",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = AnnIndex.ivfIndexFor(emb, "vec_id", "embedding",
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"), numCentroids = 16)
      AnnIndex.ivfTopK(s, idx, "vec_id", "embedding",
        AnnIndex.lookupVector(emb, "vec_id", "embedding", 0L),
        k = 10, nProbes = 16, excludeId = Some(0L))
    },
    Some(bruteForceTop10Sql))

  /** Exact-equivalence gate for the persisted LSH probe: multi-probe
    * with maxHamming = numPlanes scans every one of the 2^numPlanes
    * bucket directories, so the result must equal brute-force top-k
    * exactly. Same hard-oracle rationale as [[annIvfExact]].
    */
  val annLshExact: QueryDef = QueryDef(
    "sim_ann_lsh_exact",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val idx = AnnIndex.lshIndexFor(emb, "vec_id", "embedding",
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"), dim = 64, numPlanes = 4)
      AnnIndex.lshTopK(s, idx, "vec_id", "embedding",
        AnnIndex.lookupVector(emb, "vec_id", "embedding", 0L),
        k = 10, excludeId = Some(0L), maxHamming = 4)
    },
    Some(bruteForceTop10Sql))

  /** Exact-equivalence gate for the IVF-PQ two-stage probe: probing all
    * cells with a shortlist wider than the corpus makes the quantized
    * ADC ordering irrelevant — the exact-cosine rerank sees every row,
    * so the answer must equal brute-force top-k bit for bit.
    */
  val annIvfPqExact: QueryDef = QueryDef(
    "sim_ann_ivf_pq_exact",
    (s, dir) => {
      import graft.ingest.PqIndex
      val emb = Tables(s, dir).embeddings
      val idx = PqIndex.pqIndexFor(emb, "vec_id", "embedding",
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"),
        numCentroids = 16, m = 8, ksub = 16)
      PqIndex.ivfPqTopK(s, idx, "vec_id", "embedding",
          AnnIndex.lookupVector(emb, "vec_id", "embedding", 0L),
          k = 10, nProbes = 16, excludeId = Some(0L),
          rerank = Some(emb), shortlist = 1000000)
        .orderBy(col("sim").desc, col("vec_id"))
    },
    Some(bruteForceTop10Sql))

  /** L2 normalization of the embedding column — full oracle (DuckDB
    * reproduces the element-wise divide + 6-dp round). The gate
    * flattens the unit vector to (vec_id, pos, val) scalar rows: the
    * driver's comparator sorts/hashes with pandas, which cannot order
    * or hash array-valued cells (r3 lesson — all three sim_* vector
    * gates errored on it). Dump is every 8TH position (pos 0,8,…,56):
    * still 8 real values per vector checked against the oracle, at an
    * eighth of the 320k-row full-flatten comparator cost — the
    * operator itself always computes all 64.
    */
  val normalize: QueryDef = QueryDef(
    "sim_normalize",
    (s, dir) =>
      Similarity.normalizeUnit(Tables(s, dir).embeddings, "embedding")
        .select(col("vec_id"), posexplode(col("unit")).as(Seq("pos", "val")))
        .filter(col("pos") % 8 === 0)
        // no orderBy: the driver's comparator row-sorts both sides
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("val")),
    Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e)
        |SELECT vec_id, idx - 1 AS pos,
        |  CASE WHEN nrm = 0 THEN 0.0 ELSE round(v[idx] / nrm, 6) + 0 END AS val
        |FROM n, unnest(range(1, 65, 8)) AS t(idx)
        |ORDER BY vec_id, pos""".stripMargin))

  /** Int8 scalar quantization of the embedding column under the FULL
    * oracle: the per-vector scale is a max (order-independent) and each
    * code is element-wise rounded double arithmetic DuckDB replays
    * exactly. Flattened + every-8th-position dump (see [[normalize]]).
    */
  val quantizeInt8: QueryDef = QueryDef(
    "sim_quantize_int8",
    (s, dir) =>
      Similarity.quantizeInt8(Tables(s, dir).embeddings, "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          posexplode(col("codes")).as(Seq("pos", "code")))
        .filter(col("pos") % 8 === 0)
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("code").cast("int").as("code"), col("scale")),
    Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS am FROM e)
        |SELECT vec_id, idx - 1 AS pos,
        |  CASE WHEN am = 0 THEN 0
        |       ELSE CAST(round(v[idx] * 127 / am, 0) AS INTEGER) END AS code,
        |  round(am, 6) AS scale
        |FROM s, unnest(range(1, 65, 8)) AS t(idx)
        |ORDER BY vec_id, pos""".stripMargin))

  /** Johnson–Lindenstrauss random projection 64 → 16 dims. The seeded
    * sign matrix is engine-internal (not reproducible in SQL) —
    * rows-only; SimilaritySpec asserts determinism + distance
    * preservation. Flattened to scalar rows (see [[normalize]]).
    */
  val randomProjection: QueryDef = QueryDef(
    "sim_random_projection",
    (s, dir) =>
      Similarity.randomProject(Tables(s, dir).embeddings, "vec_id",
          "embedding", outDim = 16)
        .select(col("vec_id"),
          posexplode(transform(col("projected"), x => round(x, 6)))
            .as(Seq("pos", "val")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("val")),
    None)

  /** JL projection under the HARD oracle
    * ([[graft.operators.Similarity.randomProjectPortable]]): md5-bit
    * sign matrix + floor-fixed-point integer accumulation, so DuckDB
    * recomputes every output cell exactly — the rows-only [[
    * randomProjection]] keeps the faster engine-internal hash; this
    * twin proves the projection machinery (same matrix shape, same
    * kernel structure). Scale constant 1/√16 = 0.25 exact.
    */
  val randomProjectionExact: QueryDef = QueryDef(
    "sim_random_projection_exact",
    (s, dir) =>
      Similarity.randomProjectPortable(Tables(s, dir).embeddings,
          "vec_id", "embedding", outDim = 16)
        .select(col("vec_id"), col("pos"),
          round(col("value"), 6).as("value"))
        .orderBy("vec_id", "pos"),
    Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS i,
        |             floor(unnest(v) * 1000000000)::BIGINT AS x FROM e),
        |m AS (SELECT j.j, i.i,
        |        CASE WHEN (('0x'||substr(md5('r'||j.j::VARCHAR||':'||i.i::VARCHAR),1,15))::BIGINT & 1) = 1
        |             THEN 1 ELSE -1 END AS s
        |      FROM range(16) j(j) CROSS JOIN range(64) i(i)),
        |p AS (SELECT vec_id, m.j AS pos, sum(m.s * x.x)::BIGINT AS acc
        |      FROM x JOIN m ON m.i = x.i GROUP BY 1, 2)
        |SELECT vec_id, pos, round(acc / 1000000000.0 * 0.25, 6) + 0 AS value
        |FROM p ORDER BY vec_id, pos""".stripMargin))

  /** Mean-pool vector aggregation (chunk→doc pooling / centroids) over
    * synthetic vec_id-modulus groups — full oracle (decimal-sum means,
    * dim fixed at 64 in the SQL). Centroids flattened to (grp, pos,
    * val) scalar rows (see [[normalize]]).
    */
  val meanPool: QueryDef = QueryDef(
    "sim_mean_pool",
    (s, dir) =>
      Similarity.meanPool(Tables(s, dir).embeddings,
          col("vec_id") % 50, "embedding")
        .withColumnRenamed("group", "grp")
        .select(col("grp"), posexplode(col("centroid")).as(Seq("pos", "val")))
        .select(col("grp"), col("pos").cast("long").as("pos"), col("val")),
    Some(
      """WITH e AS (SELECT vec_id % 50 AS grp, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT grp, idx, v[idx] AS val FROM e, unnest(range(1, 65)) AS t(idx)),
        |a AS (SELECT grp, idx,
        |  CAST(sum(CAST(val AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m
        |  FROM x GROUP BY 1, 2)
        |SELECT grp, idx - 1 AS pos, round(m, 6) + 0 AS val
        |FROM a ORDER BY grp, pos""".stripMargin))

  /** Nearest-centroid assignment (distributed k-means E-step with
    * per-label mean centroids): centroids from one (label, pos)
    * aggregate broadcast back, assignment scan-local — the corpus
    * never shuffles. Full oracle; safe against float noise because the
    * minimum best-vs-second-best distance gap in this data is ~8e-6,
    * orders above summation-order ulps.
    */
  val centroidAssign: QueryDef = QueryDef(
    "sim_centroid_assign",
    (s, dir) =>
      Similarity.centroidAssign(Tables(s, dir).embeddings,
          "vec_id", "embedding", "label")
        .orderBy("vec_id"),
    Some(
      """WITH x AS (SELECT vec_id, label, unnest(embedding)::DOUBLE AS val,
        |             generate_subscripts(embedding, 1) AS pos
        |           FROM embeddings),
        |comp AS (SELECT label AS clabel, pos, avg(val) AS c
        |         FROM x GROUP BY 1, 2),
        |d AS (SELECT x.vec_id, comp.clabel,
        |        sum((x.val - comp.c) * (x.val - comp.c)) AS dist2
        |      FROM x JOIN comp ON comp.pos = x.pos
        |      GROUP BY 1, 2)
        |SELECT vec_id, clabel AS assigned FROM (
        |  SELECT vec_id, clabel,
        |    row_number() OVER (PARTITION BY vec_id
        |                       ORDER BY dist2, clabel) AS rn
        |  FROM d) WHERE rn = 1 ORDER BY vec_id""".stripMargin))

  /** IVF-PQ two-stage probe: product-quantized ADC shortlist inside
    * the probed cells, exact cosine rerank over the shortlist
    * ([[graft.ingest.PqIndex]]). Rows-only by design (the shortlist is
    * quantizer-dependent); PqIndexSpec asserts the recall and the
    * exactness of reranked scores.
    */
  val annIvfPq: QueryDef = QueryDef(
    "sim_ann_ivf_pq",
    (s, dir) => {
      import graft.ingest.PqIndex
      val emb = Tables(s, dir).embeddings
      val idx = PqIndex.pqIndexFor(emb, "vec_id", "embedding",
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"),
        numCentroids = 16, m = 8, ksub = 16)
      PqIndex.ivfPqTopK(s, idx, "vec_id", "embedding",
          AnnIndex.lookupVector(emb, "vec_id", "embedding", 0L),
          k = 10, nProbes = 4, excludeId = Some(0L),
          rerank = Some(emb), shortlist = 100)
        .orderBy(col("sim").desc, col("vec_id"))
    },
    None)

  /** Two full Lloyd rounds from the label initialization — the k-means
    * TRAINING LOOP oracle-checked end to end (decimal-exact M-step,
    * broadcast E-step; assignment gaps ≥ 6e-6 on this data, so the
    * oracle's unordered float sums cannot flip a label).
    */
  val kmeansLloyd: QueryDef = QueryDef(
    "sim_kmeans_lloyd",
    (s, dir) =>
      Similarity.lloydIterate(Tables(s, dir).embeddings,
          "vec_id", "embedding", "label", iters = 2)
        .orderBy("vec_id"),
    Some(
      """WITH e AS (SELECT vec_id, CAST(label AS INT) AS a0, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, a0, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM e),
        |c1 AS (SELECT a0 AS cl, pos, CAST(sum(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS c
        |       FROM x GROUP BY 1, 2),
        |d1 AS (SELECT x.vec_id, c1.cl, sum((x.val - c1.c) * (x.val - c1.c)) AS d2
        |       FROM x JOIN c1 ON c1.pos = x.pos GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cl AS a1 FROM (
        |         SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
        |         FROM d1) WHERE rn = 1),
        |x2 AS (SELECT x.vec_id, a1.a1, x.pos, x.val FROM x JOIN a1 USING (vec_id)),
        |c2 AS (SELECT a1 AS cl, pos, CAST(sum(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS c
        |       FROM x2 GROUP BY 1, 2),
        |d2_ AS (SELECT x2.vec_id, c2.cl, sum((x2.val - c2.c) * (x2.val - c2.c)) AS d2
        |        FROM x2 JOIN c2 ON c2.pos = x2.pos GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, cl AS assigned FROM (
        |         SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
        |         FROM d2_) WHERE rn = 1)
        |SELECT vec_id, assigned FROM a2 ORDER BY vec_id""".stripMargin))

  /** Hybrid BM25 + cosine retrieval fused by reciprocal rank
    * ([[graft.operators.HybridSearch]]) — both candidate pools, both
    * rank assignments, the fusion join, and the final top-k replayed in
    * SQL, so the whole retrieval pipeline (not just its scoring
    * kernels) is under the hard oracle.
    */
  val hybridRrf: QueryDef = QueryDef(
    "sim_hybrid_rrf",
    (s, dir) =>
      graft.operators.HybridSearch.rrfFusion(
        Tables(s, dir).documents, Tables(s, dir).embeddings,
        "text", "doc_id", Seq("spark", "vector", "customer"),
        "vec_id", "embedding", queryVecId = 0L, k = 20),
    Some(
      """WITH pd AS (
        |  SELECT doc_id, len(ws) AS dl,
        |    len(list_filter(ws, w -> w = 'spark')) AS tf0,
        |    len(list_filter(ws, w -> w = 'vector')) AS tf1,
        |    len(list_filter(ws, w -> w = 'customer')) AS tf2
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS ws
        |        FROM documents)),
        |st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
        |       FROM pd),
        |scored AS (SELECT doc_id, round(
        |    (CASE WHEN tf0 > 0 THEN ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |      * tf0::DOUBLE * (1.2 + 1.0) / (tf0::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf1 > 0 THEN ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |      * tf1::DOUBLE * (1.2 + 1.0) / (tf1::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf2 > 0 THEN ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |      * tf2::DOUBLE * (1.2 + 1.0) / (tf2::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END),
        |  4) AS bm25r
        |  FROM pd CROSS JOIN st
        |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0),
        |lexpool AS (SELECT doc_id, bm25r FROM scored
        |            ORDER BY bm25r DESC, doc_id LIMIT 100),
        |lex AS (SELECT doc_id,
        |          row_number() OVER (ORDER BY bm25r DESC, doc_id) AS lex_rank
        |        FROM lexpool),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |vpool AS (SELECT vec_id, round(list_cosine_similarity(e.v, q.qv), 6) + 0 AS sim
        |          FROM e, q WHERE e.vec_id <> 0
        |          ORDER BY sim DESC, vec_id LIMIT 100),
        |vec AS (SELECT vec_id,
        |          row_number() OVER (ORDER BY sim DESC, vec_id) AS vec_rank
        |        FROM vpool),
        |f AS (SELECT coalesce(l.doc_id, v.vec_id) AS doc_id,
        |        coalesce(CAST(1 AS DOUBLE) / (60 + lex_rank), 0)
        |          + coalesce(CAST(1 AS DOUBLE) / (60 + vec_rank), 0) AS rrf,
        |        lex_rank, vec_rank
        |      FROM lex l FULL JOIN vec v ON l.doc_id = v.vec_id)
        |SELECT doc_id, round(rrf, 6) AS rrf, lex_rank, vec_rank
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin))

  /** [[graft.operators.HybridSearch.rrfFusionIndexed]]: the SAME
    * fused retrieval as `sim_hybrid_rrf` but served ENTIRELY from
    * persisted layouts — BM25 pool from the term-bucket postings
    * ([[graft.ingest.TextIndex]]), cosine pool from the IVF index
    * probing ALL cells (probe-all = exact) — under the SAME oracle:
    * the production stack must return byte-identical results to the
    * in-plan composition while touching index-probe bytes, not the
    * corpus.
    */
  /** [[graft.operators.HybridSearch.rrfFusionTxPinned]]: the fused
    * retrieval stack served from ONE transactional snapshot — BM25
    * postings+moments AND IVF cells pinned to the same
    * [[graft.sources.TxTable]] version, with a `deleteWhere` BETWEEN
    * build and probe: deleted docs must vanish from BOTH pools (idxdv
    * masks, BM25 moments decrement) and every survivor's lexical score
    * must re-weight by the live-corpus stats. The version is resolved
    * once and handed to both probes, so the corpus/index skew the
    * standalone layouts allow is structurally impossible. Full oracle:
    * both pools, both rank windows, and the fusion replayed over the
    * survivor set.
    */
  val hybridTxPinned: QueryDef = QueryDef(
    "sim_hybrid_txpinned",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val emb = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val corpus = docs.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-hybpin-").toString
      // corpus + both pinned indexes in ONE v0 commit (createIndexed,
      // round 17): equivalent by construction to the create →
      // buildBm25Index → buildIvfIndex chain this replaces, minus two
      // commits and two corpus re-reads; the deleteWhere BETWEEN build
      // and probe — the semantics this gate exists to pin — stays its
      // own commit
      graft.sources.TxTable.createIndexed(corpus, root, Seq(
        graft.sources.TxTable.Bm25IndexBuild("lex", "doc_id", "text"),
        graft.sources.TxTable.IvfIndexBuild("vec", "doc_id",
          "embedding", numCentroids = 16)))
      graft.sources.TxTable.deleteWhere(s, root, col("doc_id") % 9 === 4)
      val qv = graft.ingest.AnnIndex.lookupVector(
        Tables(s, dir).embeddings, "vec_id", "embedding", 0L)
      graft.operators.HybridSearch.rrfFusionTxPinned(s, root, "lex", "vec",
        Seq("spark", "vector", "customer"), qv, excludeId = 0L, k = 20,
        nProbes = 16)
    },
    Some(
      """WITH pd AS (
        |  SELECT doc_id, len(ws) AS dl,
        |    len(list_filter(ws, w -> w = 'spark')) AS tf0,
        |    len(list_filter(ws, w -> w = 'vector')) AS tf1,
        |    len(list_filter(ws, w -> w = 'customer')) AS tf2
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS ws
        |        FROM documents
        |        WHERE doc_id IN (SELECT vec_id FROM embeddings)
        |          AND doc_id % 9 <> 4)),
        |st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
        |       FROM pd),
        |scored AS (SELECT doc_id, round(
        |    (CASE WHEN tf0 > 0 THEN ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |      * tf0::DOUBLE * (1.2 + 1.0) / (tf0::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf1 > 0 THEN ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |      * tf1::DOUBLE * (1.2 + 1.0) / (tf1::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf2 > 0 THEN ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |      * tf2::DOUBLE * (1.2 + 1.0) / (tf2::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END),
        |  4) AS bm25r
        |  FROM pd CROSS JOIN st
        |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0),
        |lexpool AS (SELECT doc_id, bm25r FROM scored
        |            ORDER BY bm25r DESC, doc_id LIMIT 100),
        |lex AS (SELECT doc_id,
        |          row_number() OVER (ORDER BY bm25r DESC, doc_id) AS lex_rank
        |        FROM lexpool),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id % 9 <> 4),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |      WHERE vec_id = 0),
        |vpool AS (SELECT vec_id, round(list_cosine_similarity(e.v, q.qv), 6) + 0 AS sim
        |          FROM e, q WHERE e.vec_id <> 0
        |          ORDER BY sim DESC, vec_id LIMIT 100),
        |vec AS (SELECT vec_id,
        |          row_number() OVER (ORDER BY sim DESC, vec_id) AS vec_rank
        |        FROM vpool),
        |f AS (SELECT coalesce(l.doc_id, v.vec_id) AS doc_id,
        |        coalesce(CAST(1 AS DOUBLE) / (60 + lex_rank), 0)
        |          + coalesce(CAST(1 AS DOUBLE) / (60 + vec_rank), 0) AS rrf,
        |        lex_rank, vec_rank
        |      FROM lex l FULL JOIN vec v ON l.doc_id = v.vec_id)
        |SELECT doc_id, round(rrf, 6) AS rrf, lex_rank, vec_rank
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin))

  val hybridIndexed: QueryDef = QueryDef(
    "sim_hybrid_indexed",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val textIdx = TextQueries.bm25IndexFor(s, dir)
      val annIdx = graft.ingest.AnnIndex.ivfIndexFor(
        emb, "vec_id", "embedding", tag, numCentroids = 16)
      graft.operators.HybridSearch.rrfFusionIndexed(
        s, textIdx, annIdx,
        Seq("spark", "vector", "customer"),
        graft.ingest.AnnIndex.lookupVector(emb, "vec_id", "embedding", 0L),
        excludeId = 0L, k = 20, nProbes = 16)
    },
    hybridRrf.oracle)

  /** External clustering evaluation
    * ([[graft.operators.Similarity.clusterAgreement]]): NMI between the
    * nearest-centroid assignment and the true labels — 294/500 vectors
    * land nearer another label's centroid at sf0.01, so the metric is
    * far from its trivial fixed points. The oracle replays assignment,
    * contingency, entropies, and the fusion.
    */
  val clusterNmi: QueryDef = QueryDef(
    "sim_cluster_nmi",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      Similarity.clusterAgreement(
        Similarity.centroidAssign(emb, "vec_id", "embedding", "label"),
        "vec_id", "assigned", emb.select(col("vec_id"), col("label")), "label")
    },
    Some(
      """WITH x AS (SELECT vec_id, label, unnest(embedding)::DOUBLE AS val,
        |             generate_subscripts(embedding, 1) AS pos
        |           FROM embeddings),
        |comp AS (SELECT label AS clabel, pos, avg(val) AS c
        |         FROM x GROUP BY 1, 2),
        |d AS (SELECT x.vec_id, comp.clabel,
        |        sum((x.val - comp.c) * (x.val - comp.c)) AS dist2
        |      FROM x JOIN comp ON comp.pos = x.pos
        |      GROUP BY 1, 2),
        |a AS (SELECT vec_id, clabel AS assigned FROM (
        |  SELECT vec_id, clabel,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, clabel) AS rn
        |  FROM d) WHERE rn = 1),
        |j AS (SELECT a.assigned::VARCHAR AS c, e.label::VARCHAR AS l
        |      FROM a JOIN embeddings e ON e.vec_id = a.vec_id),
        |cells AS (SELECT c, l, count(*) AS nlc FROM j GROUP BY 1, 2),
        |nt AS (SELECT sum(nlc) AS n FROM cells),
        |cm AS (SELECT c, sum(nlc) AS nc FROM cells GROUP BY c),
        |lm AS (SELECT l, sum(nlc) AS nl FROM cells GROUP BY l),
        |mi AS (SELECT sum((nlc * 1.0 / n) * ln(n * nlc * 1.0 / (nc * nl))) AS mi
        |       FROM cells JOIN cm USING (c) JOIN lm USING (l) CROSS JOIN nt),
        |hc AS (SELECT -sum((nc * 1.0 / n) * ln(nc * 1.0 / n)) AS h_cluster FROM cm CROSS JOIN nt),
        |hl AS (SELECT -sum((nl * 1.0 / n) * ln(nl * 1.0 / n)) AS h_label FROM lm CROSS JOIN nt),
        |pc AS (SELECT sum(nlc * (nlc - 1) // 2) AS sc FROM cells),
        |pa AS (SELECT sum(nc * (nc - 1) // 2) AS sa FROM cm),
        |pb AS (SELECT sum(nl * (nl - 1) // 2) AS sb FROM lm)
        |SELECT n::BIGINT AS n_points, round(mi, 4) + 0 AS mi,
        |  round(h_label, 4) + 0 AS h_label, round(h_cluster, 4) + 0 AS h_cluster,
        |  round(CASE WHEN h_label > 0 AND h_cluster > 0
        |        THEN mi / sqrt(h_label * h_cluster) ELSE 0 END, 4) + 0 AS nmi,
        |  round(CASE WHEN (sa::DOUBLE + sb) / 2 - sa::DOUBLE * sb / (n::DOUBLE * (n - 1) / 2) <> 0
        |        THEN (sc - sa::DOUBLE * sb / (n::DOUBLE * (n - 1) / 2))
        |           / ((sa::DOUBLE + sb) / 2 - sa::DOUBLE * sb / (n::DOUBLE * (n - 1) / 2))
        |        ELSE 0 END, 4) + 0 AS ari
        |FROM nt CROSS JOIN mi CROSS JOIN hl CROSS JOIN hc
        |CROSS JOIN pc CROSS JOIN pa CROSS JOIN pb""".stripMargin))

  /** Distributed PCA ([[graft.operators.Pca.powerProject]]): top
    * principal component of the first 16 embedding dims — milli-
    * quantized integer Gram sums (ONE 1-row aggregate), 3 unrolled
    * power iterations, scan-local projection. FULL oracle: the SQL is
    * machine-generated from the same contract — 136 Gram sums, the
    * three iteration layers as single-row CTEs in the identical
    * left-associated index order, the same norm and rounding — so a
    * whole PCA sits under the cross-engine hash.
    */
  val pcaPower: QueryDef = QueryDef(
    "sim_pca_power",
    (s, dir) =>
      graft.operators.Pca.powerProject(
          Tables(s, dir).embeddings, "vec_id", "embedding",
          dims = 16, iterations = 3)
        .orderBy("vec_id"),
    Some {
      val d = 16
      def gRef(i: Int, j: Int) = if (i <= j) s"g_${i}_$j" else s"g_${j}_$i"
      val qCols = (0 until d)
        .map(i => s"round(embedding[${i + 1}] * 1000)::BIGINT AS q$i")
        .mkString(", ")
      val gCols = (for { i <- 0 until d; j <- i until d }
        yield s"sum(q$i * q$j)::DOUBLE AS g_${i}_$j").mkString(", ")
      val v1 = (0 until d).map(i =>
        (0 until d).map(j => s"${gRef(i, j)} * 1.0").mkString(" + ") +
          s" AS v$i").mkString(", ")
      def step(prev: String) = (0 until d).map(i =>
        (0 until d).map(j => s"${gRef(i, j)} * $prev.v$j")
          .mkString(" + ") + s" AS v$i").mkString(", ")
      val nrm = "sqrt(" +
        (0 until d).map(i => s"v$i * v$i").mkString(" + ") + ")"
      val proj = (0 until d).map(i => s"q.q$i * vf.v$i").mkString(" + ")
      s"""WITH q AS (SELECT vec_id, $qCols FROM embeddings),
         |g AS (SELECT $gCols FROM q),
         |v1 AS (SELECT $v1 FROM g),
         |v2 AS (SELECT ${step("v1")} FROM g, v1),
         |v3 AS (SELECT ${step("v2")} FROM g, v2),
         |n AS (SELECT $nrm AS nrm FROM v3)
         |SELECT q.vec_id, round(($proj) / n.nrm, 4) + 0 AS pc1
         |FROM q, v3 vf, n ORDER BY q.vec_id""".stripMargin
    })

  /** Matryoshka prefix retrieval
    * ([[graft.operators.Similarity.topKCosineTruncated]]): exact top-k
    * by cosine over the first 16 of 64 dims — the cheap first pass an
    * MRL-embedding pipeline runs before full-dim rerank. Full oracle:
    * DuckDB slices the same prefix (`v[1:16]`) and replays score,
    * rounding, and tie-break under the hash. MatryoshkaSpec pins the
    * prefix/full ranking overlap floor on the test corpus.
    */
  val matryoshkaTopK: QueryDef = QueryDef(
    "sim_matryoshka_topk",
    (s, dir) =>
      Similarity.topKCosineTruncated(Tables(s, dir).embeddings,
        "vec_id", "embedding", queryId = 0L, k = 10, dims = 16),
    Some(
      """WITH e AS (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[1:16] AS v FROM embeddings),
        |q AS (SELECT v FROM e WHERE vec_id = 0),
        |s AS (SELECT e.vec_id, round(list_cosine_similarity(e.v, q.v), 6) + 0 AS sim
        |      FROM e, q WHERE e.vec_id <> 0)
        |SELECT vec_id, sim FROM s WHERE NOT isnan(sim)
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin))

  /** Per-dimension min-max scaling stats ([[graft.operators.Features
    * .minMaxScaleStats]]): the feature-normalization pass before
    * training, with the scaled mean computed closed-form from exact
    * aggregates — no per-element float division, so summation order
    * cannot reach the hash. Full oracle.
    */
  val featureScale: QueryDef = QueryDef(
    "sim_feature_scale",
    (s, dir) =>
      graft.operators.Features.minMaxScaleStats(
          Tables(s, dir).embeddings, "embedding")
        .orderBy("pos"),
    Some(
      """WITH x AS (SELECT idx - 1 AS pos, v[idx]::DOUBLE AS val
        |  FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |    unnest(range(1, 65)) AS t(idx)),
        |a AS (SELECT pos, min(val) AS vmin, max(val) AS vmax,
        |    sum(CAST(val AS DECIMAL(28,10))) AS s, count(*) AS n
        |  FROM x GROUP BY pos)
        |SELECT pos, vmin, vmax,
        |  CASE WHEN vmax > vmin THEN
        |    round((s - n * CAST(vmin AS DECIMAL(28,10)))::DOUBLE /
        |      (n::DOUBLE * (vmax - vmin)), 6) END AS scaled_mean
        |FROM a ORDER BY pos""".stripMargin))

  /** Per-dimension Spearman rank correlation with the label
    * ([[graft.operators.Features.rankCorrelation]]): ordinal ranks
    * with deterministic tiebreak, ρ combined in DECIMAL(38,0) — the
    * oracle replays the identical row_number orderings via HUGEINT.
    */
  val rankCorrelation: QueryDef = QueryDef(
    "sim_rank_correlation",
    (s, dir) =>
      graft.operators.Features.rankCorrelation(
          Tables(s, dir).embeddings, "vec_id", "embedding", "label")
        .orderBy("pos"),
    Some(
      """WITH x AS (SELECT vec_id AS id, lbl, idx - 1 AS pos,
        |    v[idx]::DOUBLE AS val
        |  FROM (SELECT vec_id, label AS lbl,
        |        CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |    unnest(range(1, 65)) AS t(idx)),
        |r AS (SELECT pos,
        |    row_number() OVER (PARTITION BY pos ORDER BY val, id) AS rx,
        |    row_number() OVER (PARTITION BY pos ORDER BY lbl, id) AS ry
        |  FROM x),
        |a AS (SELECT pos, count(*) AS n,
        |    sum((rx - ry) * (rx - ry))::BIGINT AS sd2
        |  FROM r GROUP BY pos)
        |SELECT pos, n,
        |  CASE WHEN n > 1 THEN
        |    round(1.0 - (6::HUGEINT * sd2)::DOUBLE /
        |      (n::HUGEINT * (n::HUGEINT * n - 1))::DOUBLE, 6) + 0 END AS rho
        |FROM a ORDER BY pos""".stripMargin))

  /** Mutual-nearest-neighbor pairs
    * ([[graft.operators.Similarity.mutualNearest]]) between the
    * even- and odd-label embedding sets — the bitext-mining backbone
    * (a pair survives iff each side is the other's top-1). Full
    * oracle: DuckDB replays the cross scoring and both QUALIFY
    * windows.
    */
  val mutualNearest: QueryDef = QueryDef(
    "sim_mutual_nearest",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      graft.operators.Similarity.mutualNearest(
          e.filter(col("label") % 2 === 0),
          e.filter(col("label") % 2 === 1),
          "vec_id", "embedding")
        .orderBy("id_a")
    },
    Some(
      """WITH e AS (SELECT vec_id, label,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a AS (SELECT vec_id AS id_a, v FROM e WHERE label % 2 = 0),
        |b AS (SELECT vec_id AS id_b, v FROM e WHERE label % 2 = 1),
        |s AS (SELECT id_a, id_b,
        |    round(list_cosine_similarity(a.v, b.v), 6) + 0 AS sim FROM a, b),
        |ba AS (SELECT * FROM s QUALIFY row_number() OVER (
        |    PARTITION BY id_a ORDER BY sim DESC, id_b) = 1),
        |bb AS (SELECT * FROM s QUALIFY row_number() OVER (
        |    PARTITION BY id_b ORDER BY sim DESC, id_a) = 1)
        |SELECT ba.id_a, ba.id_b, ba.sim
        |FROM ba JOIN bb ON ba.id_a = bb.id_a AND ba.id_b = bb.id_b
        |  AND ba.sim = bb.sim
        |ORDER BY ba.id_a""".stripMargin))

  /** Tiled twin of [[mutualNearest]] ([[graft.operators.Similarity
    * .mutualNearestBlocked]]): the scoring cross product runs as a
    * `shuffle_replicate_nl` cartesian over 4×4 tiles instead of
    * broadcasting B — the shape for corpus-scale bitext where neither
    * side fits one executor. Same oracle as the broadcast gate: the
    * hash proves tiling is bit-identical (per-pair rounded cosines +
    * order-independent argmax structs cannot drift under re-tiling).
    */
  val mutualNearestBlocked: QueryDef = QueryDef(
    "sim_mutual_nearest_blocked",
    (s, dir) => {
      val e = Tables(s, dir).embeddings
      graft.operators.Similarity.mutualNearestBlocked(
          e.filter(col("label") % 2 === 0),
          e.filter(col("label") % 2 === 1),
          "vec_id", "embedding", tilesPerSide = 4)
        .orderBy("id_a")
    },
    Some(
      """WITH e AS (SELECT vec_id, label,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a AS (SELECT vec_id AS id_a, v FROM e WHERE label % 2 = 0),
        |b AS (SELECT vec_id AS id_b, v FROM e WHERE label % 2 = 1),
        |s AS (SELECT id_a, id_b,
        |    round(list_cosine_similarity(a.v, b.v), 6) + 0 AS sim FROM a, b),
        |ba AS (SELECT * FROM s QUALIFY row_number() OVER (
        |    PARTITION BY id_a ORDER BY sim DESC, id_b) = 1),
        |bb AS (SELECT * FROM s QUALIFY row_number() OVER (
        |    PARTITION BY id_b ORDER BY sim DESC, id_a) = 1)
        |SELECT ba.id_a, ba.id_b, ba.sim
        |FROM ba JOIN bb ON ba.id_a = bb.id_a AND ba.id_b = bb.id_b
        |  AND ba.sim = bb.sim
        |ORDER BY ba.id_a""".stripMargin))

  /** Per-dimension quantile binning ([[graft.operators.Features
    * .quantileBins]]): rank-based equal-frequency discretization —
    * bin ASSIGNMENT is ntile over a deterministic order, so no float
    * boundary arithmetic can drift between engines.
    */
  val quantileBinsGate: QueryDef = QueryDef(
    "sim_quantile_bins",
    (s, dir) =>
      graft.operators.Features.quantileBins(
          Tables(s, dir).embeddings, "vec_id", "embedding", nBins = 4)
        .orderBy("pos", "bin"),
    Some(
      """WITH x AS (SELECT vec_id AS id, idx - 1 AS pos,
        |    v[idx]::DOUBLE AS val
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |        FROM embeddings),
        |    unnest(range(1, 65)) AS t(idx)),
        |b AS (SELECT pos,
        |    ntile(4) OVER (PARTITION BY pos ORDER BY val, id) AS bin,
        |    val FROM x)
        |SELECT pos, bin::BIGINT AS bin, count(*) AS cnt,
        |  min(val) AS vmin, max(val) AS vmax
        |FROM b GROUP BY 1, 2 ORDER BY pos, bin""".stripMargin))

  /** Rank normalization / quantile transform
    * ([[graft.operators.Features.rankNormalize]]): every document's
    * length score mapped to its normalized global rank
    * (rank−1)/(n−1) — SQL `percent_rank` under a (score, id) total
    * order, computed through [[graft.operators.Ranks]] (range-bucketed,
    * no single-partition sort) with one exact-integer ratio per row.
    * This is the PER-ROW gate for the Ranks primitive itself (the
    * ntile gates check tile aggregates; this hashes every rank).
    */
  val rankNormalizeGate: QueryDef = QueryDef(
    "sim_rank_normalize",
    (s, dir) =>
      // the long cast lives at the GATE (oracle types BIGINT);
      // rankNormalize itself ranks any orderable numeric raw
      graft.operators.Features.rankNormalize(
          Tables(s, dir).documents
            .withColumn("n_chars", col("n_chars").cast("long")),
          "doc_id", "n_chars")
        .orderBy("id"),
    Some(
      """SELECT doc_id AS id, n_chars::BIGINT AS score,
        |  round(percent_rank() OVER (ORDER BY n_chars::BIGINT, doc_id), 6)
        |    + 0 AS pct_rank
        |FROM documents ORDER BY id""".stripMargin))

  /** Per-label embedding cohesion ([[graft.operators.Similarity
    * .classSeparation]]): member count, mean and min cosine to the
    * label centroid — the cluster-tightness diagnostic. The centroid
    * is the EXACT decimal sum vector (cosine is scale-invariant, so
    * no order-sensitive float mean forms); member cosines round to
    * 6 dp and the label mean sums them as decimals.
    */
  val classSeparationGate: QueryDef = QueryDef(
    "sim_class_separation",
    (s, dir) =>
      Similarity.classSeparation(
          Tables(s, dir).embeddings, "embedding", "label")
        .orderBy("label"),
    Some(
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |px AS (SELECT label, idx, CAST(sum(CAST(v[idx] AS DECIMAL(28,10)))
        |         AS DOUBLE) AS c
        |  FROM e, unnest(range(1, 65)) AS t(idx)
        |  GROUP BY label, idx),
        |cv AS (SELECT label, list(c ORDER BY idx) AS cvec
        |       FROM px GROUP BY label),
        |j AS (SELECT e.label,
        |    round(list_cosine_similarity(e.v, cv.cvec), 6) + 0 AS cos
        |  FROM e JOIN cv USING (label))
        |SELECT label, count(*) AS n,
        |  round(CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*), 6) + 0 AS avg_cos,
        |  min(cos) AS min_cos
        |FROM j GROUP BY label ORDER BY label""".stripMargin))

  /** Deterministic Lloyd k-means ([[Similarity.kmeansLloyd]], k=4,
    * 2 updates): lowest-id seeds, index-order-folded distances, ties
    * to the lower cluster, decimal-exact centroid sums — the oracle
    * replays BOTH Lloyd iterations and the final assignment, so the
    * whole trajectory (not just the last stats) is under the hash.
    */
  val kmeans: QueryDef = QueryDef(
    "sim_kmeans_sse",
    (s, dir) =>
      Similarity.kmeansLloyd(
          Tables(s, dir).embeddings, "vec_id", "embedding")
        .orderBy("cluster"),
    Some {
      val d2 = (v: String, c: String) =>
        s"list_reduce(list_transform(range(1, 65), i -> " +
          s"($v[i] - $c[i]) * ($v[i] - $c[i])), (x, y) -> x + y)"
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings WHERE embedding IS NOT NULL),
         |c0 AS (SELECT row_number() OVER (ORDER BY id) AS c, v AS cv
         |       FROM (SELECT id, v FROM e ORDER BY id LIMIT 4)),
         |d1 AS (SELECT e.id, e.v, c0.c, ${d2("e.v", "c0.cv")} AS d
         |       FROM e CROSS JOIN c0),
         |a1 AS (SELECT id, v, c FROM (SELECT *, row_number() OVER (
         |         PARTITION BY id ORDER BY d, c) AS rn FROM d1)
         |       WHERE rn = 1),
         |px1 AS (SELECT c, idx,
         |    CAST(sum(CAST(v[idx] AS DECIMAL(28,10))) AS DOUBLE)
         |      / count(*) AS m
         |  FROM a1, unnest(range(1, 65)) AS t(idx) GROUP BY c, idx),
         |c1 AS (SELECT c, list(m ORDER BY idx) AS cv FROM px1 GROUP BY c),
         |d2 AS (SELECT e.id, e.v, c1.c, ${d2("e.v", "c1.cv")} AS d
         |       FROM e CROSS JOIN c1),
         |a2 AS (SELECT id, v, c FROM (SELECT *, row_number() OVER (
         |         PARTITION BY id ORDER BY d, c) AS rn FROM d2)
         |       WHERE rn = 1),
         |px2 AS (SELECT c, idx,
         |    CAST(sum(CAST(v[idx] AS DECIMAL(28,10))) AS DOUBLE)
         |      / count(*) AS m
         |  FROM a2, unnest(range(1, 65)) AS t(idx) GROUP BY c, idx),
         |c2 AS (SELECT c, list(m ORDER BY idx) AS cv FROM px2 GROUP BY c),
         |df AS (SELECT e.id, c2.c, ${d2("e.v", "c2.cv")} AS d
         |       FROM e CROSS JOIN c2),
         |af AS (SELECT id, c, d FROM (SELECT *, row_number() OVER (
         |         PARTITION BY id ORDER BY d, c) AS rn FROM df)
         |       WHERE rn = 1)
         |SELECT c AS cluster, count(*)::BIGINT AS n,
         |  round(CAST(sum(CAST(d AS DECIMAL(18,6))) AS DOUBLE), 4) + 0
         |    AS sse,
         |  min(id)::BIGINT AS min_id
         |FROM af GROUP BY c ORDER BY cluster""".stripMargin
    })

  /** Greedy k-center diversity selection
    * ([[Similarity.kCenterSelect]]): seed 0, then 3 farthest-point
    * rounds. Full oracle: the SQL unrolls the greedy recurrence as a
    * chain of CTEs — each round takes the arg-max of the running
    * 6-dp min-distance (ties by id) and folds the new center's
    * distances in with `least`, exactly the Spark loop's contract.
    */
  val kCenterGate: QueryDef = QueryDef(
    "sim_kcenter_select",
    (s, dir) =>
      Similarity.kCenterSelect(Tables(s, dir).embeddings, "vec_id",
          "embedding", k = 4, seedId = 0L)
        .orderBy("sel_rank"),
    Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c1 AS (SELECT v AS cv FROM e WHERE vec_id = 0),
        |d1 AS (SELECT e.vec_id, e.v,
        |         round(1 - list_cosine_similarity(e.v, c1.cv), 6) + 0 AS dm
        |       FROM e, c1 WHERE e.vec_id <> 0),
        |d1f AS (SELECT * FROM d1 WHERE NOT isnan(dm)),
        |s2 AS (SELECT vec_id, dm FROM d1f ORDER BY dm DESC, vec_id LIMIT 1),
        |c2 AS (SELECT v AS cv FROM e WHERE vec_id = (SELECT vec_id FROM s2)),
        |d2 AS (SELECT d.vec_id, d.v,
        |         least(d.dm, round(1 - list_cosine_similarity(d.v, c2.cv), 6) + 0) AS dm
        |       FROM d1f d, c2 WHERE d.vec_id <> (SELECT vec_id FROM s2)),
        |s3 AS (SELECT vec_id, dm FROM d2 ORDER BY dm DESC, vec_id LIMIT 1),
        |c3 AS (SELECT v AS cv FROM e WHERE vec_id = (SELECT vec_id FROM s3)),
        |d3 AS (SELECT d.vec_id, d.v,
        |         least(d.dm, round(1 - list_cosine_similarity(d.v, c3.cv), 6) + 0) AS dm
        |       FROM d2 d, c3 WHERE d.vec_id <> (SELECT vec_id FROM s3)),
        |s4 AS (SELECT vec_id, dm FROM d3 ORDER BY dm DESC, vec_id LIMIT 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS sel_rank, CAST(0 AS BIGINT) AS vec_id,
        |         CAST(NULL AS DOUBLE) AS dist
        |  UNION ALL SELECT 2, vec_id, dm FROM s2
        |  UNION ALL SELECT 3, vec_id, dm FROM s3
        |  UNION ALL SELECT 4, vec_id, dm FROM s4)
        |ORDER BY sel_rank""".stripMargin))

  /** MMR diversity re-rank ([[Similarity.mmrRerank]]): top-3 from an
    * 8-deep relevance pool per query at λ=0.5. Full oracle: the SQL
    * rebuilds the pool (QUALIFY top-8), the candidate-candidate 6-dp
    * cosine matrix, and unrolls the greedy argmax chain — the same
    * rounded-score/id tie contract as the driver loop.
    */
  val mmrGate: QueryDef = QueryDef(
    "sim_mmr_rerank",
    (s, dir) =>
      Similarity.mmrRerank(Tables(s, dir).embeddings, "vec_id",
          "embedding", queryIds = Seq(0L, 1L, 2L), nCandidates = 8,
          k = 3, lambda = 0.5)
        .orderBy("query_id", "sel_rank"),
    Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
        |c AS (SELECT q.qid, e.vec_id, e.v,
        |        round(list_cosine_similarity(e.v, q.qv), 6) + 0 AS sim
        |      FROM e, q WHERE e.vec_id <> q.qid
        |      QUALIFY row_number() OVER (PARTITION BY q.qid
        |        ORDER BY sim DESC, e.vec_id) <= 8),
        |cc AS (SELECT a.qid, a.vec_id AS ida, b.vec_id AS idb,
        |         round(list_cosine_similarity(a.v, b.v), 6) + 0 AS s
        |       FROM c a JOIN c b ON a.qid = b.qid),
        |p1 AS (SELECT qid, vec_id, round(0.5 * sim, 6) + 0 AS score
        |       FROM c QUALIFY row_number() OVER (PARTITION BY qid
        |         ORDER BY round(0.5 * sim, 6) DESC, vec_id) = 1),
        |r2 AS (SELECT c.qid, c.vec_id, c.sim,
        |         round(0.5 * c.sim - 0.5 * cc.s, 6) + 0 AS score
        |       FROM c JOIN p1 ON c.qid = p1.qid AND c.vec_id <> p1.vec_id
        |       JOIN cc ON cc.qid = c.qid AND cc.ida = c.vec_id
        |         AND cc.idb = p1.vec_id),
        |p2 AS (SELECT qid, vec_id, score FROM r2
        |       QUALIFY row_number() OVER (PARTITION BY qid
        |         ORDER BY score DESC, vec_id) = 1),
        |r3 AS (SELECT c.qid, c.vec_id,
        |         round(0.5 * c.sim - 0.5 * greatest(s1.s, s2.s), 6) + 0 AS score
        |       FROM c
        |       JOIN p1 ON c.qid = p1.qid JOIN p2 ON c.qid = p2.qid
        |       JOIN cc s1 ON s1.qid = c.qid AND s1.ida = c.vec_id
        |         AND s1.idb = p1.vec_id
        |       JOIN cc s2 ON s2.qid = c.qid AND s2.ida = c.vec_id
        |         AND s2.idb = p2.vec_id
        |       WHERE c.vec_id <> p1.vec_id AND c.vec_id <> p2.vec_id),
        |p3 AS (SELECT qid, vec_id, score FROM r3
        |       QUALIFY row_number() OVER (PARTITION BY qid
        |         ORDER BY score DESC, vec_id) = 1)
        |SELECT * FROM (
        |  SELECT qid AS query_id, CAST(1 AS BIGINT) AS sel_rank, vec_id, score FROM p1
        |  UNION ALL SELECT qid, 2, vec_id, score FROM p2
        |  UNION ALL SELECT qid, 3, vec_id, score FROM p3)
        |ORDER BY query_id, sel_rank""".stripMargin))

  /** Late-interaction MaxSim retrieval ([[Similarity.maxSimTopK]]):
    * the 64-dim embeddings become 4×16-dim "token" vectors per doc
    * (deterministic slicing — the multi-vector shape without a
    * token-vector table), queries 0–2 score every doc by
    * Σ per-query-token max 6-dp cosine, top-10 per query through the
    * salted exact top-k. Full oracle: DuckDB rebuilds the slices, the
    * per-(query-token, doc) max, the DECIMAL(18,6) sum, and the
    * (score desc, doc_id) ranking.
    */
  val maxSimGate: QueryDef = QueryDef(
    "sim_maxsim_topk",
    (s, dir) => {
      val (tokens, queries) = maxSimQueriesOf(s, dir)
      Similarity.maxSimTopK(tokens, "vec_id", "tok_vecs", queries, k = 10)
        .orderBy("query_id", "rank")
    },
    Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |tok AS (SELECT vec_id, t, v[t*16+1 : t*16+16] AS tv
        |  FROM e, unnest([0, 1, 2, 3]) AS u(t)),
        |q AS (SELECT vec_id AS qid, t AS qt, tv AS qv
        |  FROM tok WHERE vec_id IN (0, 1, 2)),
        |pair AS (SELECT q.qid, q.qt, d.vec_id AS doc_id,
        |    max(round(list_cosine_similarity(d.tv, q.qv), 6) + 0) AS mx
        |  FROM tok d JOIN q ON d.vec_id <> q.qid
        |  GROUP BY 1, 2, 3),
        |sc AS (SELECT qid AS query_id, doc_id,
        |    round(sum(CAST(mx AS DECIMAL(18,6)))::DOUBLE, 6) + 0 AS score
        |  FROM pair GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM sc)
        |SELECT query_id, rank::BIGINT AS rank, doc_id, score FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))

  private def maxSimQueriesOf(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val e = Tables(s, dir).embeddings
    val tokens = e.select(col("vec_id"),
      expr("transform(array(0,1,2,3), i -> transform(" +
        "slice(embedding, i*16+1, 16), x -> CAST(x AS DOUBLE)))")
        .as("tok_vecs"))
    val queries = e.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).grouped(16).map(_.toSeq).toSeq))
      .toSeq
    (tokens, queries)
  }

  /** Bucket-pruned MaxSim ([[Similarity.maxSimTopKPruned]]): pooled-
    * vector LSH guards the scoring fold, so most docs pay one
    * projection instead of 16 cosines. Approximate — rows-only;
    * MaxSimSpec pins surviving scores equal to the exact path and the
    * probe-all twin below pins the whole kernel to the oracle.
    */
  val maxSimPruned: QueryDef = QueryDef(
    "sim_maxsim_pruned",
    (s, dir) => {
      val (tokens, queries) = maxSimQueriesOf(s, dir)
      Similarity.maxSimTopKPruned(tokens, "vec_id", "tok_vecs", queries,
          k = 10, numPlanes = 4, maxHamming = 1)
        .orderBy("query_id", "rank")
    },
    None)

  /** Probe-all twin: `maxHamming = numPlanes` admits every bucket, so
    * the pruned kernel must reproduce [[Similarity.maxSimTopK]] bit
    * for bit — same full oracle as `sim_maxsim_topk`.
    */
  val maxSimPrunedExact: QueryDef = QueryDef(
    "sim_maxsim_pruned_exact",
    (s, dir) => {
      val (tokens, queries) = maxSimQueriesOf(s, dir)
      Similarity.maxSimTopKPruned(tokens, "vec_id", "tok_vecs", queries,
          k = 10, numPlanes = 4, maxHamming = 4)
        .orderBy("query_id", "rank")
    },
    maxSimGate.oracle)

  /** Persisted bucket-partitioned MaxSim probe
    * ([[graft.ingest.AnnIndex.maxSimTopKIndexed]]): the pruned probe
    * against the written layout, where the bucket predicate is a
    * PARTITION filter (directory pruning — AnnIndexSpec asserts it and
    * the shrunken file list). Rows-only (approximate family);
    * spec-locked exactly equal to `sim_maxsim_pruned`'s in-plan path.
    */
  val maxSimIndexed: QueryDef = QueryDef(
    "sim_maxsim_indexed",
    (s, dir) => {
      val (tokens, queries) = maxSimQueriesOf(s, dir)
      val path = graft.ingest.AnnIndex.maxSimIndexFor(tokens, "vec_id",
        "tok_vecs", tag = dir.replaceAll("[^A-Za-z0-9.]", "_"),
        dim = 16, numPlanes = 4)
      graft.ingest.AnnIndex.maxSimTopKIndexed(s, path, queries,
          k = 10, maxHamming = 1)
        .orderBy("query_id", "rank")
    },
    None)

  /** Exact-equivalence gate for the TRANSACTIONALLY PINNED IVF probe
    * ([[graft.sources.TxTable.ivfProbeIndexed]]): the corpus becomes a
    * TxTable whose manifest pins an IVF index (one commit covers both
    * — see [[graft.sources.TxTable.buildIvfIndex]]); probing all cells
    * makes file skipping irrelevant to the ANSWER, so the result must
    * equal brute-force cosine top-k bit for bit. TxIndexSpec pins the
    * scan-shrinkage side (pruned file list a strict subset) and the
    * both-or-neither versioning.
    */
  /** DV delete on an INDEXED table ([[graft.sources.TxTable
    * .deleteWhere]]'s per-index deletion-vector channel, VERDICT r13
    * #2): the delete commit publishes corpus positions AND the pinned
    * index's deleted ids in ONE manifest rename, and the probe
    * anti-joins those ids — so probing ALL cells after the delete
    * must equal brute-force top-k over the SURVIVING corpus bit for
    * bit. TxIndexSpec pins the both-or-neither versioning and that
    * the data/index files themselves are untouched.
    */
  val txDeleteDvIndexed: QueryDef = QueryDef(
    "io_tx_delete_dv_indexed",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txidxdv-").toString
      graft.sources.TxTable.create(emb, root)
      graft.sources.TxTable.buildIvfIndex(s, root, "emb",
        "vec_id", "embedding", numCentroids = 4, buckets = 4)
      graft.sources.TxTable.deleteWhere(s, root, col("vec_id") % 7 === 3)
      graft.sources.TxTable.ivfProbeIndexed(s, root, "emb",
        AnnIndex.lookupVector(emb, "vec_id", "embedding", 0L),
        k = 10, nProbes = 4, excludeId = Some(0L))
    },
    Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 7 <> 3),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id = 0)
        |SELECT e.vec_id, round(list_cosine_similarity(e.v, q.v), 6) + 0 AS sim
        |FROM e, q WHERE e.vec_id <> 0
        |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin))

  val txPinnedProbeExact: QueryDef = QueryDef(
    "sim_ann_txpinned_exact",
    (s, dir) => {
      val emb = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txidx-probe-").toString
      // one v0 commit for corpus + pinned index (createIndexed, r17):
      // the build chain is setup, not the probed semantics
      graft.sources.TxTable.createIndexed(emb, root, Seq(
        graft.sources.TxTable.IvfIndexBuild("emb", "vec_id",
          "embedding", numCentroids = 4)), buckets = 4)
      graft.sources.TxTable.ivfProbeIndexed(s, root, "emb",
        AnnIndex.lookupVector(emb, "vec_id", "embedding", 0L),
        k = 10, nProbes = 4, excludeId = Some(0L))
    },
    Some(bruteForceTop10Sql))

  def defs: Seq[QueryDef] =
    Seq(topK, topKBatch, annLsh, annIvf, annLshMultiProbe, annIvfBatch,
      annIvfExact, annLshExact, annIvfBatchExact, annLshMultiProbeExact,
      kmeans,
      annIvfPqExact,
      normalize, randomProjection, randomProjectionExact, meanPool,
      centroidAssign, annIvfPq, kmeansLloyd, hybridRrf, hybridIndexed,
      quantizeInt8,
      clusterNmi, pcaPower, matryoshkaTopK, featureScale, rankCorrelation,
      mutualNearest, mutualNearestBlocked, hybridTxPinned, quantileBinsGate,
      rankNormalizeGate, hardNegatives,
      classSeparationGate, kCenterGate, mmrGate, maxSimGate,
      maxSimPruned, maxSimPrunedExact, maxSimIndexed, txPinnedProbeExact,
      txDeleteDvIndexed)
}

/** End-to-end curation: the composition a training-data pipeline
  * actually runs — language filter + quality gate + length bounds +
  * near-dup removal in ONE declarative plan (each stage is an
  * already-gated operator; Catalyst fuses the metric computations into
  * one scan of `documents`, and the dedup anti-join is the only
  * shuffle besides the survivor window).
  */
object PipelineQueries extends QueryGroup {

  val curation: QueryDef = QueryDef(
    "pipeline_curation",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val metrics = docs.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      val kept = metrics.filter(
        col("lang_pred") === "en" &&
          col("quality") >= 0.8 &&
          col("n_tokens").between(20, 90))
      // drop docs that lose their normalized-set dedup group (the
      // survivor keeps representing the group downstream)
      val losers = Dedup.remapByKey(docs, Dedup.normalizedSetKey("text"), "doc_id")
        .select(col("doc_id"))
      kept.join(losers, Seq("doc_id"), "left_anti")
        .select("doc_id", "n_tokens", "quality")
        .orderBy("doc_id")
    },
    Some {
      def hits(markers: Seq[String]) = {
        val l = markers.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> list_contains([$l], w)))"
      }
      val en = hits(TextAnalysis.LangMarkers("en"))
      val de = hits(TextAnalysis.LangMarkers("de"))
      val fr = hits(TextAnalysis.LangMarkers("fr"))
      val es = hits(TextAnalysis.LangMarkers("es"))
      s"""WITH b AS (
         |  SELECT doc_id,
         |    len(string_split_regex(trim(text), '\\s+')) AS nw,
         |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) * 1.0
         |      / greatest(length(text), 1) AS praw,
         |    list_reduce(list_prepend(0::BIGINT,
         |        list_transform(string_split_regex(trim(text), '\\s+'), w -> length(w)::BIGINT)),
         |        (a, b) -> a + b) * 1.0
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS mwl,
         |    $en AS en, $de AS de, $fr AS fr, $es AS es
         |  FROM documents),
         |q AS (SELECT doc_id, nw,
         |    round(least(nw * 1.0 / 100.0, 1.0) * 0.4
         |        + (1.0 - least(praw * 5.0, 1.0)) * 0.4
         |        + (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6)
         |      AS quality,
         |    CASE
         |      WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |      WHEN en = greatest(en, de, fr, es) THEN 'en'
         |      WHEN de = greatest(en, de, fr, es) THEN 'de'
         |      WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |      ELSE 'es' END AS lang_pred
         |  FROM b),
         |k AS (SELECT doc_id,
         |    array_to_string(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))), ' ') AS key
         |  FROM documents),
         |m AS (SELECT key, min(doc_id) AS survivor FROM k GROUP BY key),
         |losers AS (SELECT k.doc_id FROM k JOIN m USING (key) WHERE k.doc_id <> m.survivor)
         |SELECT doc_id, nw AS n_tokens, quality FROM q
         |WHERE lang_pred = 'en' AND quality >= 0.8 AND nw BETWEEN 20 AND 90
         |  AND doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin
    })

  /** Concat-and-chunk sequence packing: per-doc placement in its
    * shard's token stream (offset + first/last seqLen-chunk). Pure
    * integer arithmetic over one per-shard window — hash-stable, full
    * oracle.
    */
  val seqPacking: QueryDef = QueryDef(
    "pipeline_seq_packing",
    (s, dir) =>
      Packing.packAssignments(Tables(s, dir).documents, "text", "doc_id",
          seqLen = 512, numShards = 8)
        .orderBy("doc_id"),
    Some(
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
        |  len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |p AS (SELECT doc_id, shard, n_tokens,
        |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_offset
        |  FROM t)
        |SELECT doc_id, shard, n_tokens, start_offset,
        |  (start_offset // 512)::BIGINT AS pack_first,
        |  ((start_offset + n_tokens - 1) // 512)::BIGINT AS pack_last
        |FROM p ORDER BY doc_id""".stripMargin))

  /** Benchmark decontamination: docs sharing ≥3 distinct 3-gram
    * shingles with the benchmark set (stand-in: every 23rd doc). The
    * benchmark side broadcasts; the corpus never shuffles for the
    * match.
    */
  val decontaminate: QueryDef = QueryDef(
    "pipeline_decontaminate",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      Decontamination.flagContaminated(
          docs, docs.filter(col("doc_id") % 23 === 0),
          "text", "doc_id", shingleN = 3, minOverlap = 3)
        .orderBy("doc_id")
    },
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |   ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(list_slice(ws, i, i + 2), ' ')) END) AS shs FROM w),
        |b AS (SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE doc_id % 23 = 0),
        |d AS (SELECT doc_id, unnest(shs) AS sh FROM sh)
        |SELECT d.doc_id, count(*) AS n_overlap
        |FROM d JOIN b USING (sh)
        |GROUP BY d.doc_id HAVING count(*) >= 3 ORDER BY doc_id""".stripMargin))

  /** Near-dup cluster formation: connected components over the exact
    * jaccard pair list (t = 0.95) — pairs chain into groups; the label
    * is the group's min id. Oracle = DuckDB RECURSIVE CTE computing
    * min-reachable-id over the same edges.
    */
  private val componentsOracle: String =
    """WITH RECURSIVE
        |t AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM t a JOIN t b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM c
        |      JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |reach(node, r) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node)
        |SELECT node AS doc_id, min(r) AS component
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** The exact t=0.95 pair list both components gates cluster —
    * generated once per corpus dir and checkpointed (the pair JOIN is
    * ~2 s at sf0.1 and identical across the two gates; same
    * build-once-probe-many registry pattern as the ANN indexes).
    */
  private val pairCache =
    new graft.operators.LruCache[String, org.apache.spark.sql.DataFrame](8)

  private[queries] def jaccardPairsFor(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    pairCache.getOrElseUpdate(dir) {
      Dedup.ngramJaccardPairs(Tables(s, dir).documents, "text", "doc_id", 0.95)
        .localCheckpoint(true)
    }

  /** LPA communities over the cached pair graph, themselves cached —
    * `graph_label_propagation` and `graph_lpa_modularity` share the
    * same 3-round computation (the pairCache pattern one level up).
    */
  private val lpaCache =
    new graft.operators.LruCache[String, org.apache.spark.sql.DataFrame](8)

  private[queries] def lpaCommunitiesFor(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    lpaCache.getOrElseUpdate(dir) {
      GraphMetrics.labelPropagation(
          Tables(s, dir).documents.select(col("doc_id")), "doc_id",
          jaccardPairsFor(s, dir), "id_a", "id_b", iterations = 3)
        .localCheckpoint(true)
    }

  val components: QueryDef = QueryDef(
    "dedup_components",
    (s, dir) =>
      ConnectedComponents.components(jaccardPairsFor(s, dir), "id_a", "id_b")
        .select(col("node").as("doc_id"), col("component"))
        .orderBy("doc_id"),
    Some(componentsOracle))

  /** Same clusters via alternating large-star/small-star contraction —
    * the O(log n)-round path for HIGH-DIAMETER graphs where label
    * propagation's round count tracks the diameter. Same recursive-CTE
    * oracle as [[components]]: both implementations must produce the
    * identical (node, min-reachable-id) labelling.
    */
  val componentsStar: QueryDef = QueryDef(
    "dedup_components_star",
    (s, dir) =>
      ConnectedComponents.componentsStar(jaccardPairsFor(s, dir), "id_a", "id_b")
        .select(col("node").as("doc_id"), col("component"))
        .orderBy("doc_id"),
    Some(componentsOracle))

  /** Leakage-free cluster-level split ([[graft.operators.Dedup
    * .leakageFreeSplit]]): every near-dup cluster (connected component
    * over the t=0.95 pair graph, singletons their own cluster) lands
    * wholly in one md5-assigned bucket — a near-dup of a test doc can
    * never sit in train. The oracle replays components (recursive CTE)
    * and the cluster-keyed bucket hash.
    */
  val clusterSplit: QueryDef = QueryDef(
    "pipeline_cluster_split",
    (s, dir) => {
      val comp = ConnectedComponents.components(
        jaccardPairsFor(s, dir), "id_a", "id_b")
      Dedup.leakageFreeSplit(Tables(s, dir).documents, comp,
          "doc_id", "node", "component", buckets = 10)
        .orderBy("doc_id")
    },
    Some(
      """WITH RECURSIVE
        |t AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM t a JOIN t b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM c
        |      JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |      WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |reach(node, r) AS (
        |  SELECT node, node FROM n
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node),
        |comp AS (SELECT node, min(r) AS component
        |         FROM reach GROUP BY node)
        |SELECT d.doc_id,
        |  coalesce(comp.component, d.doc_id) AS cluster_id,
        |  ('0x' || substr(md5(coalesce(comp.component, d.doc_id)::VARCHAR
        |     || ':ls'), 1, 15))::BIGINT % 10 AS split_bucket
        |FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
        |ORDER BY d.doc_id""".stripMargin))

  /** Overlapping chunk boundaries (32-token chunks, 8-token overlap):
    * shuffle-free per-row arithmetic + explode; full oracle.
    */
  val chunking: QueryDef = QueryDef(
    "pipeline_chunking",
    (s, dir) =>
      Packing.chunkBoundaries(Tables(s, dir).documents, "text", "doc_id",
          chunkTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx"),
    Some(
      """WITH t AS (SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  CASE WHEN n_tokens <= 32 THEN 1
        |       ELSE 1 + CAST(ceil((n_tokens - 32) * 1.0 / 24) AS BIGINT) END AS n_chunks
        |  FROM t),
        |x AS (SELECT doc_id, n_tokens, unnest(range(0, n_chunks)) AS chunk_idx FROM c)
        |SELECT doc_id, chunk_idx, chunk_idx * 24 AS token_start,
        |  least(chunk_idx * 24 + 32, n_tokens) AS token_end
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin))

  /** Corpus profile by predicted language — the before/after-curation
    * report: doc counts, token distribution (EXACT percentiles — Spark
    * `percentile` and DuckDB `quantile_cont` both linear-interpolate,
    * verified bit-equal), mean quality. One aggregate pass; the
    * percentile sort is per-group. At 100 TB swap in approx_percentile
    * and the gate degrades to rows-only, like the HLL metrics path.
    */
  val profile: QueryDef = QueryDef(
    "pipeline_profile",
    (s, dir) =>
      Tables(s, dir).documents
        .select(
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        .groupBy(col("lang_pred"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n")), 6).as("avg_tokens"),
          min(col("n")).as("min_tokens"),
          max(col("n")).as("max_tokens"),
          round(percentile(col("n"), lit(0.5)), 6).as("p50_tokens"),
          round(percentile(col("n"), lit(0.9)), 6).as("p90_tokens"),
          round(avg(col("q")), 6).as("avg_quality"))
        .orderBy("lang_pred"),
    Some {
      def hits(markers: Seq[String]) = {
        val l = markers.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> list_contains([$l], w)))"
      }
      val en = hits(TextAnalysis.LangMarkers("en"))
      val de = hits(TextAnalysis.LangMarkers("de"))
      val fr = hits(TextAnalysis.LangMarkers("fr"))
      val es = hits(TextAnalysis.LangMarkers("es"))
      s"""WITH b AS (
         |  SELECT doc_id, text,
         |    len(string_split_regex(trim(text), '\\s+'))::BIGINT AS nw,
         |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) * 1.0
         |      / greatest(length(text), 1) AS praw,
         |    list_reduce(list_prepend(0::BIGINT,
         |        list_transform(string_split_regex(trim(text), '\\s+'), w -> length(w)::BIGINT)),
         |        (a, b) -> a + b) * 1.0
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS mwl,
         |    $en AS en, $de AS de, $fr AS fr, $es AS es
         |  FROM documents),
         |q AS (SELECT nw,
         |    round(least(nw * 1.0 / 100.0, 1.0) * 0.4
         |        + (1.0 - least(praw * 5.0, 1.0)) * 0.4
         |        + (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6)
         |      AS quality,
         |    CASE
         |      WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |      WHEN en = greatest(en, de, fr, es) THEN 'en'
         |      WHEN de = greatest(en, de, fr, es) THEN 'de'
         |      WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |      ELSE 'es' END AS lang_pred
         |  FROM b)
         |SELECT lang_pred, count(*) AS n_docs,
         |  round(avg(nw), 6) AS avg_tokens,
         |  min(nw) AS min_tokens, max(nw) AS max_tokens,
         |  round(quantile_cont(nw, 0.5), 6) AS p50_tokens,
         |  round(quantile_cont(nw, 0.9), 6) AS p90_tokens,
         |  round(avg(quality), 6) AS avg_quality
         |FROM q GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
    })

  /** Best-fit-decreasing bin packing (docs never split; padding
    * minimized). Iterative greedy state is not SQL-expressible —
    * rows-only; PackingSpec pins exact assignments and invariants.
    */
  val packBestFit: QueryDef = QueryDef(
    "pipeline_pack_bestfit",
    (s, dir) =>
      Packing.packBestFit(Tables(s, dir).documents, "text", "doc_id",
          seqLen = 128, numShards = 8)
        .orderBy("doc_id"),
    None)

  /** Exact twin for [[packBestFit]]: BFD is deterministic given the
    * documented order (n_tokens DESC, doc_id ASC per shard), so the
    * greedy loop RESTATES as an ordered recursive CTE — the PageRank/
    * Bradley–Terry unrolling discipline applied to packing. The bin
    * state encodes as one BIGINT list (rem·10⁶ + bin), making best
    * fit `min(k ≥ n·10⁶)` — exactly the Scala TreeMap's
    * `rangeFrom((n, −1)).head` (min remaining ≥ n, ties to lowest bin
    * id). All shards advance in lockstep, one doc per recursion step.
    */
  val packBestFitExact: QueryDef = QueryDef(
    "pipeline_pack_bestfit_exact",
    (s, dir) =>
      Packing.packBestFit(Tables(s, dir).documents, "text", "doc_id",
          seqLen = 128, numShards = 8)
        .orderBy("doc_id"),
    Some(
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id % 8 AS shard, doc_id,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n,
        |    row_number() OVER (PARTITION BY doc_id % 8
        |      ORDER BY len(string_split_regex(trim(text), '\s+')) DESC,
        |        doc_id)::BIGINT AS rk
        |  FROM documents),
        |r(shard, rk, bins, nextbin, out_doc, out_n, out_bin) AS (
        |  SELECT shard, 0::BIGINT, []::BIGINT[], 0::BIGINT,
        |    NULL::BIGINT, NULL::BIGINT, NULL::BIGINT
        |  FROM (SELECT DISTINCT doc_id % 8 AS shard FROM documents)
        |  UNION ALL
        |  SELECT shard, rk,
        |    CASE WHEN fitk IS NOT NULL THEN
        |      list_concat(list_filter(bins, k -> k <> fitk),
        |        CASE WHEN fitk // 1000000 - n > 0
        |          THEN [(fitk // 1000000 - n) * 1000000 + fitk % 1000000]
        |          ELSE []::BIGINT[] END)
        |    ELSE
        |      list_concat(bins,
        |        CASE WHEN 128 - n > 0 THEN [(128 - n) * 1000000 + nextbin]
        |          ELSE []::BIGINT[] END)
        |    END,
        |    CASE WHEN fitk IS NOT NULL THEN nextbin ELSE nextbin + 1 END,
        |    doc_id, n,
        |    CASE WHEN fitk IS NOT NULL THEN fitk % 1000000 ELSE nextbin END
        |  FROM (
        |    SELECT r.shard, d.rk, r.bins, r.nextbin, d.doc_id, d.n,
        |      list_aggregate(list_filter(r.bins, k -> k >= d.n * 1000000),
        |        'min') AS fitk
        |    FROM r JOIN d ON d.shard = r.shard AND d.rk = r.rk + 1) s)
        |SELECT out_doc AS doc_id, shard, out_n AS n_tokens, out_bin AS bin,
        |  out_n > 128 AS oversize
        |FROM r WHERE out_doc IS NOT NULL ORDER BY doc_id""".stripMargin))

  /** Per-source token-budget curation: best-quality-first prefix of
    * each source's documents under an 800-token budget — full oracle
    * (integer cumulative sums over the oracle-stable quality order;
    * the window sum casts to BIGINT on the DuckDB side because its
    * integer window sums return HUGEINT, which the driver's comparator
    * reads as float).
    */
  val tokenBudget: QueryDef = QueryDef(
    "pipeline_token_budget",
    (s, dir) => {
      val scored = Tables(s, dir).documents.select(
        col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.operators.Sampling.tokenBudgetTake(
          scored, "source", "quality", "n_tokens", "doc_id", budget = 800L)
        .orderBy("doc_id")
    },
    Some(
      """WITH b AS (
        |  SELECT doc_id, source,
        |    len(string_split_regex(trim(text), '\s+')) AS nw,
        |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0
        |      / greatest(length(text), 1) AS praw,
        |    list_reduce(list_prepend(0::BIGINT,
        |        list_transform(string_split_regex(trim(text), '\s+'), w -> length(w)::BIGINT)),
        |        (a, b) -> a + b) * 1.0
        |      / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS mwl
        |  FROM documents),
        |q AS (SELECT doc_id, source, nw::BIGINT AS n_tokens,
        |    round(least(nw * 1.0 / 100.0, 1.0) * 0.4
        |        + (1.0 - least(praw * 5.0, 1.0)) * 0.4
        |        + (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6)
        |      AS quality
        |  FROM b),
        |r AS (SELECT doc_id, source, n_tokens, quality,
        |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id)::BIGINT AS grp_rank,
        |    (sum(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_tokens
        |  FROM q)
        |SELECT doc_id, source, n_tokens, quality, grp_rank, cum_tokens
        |FROM r WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin))

  /** Fuzzy (minhash) benchmark decontamination: near-duplicate pairs
    * between the corpus and the benchmark stand-in (every 23rd doc)
    * with EXACT verified jaccard ≥ 0.8. Candidate recall is S-curve
    * bounded → rows-only; DecontaminationSpec pins exactness of the
    * returned jaccards and 100% recall at jaccard 1.0.
    */
  val decontaminateFuzzy: QueryDef = QueryDef(
    "pipeline_decontaminate_fuzzy",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      Decontamination.fuzzyContaminated(
          docs, docs.filter(col("doc_id") % 23 === 0),
          "text", "doc_id", threshold = 0.8)
        .select(col("doc_id"), col("bench_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_id", "bench_id")
    },
    None)

  /** Fuzzy decontamination under the HARD oracle
    * ([[graft.operators.Decontamination.fuzzyContaminatedPortable]]):
    * the md5-contract signatures/banding/verify replayed by DuckDB —
    * the xxhash [[decontaminateFuzzy]] stays rows-only; this twin
    * value-checks the cross-corpus pipeline end to end.
    */
  val decontaminateFuzzyExact: QueryDef = QueryDef(
    "pipeline_decontaminate_fuzzy_exact",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      Decontamination.fuzzyContaminatedPortable(
          docs, docs.filter(col("doc_id") % 23 === 0),
          "text", "doc_id", threshold = 0.8)
        .orderBy("doc_id", "bench_id")
    },
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |tk AS (SELECT DISTINCT doc_id, unnest(list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |   ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(list_slice(ws, i, i + 2), ' ')) END)) AS w FROM w),
        |hx AS (SELECT doc_id, ('0x'||substr(md5(w),1,15))::BIGINT % 2147483647 AS x FROM tk),
        |fam AS (SELECT i, ('0x'||substr(md5('a'||i::VARCHAR),1,7))::BIGINT % 2147483646 + 1 AS a,
        |               ('0x'||substr(md5('b'||i::VARCHAR),1,7))::BIGINT % 2147483647 AS b
        |        FROM range(32) f(i)),
        |sg AS (SELECT doc_id, i, min((a * x + b) % 2147483647) AS mh FROM hx CROSS JOIN fam GROUP BY doc_id, i),
        |bd AS (SELECT doc_id, i // 4 AS band, string_agg(mh::VARCHAR, ':' ORDER BY i) AS key
        |       FROM sg GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT d.doc_id AS did, b.doc_id AS bench_id
        |         FROM bd d JOIN bd b ON d.band = b.band AND d.key = b.key
        |         WHERE b.doc_id % 23 = 0),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |ints AS (SELECT cd.did, cd.bench_id, count(*) AS c
        |         FROM cand cd JOIN tk a ON a.doc_id = cd.did JOIN tk b ON b.doc_id = cd.bench_id AND b.w = a.w
        |         GROUP BY 1, 2)
        |SELECT i.did AS doc_id, i.bench_id, round(i.c * 1.0 / (sa.n + sb.n - i.c), 6) AS jaccard
        |FROM ints i JOIN sz sa ON sa.doc_id = i.did JOIN sz sb ON sb.doc_id = i.bench_id
        |WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= 0.8 ORDER BY doc_id, bench_id""".stripMargin))

  /** Winnow-fingerprint decontamination: docs sharing ≥ 3 selected
    * fingerprints with the benchmark stand-in. Exact-substring-grade
    * signal at winnow density; FULL oracle (the engine-portable hash
    * lets DuckDB rebuild both fingerprint sets and join them).
    */
  val decontaminateWinnow: QueryDef = QueryDef(
    "pipeline_decontaminate_winnow",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      Decontamination.winnowContaminated(
          docs, docs.filter(col("doc_id") % 23 === 0),
          "text", "doc_id", minShared = 3L)
        .orderBy("doc_id")
    },
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |sh AS (SELECT doc_id, i,
        |         CASE WHEN len(ws) < 3 THEN array_to_string(ws, ' ')
        |              ELSE array_to_string(list_slice(ws, i, i + 2), ' ') END AS s,
        |         greatest(len(ws) - 2, 1) AS nh
        |       FROM w, unnest(range(1, greatest(len(ws) - 1, 2))) AS t(i)),
        |h AS (SELECT doc_id, i, nh,
        |        list_reduce(list_prepend(0::BIGINT,
        |          list_transform(range(1, len(s) + 1), j -> ascii(s[j])::BIGINT)),
        |          (a, b) -> (a * 31 + b) % 2147483647) AS hv
        |      FROM sh),
        |win AS (SELECT doc_id, i, nh,
        |          min(hv) OVER (PARTITION BY doc_id ORDER BY i
        |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |        FROM h),
        |fps AS (SELECT DISTINCT doc_id, fp FROM win
        |        WHERE i <= greatest(nh - 3, 1)),
        |b AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 23 = 0)
        |SELECT f.doc_id, count(*) AS n_shared
        |FROM fps f JOIN b USING (fp)
        |GROUP BY 1 HAVING count(*) >= 3 ORDER BY doc_id""".stripMargin))

  /** The FULL dedup cascade a production corpus runs, with per-doc
    * stage attribution: exact text dedup → directed shingle
    * containment (t = 0.8, mutual pairs keep the lower id) among exact
    * survivors → word-set Jaccard components (t = 0.95) among
    * containment survivors, survivor = component min. Every doc lands
    * in exactly one of (exact | containment | neardup | kept) with its
    * replacement id. Entirely composed from already-gated operators;
    * the oracle replays all three stages in SQL (recursive CTE for the
    * component stage).
    */
  val dedupCascade: QueryDef = QueryDef(
    "pipeline_dedup_cascade",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir).documents
      val withMin = docs.withColumn("tmin",
        min(col("doc_id")).over(Window.partitionBy(col("text"))))
      val d1 = withMin.filter(col("doc_id") =!= col("tmin"))
        .select(col("doc_id"), lit("exact").as("stage"),
          col("tmin").as("survivor"))
      // each stage's survivor frame feeds 2-3 consumers — materialize
      // once instead of re-running the upstream stages per consumer
      val s1 = withMin.filter(col("doc_id") === col("tmin"))
        .select("doc_id", "text").localCheckpoint(true)
      // Containment is pairwise, so stage 2's pair list over the exact
      // survivors is the per-corpus checkpointed full-corpus t=0.8 pair
      // set (shared with dedup_containment) restricted to pairs whose
      // both endpoints survived — two id semi-joins instead of
      // rebuilding the shingle join.
      val s1ids = s1.select("doc_id")
      val cp = DedupQueries.containmentPairsFor(s, dir)
        .join(s1ids.withColumnRenamed("doc_id", "src"), Seq("src"),
          "left_semi")
        .join(s1ids.withColumnRenamed("doc_id", "dst"), Seq("dst"),
          "left_semi")
        .select("src", "dst").localCheckpoint(true)
      val rev = cp.select(col("src").as("rsrc"), col("dst").as("rdst"))
      val d2 = cp
        .join(rev, col("dst") === col("rsrc") && col("src") === col("rdst"),
          "left")
        .filter(col("rsrc").isNull || col("dst") < col("src"))
        .groupBy(col("src"))
        .agg(min(col("dst")).as("survivor"))
        .select(col("src").as("doc_id"), lit("containment").as("stage"),
          col("survivor"))
      val s2 = s1.join(d2.select("doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      // Jaccard is pairwise, so the stage-3 pair list over the
      // containment survivors is EXACTLY the per-corpus checkpointed
      // full-corpus t=0.95 pair list (shared with both components
      // gates) restricted to pairs whose BOTH endpoints survived —
      // two id semi-joins instead of rebuilding the shingle join.
      val s2ids = s2.select("doc_id")
      val pairs = jaccardPairsFor(s, dir)
        .join(s2ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"),
          "left_semi")
        .join(s2ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
          "left_semi")
      val comp = ConnectedComponents.components(pairs, "id_a", "id_b")
        .localCheckpoint(true)
      val d3 = comp.filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"), lit("neardup").as("stage"),
          col("component").as("survivor"))
      val kept = s2.join(d3.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("kept").as("stage"),
          col("doc_id").as("survivor"))
      d1.unionByName(d2).unionByName(d3).unionByName(kept)
        .orderBy("doc_id")
    },
    Some(
      """WITH RECURSIVE
        |e0 AS (SELECT doc_id, text, min(doc_id) OVER (PARTITION BY text) AS tmin FROM documents),
        |s1 AS (SELECT doc_id, text FROM e0 WHERE doc_id = tmin),
        |d1 AS (SELECT doc_id, 'exact' AS stage, tmin AS survivor FROM e0 WHERE doc_id <> tmin),
        |w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM s1),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |   ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(list_slice(ws, i, i + 2), ' ')) END) AS shs FROM w),
        |t AS (SELECT doc_id, unnest(shs) AS sng FROM sh),
        |n AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS c
        |       FROM t a JOIN t b ON a.sng = b.sng AND a.doc_id <> b.doc_id GROUP BY 1, 2),
        |cp AS (SELECT src, dst FROM pr JOIN n ON n.doc_id = pr.src
        |       WHERE c * 1.0 / n.n >= 0.8),
        |d2 AS (SELECT x.src AS doc_id, 'containment' AS stage, min(x.dst) AS survivor
        |       FROM cp x LEFT JOIN cp r ON r.src = x.dst AND r.dst = x.src
        |       WHERE r.src IS NULL OR x.dst < x.src
        |       GROUP BY x.src),
        |s2 AS (SELECT doc_id FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM d2)),
        |wt AS (SELECT DISTINCT s1.doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS tok
        |       FROM s1 JOIN s2 USING (doc_id)),
        |wn AS (SELECT doc_id, count(*) AS n FROM wt GROUP BY doc_id),
        |ji AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |       FROM wt a JOIN wt b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (SELECT id_a, id_b FROM ji JOIN wn na ON na.doc_id = id_a JOIN wn nb ON nb.doc_id = id_b
        |       WHERE c * 1.0 / (na.n + nb.n - c) >= 0.95),
        |eg AS (SELECT id_a AS src, id_b AS dst FROM jp UNION SELECT id_b, id_a FROM jp),
        |nn AS (SELECT DISTINCT src AS node FROM eg),
        |reach(node, r) AS (
        |  SELECT node, node FROM nn
        |  UNION
        |  SELECT eg.dst, reach.r FROM reach JOIN eg ON eg.src = reach.node),
        |comp AS (SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node),
        |d3 AS (SELECT doc_id, 'neardup' AS stage, component AS survivor
        |       FROM comp WHERE doc_id <> component),
        |kept AS (SELECT doc_id, 'kept' AS stage, doc_id AS survivor FROM s2
        |         WHERE doc_id NOT IN (SELECT doc_id FROM d3))
        |SELECT * FROM d1 UNION ALL SELECT * FROM d2
        |UNION ALL SELECT * FROM d3 UNION ALL SELECT * FROM kept
        |ORDER BY doc_id""".stripMargin))

  /** PageRank centrality over the near-dup similarity graph
    * ([[graft.operators.PageRank]]) — the canonical-survivor /
    * source-authority signal, on the SAME cached t=0.95 pair list the
    * components gates cluster. All-integer fixed-point arithmetic
    * (rank_fp = floor(rank·1e12)) makes three power iterations exactly
    * replayable as three unrolled SQL stages — integer sums are
    * order-independent, so this is a hash-exact gate on an ITERATIVE
    * graph algorithm. Total assignment: isolated docs hold the
    * teleport-only rank.
    */
  val pagerankGate: QueryDef = QueryDef(
    "graph_pagerank",
    (s, dir) => {
      val pairs = jaccardPairsFor(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      graft.operators.PageRank.pagerank(
          Tables(s, dir).documents.select(col("doc_id")), "doc_id",
          edges, "src", "dst", iterations = 3)
        .orderBy("doc_id")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |nn AS (SELECT DISTINCT doc_id FROM documents),
        |cnt AS (SELECT count(*) AS n FROM nn),
        |r0 AS (SELECT doc_id, (1000000000000 // n)::BIGINT AS r FROM nn CROSS JOIN cnt),
        |it1 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt LEFT JOIN
        |          (SELECT e.dst, sum(r0.r // deg.d)::BIGINT AS m FROM e JOIN r0 ON r0.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id),
        |it2 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt LEFT JOIN
        |          (SELECT e.dst, sum(it1.r // deg.d)::BIGINT AS m FROM e JOIN it1 ON it1.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id),
        |it3 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt LEFT JOIN
        |          (SELECT e.dst, sum(it2.r // deg.d)::BIGINT AS m FROM e JOIN it2 ON it2.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id)
        |SELECT doc_id, r AS rank_fp FROM it3 ORDER BY doc_id""".stripMargin))

  /** Personalized (seeded) PageRank
    * ([[graft.operators.PageRank.pagerankPersonalized]]): teleport
    * restricted to a trusted seed set — TrustRank-style source
    * weighting; same all-integer fixed point, same unrolled-SQL
    * hash-exact oracle, with the seed CASE in every stage.
    */
  val pagerankSeededGate: QueryDef = QueryDef(
    "graph_pagerank_seeded",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val pairs = jaccardPairsFor(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      graft.operators.PageRank.pagerankPersonalized(
          docs.select(col("doc_id")), "doc_id", edges, "src", "dst",
          docs.filter(col("doc_id") % 23 === 0).select(col("doc_id")),
          iterations = 3)
        .orderBy("doc_id")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |sd AS (SELECT DISTINCT doc_id, (doc_id % 23 = 0) AS seed FROM documents),
        |cnt AS (SELECT count(*) AS s FROM sd WHERE seed),
        |r0 AS (SELECT doc_id, CASE WHEN seed THEN (1000000000000 // s)::BIGINT ELSE 0 END AS r
        |       FROM sd CROSS JOIN cnt),
        |it1 AS (SELECT sd.doc_id, (CASE WHEN sd.seed THEN 15000000000000 // (100*cnt.s) ELSE 0 END
        |          + (85 * coalesce(m.m, 0)) // 100)::BIGINT AS r
        |        FROM sd CROSS JOIN cnt LEFT JOIN
        |          (SELECT e.dst, sum(r0.r // deg.d)::BIGINT AS m FROM e JOIN r0 ON r0.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) m ON m.dst = sd.doc_id),
        |it2 AS (SELECT sd.doc_id, (CASE WHEN sd.seed THEN 15000000000000 // (100*cnt.s) ELSE 0 END
        |          + (85 * coalesce(m.m, 0)) // 100)::BIGINT AS r
        |        FROM sd CROSS JOIN cnt LEFT JOIN
        |          (SELECT e.dst, sum(it1.r // deg.d)::BIGINT AS m FROM e JOIN it1 ON it1.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) m ON m.dst = sd.doc_id),
        |it3 AS (SELECT sd.doc_id, (CASE WHEN sd.seed THEN 15000000000000 // (100*cnt.s) ELSE 0 END
        |          + (85 * coalesce(m.m, 0)) // 100)::BIGINT AS r
        |        FROM sd CROSS JOIN cnt LEFT JOIN
        |          (SELECT e.dst, sum(it2.r // deg.d)::BIGINT AS m FROM e JOIN it2 ON it2.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) m ON m.dst = sd.doc_id)
        |SELECT doc_id, r AS rank_fp FROM it3 ORDER BY doc_id""".stripMargin))

  /** Corpus snapshot diff
    * ([[graft.operators.IncrementalDedup.snapshotDiff]]): v2 is derived
    * deterministically from the corpus (drop ids ≡0 mod 7, rewrite text
    * for ids ≡0 mod 5, add shifted copies for ids ≡0 mod 11), so both
    * engines diff the identical pair of snapshots; digests move, text
    * does not.
    */
  val snapshotDiffGate: QueryDef = QueryDef(
    "pipeline_snapshot_diff",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val v2 = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      graft.operators.IncrementalDedup.snapshotDiff(docs, v2, "text", "doc_id")
        .orderBy("doc_id")
    },
    Some(
      """WITH v2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0),
        |o AS (SELECT doc_id, md5(text) AS h FROM documents),
        |n AS (SELECT doc_id, md5(text) AS h FROM v2)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.h IS NULL THEN 'added'
        |       WHEN n.h IS NULL THEN 'removed'
        |       WHEN o.h <> n.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id
        |ORDER BY doc_id""".stripMargin))

  /** Similarity-WEIGHTED PageRank
    * ([[graft.operators.PageRank.pagerankWeighted]]): edge weight =
    * round(jaccard·1e6), so stronger near-dups pull more rank — the
    * centrality refinement for canonical-survivor choice. Same
    * integer fixed point, same unrolled hash-exact oracle with the
    * weighted rate·w contributions.
    */
  val pagerankWeightedGate: QueryDef = QueryDef(
    "graph_pagerank_weighted",
    (s, dir) => {
      val pairs = jaccardPairsFor(s, dir)
        .withColumn("w", round(col("jaccard") * 1e6, 0).cast("long"))
      val edges = pairs
        .select(col("id_a").as("src"), col("id_b").as("dst"), col("w"))
        .unionByName(pairs
          .select(col("id_b").as("src"), col("id_a").as("dst"), col("w")))
      graft.operators.PageRank.pagerankWeighted(
          Tables(s, dir).documents.select(col("doc_id")), "doc_id",
          edges, "src", "dst", "w", iterations = 3)
        .orderBy("doc_id")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b,
        |            CAST(round(c * 1.0 / (sa.n + sb.n - c) * 1000000) AS BIGINT) AS w
        |          FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e AS (SELECT id_a AS src, id_b AS dst, w FROM pairs
        |      UNION ALL SELECT id_b, id_a, w FROM pairs),
        |deg AS (SELECT src, sum(w)::BIGINT AS d FROM e GROUP BY src),
        |nn AS (SELECT DISTINCT doc_id FROM documents),
        |cnt AS (SELECT count(*) AS n FROM nn),
        |r0 AS (SELECT doc_id, (1000000000000 // n)::BIGINT AS r FROM nn CROSS JOIN cnt),
        |it1 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt LEFT JOIN
        |          (SELECT e.dst, sum((r0.r // deg.d) * e.w)::BIGINT AS m FROM e JOIN r0 ON r0.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id),
        |it2 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt LEFT JOIN
        |          (SELECT e.dst, sum((it1.r // deg.d) * e.w)::BIGINT AS m FROM e JOIN it1 ON it1.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id),
        |it3 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt LEFT JOIN
        |          (SELECT e.dst, sum((it2.r // deg.d) * e.w)::BIGINT AS m FROM e JOIN it2 ON it2.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id)
        |SELECT doc_id, r AS rank_fp FROM it3 ORDER BY doc_id""".stripMargin))

  /** PageRank with dangling-mass redistribution
    * ([[graft.operators.PageRank.pagerankDangling]]): the full Brin &
    * Page recurrence — each round the rank held by out-degree-0 nodes
    * (isolated docs, the COMMON case in a near-dup graph) is summed
    * and handed back uniformly inside the damped term. Non-vacuous by
    * construction: most docs are isolated, so Dⁱ is large and every
    * rank differs from the drop-dangling gate. Same integer fixed
    * point; the unrolled SQL carries a dangling-sum stage per round.
    */
  val pagerankDanglingGate: QueryDef = QueryDef(
    "graph_pagerank_dangling",
    (s, dir) => {
      val pairs = jaccardPairsFor(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      graft.operators.PageRank.pagerankDangling(
          Tables(s, dir).documents.select(col("doc_id")), "doc_id",
          edges, "src", "dst", iterations = 3)
        .orderBy("doc_id")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |nn AS (SELECT DISTINCT doc_id FROM documents),
        |cnt AS (SELECT count(*) AS n FROM nn),
        |r0 AS (SELECT doc_id, (1000000000000 // n)::BIGINT AS r FROM nn CROSS JOIN cnt),
        |d0 AS (SELECT (coalesce(sum(r0.r) FILTER (WHERE deg.src IS NULL), 0) // (SELECT n FROM cnt))::BIGINT AS dsh
        |       FROM r0 LEFT JOIN deg ON deg.src = r0.doc_id),
        |it1 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * (coalesce(s.m, 0) + d0.dsh)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt CROSS JOIN d0 LEFT JOIN
        |          (SELECT e.dst, sum(r0.r // deg.d)::BIGINT AS m FROM e JOIN r0 ON r0.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id),
        |d1 AS (SELECT (coalesce(sum(it1.r) FILTER (WHERE deg.src IS NULL), 0) // (SELECT n FROM cnt))::BIGINT AS dsh
        |       FROM it1 LEFT JOIN deg ON deg.src = it1.doc_id),
        |it2 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * (coalesce(s.m, 0) + d1.dsh)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt CROSS JOIN d1 LEFT JOIN
        |          (SELECT e.dst, sum(it1.r // deg.d)::BIGINT AS m FROM e JOIN it1 ON it1.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id),
        |d2 AS (SELECT (coalesce(sum(it2.r) FILTER (WHERE deg.src IS NULL), 0) // (SELECT n FROM cnt))::BIGINT AS dsh
        |       FROM it2 LEFT JOIN deg ON deg.src = it2.doc_id),
        |it3 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * (coalesce(s.m, 0) + d2.dsh)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt CROSS JOIN d2 LEFT JOIN
        |          (SELECT e.dst, sum(it2.r // deg.d)::BIGINT AS m FROM e JOIN it2 ON it2.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id)
        |SELECT doc_id, r AS rank_fp FROM it3 ORDER BY doc_id""".stripMargin))

  /** Weighted edges + dangling redistribution composed
    * ([[graft.operators.PageRank.pagerankWeightedDangling]]) — the full
    * recurrence over the similarity-weighted graph. The unrolled SQL
    * carries BOTH the rate·w flow and the per-round dangling stage
    * (dangling = no weighted out-edge).
    */
  val pagerankWeightedDanglingGate: QueryDef = QueryDef(
    "graph_pagerank_weighted_dangling",
    (s, dir) => {
      val pairs = jaccardPairsFor(s, dir)
        .withColumn("w", round(col("jaccard") * 1e6, 0).cast("long"))
      val edges = pairs
        .select(col("id_a").as("src"), col("id_b").as("dst"), col("w"))
        .unionByName(pairs
          .select(col("id_b").as("src"), col("id_a").as("dst"), col("w")))
      graft.operators.PageRank.pagerankWeightedDangling(
          Tables(s, dir).documents.select(col("doc_id")), "doc_id",
          edges, "src", "dst", "w", iterations = 3)
        .orderBy("doc_id")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b,
        |            CAST(round(c * 1.0 / (sa.n + sb.n - c) * 1000000) AS BIGINT) AS w
        |          FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e AS (SELECT id_a AS src, id_b AS dst, w FROM pairs
        |      UNION ALL SELECT id_b, id_a, w FROM pairs),
        |deg AS (SELECT src, sum(w)::BIGINT AS d FROM e GROUP BY src),
        |nn AS (SELECT DISTINCT doc_id FROM documents),
        |cnt AS (SELECT count(*) AS n FROM nn),
        |r0 AS (SELECT doc_id, (1000000000000 // n)::BIGINT AS r FROM nn CROSS JOIN cnt),
        |d0 AS (SELECT (coalesce(sum(r0.r) FILTER (WHERE deg.src IS NULL), 0) // (SELECT n FROM cnt))::BIGINT AS dsh
        |       FROM r0 LEFT JOIN deg ON deg.src = r0.doc_id),
        |it1 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * (coalesce(s.m, 0) + d0.dsh)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt CROSS JOIN d0 LEFT JOIN
        |          (SELECT e.dst, sum((r0.r // deg.d) * e.w)::BIGINT AS m FROM e JOIN r0 ON r0.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id),
        |d1 AS (SELECT (coalesce(sum(it1.r) FILTER (WHERE deg.src IS NULL), 0) // (SELECT n FROM cnt))::BIGINT AS dsh
        |       FROM it1 LEFT JOIN deg ON deg.src = it1.doc_id),
        |it2 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * (coalesce(s.m, 0) + d1.dsh)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt CROSS JOIN d1 LEFT JOIN
        |          (SELECT e.dst, sum((it1.r // deg.d) * e.w)::BIGINT AS m FROM e JOIN it1 ON it1.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id),
        |d2 AS (SELECT (coalesce(sum(it2.r) FILTER (WHERE deg.src IS NULL), 0) // (SELECT n FROM cnt))::BIGINT AS dsh
        |       FROM it2 LEFT JOIN deg ON deg.src = it2.doc_id),
        |it3 AS (SELECT nn.doc_id, ((15000000000000 // (100*cnt.n)) + (85 * (coalesce(s.m, 0) + d2.dsh)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt CROSS JOIN d2 LEFT JOIN
        |          (SELECT e.dst, sum((it2.r // deg.d) * e.w)::BIGINT AS m FROM e JOIN it2 ON it2.doc_id = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.doc_id)
        |SELECT doc_id, r AS rank_fp FROM it3 ORDER BY doc_id""".stripMargin))

  /** Per-node triangle counts
    * ([[graft.operators.GraphMetrics.triangleCounts]]) over the
    * near-dup pair graph — template families are cliques, organic
    * near-dups are sparse. Degree-ordered orientation bounds the wedge
    * join; the oracle enumerates each a<b<c triangle directly (pair
    * rows are already id-ordered).
    */
  val trianglesGate: QueryDef = QueryDef(
    "graph_triangles",
    (s, dir) => {
      val pairs = jaccardPairsFor(s, dir)
      GraphMetrics.triangleCounts(pairs, "id_a", "id_b")
        .select(col("node").as("doc_id"), col("triangles"))
        .orderBy("doc_id")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |tr AS (SELECT ab.id_a AS a, ab.id_b AS b, bc.id_b AS c
        |       FROM pairs ab JOIN pairs bc ON ab.id_b = bc.id_a
        |       JOIN pairs ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b),
        |nn AS (SELECT DISTINCT id FROM (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)),
        |cr AS (SELECT a AS id FROM tr UNION ALL SELECT b FROM tr UNION ALL SELECT c FROM tr),
        |ct AS (SELECT id, count(*) AS t FROM cr GROUP BY id)
        |SELECT nn.id AS doc_id, coalesce(ct.t, 0)::BIGINT AS triangles
        |FROM nn LEFT JOIN ct USING (id) ORDER BY doc_id""".stripMargin))

  /** Neighbor-set Jaccard link prediction
    * ([[graft.operators.GraphMetrics.neighborJaccard]]): second-order
    * similarity — pairs sharing near-dup partners that the direct
    * threshold missed — under the degree-64 hub cap (template cliques
    * are excluded: their members are already DIRECT near-dups, and
    * their wedges are ~99.5% of the fan-out for zero signal). Oracle
    * replays the cap, the subgraph degree recompute, and the wedge
    * count.
    */
  val neighborJaccardGate: QueryDef = QueryDef(
    "graph_jaccard_neighbors",
    (s, dir) => {
      val pairs = jaccardPairsFor(s, dir)
      GraphMetrics.neighborJaccard(pairs, "id_a", "id_b", minCommon = 1L,
          maxDegree = 64L)
        .orderBy("id_a", "id_b")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e0 AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
        |dg0 AS (SELECT u AS id, count(*) AS d FROM e0 GROUP BY u),
        |keep AS (SELECT id FROM dg0 WHERE d <= 64),
        |e AS (SELECT u, v FROM e0 WHERE u IN (SELECT id FROM keep) AND v IN (SELECT id FROM keep)),
        |dg AS (SELECT u AS id, count(*) AS d FROM e GROUP BY u),
        |cm AS (SELECT a.v AS id_a, b.v AS id_b, count(*) AS common
        |       FROM e a JOIN e b ON a.u = b.u AND a.v < b.v GROUP BY 1, 2)
        |SELECT id_a, id_b, common::BIGINT AS common,
        |  round(common * 1.0 / (da.d + db.d - common), 6) AS jaccard
        |FROM cm JOIN dg da ON da.id = id_a JOIN dg db ON db.id = id_b
        |ORDER BY id_a, id_b""".stripMargin))

  /** One-hop neighbor-degree aggregation ([[graft.operators
    * .GraphMetrics.neighborDegreeAgg]]): per document, its neighbor
    * count plus the sum and max of neighbor degrees over the near-dup
    * graph — the integer-exact GNN-style structural features
    * (hub-adjacency, mean neighbor connectivity). One |E|-bounded
    * join + two node-scale aggregates off the cached pair list.
    */
  val neighborAggGate: QueryDef = QueryDef(
    "graph_neighbor_agg",
    (s, dir) =>
      GraphMetrics.neighborDegreeAgg(
          Tables(s, dir).documents.select(col("doc_id")), "doc_id",
          jaccardPairsFor(s, dir), "id_a", "id_b")
        .orderBy("doc_id"),
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |      UNION ALL SELECT id_b, id_a FROM pairs),
        |dg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
        |ag AS (SELECT e.src, count(*) AS n_neighbors,
        |         sum(d.deg)::BIGINT AS nbr_deg_sum,
        |         max(d.deg)::BIGINT AS nbr_deg_max
        |       FROM e JOIN dg d ON d.id = e.dst GROUP BY e.src)
        |SELECT doc_id, coalesce(n_neighbors, 0)::BIGINT AS n_neighbors,
        |  coalesce(nbr_deg_sum, 0)::BIGINT AS nbr_deg_sum,
        |  coalesce(nbr_deg_max, 0)::BIGINT AS nbr_deg_max
        |FROM documents LEFT JOIN ag ON src = doc_id
        |ORDER BY doc_id""".stripMargin))

  /** HITS hubs/authorities ([[graft.operators.GraphMetrics.hits]])
    * over the DIRECTED pair graph (id_a→id_b: lower doc ids point at
    * their later near-dups — sources become hubs, sinks authorities).
    * All-integer fixed point with exact renormalizing contractions;
    * the unrolled SQL replays both half-steps of both rounds.
    */
  val hitsGate: QueryDef = QueryDef(
    "graph_hits",
    (s, dir) => {
      val pairs = jaccardPairsFor(s, dir)
      GraphMetrics.hits(
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
          "src", "dst", iterations = 2)
        .select(col("node").as("doc_id"), col("auth_fp"), col("hub_fp"))
        .orderBy("doc_id")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e AS (SELECT DISTINCT id_a AS src, id_b AS dst FROM pairs),
        |nn AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |cnt AS (SELECT count(*) AS n FROM nn),
        |h0 AS (SELECT id, (1000000000 // n)::BIGINT AS s FROM nn CROSS JOIN cnt),
        |a1r AS (SELECT nn.id, coalesce(m.m, 0)::BIGINT AS v FROM nn LEFT JOIN
        |        (SELECT e.dst, sum(h0.s)::BIGINT AS m FROM e JOIN h0 ON h0.id = e.src GROUP BY e.dst) m ON m.dst = nn.id),
        |qa1 AS (SELECT greatest(sum(v) // 1000000000, 1)::BIGINT AS q FROM a1r),
        |a1 AS (SELECT id, (v // q)::BIGINT AS s FROM a1r CROSS JOIN qa1),
        |h1r AS (SELECT nn.id, coalesce(m.m, 0)::BIGINT AS v FROM nn LEFT JOIN
        |        (SELECT e.src, sum(a1.s)::BIGINT AS m FROM e JOIN a1 ON a1.id = e.dst GROUP BY e.src) m ON m.src = nn.id),
        |qh1 AS (SELECT greatest(sum(v) // 1000000000, 1)::BIGINT AS q FROM h1r),
        |h1 AS (SELECT id, (v // q)::BIGINT AS s FROM h1r CROSS JOIN qh1),
        |a2r AS (SELECT nn.id, coalesce(m.m, 0)::BIGINT AS v FROM nn LEFT JOIN
        |        (SELECT e.dst, sum(h1.s)::BIGINT AS m FROM e JOIN h1 ON h1.id = e.src GROUP BY e.dst) m ON m.dst = nn.id),
        |qa2 AS (SELECT greatest(sum(v) // 1000000000, 1)::BIGINT AS q FROM a2r),
        |a2 AS (SELECT id, (v // q)::BIGINT AS s FROM a2r CROSS JOIN qa2),
        |h2r AS (SELECT nn.id, coalesce(m.m, 0)::BIGINT AS v FROM nn LEFT JOIN
        |        (SELECT e.src, sum(a2.s)::BIGINT AS m FROM e JOIN a2 ON a2.id = e.dst GROUP BY e.src) m ON m.src = nn.id),
        |qh2 AS (SELECT greatest(sum(v) // 1000000000, 1)::BIGINT AS q FROM h2r),
        |h2 AS (SELECT id, (v // q)::BIGINT AS s FROM h2r CROSS JOIN qh2)
        |SELECT nn.id AS doc_id, a2.s AS auth_fp, h2.s AS hub_fp
        |FROM nn JOIN a2 ON a2.id = nn.id JOIN h2 ON h2.id = nn.id
        |ORDER BY doc_id""".stripMargin))

  /** 3-round k-core peel ([[graft.operators.GraphMetrics.kCorePeel]],
    * k = 3): the near-dup graph's dense cores after the peeling
    * cascade (176 → 106 → 105 → 105 nodes at sf0.01 — round 2 removes
    * a node only exposed by round 1's cuts, so the cascade itself is
    * under the hash). Unrolled SQL replays every round's degree
    * recompute + two-sided edge filter.
    */
  val kcoreGate: QueryDef = QueryDef(
    "graph_kcore_peel",
    (s, dir) => {
      val pairs = jaccardPairsFor(s, dir)
      GraphMetrics.kCorePeel(pairs, "id_a", "id_b", k = 3L, rounds = 3)
        .select(col("node").as("doc_id"), col("deg"))
        .orderBy("doc_id")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e0 AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
        |d1 AS (SELECT u AS node, count(*) AS deg FROM e0 GROUP BY u),
        |k1 AS (SELECT node, deg FROM d1 WHERE deg >= 3),
        |e1 AS (SELECT e0.u, e0.v FROM e0 JOIN k1 a ON a.node = e0.u JOIN k1 b ON b.node = e0.v),
        |d2 AS (SELECT u AS node, count(*) AS deg FROM e1 GROUP BY u),
        |k2 AS (SELECT node, deg FROM d2 WHERE deg >= 3),
        |e2 AS (SELECT e1.u, e1.v FROM e1 JOIN k2 a ON a.node = e1.u JOIN k2 b ON b.node = e1.v),
        |d3 AS (SELECT u AS node, count(*) AS deg FROM e2 GROUP BY u),
        |k3 AS (SELECT node, deg FROM d3 WHERE deg >= 3)
        |SELECT node AS doc_id, deg FROM k3 ORDER BY doc_id""".stripMargin))

  /** Bounded-depth BFS from the trusted seed set
    * ([[graft.operators.GraphMetrics.bfsLayers]], seeds = doc_id ≡ 0
    * mod 23, depth 3): discrete trust-frontier labelling — layer sizes
    * 22/83/42/5 at sf0.01, so every round's anti-join against the
    * labelled set is exercised. Unrolled SQL replays the frontier
    * expansion round by round.
    */
  val bfsGate: QueryDef = QueryDef(
    "graph_bfs_layers",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val pairs = jaccardPairsFor(s, dir)
      GraphMetrics.bfsLayers(pairs, "id_a", "id_b",
          docs.filter(col("doc_id") % 23 === 0), "doc_id", maxDepth = 3)
        .select(col("node").as("doc_id"), col("dist"))
        .orderBy("doc_id")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e0 AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
        |l0 AS (SELECT doc_id AS node, 0 AS dist FROM documents WHERE doc_id % 23 = 0),
        |n1 AS (SELECT DISTINCT e0.v AS node FROM e0 JOIN l0 ON l0.node = e0.u
        |       WHERE e0.v NOT IN (SELECT node FROM l0)),
        |l1 AS (SELECT node, dist FROM l0 UNION ALL SELECT node, 1 FROM n1),
        |n2 AS (SELECT DISTINCT e0.v AS node FROM e0 JOIN n1 ON n1.node = e0.u
        |       WHERE e0.v NOT IN (SELECT node FROM l1)),
        |l2 AS (SELECT node, dist FROM l1 UNION ALL SELECT node, 2 FROM n2),
        |n3 AS (SELECT DISTINCT e0.v AS node FROM e0 JOIN n2 ON n2.node = e0.u
        |       WHERE e0.v NOT IN (SELECT node FROM l2))
        |SELECT node AS doc_id, dist::BIGINT AS dist
        |FROM (SELECT node, dist FROM l2 UNION ALL SELECT node, 3 FROM n3)
        |ORDER BY doc_id""".stripMargin))

  /** DSIR data selection ([[graft.operators.Dsir]]): top-100 most
    * target-like documents (target = the English slice) by mean hashed
    * unigram log-likelihood ratio under add-1 smoothed md5-bucket
    * models. Every log input is an exact integer count and the bucket
    * hash is the md5 contract, so the oracle rebuilds both models and
    * the ranking; 6-dp rounding absorbs float ordering noise
    * (`text_unigram_logprob` precedent).
    */
  val dsirSelect: QueryDef = QueryDef(
    "pipeline_dsir_select",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val w = Dsir.importanceWeights(
        docs, docs.filter(col("lang") === "en"), "text", "doc_id",
        buckets = 1024)
      Dsir.selectTopK(w, "doc_id", 100)
    },
    Some(
      """WITH tk AS (SELECT doc_id, lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents),
        |f AS (SELECT doc_id, lang, ('0x' || substr(md5(w), 1, 7))::BIGINT % 1024 AS b FROM tk),
        |ct AS (SELECT b, count(*) FILTER (WHERE lang = 'en') AS ct_t, count(*) AS ct_r FROM f GROUP BY b),
        |tt AS (SELECT sum(ct_t) AS t_t, sum(ct_r) AS t_r FROM ct),
        |m AS (SELECT b, ln(ct_t + 1) - ln(t_t + 1024) - ln(ct_r + 1) + ln(t_r + 1024) AS llr FROM ct CROSS JOIN tt),
        |tf AS (SELECT doc_id, b, count(*) AS tf FROM f GROUP BY 1, 2),
        |s AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
        |        round(sum(tf * llr) / sum(tf), 6) + 0 AS avg_llr
        |      FROM tf JOIN m USING (b) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, avg_llr FROM s
        |ORDER BY avg_llr DESC, doc_id LIMIT 100""".stripMargin))

  /** Newman modularity ([[graft.operators.GraphMetrics.modularity]])
    * of the LANGUAGE partition over the near-dup pair graph — "is the
    * near-dup structure language-assortative beyond chance". Full
    * oracle: edge-label join, internal-edge count, and the exact
    * Σ d_c² algebra all restate in SQL.
    */
  val modularityGate: QueryDef = QueryDef(
    "graph_modularity",
    (s, dir) => {
      val pairs = jaccardPairsFor(s, dir)
      val labels = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"))
      GraphMetrics.modularity(pairs, "id_a", "id_b",
        labels, "doc_id", "lang")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |lbl AS (SELECT doc_id, lang FROM documents),
        |le AS (SELECT la.lang AS cu, lb.lang AS cv
        |       FROM pairs JOIN lbl la ON la.doc_id = id_a JOIN lbl lb ON lb.doc_id = id_b),
        |ea AS (SELECT count(*)::BIGINT AS m,
        |       sum(CASE WHEN cu = cv THEN 1 ELSE 0 END)::BIGINT AS internal FROM le),
        |dcs AS (SELECT c, count(*)::BIGINT AS dc
        |        FROM (SELECT cu AS c FROM le UNION ALL SELECT cv FROM le) GROUP BY c),
        |da AS (SELECT count(*)::BIGINT AS n_communities, sum(dc * dc) AS sum_dc2 FROM dcs)
        |SELECT m AS n_edges, n_communities, internal AS internal_edges,
        |  round(internal::DOUBLE / m - sum_dc2::DOUBLE / (4::DOUBLE * m * m), 6) + 0 AS modularity
        |FROM ea, da""".stripMargin))

  /** Label-propagation communities
    * ([[graft.operators.GraphMetrics.labelPropagation]]): 3 synchronous
    * rounds of most-frequent-neighbor-label with the deterministic
    * min-label tie-break, over the same near-dup similarity graph as
    * the pagerank/components gates. The unrolled-SQL oracle replays
    * every round with a window rank (count DESC, label ASC) — any
    * nondeterminism in the vote, the tie-break, or the isolated-node
    * keep rule breaks the hash. Community labels complement
    * `dedup_components`: same graph, density pockets vs reachability.
    */
  val lpaGate: QueryDef = QueryDef(
    "graph_label_propagation",
    (s, dir) =>
      lpaCommunitiesFor(s, dir).orderBy("doc_id"),
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
        |l0 AS (SELECT doc_id AS id, doc_id AS label FROM documents),
        |v1 AS (SELECT e.dst, l.label, count(*) AS c FROM e JOIN l0 l ON l.id = e.src GROUP BY 1, 2),
        |b1 AS (SELECT dst, label FROM (SELECT dst, label,
        |        row_number() OVER (PARTITION BY dst ORDER BY c DESC, label ASC) AS rk FROM v1) WHERE rk = 1),
        |l1 AS (SELECT l0.id, coalesce(b1.label, l0.label) AS label FROM l0 LEFT JOIN b1 ON b1.dst = l0.id),
        |v2 AS (SELECT e.dst, l.label, count(*) AS c FROM e JOIN l1 l ON l.id = e.src GROUP BY 1, 2),
        |b2 AS (SELECT dst, label FROM (SELECT dst, label,
        |        row_number() OVER (PARTITION BY dst ORDER BY c DESC, label ASC) AS rk FROM v2) WHERE rk = 1),
        |l2 AS (SELECT l1.id, coalesce(b2.label, l1.label) AS label FROM l1 LEFT JOIN b2 ON b2.dst = l1.id),
        |v3 AS (SELECT e.dst, l.label, count(*) AS c FROM e JOIN l2 l ON l.id = e.src GROUP BY 1, 2),
        |b3 AS (SELECT dst, label FROM (SELECT dst, label,
        |        row_number() OVER (PARTITION BY dst ORDER BY c DESC, label ASC) AS rk FROM v3) WHERE rk = 1),
        |l3 AS (SELECT l2.id, coalesce(b3.label, l2.label) AS label FROM l2 LEFT JOIN b3 ON b3.dst = l2.id)
        |SELECT id AS doc_id, label AS community FROM l3 ORDER BY doc_id""".stripMargin))

  /** Community quality composition: [[GraphMetrics.modularity]] of the
    * [[GraphMetrics.labelPropagation]] communities on the same graph —
    * the "did LPA find real structure" number (vs `graph_modularity`,
    * which scores the EXTERNAL lang labels). Both pieces' oracles
    * compose: the unrolled LPA rounds feed the modularity CTEs, so the
    * full detect-then-score pipeline sits under one hash.
    */
  val lpaModularityGate: QueryDef = QueryDef(
    "graph_lpa_modularity",
    (s, dir) =>
      GraphMetrics.modularity(jaccardPairsFor(s, dir), "id_a", "id_b",
        lpaCommunitiesFor(s, dir), "doc_id", "community"),
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
        |l0 AS (SELECT doc_id AS id, doc_id AS label FROM documents),
        |v1 AS (SELECT e.dst, l.label, count(*) AS c FROM e JOIN l0 l ON l.id = e.src GROUP BY 1, 2),
        |b1 AS (SELECT dst, label FROM (SELECT dst, label,
        |        row_number() OVER (PARTITION BY dst ORDER BY c DESC, label ASC) AS rk FROM v1) WHERE rk = 1),
        |l1 AS (SELECT l0.id, coalesce(b1.label, l0.label) AS label FROM l0 LEFT JOIN b1 ON b1.dst = l0.id),
        |v2 AS (SELECT e.dst, l.label, count(*) AS c FROM e JOIN l1 l ON l.id = e.src GROUP BY 1, 2),
        |b2 AS (SELECT dst, label FROM (SELECT dst, label,
        |        row_number() OVER (PARTITION BY dst ORDER BY c DESC, label ASC) AS rk FROM v2) WHERE rk = 1),
        |l2 AS (SELECT l1.id, coalesce(b2.label, l1.label) AS label FROM l1 LEFT JOIN b2 ON b2.dst = l1.id),
        |v3 AS (SELECT e.dst, l.label, count(*) AS c FROM e JOIN l2 l ON l.id = e.src GROUP BY 1, 2),
        |b3 AS (SELECT dst, label FROM (SELECT dst, label,
        |        row_number() OVER (PARTITION BY dst ORDER BY c DESC, label ASC) AS rk FROM v3) WHERE rk = 1),
        |l3 AS (SELECT l2.id, coalesce(b3.label, l2.label) AS label FROM l2 LEFT JOIN b3 ON b3.dst = l2.id),
        |le AS (SELECT la.label AS cu, lb.label AS cv
        |       FROM pairs JOIN l3 la ON la.id = id_a JOIN l3 lb ON lb.id = id_b),
        |ea AS (SELECT count(*)::BIGINT AS m,
        |       sum(CASE WHEN cu = cv THEN 1 ELSE 0 END)::BIGINT AS internal FROM le),
        |dcs AS (SELECT c, count(*)::BIGINT AS dc
        |        FROM (SELECT cu AS c FROM le UNION ALL SELECT cv FROM le) GROUP BY c),
        |da AS (SELECT count(*)::BIGINT AS n_communities, sum(dc * dc) AS sum_dc2 FROM dcs)
        |SELECT m AS n_edges, n_communities, internal AS internal_edges,
        |  round(internal::DOUBLE / m - sum_dc2::DOUBLE / (4::DOUBLE * m * m), 6) + 0 AS modularity
        |FROM ea, da""".stripMargin))

  /** k-anonymity release gate ([[graft.operators.Governance]]): does
    * the (lang, source) quasi-identifier combination isolate fewer
    * than 5 documents anywhere, and what would enforcing k=5 cost in
    * suppressed rows? One group-cardinality-bounded aggregate; the
    * oracle replays group counts, the violation threshold, and the
    * risk rate.
    */
  val kAnonymityGate: QueryDef = QueryDef(
    "pipeline_k_anonymity",
    (s, dir) =>
      graft.operators.Governance.kAnonymity(
        Tables(s, dir).documents, Seq("lang", "source"), k = 5),
    Some(
      """WITH g AS (SELECT lang, source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY lang, source)
        |SELECT 5::BIGINT AS k,
        |  count(*)::BIGINT AS n_groups,
        |  sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
        |  sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT AS rows_at_risk,
        |  sum(n)::BIGINT AS n_rows,
        |  round(sum(CASE WHEN n < 5 THEN n ELSE 0 END)::DOUBLE / sum(n), 6)
        |    AS risk_rate
        |FROM g""".stripMargin))

  /** l-diversity release gate ([[graft.operators.Governance
    * .lDiversity]]): groups on (lang, source) with fewer than l=3
    * distinct values of the sensitive column (the doc-length bucket
    * stands in) leak even when k-anonymous — the complement check to
    * `pipeline_k_anonymity`, same single-aggregate shape.
    */
  val lDiversityGate: QueryDef = QueryDef(
    "pipeline_l_diversity",
    (s, dir) =>
      graft.operators.Governance.lDiversity(
        Tables(s, dir).documents
          .withColumn("len_bucket", expr("n_chars div 100")),
        Seq("lang", "source"), "len_bucket", l = 3),
    Some(
      """WITH g AS (SELECT lang, source, count(*)::BIGINT AS n,
        |    count(DISTINCT n_chars // 100)::BIGINT AS nd
        |  FROM documents GROUP BY lang, source)
        |SELECT 3::BIGINT AS l,
        |  count(*)::BIGINT AS n_groups,
        |  sum(CASE WHEN nd < 3 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
        |  sum(CASE WHEN nd < 3 THEN n ELSE 0 END)::BIGINT AS rows_at_risk,
        |  sum(n)::BIGINT AS n_rows,
        |  round(sum(CASE WHEN nd < 3 THEN n ELSE 0 END)::DOUBLE / sum(n), 6)
        |    AS risk_rate
        |FROM g""".stripMargin))

  /** Content-defined chunking ([[graft.operators.CdcChunking]]):
    * md5-contract boundary decisions, chunk extents, and cross-doc
    * chunk frequencies all replayed by the oracle. A shared tail is
    * appended to every 4th doc — because boundaries are content-defined
    * the chunker RESYNCS inside the tail regardless of each doc's
    * distinct prefix length, so the tail's later chunks hash-collide
    * across ~125 docs; fixed-stride chunking would share nothing. That
    * resync effect (n_shared > 0 exactly for the tailed docs, modulo
    * rare organic collisions) sits under the hash.
    */
  val cdcChunks: QueryDef = QueryDef(
    "pipeline_cdc_chunks",
    (s, dir) => {
      val tail = " the quick brown fox jumps over the lazy dog and " +
        "resyncs content defined chunks after any prefix shift"
      val docs = Tables(s, dir).documents.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(tail)).otherwise(lit("")))
          .as("text"))
      graft.operators.CdcChunking.crossDocStats(docs).orderBy("doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id,
        |    text || (CASE WHEN doc_id % 4 = 0
        |      THEN ' the quick brown fox jumps over the lazy dog and resyncs content defined chunks after any prefix shift'
        |      ELSE '' END) AS t
        |  FROM documents),
        |g AS (SELECT doc_id, t, unnest(generate_series(8, length(t) - 1)) AS i FROM d),
        |bnd AS (SELECT doc_id, i FROM g
        |  WHERE ('0x' || substr(md5(substr(t, i - 7, 8)), 1, 7))::BIGINT % 16 = 0),
        |bl AS (SELECT d.doc_id, t,
        |    coalesce(list_sort(list(i) FILTER (i IS NOT NULL)), []) AS bs
        |  FROM d LEFT JOIN bnd ON bnd.doc_id = d.doc_id GROUP BY d.doc_id, t),
        |ch AS (SELECT doc_id, t, bs,
        |    unnest(generate_series(1, len(bs) + 1)) AS j FROM bl),
        |ck AS (SELECT doc_id,
        |    substr(t,
        |      (CASE WHEN j = 1 THEN 0 ELSE bs[j - 1] END) + 1,
        |      (CASE WHEN j <= len(bs) THEN bs[j] ELSE length(t) END)
        |        - (CASE WHEN j = 1 THEN 0 ELSE bs[j - 1] END)) AS chunk
        |  FROM ch),
        |kk AS (SELECT doc_id, md5(chunk) AS k FROM ck),
        |f AS (SELECT k, count(DISTINCT doc_id) AS nd FROM kk GROUP BY k)
        |SELECT kk.doc_id AS doc_id, count(*) AS n_chunks,
        |  (sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END))::BIGINT AS n_shared,
        |  round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
        |    AS shared_ratio
        |FROM kk JOIN f USING (k) GROUP BY kk.doc_id ORDER BY doc_id""".stripMargin))

  /** Smoothed target encoding ([[graft.operators.Features
    * .targetEncode]], m-estimate m=10 on order priority → total
    * price): the categorical-feature encoder every tabular training
    * pipeline runs, restated in integer fixed-point with DECIMAL(38,0)
    * combination so the oracle replays enc to the digit via HUGEINT.
    */
  val targetEncoding: QueryDef = QueryDef(
    "pipeline_target_encoding",
    (s, dir) =>
      graft.operators.Features.targetEncode(
          Tables(s, dir).orders, "o_orderpriority", "o_totalprice", m = 10)
        .orderBy("category"),
    Some(
      """WITH f AS (SELECT o_orderpriority AS category,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y
        |  FROM orders),
        |g AS (SELECT sum(y)::BIGINT AS gsum, count(*) AS gn FROM f),
        |c AS (SELECT category, sum(y)::BIGINT AS csum, count(*) AS n
        |      FROM f GROUP BY 1)
        |SELECT category, n,
        |  round((gn::HUGEINT * csum + 10::HUGEINT * gsum)::DOUBLE /
        |    ((gn::HUGEINT * (n + 10))::DOUBLE * 10000), 6) + 0 AS enc
        |FROM c, g ORDER BY category""".stripMargin))

  /** Weighted shortest paths ([[graft.operators.GraphMetrics
    * .bellmanFord]], 4 relaxation rounds from node 0) over a
    * closed-form directed graph (47 nodes, two edge families per doc:
    * u=doc_id%47 → (3·doc_id+1)%47 with weight doc_id%9+1 and
    * u → (5·doc_id+2)%47 with weight doc_id%9+3 — every node has two
    * out-neighbors, so diamond paths compete and the min-relaxation
    * actually adjudicates). Integer weights keep every distance
    * exact; the oracle unrolls all four rounds — each one a
    * candidate-relaxation join + a node-keyed min merge — so the
    * multi-round fixed-point behavior itself sits under the hash.
    */
  val shortestPathsGate: QueryDef = QueryDef(
    "graph_shortest_paths",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val e = docs.select(
          (col("doc_id") % 47).as("u"),
          ((col("doc_id") * 3 + 1) % 47).as("v"),
          (col("doc_id") % 9 + 1).as("w"))
        .unionByName(docs.select(
          (col("doc_id") % 47).as("u"),
          ((col("doc_id") * 5 + 2) % 47).as("v"),
          (col("doc_id") % 9 + 3).as("w")))
        .filter(col("u") =!= col("v"))
      GraphMetrics.bellmanFord(e, "u", "v", "w",
          docs.filter(col("doc_id") === 0), "doc_id", rounds = 4)
        .orderBy("node")
    },
    Some(
      """WITH e AS (SELECT u, v, w FROM (
        |             SELECT doc_id % 47 AS u, (doc_id * 3 + 1) % 47 AS v,
        |               doc_id % 9 + 1 AS w FROM documents
        |             UNION ALL
        |             SELECT doc_id % 47, (doc_id * 5 + 2) % 47,
        |               doc_id % 9 + 3 FROM documents)
        |           WHERE u <> v),
        |d0 AS (SELECT 0::BIGINT AS node, 0::BIGINT AS dist),
        |r1 AS (SELECT e.v AS node, min(d0.dist + e.w) AS dist FROM e
        |       JOIN d0 ON d0.node = e.u GROUP BY e.v),
        |d1 AS (SELECT node, min(dist) AS dist FROM
        |       (SELECT * FROM d0 UNION ALL SELECT * FROM r1) GROUP BY node),
        |r2 AS (SELECT e.v AS node, min(d1.dist + e.w) AS dist FROM e
        |       JOIN d1 ON d1.node = e.u GROUP BY e.v),
        |d2 AS (SELECT node, min(dist) AS dist FROM
        |       (SELECT * FROM d1 UNION ALL SELECT * FROM r2) GROUP BY node),
        |r3 AS (SELECT e.v AS node, min(d2.dist + e.w) AS dist FROM e
        |       JOIN d2 ON d2.node = e.u GROUP BY e.v),
        |d3 AS (SELECT node, min(dist) AS dist FROM
        |       (SELECT * FROM d2 UNION ALL SELECT * FROM r3) GROUP BY node),
        |r4 AS (SELECT e.v AS node, min(d3.dist + e.w) AS dist FROM e
        |       JOIN d3 ON d3.node = e.u GROUP BY e.v),
        |d4 AS (SELECT node, min(dist) AS dist FROM
        |       (SELECT * FROM d3 UNION ALL SELECT * FROM r4) GROUP BY node)
        |SELECT node, dist::BIGINT AS dist FROM d4 ORDER BY node""".stripMargin))

  /** End-to-end curation composition — the whole pre-training prep
    * chain as ONE gated plan: length+token quality filter → exact
    * content dedup (md5 text hash, min-id survivor) → deterministic
    * md5 train/val/test split → per-split corpus stats. Every stage
    * is an already-gated operator; this gate pins that they COMPOSE
    * (no stage reorders, drops, or double-counts when chained), with
    * the full chain replayed by one oracle. One scan, one hash-bounded
    * dedup window, no extra shuffles beyond the stages themselves.
    */
  val endToEnd: QueryDef = QueryDef(
    "pipeline_end_to_end",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val filtered = Tables(s, dir).documents
        .filter(col("n_chars").between(100, 5000))
        .withColumn("_tok", TextAnalysis.tokenCount(col("text")))
        .filter(col("_tok") >= 20)
      val deduped = filtered
        .withColumn("_rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("_rn") === 1)
      graft.operators.Sampling.deterministicSplit(deduped, "doc_id",
          Seq("train" -> 204, "val" -> 26, "test" -> 26))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_tok")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split")
    },
    Some(
      """WITH f AS (SELECT doc_id, text, lang,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS tok
        |  FROM documents WHERE n_chars BETWEEN 100 AND 5000),
        |f2 AS (SELECT * FROM f WHERE tok >= 20),
        |d AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
        |    ORDER BY doc_id) AS rn FROM f2),
        |dd AS (SELECT doc_id, lang, tok FROM d WHERE rn = 1),
        |sp AS (SELECT *,
        |    CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cc'
        |           THEN 'train'
        |         WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM dd)
        |SELECT split, count(*)::BIGINT AS n_docs,
        |  sum(tok)::BIGINT AS total_tokens,
        |  count(DISTINCT lang)::BIGINT AS n_langs
        |FROM sp GROUP BY split ORDER BY split""".stripMargin))

  /** Deterministic small-world edge set over the doc-id domain (97
    * nodes, two modular generators) — the neighborhood-function
    * fixture: dense enough to saturate within a few rounds, sparse
    * enough for the oracle's recursive CTE.
    */
  private def modEdges(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir).documents
      .select((col("doc_id") % 97).as("src"),
        ((col("doc_id") * 3 + 1) % 97).as("dst"))

  /** EXACT neighborhood function ([[graft.operators.GraphMetrics
    * .neighborhoodFunction]]): ball-pair expansion, one edge-join +
    * distinct per round, fully distributed per-round counts. Full
    * oracle: DuckDB's recursive CTE computes min-distance per (src,
    * node) pair and cumulates — the ground-truth twin that makes
    * `graph_hyperball_nf`'s HLL face auditable.
    */
  val neighborhoodExact: QueryDef = QueryDef(
    "graph_neighborhood_exact",
    (s, dir) =>
      GraphMetrics.neighborhoodFunction(
          modEdges(s, dir), "src", "dst", maxDepth = 3)
        .select(col("t").cast("long").as("t"), col("nf"))
        .orderBy("t"),
    Some(
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT least(doc_id % 97, (doc_id*3+1) % 97) AS u,
        |             greatest(doc_id % 97, (doc_id*3+1) % 97) AS v
        |      FROM documents WHERE doc_id % 97 <> (doc_id*3+1) % 97),
        |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
        |walk(src, node, d) AS (
        |  SELECT DISTINCT u AS src, u AS node, 0 FROM sym
        |  UNION
        |  SELECT w.src, s2.v, w.d + 1 FROM walk w
        |  JOIN sym s2 ON s2.u = w.node WHERE w.d < 3),
        |dist AS (SELECT src, node, min(d) AS d FROM walk GROUP BY 1, 2),
        |ts(t) AS (VALUES (0), (1), (2), (3))
        |SELECT ts.t::BIGINT AS t, count(*)::BIGINT AS nf
        |FROM ts JOIN dist ON dist.d <= ts.t
        |GROUP BY ts.t ORDER BY t""".stripMargin))

  /** HyperBall neighborhood estimate ([[graft.operators.HyperBall]]):
    * per-node HLL register frames, one edge-join + register-max per
    * round — the node-scale face that replaces the exact twin's
    * node²-scale ball pairs at 100 TB. Rows-only by declared design
    * (an HLL estimate has no SQL oracle); `graph_neighborhood_exact`
    * is the hash-green exact twin on the same edges, and HyperBallSpec
    * locks the estimate within standard-error bounds of it.
    */
  val hyperBallGate: QueryDef = QueryDef(
    "graph_hyperball_nf",
    (s, dir) =>
      graft.operators.HyperBall.neighborhoodEstimate(
          modEdges(s, dir), "src", "dst", maxDepth = 3, m = 64)
        .select(col("t").cast("long").as("t"), col("nf_est"))
        .orderBy("t"),
    None)

  /** EXACT truncated harmonic centrality ([[graft.operators
    * .GraphMetrics.harmonicScaled]]): h_fp = Σ L/d(v,w) over 1 ≤ d ≤ 3
    * with L = lcm(1..3) = 6 — every term an exact integer, so the
    * per-node sums hash bit-for-bit against the recursive-CTE replay.
    * Ground truth for `graph_harmonic_hyperball`.
    */
  val harmonicExact: QueryDef = QueryDef(
    "graph_harmonic_exact",
    (s, dir) =>
      GraphMetrics.harmonicScaled(modEdges(s, dir), "src", "dst",
          maxDepth = 3)
        .orderBy("node"),
    Some(
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT least(doc_id % 97, (doc_id*3+1) % 97) AS u,
        |             greatest(doc_id % 97, (doc_id*3+1) % 97) AS v
        |      FROM documents WHERE doc_id % 97 <> (doc_id*3+1) % 97),
        |sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
        |walk(src, node, d) AS (
        |  SELECT DISTINCT u AS src, u AS node, 0 FROM sym
        |  UNION
        |  SELECT w.src, s2.v, w.d + 1 FROM walk w
        |  JOIN sym s2 ON s2.u = w.node WHERE w.d < 3),
        |dist AS (SELECT src, node, min(d) AS d FROM walk GROUP BY 1, 2)
        |SELECT src AS node, sum(6 // d)::BIGINT AS h_fp
        |FROM dist WHERE d >= 1
        |GROUP BY src ORDER BY node""".stripMargin))

  /** HyperBall harmonic centrality ([[graft.operators.HyperBall
    * .harmonicEstimate]]): per-node Σ (|B_t|−|B_{t−1}|)/t from the
    * register frames, integer fixed point at micro × lcm scale —
    * rows-only by declared design (HLL face); `graph_harmonic_exact`
    * is the hash-green ground truth on the same edges, and
    * HyperBallSpec locks the estimate against it within HLL error.
    */
  val harmonicHyperBall: QueryDef = QueryDef(
    "graph_harmonic_hyperball",
    (s, dir) =>
      graft.operators.HyperBall.harmonicEstimate(
          modEdges(s, dir), "src", "dst", maxDepth = 3, m = 64)
        .orderBy("node"),
    None)

  def defs: Seq[QueryDef] =
    Seq(curation, seqPacking, decontaminate, components, componentsStar,
      chunking, profile, packBestFit, packBestFitExact, tokenBudget,
      decontaminateFuzzy,
      decontaminateFuzzyExact, decontaminateWinnow, dedupCascade,
      pagerankGate, pagerankSeededGate, pagerankWeightedGate,
      pagerankDanglingGate, pagerankWeightedDanglingGate, trianglesGate,
      neighborJaccardGate, neighborAggGate, hitsGate, kcoreGate, bfsGate,
      snapshotDiffGate,
      dsirSelect, modularityGate, lpaGate, lpaModularityGate, cdcChunks,
      kAnonymityGate, lDiversityGate, targetEncoding, clusterSplit,
      shortestPathsGate, endToEnd, neighborhoodExact, hyperBallGate,
      harmonicExact, harmonicHyperBall)
}

object TextQueries extends QueryGroup {

  /** Token counting: whitespace + BPE-ish pre-tokenizer split. */
  val tokens: QueryDef = QueryDef(
    "text_token_stats",
    (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Quality scoring: punctuation/stopword/length heuristics. */
  val quality: QueryDef = QueryDef(
    "text_quality",
    (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
    Some {
      val stop = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH b AS (
         |  SELECT doc_id, text,
         |    len(string_split_regex(trim(text), '\\s+')) AS nw,
         |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) * 1.0
         |      / greatest(length(text), 1) AS praw,
         |    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |        w -> list_contains([$stop], w))) AS nstop,
         |    list_reduce(list_prepend(0::BIGINT,
         |        list_transform(string_split_regex(trim(text), '\\s+'), w -> length(w)::BIGINT)),
         |        (a, b) -> a + b) * 1.0
         |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS mwl
         |  FROM documents)
         |SELECT doc_id,
         |  round(praw, 6) AS punct_ratio,
         |  round(nstop * 1.0 / greatest(nw, 1), 6) AS stopword_ratio,
         |  round(least(nw * 1.0 / 100.0, 1.0) * 0.4
         |      + (1.0 - least(praw * 5.0, 1.0)) * 0.4
         |      + (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6)
         |    AS quality
         |FROM b ORDER BY doc_id""".stripMargin
    })

  /** Marker-stopword language ID. */
  val langId: QueryDef = QueryDef(
    "text_langid",
    (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
    Some {
      def hits(markers: Seq[String]) = {
        val l = markers.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> list_contains([$l], w)))"
      }
      val en = hits(TextAnalysis.LangMarkers("en"))
      val de = hits(TextAnalysis.LangMarkers("de"))
      val fr = hits(TextAnalysis.LangMarkers("fr"))
      val es = hits(TextAnalysis.LangMarkers("es"))
      s"""WITH h AS (SELECT doc_id, $en AS en, $de AS de, $fr AS fr, $es AS es FROM documents)
         |SELECT doc_id, CASE
         |  WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |  WHEN en = greatest(en, de, fr, es) THEN 'en'
         |  WHEN de = greatest(en, de, fr, es) THEN 'de'
         |  WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |  ELSE 'es' END AS lang_pred
         |FROM h ORDER BY doc_id""".stripMargin
    })

  /** Rolling polynomial fingerprint (arithmetic-only — cross-engine). */
  val fingerprint: QueryDef = QueryDef(
    "text_fingerprint",
    (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(string_split_regex(trim(text), '\s+'),
        |      w -> (length(w) * 17 + ascii(substring(w, 1, 1)) * 31
        |            + ascii(substring(w, length(w), 1))) % 1000000007)),
        |    (a, c) -> (a * 31 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Corpus bigram DOCUMENT frequency (distinct bigrams per doc, counted
    * across docs — the "how many documents contain this phrase" shape):
    * tokenize once, explode adjacent-word pairs, hash-aggregate,
    * deterministic top slice. Partial aggregation makes the shuffle carry
    * (bigram, partial count) pairs — vocabulary-bounded, not
    * corpus-bounded. Oracle trims text first: Java split drops trailing
    * empties, DuckDB's regex split keeps them.
    */
  val bigramFreq: QueryDef = QueryDef(
    "text_bigram_freq",
    (s, dir) =>
      Tables(s, dir).documents
        .select(Dedup.words("text").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(array_distinct(transform(
          sequence(lit(0), size(col("ws")) - 2),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(2)))))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("bigram"))
        .limit(50),
    Some(
      """WITH w AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
        |b AS (SELECT unnest(list_distinct(list_transform(
        |        generate_series(1, greatest(len(ws) - 1, 0)),
        |        i -> ws[i] || ' ' || ws[i + 1]))) AS bigram
        |      FROM w WHERE len(ws) >= 2)
        |SELECT bigram, count(*) AS freq FROM b
        |GROUP BY bigram ORDER BY freq DESC, bigram LIMIT 50""".stripMargin))

  /** Rarity-weighted top terms per doc (tf · N/df ratio scoring — exact
    * rational, so cross-engine deterministic; see
    * [[TextAnalysis.topRarityTerms]]).
    */
  val rarityTerms: QueryDef = QueryDef(
    "text_rarity_top_terms",
    (s, dir) =>
      TextAnalysis.topRarityTerms(Tables(s, dir).documents, "text", "doc_id", 3)
        .orderBy(col("doc_id"), col("score").desc, col("term")),
    Some(
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT doc_id, term, round(tf * 1.0 * n.n / df, 6) AS score
        |      FROM tf JOIN dfq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, score FROM s
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) <= 3
        |ORDER BY doc_id, score DESC, term""".stripMargin))

  /** Repetition metrics (C4/Gopher family): duplicate-word fraction and
    * top-bigram occurrence share — pure column expressions, one scan.
    */
  val repetition: QueryDef = QueryDef(
    "text_repetition",
    (s, dir) =>
      Tables(s, dir).documents.select(
        col("doc_id"),
        round(TextAnalysis.dupWordRatio(col("text")), 6).as("dup_word_ratio"),
        round(TextAnalysis.topBigramRatio(col("text")), 6).as("top_bigram_ratio"))
        .orderBy("doc_id"),
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |b AS (SELECT doc_id, ws,
        |  CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
        |       ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]) END AS bg
        |  FROM w)
        |SELECT doc_id,
        |  round(1.0 - len(list_distinct(ws)) * 1.0 / greatest(len(ws), 1), 6) AS dup_word_ratio,
        |  round(CASE WHEN len(bg) = 0 THEN 0.0 ELSE
        |    list_max(list_transform(list_distinct(bg), d -> len(list_filter(bg, x -> x = d)))) * 1.0
        |      / len(bg) END, 6) AS top_bigram_ratio
        |FROM b ORDER BY doc_id""".stripMargin))

  /** PII redaction over documents. The synthetic corpus contains no
    * PII, so the gate CONSTRUCTS it deterministically per doc (email +
    * phone + IP derived from doc_id appended to the real text) and
    * both engines run the identical regexp chain over the identical
    * input — a non-vacuous cross-engine check of the masking
    * semantics, not a fixture toy.
    */
  val redaction: QueryDef = QueryDef(
    "text_redaction",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val pii = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail"), (col("doc_id") % 7).cast("string"),
        lit(".example.com or call +155500010"),
        (col("doc_id") % 90 + 10).cast("string"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string"))
      graft.operators.Redaction.redactDocs(
          docs.select(col("doc_id"), pii.as("text")), "text", "doc_id")
        .orderBy("doc_id")
    },
    Some(
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || doc_id::VARCHAR || '@mail' || (doc_id % 7)::VARCHAR
        |    || '.example.com or call +155500010' || (doc_id % 90 + 10)::VARCHAR
        |    || ' from 10.' || (doc_id % 256)::VARCHAR || '.0.' || (doc_id % 100)::VARCHAR AS text
        |  FROM documents),
        |e AS (SELECT doc_id, text,
        |  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM p),
        |i AS (SELECT doc_id, text, t1,
        |  regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
        |  FROM e)
        |SELECT doc_id,
        |  regexp_replace(t2, '\+\d{9,15}\b', '<PHONE>', 'g') AS redacted,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |  len(regexp_extract_all(t2, '\+\d{9,15}\b')) AS n_phone
        |FROM i ORDER BY doc_id""".stripMargin))

  /** Unigram-LM quality score — full oracle: every log input is an
    * exact integer count (corpus term frequency, corpus total), so the
    * 6-dp-rounded mean is engine-stable, the same count-ratio + round
    * discipline that keeps `text_bigram_logprob` hash-stable (float
    * ordering noise ~1e-14, eight orders below the rounding step).
    */
  val unigramLogProb: QueryDef = QueryDef(
    "text_unigram_logprob",
    (s, dir) =>
      TextAnalysis.unigramLogProbScore(
          Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id"),
    Some(
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |c AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY 1),
        |n AS (SELECT sum(tf) AS n_total FROM tf)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(sum(tf * (ln(cnt) - ln(n_total))) / sum(tf), 6) + 0 AS avg_logprob
        |FROM tf JOIN c USING (term) CROSS JOIN n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Gopher-style rule filter: the five audit booleans + verdict per
    * document — full oracle (every rule is ratio/membership arithmetic
    * DuckDB restates exactly).
    */
  val gopherRules: QueryDef = QueryDef(
    "text_gopher_rules",
    (s, dir) => {
      val r = TextAnalysis.gopherRules(col("text"))
      Tables(s, dir).documents
        .select(col("doc_id"), r.as("r"))
        .select(col("doc_id"),
          col("r.r_wordcount").as("r_wordcount"),
          col("r.r_wordlen").as("r_wordlen"),
          col("r.r_alpha").as("r_alpha"),
          col("r.r_punct").as("r_punct"),
          col("r.r_stopwords").as("r_stopwords"),
          TextAnalysis.gopherKeep(col("r")).as("keep"))
        .orderBy("doc_id")
    },
    Some(
      """WITH b AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS ws,
        |    len(string_split_regex(trim(text), '\s+')) AS nw,
        |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0
        |      / greatest(length(text), 1) AS praw,
        |    list_reduce(list_prepend(0::BIGINT,
        |        list_transform(string_split_regex(trim(text), '\s+'), w -> length(w)::BIGINT)),
        |        (a, b) -> a + b) * 1.0
        |      / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS mwl,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
        |      / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS alpha_frac,
        |    len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')),
        |        ['the','a','an','of','and','or','to','in','is','it'])) AS n_stops
        |  FROM documents)
        |SELECT doc_id,
        |  nw BETWEEN 10 AND 1000 AS r_wordcount,
        |  mwl BETWEEN 3.0 AND 10.0 AS r_wordlen,
        |  alpha_frac >= 0.8 AS r_alpha,
        |  praw <= 0.1 AS r_punct,
        |  n_stops >= 2 AS r_stopwords,
        |  (nw BETWEEN 10 AND 1000) AND (mwl BETWEEN 3.0 AND 10.0)
        |    AND alpha_frac >= 0.8 AND praw <= 0.1 AND n_stops >= 2 AS keep
        |FROM b ORDER BY doc_id""".stripMargin))

  /** BM25 relevance against a 3-term query ([[graft.operators.Bm25]]):
    * scan-local tf/dl columns + ONE single-row stats aggregate
    * broadcast back — no token explode, no wide shuffle. Scores are
    * float products of logs, so both sides round to 4 dp.
    */
  val bm25: QueryDef = QueryDef(
    "text_bm25",
    (s, dir) =>
      graft.operators.Bm25.score(
          Tables(s, dir).documents, "text", "doc_id",
          Seq("spark", "vector", "customer"))
        .select(col("doc_id"), round(col("bm25"), 4).as("bm25"))
        .orderBy("doc_id"),
    Some(
      """WITH pd AS (
        |  SELECT doc_id, len(ws) AS dl,
        |    len(list_filter(ws, w -> w = 'spark')) AS tf0,
        |    len(list_filter(ws, w -> w = 'vector')) AS tf1,
        |    len(list_filter(ws, w -> w = 'customer')) AS tf2
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS ws
        |        FROM documents)),
        |st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
        |       FROM pd)
        |SELECT doc_id, round(
        |    (CASE WHEN tf0 > 0 THEN ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |      * tf0::DOUBLE * (1.2 + 1.0) / (tf0::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf1 > 0 THEN ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |      * tf1::DOUBLE * (1.2 + 1.0) / (tf1::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf2 > 0 THEN ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |      * tf2::DOUBLE * (1.2 + 1.0) / (tf2::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END),
        |  4) AS bm25
        |FROM pd CROSS JOIN st
        |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |ORDER BY doc_id""".stripMargin))

  private val bm25Indexes =
    new graft.operators.LruCache[String, String](8)

  /** Build-once registry for the persisted BM25 layout of a corpus dir
    * (shared by the ranked, boolean, batch, and hybrid probes).
    */
  def bm25IndexFor(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    bm25Indexes.getOrElseUpdate(dir) {
      val p = s"${System.getProperty("java.io.tmpdir")}/graft-bm25/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      graft.ingest.TextIndex.writeBm25(
        Tables(s, dir).documents, "doc_id", "text", p)
    }

  /** BM25 against the PERSISTED inverted index
    * ([[graft.ingest.TextIndex]]): postings partitioned by term
    * bucket, probe = partition-pruned bucket read + term-bounded df
    * frame + one per-doc hash aggregate — row-identical to the
    * in-plan [[graft.operators.Bm25.score]], same oracle as
    * `text_bm25`. The layout builds once per corpus dir (ingest-side
    * cost) and every probe after reads ~|terms|/64 of the postings.
    */
  val bm25Indexed: QueryDef = QueryDef(
    "text_bm25_indexed",
    (s, dir) =>
      graft.ingest.TextIndex.bm25Indexed(s, bm25IndexFor(s, dir),
          Seq("spark", "vector", "customer"))
        .select(col("doc_id"), round(col("bm25"), 4).as("bm25"))
        .orderBy("doc_id"),
    Some(
      """WITH pd AS (
        |  SELECT doc_id, len(ws) AS dl,
        |    len(list_filter(ws, w -> w = 'spark')) AS tf0,
        |    len(list_filter(ws, w -> w = 'vector')) AS tf1,
        |    len(list_filter(ws, w -> w = 'customer')) AS tf2
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS ws
        |        FROM documents)),
        |st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
        |       FROM pd)
        |SELECT doc_id, round(
        |    (CASE WHEN tf0 > 0 THEN ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |      * tf0::DOUBLE * (1.2 + 1.0) / (tf0::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf1 > 0 THEN ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |      * tf1::DOUBLE * (1.2 + 1.0) / (tf1::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf2 > 0 THEN ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |      * tf2::DOUBLE * (1.2 + 1.0) / (tf2::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END),
        |  4) AS bm25
        |FROM pd CROSS JOIN st
        |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |ORDER BY doc_id""".stripMargin))

  /** BM25 against the TX-PINNED inverted index ([[graft.sources
    * .TxTable.buildBm25Index]] → `bm25ProbeIndexed`): corpus,
    * term-bucket postings, AND the (n_docs, Σdl) stats publish by ONE
    * manifest rename — the standalone layout's corpus/index skew
    * (round-14 verdict gap #2) is structurally impossible. Same
    * oracle as `text_bm25`: the hash proves the pinned probe is
    * row-identical to the in-plan scorer on the live table.
    * Structural gate: table + index build in-gate.
    */
  val bm25TxPinned: QueryDef = QueryDef(
    "text_bm25_txpinned",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-bm25pin-").toString
      graft.sources.TxTable.createIndexed(
        Tables(s, dir).documents.select("doc_id", "text"), root, Seq(
          graft.sources.TxTable.Bm25IndexBuild("txt", "doc_id", "text")))
      graft.sources.TxTable.bm25ProbeIndexed(s, root, "txt",
          Seq("spark", "vector", "customer"))
        .select(col("doc_id"), round(col("bm25"), 4).as("bm25"))
        .orderBy("doc_id")
    },
    Some(
      """WITH pd AS (
        |  SELECT doc_id, len(ws) AS dl,
        |    len(list_filter(ws, w -> w = 'spark')) AS tf0,
        |    len(list_filter(ws, w -> w = 'vector')) AS tf1,
        |    len(list_filter(ws, w -> w = 'customer')) AS tf2
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS ws
        |        FROM documents)),
        |st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
        |       FROM pd)
        |SELECT doc_id, round(
        |    (CASE WHEN tf0 > 0 THEN ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |      * tf0::DOUBLE * (1.2 + 1.0) / (tf0::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf1 > 0 THEN ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |      * tf1::DOUBLE * (1.2 + 1.0) / (tf1::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf2 > 0 THEN ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |      * tf2::DOUBLE * (1.2 + 1.0) / (tf2::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END),
        |  4) AS bm25
        |FROM pd CROSS JOIN st
        |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |ORDER BY doc_id""".stripMargin))

  /** [[bm25TxPinned]] with a MID-LIFE `deleteWhere`: the delete's one
    * commit masks the deleted docs' postings (`idxdv/` anti-join) AND
    * decrements the header's exact (n_docs, Σdl) moments, so the probe
    * serves BM25 over exactly the survivors — deleted docs drop out of
    * results and every survivor's score re-weights by the live-corpus
    * stats. Oracle: the `text_bm25` SQL over the survivor set, stats
    * included (df/N/avgdl all over `doc_id % 7 <> 3`).
    */
  val bm25TxPinnedDelete: QueryDef = QueryDef(
    "text_bm25_txpinned_delete",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-bm25pindel-").toString
      graft.sources.TxTable.createIndexed(
        Tables(s, dir).documents.select("doc_id", "text"), root, Seq(
          graft.sources.TxTable.Bm25IndexBuild("txt", "doc_id", "text")))
      graft.sources.TxTable.deleteWhere(s, root, col("doc_id") % 7 === 3)
      graft.sources.TxTable.bm25ProbeIndexed(s, root, "txt",
          Seq("spark", "vector", "customer"))
        .select(col("doc_id"), round(col("bm25"), 4).as("bm25"))
        .orderBy("doc_id")
    },
    Some(
      """WITH pd AS (
        |  SELECT doc_id, len(ws) AS dl,
        |    len(list_filter(ws, w -> w = 'spark')) AS tf0,
        |    len(list_filter(ws, w -> w = 'vector')) AS tf1,
        |    len(list_filter(ws, w -> w = 'customer')) AS tf2
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS ws
        |        FROM documents WHERE doc_id % 7 <> 3)),
        |st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
        |         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
        |         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
        |       FROM pd)
        |SELECT doc_id, round(
        |    (CASE WHEN tf0 > 0 THEN ln(1 + (n - df0 + 0.5) / (df0 + 0.5))
        |      * tf0::DOUBLE * (1.2 + 1.0) / (tf0::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf1 > 0 THEN ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
        |      * tf1::DOUBLE * (1.2 + 1.0) / (tf1::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tf2 > 0 THEN ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
        |      * tf2::DOUBLE * (1.2 + 1.0) / (tf2::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END),
        |  4) AS bm25
        |FROM pd CROSS JOIN st
        |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |ORDER BY doc_id""".stripMargin))

  /** Phrase retrieval against the TX-PINNED positional index
    * ([[graft.sources.TxTable.buildPhraseIndex]] →
    * `phraseProbeIndexed`), with a `deleteWhere` between build and
    * probe: the deleted docs' occurrences stop matching in the SAME
    * commit (idxdv anti-join) — the third index kind under the
    * one-manifest pin. Full oracle: adjacency replayed by 1-based
    * list indexing over the survivor set.
    */
  val phraseTxPinned: QueryDef = QueryDef(
    "text_index_phrase_txpinned",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-pospin-").toString
      graft.sources.TxTable.createIndexed(
        Tables(s, dir).documents.select("doc_id", "text"), root, Seq(
          graft.sources.TxTable.PhraseIndexBuild("pos", "doc_id", "text")))
      graft.sources.TxTable.deleteWhere(s, root, col("doc_id") % 6 === 2)
      graft.sources.TxTable.phraseProbeIndexed(s, root, "pos",
          Seq("spark", "vector"))
        .orderBy("doc_id")
    },
    Some(
      """WITH lst AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS l
        |  FROM documents WHERE doc_id % 6 <> 2),
        |m AS (SELECT doc_id FROM lst, unnest(range(1, len(l))) t(i)
        |      WHERE l[i] = 'spark' AND l[i+1] = 'vector')
        |SELECT doc_id, count(*)::BIGINT AS n_matches
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Conjunctive (AND) retrieval against the TX-PINNED BM25 postings
    * ([[graft.sources.TxTable.conjunctiveProbeIndexed]]) with a
    * mid-life delete — the boolean face of the pinned lexical index
    * shares its layout with the ranked one. Full oracle over the
    * survivor set.
    */
  val conjunctiveTxPinned: QueryDef = QueryDef(
    "text_index_conjunctive_txpinned",
    (s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-conjpin-").toString
      graft.sources.TxTable.createIndexed(
        Tables(s, dir).documents.select("doc_id", "text"), root, Seq(
          graft.sources.TxTable.Bm25IndexBuild("lex", "doc_id", "text")))
      graft.sources.TxTable.deleteWhere(s, root, col("doc_id") % 6 === 2)
      graft.sources.TxTable.conjunctiveProbeIndexed(s, root, "lex",
          Seq("spark", "vector", "customer"))
        .orderBy("doc_id")
    },
    Some(
      """WITH pd AS (
        |  SELECT doc_id,
        |    len(list_filter(ws, w -> w = 'spark')) AS tf0,
        |    len(list_filter(ws, w -> w = 'vector')) AS tf1,
        |    len(list_filter(ws, w -> w = 'customer')) AS tf2
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS ws
        |        FROM documents WHERE doc_id % 6 <> 2))
        |SELECT doc_id, (tf0 + tf1 + tf2)::BIGINT AS tf_total
        |FROM pd WHERE tf0 > 0 AND tf1 > 0 AND tf2 > 0
        |ORDER BY doc_id""".stripMargin))

  private val positionalIndexes =
    new graft.operators.LruCache[String, String](8)

  private def positionalIndexFor(
      s: org.apache.spark.sql.SparkSession, dir: String): String =
    positionalIndexes.getOrElseUpdate(dir) {
      val p = s"${System.getProperty("java.io.tmpdir")}/graft-textpos/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      graft.ingest.TextIndex.writePositions(
        Tables(s, dir).documents, "doc_id", "text", p)
    }

  /** Exact phrase retrieval ([[graft.ingest.TextIndex.phraseDocs]])
    * over the positional layout: "spark vector" as consecutive
    * tokens, occurrence-counted — slot i anchors at pos − i, one
    * (doc, anchor) equi-join per extra term, inputs partition-pruned
    * to the phrase terms' buckets. Full oracle: DuckDB replays
    * adjacency by 1-based list indexing over the same split.
    */
  val indexPhrase: QueryDef = QueryDef(
    "text_index_phrase",
    (s, dir) =>
      graft.ingest.TextIndex.phraseDocs(s, positionalIndexFor(s, dir),
          Seq("spark", "vector"))
        .orderBy("doc_id"),
    Some(
      """WITH lst AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS l
        |  FROM documents),
        |m AS (SELECT doc_id FROM lst, unnest(range(1, len(l))) t(i)
        |      WHERE l[i] = 'spark' AND l[i+1] = 'vector')
        |SELECT doc_id, count(*)::BIGINT AS n_matches
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  private val positionalAppendIndexes =
    new graft.operators.LruCache[String, String](8)

  /** Positional-index append parity ([[graft.ingest.TextIndex
    * .appendPositions]]): the layout builds from HALF the corpus
    * (doc_id even) and the other half APPENDS — batch-scan-only cost,
    * no rebuild — then the same phrase probe as [[indexPhrase]] runs
    * against the union layout. Full oracle: the FULL-corpus phrase
    * SQL, so the gate proves build-half + append-half ≡ one-shot
    * build, row for row.
    */
  @annotation.nowarn("cat=deprecation") // gate keeps the legacy path honest
  val indexPhraseAppend: QueryDef = QueryDef(
    "text_index_phrase_append",
    (s, dir) => {
      val p = positionalAppendIndexes.getOrElseUpdate(dir) {
        val docs = Tables(s, dir).documents
        val path = s"${System.getProperty("java.io.tmpdir")}/graft-textposapp/" +
          dir.replaceAll("[^A-Za-z0-9.]", "_")
        graft.ingest.TextIndex.writePositions(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
        graft.ingest.TextIndex.appendPositions(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", path)
        path
      }
      graft.ingest.TextIndex.phraseDocs(s, p, Seq("spark", "vector"))
        .orderBy("doc_id")
    },
    indexPhrase.oracle)

  /** Conjunctive (AND) retrieval ([[graft.ingest.TextIndex
    * .conjunctiveDocs]]): documents containing EVERY query term, with
    * summed tf — one pruned postings scan + one per-doc aggregate,
    * the boolean face beside the ranked `text_bm25_indexed`.
    */
  val indexConjunctive: QueryDef = QueryDef(
    "text_index_conjunctive",
    (s, dir) =>
      graft.ingest.TextIndex.conjunctiveDocs(s, bm25IndexFor(s, dir),
          Seq("spark", "vector", "customer"))
        .orderBy("doc_id"),
    Some(
      """WITH pd AS (
        |  SELECT doc_id,
        |    len(list_filter(ws, w -> w = 'spark')) AS tf0,
        |    len(list_filter(ws, w -> w = 'vector')) AS tf1,
        |    len(list_filter(ws, w -> w = 'customer')) AS tf2
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS ws
        |        FROM documents))
        |SELECT doc_id, (tf0 + tf1 + tf2)::BIGINT AS tf_total
        |FROM pd WHERE tf0 > 0 AND tf1 > 0 AND tf2 > 0
        |ORDER BY doc_id""".stripMargin))

  /** Batched multi-query BM25 ([[graft.ingest.TextIndex
    * .bm25IndexedBatch]]): two queries score in ONE pruned postings
    * scan (union of their buckets), the (qid, term) routing frame
    * broadcast — row-identical to per-query probes. Full oracle: the
    * per-term arithmetic restates per query and unions.
    */
  val bm25BatchIndexed: QueryDef = QueryDef(
    "text_bm25_batch_indexed",
    (s, dir) =>
      graft.ingest.TextIndex.bm25IndexedBatch(s, bm25IndexFor(s, dir),
          Seq("qa" -> Seq("spark", "vector"),
            "qb" -> Seq("customer", "table")))
        .select(col("qid"), col("doc_id"),
          round(col("bm25"), 4).as("bm25"))
        .orderBy("qid", "doc_id"),
    Some(
      """WITH pd AS (
        |  SELECT doc_id, len(ws) AS dl,
        |    len(list_filter(ws, w -> w = 'spark')) AS tfa0,
        |    len(list_filter(ws, w -> w = 'vector')) AS tfa1,
        |    len(list_filter(ws, w -> w = 'customer')) AS tfb0,
        |    len(list_filter(ws, w -> w = 'table')) AS tfb1
        |  FROM (SELECT doc_id,
        |          string_split_regex(lower(trim(text)), '\s+') AS ws
        |        FROM documents)),
        |st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
        |         sum(CASE WHEN tfa0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS dfa0,
        |         sum(CASE WHEN tfa1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS dfa1,
        |         sum(CASE WHEN tfb0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS dfb0,
        |         sum(CASE WHEN tfb1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS dfb1
        |       FROM pd),
        |qa AS (SELECT 'qa' AS qid, doc_id, round(
        |    (CASE WHEN tfa0 > 0 THEN ln(1 + (n - dfa0 + 0.5) / (dfa0 + 0.5))
        |      * tfa0::DOUBLE * (1.2 + 1.0) / (tfa0::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tfa1 > 0 THEN ln(1 + (n - dfa1 + 0.5) / (dfa1 + 0.5))
        |      * tfa1::DOUBLE * (1.2 + 1.0) / (tfa1::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END),
        |  4) AS bm25
        |  FROM pd CROSS JOIN st WHERE tfa0 > 0 OR tfa1 > 0),
        |qb AS (SELECT 'qb' AS qid, doc_id, round(
        |    (CASE WHEN tfb0 > 0 THEN ln(1 + (n - dfb0 + 0.5) / (dfb0 + 0.5))
        |      * tfb0::DOUBLE * (1.2 + 1.0) / (tfb0::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END)
        |  + (CASE WHEN tfb1 > 0 THEN ln(1 + (n - dfb1 + 0.5) / (dfb1 + 0.5))
        |      * tfb1::DOUBLE * (1.2 + 1.0) / (tfb1::DOUBLE
        |        + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / avgdl)) ELSE 0 END),
        |  4) AS bm25
        |  FROM pd CROSS JOIN st WHERE tfb0 > 0 OR tfb1 > 0)
        |SELECT qid, doc_id, bm25
        |FROM (SELECT * FROM qa UNION ALL SELECT * FROM qb)
        |ORDER BY qid, doc_id""".stripMargin))

  private val bm25AppendIndexes =
    new graft.operators.LruCache[String, String](8)

  /** Incremental BM25 index maintenance ([[graft.ingest.TextIndex
    * .appendBm25]]): build on the even half, APPEND the odd half —
    * batch-scan-only cost, exact integer (n, Σdl) moment merge — then
    * probe. The oracle is the full-corpus `text_bm25` SQL, so the gate
    * proves append ≡ one-shot build ≡ the in-plan scorer on the union
    * corpus (the [[graft.ingest.AnnIndex.appendIvf]] maintenance
    * contract applied to lexical retrieval).
    */
  @annotation.nowarn("cat=deprecation") // gate keeps the legacy path honest
  val bm25IndexAppend: QueryDef = QueryDef(
    "text_bm25_index_append",
    (s, dir) => {
      val path = bm25AppendIndexes.getOrElseUpdate(dir) {
        val docs = Tables(s, dir).documents
        val p = s"${System.getProperty("java.io.tmpdir")}/graft-bm25app/" +
          dir.replaceAll("[^A-Za-z0-9.]", "_")
        graft.ingest.TextIndex.writeBm25(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
        graft.ingest.TextIndex.appendBm25(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
        p
      }
      graft.ingest.TextIndex.bm25Indexed(s, path,
          Seq("spark", "vector", "customer"))
        .select(col("doc_id"), round(col("bm25"), 4).as("bm25"))
        .orderBy("doc_id")
    },
    bm25Indexed.oracle)

  /** One BPE merge table per corpus dir — training is deterministic, so
    * caching is pure latency (the bench/verify gates probe the same
    * corpus repeatedly).
    */
  private val bpeMerges =
    new graft.operators.LruCache[String, Seq[(String, String, Int)]](8)

  /** Distributed BPE: train 24 merges on the corpus (one corpus pass +
    * vocabulary-frame rounds), then encode every document with them.
    * Rows-only by design (iterative argmax training is not
    * SQL-expressible); BpeSpec locks the trainer to an independent
    * reference implementation, in merge order.
    */
  val bpeEncode: QueryDef = QueryDef(
    "text_bpe_encode",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val merges = bpeMerges.getOrElseUpdate(dir) {
        graft.operators.Bpe.trainMerges(docs, "text", numMerges = 24)
      }
      graft.operators.Bpe.encode(docs, "text", merges)
        .select(col("doc_id"), col("n_tokens"),
          // scalar projection of the token stream the comparator can
          // hash: distinct subword count per doc
          size(array_distinct(col("tokens"))).cast("long").as("n_distinct"))
        .orderBy("doc_id")
    },
    None)

  /** Bigram-LM mean conditional log-likelihood per doc (add-1
    * smoothing) — the order-aware perplexity filter. Full oracle: all
    * counts are exact integers; the log sum rounds to 4 dp (ordering
    * noise ~1e-14, ten orders below the rounding step).
    */
  val bigramLogProb: QueryDef = QueryDef(
    "text_bigram_logprob",
    (s, dir) =>
      TextAnalysis.bigramLogProbScore(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id"),
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |bg AS (SELECT doc_id, ws[i] AS l, ws[i+1] AS r
        |       FROM w, unnest(range(1, len(ws))) AS t(i)),
        |tf AS (SELECT doc_id, l, r, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
        |cb AS (SELECT l, r, sum(tf) AS cbg FROM tf GROUP BY 1, 2),
        |u AS (SELECT unnest(ws) AS term FROM w),
        |cu AS (SELECT term, count(*) AS cl FROM u GROUP BY 1),
        |v AS (SELECT count(DISTINCT term) AS v FROM u)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  round(sum(tf * (ln(cbg + 1) - ln(cl + v))) / sum(tf), 4) + 0 AS avg_logprob
        |FROM tf JOIN cb USING (l, r) JOIN cu ON cu.term = tf.l CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Adjacent-bigram PMI collocations (count ≥ 20) — phrase mining.
    * Full oracle: integer counts into one log, rounded to 4 dp.
    */
  val pmi: QueryDef = QueryDef(
    "text_pmi_bigrams",
    (s, dir) =>
      TextAnalysis.pmiBigrams(Tables(s, dir).documents, "text", minCount = 20L)
        .orderBy("l", "r"),
    Some(
      """WITH w AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |bg AS (SELECT ws[i] AS l, ws[i+1] AS r
        |       FROM w, unnest(range(1, len(ws))) AS t(i)),
        |c AS (SELECT l, r, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |m AS (SELECT l, r, cnt,
        |        sum(cnt) OVER (PARTITION BY l) AS cl,
        |        sum(cnt) OVER (PARTITION BY r) AS cr,
        |        sum(cnt) OVER () AS n
        |      FROM c)
        |SELECT l, r, cnt, round(ln(cnt) + ln(n) - ln(cl) - ln(cr), 4) + 0 AS pmi
        |FROM m WHERE cnt >= 20 ORDER BY l, r""".stripMargin))

  /** Winnowing fingerprint sets (MOSS): window-min over positional
    * 3-gram polynomial hashes. Full oracle — the hash is engine-
    * portable by construction, so DuckDB reproduces the VALUES.
    */
  val winnow: QueryDef = QueryDef(
    "text_winnow_fingerprints",
    (s, dir) =>
      TextAnalysis.winnowFingerprints(Tables(s, dir).documents,
          "text", "doc_id", shingleN = 3, window = 4)
        .orderBy("doc_id", "fp"),
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |sh AS (SELECT doc_id, i,
        |         CASE WHEN len(ws) < 3 THEN array_to_string(ws, ' ')
        |              ELSE array_to_string(list_slice(ws, i, i + 2), ' ') END AS s,
        |         greatest(len(ws) - 2, 1) AS nh
        |       FROM w, unnest(range(1, greatest(len(ws) - 1, 2))) AS t(i)),
        |h AS (SELECT doc_id, i, nh,
        |        list_reduce(list_prepend(0::BIGINT,
        |          list_transform(range(1, len(s) + 1), j -> ascii(s[j])::BIGINT)),
        |          (a, b) -> (a * 31 + b) % 2147483647) AS hv
        |      FROM sh),
        |win AS (SELECT doc_id, i, nh,
        |          min(hv) OVER (PARTITION BY doc_id ORDER BY i
        |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |        FROM h)
        |SELECT DISTINCT doc_id, fp FROM win
        |WHERE i <= greatest(nh - 3, 1)
        |ORDER BY doc_id, fp""".stripMargin))

  /** Per-source unigram Jensen–Shannon divergence vs the corpus —
    * domain-shift monitoring. Full oracle (exact count ratios into the
    * logs; 6-dp round twelve orders above float-sum noise).
    */
  val jsDivergence: QueryDef = QueryDef(
    "text_js_divergence",
    (s, dir) =>
      TextAnalysis.jsDivergenceByGroup(Tables(s, dir).documents,
          "text", "source")
        .orderBy("source"),
    Some(
      """WITH t AS (SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents),
        |sc AS (SELECT source, w, count(*) AS c FROM t GROUP BY 1, 2),
        |sn AS (SELECT source, sum(c) AS n FROM sc GROUP BY 1),
        |cc AS (SELECT w, sum(c) AS c FROM sc GROUP BY 1),
        |cn AS (SELECT sum(c) AS n FROM cc),
        |j AS (SELECT sc.source, sc.c * 1.0 / sn.n AS p, cc.c * 1.0 / cn.n AS q
        |      FROM sc JOIN sn USING (source) JOIN cc USING (w) CROSS JOIN cn),
        |kl AS (SELECT source, sum(p * ln(2 * p / (p + q))) AS klp FROM j GROUP BY source),
        |q2 AS (SELECT s.source, coalesce(sc.c * 1.0 / sn.n, 0) AS p, cc.c * 1.0 / cn.n AS q
        |       FROM (SELECT DISTINCT source FROM sc) s
        |       CROSS JOIN cc
        |       LEFT JOIN sc ON sc.source = s.source AND sc.w = cc.w
        |       JOIN sn ON sn.source = s.source CROSS JOIN cn),
        |klq AS (SELECT source, sum(q * ln(2 * q / (p + q))) AS klq FROM q2 GROUP BY source)
        |SELECT source, round((klp + klq) / (2 * ln(2)), 6) + 0 AS jsd
        |FROM kl JOIN klq USING (source) ORDER BY source""".stripMargin))

  /** Jaro–Winkler similarity pairs over the distinct part-name
    * dictionary via the native codegen'd expression
    * ([[graft.expressions.JaroWinkler]]), proven against DuckDB's
    * `jaro_winkler_similarity` under the hash. The self-join is a
    * broadcast nested-loop over a VOCABULARY-bounded frame (distinct
    * names, not rows) — the operator contract for unprunable
    * similarity scoring: JW admits no sound candidate filter, so it
    * applies to name dictionaries, with [[graft.operators
    * .EditDistance]] as the corpus-scale prunable alternative. Both
    * threshold and output round to 6 dp on both engines.
    */
  val jaroWinkler: QueryDef = QueryDef(
    "text_jaro_winkler",
    (s, dir) => {
      graft.expressions.GraftFunctions.register(s)
      val p = Tables(s, dir).part.groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("id"))
      val a = p.select(col("id").as("id_a"), col("p_name").as("s_a"))
      val b = p.select(col("id").as("id_b"), col("p_name").as("s_b"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("jw",
          round(call_function("jaro_winkler", col("s_a"), col("s_b")), 6))
        .filter(col("jw") >= 0.8)
        .select(col("id_a"), col("id_b"), col("jw"))
        .orderBy("id_a", "id_b")
    },
    Some(
      """WITH p AS (SELECT min(p_partkey) AS id, p_name AS s FROM part GROUP BY p_name)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  round(jaro_winkler_similarity(a.s, b.s), 6) AS jw
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE round(jaro_winkler_similarity(a.s, b.s), 6) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin))

  /** Zipf-law slope per language ([[graft.operators.TextAnalysis
    * .zipfSlope]]): least-squares ln(freq)~ln(rank) over each group's
    * top-500 terms. Both engines fit the same ≤500-point regression
    * (Spark `regr_slope` vs DuckDB's), 4-dp-rounded — the noise floor
    * of a bounded double regression sits orders below the step.
    */
  val zipf: QueryDef = QueryDef(
    "text_zipf_slope",
    (s, dir) =>
      TextAnalysis.zipfSlope(Tables(s, dir).documents, "text", "lang",
          topK = 500)
        .orderBy("grp"),
    Some(
      """WITH t AS (SELECT lang AS grp,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
        |tf AS (SELECT grp, term, count(*) AS cnt FROM t GROUP BY 1, 2),
        |r AS (SELECT grp, term, cnt,
        |  row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, term) AS rank FROM tf)
        |SELECT grp, count(*)::BIGINT AS n_terms,
        |  round(regr_slope(ln(cnt), ln(rank)), 4) + 0 AS slope,
        |  round(regr_intercept(ln(cnt), ln(rank)), 4) + 0 AS intercept
        |FROM r WHERE rank <= 500 GROUP BY grp ORDER BY grp""".stripMargin))

  /** Interpolated Kneser–Ney bigram log-likelihood
    * ([[graft.operators.TextAnalysis.kneserNeyLogProbScore]]) — the
    * continuation-probability smoother above the add-1 gate; every
    * count is an exact integer and the float expression uses one fixed
    * association on both engines, so the 4-dp mean is hash-stable.
    */
  val kneserNey: QueryDef = QueryDef(
    "text_kneser_ney",
    (s, dir) =>
      TextAnalysis.kneserNeyLogProbScore(
          Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id"),
    Some(
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |pr AS (SELECT doc_id, ws[i] AS l, ws[i+1] AS r
        |       FROM t, unnest(range(1, len(ws))) u(i)),
        |dtf AS (SELECT doc_id, l, r, count(*) AS tf FROM pr GROUP BY 1, 2, 3),
        |bt AS (SELECT l, r, count(*) AS c FROM pr GROUP BY 1, 2),
        |ls AS (SELECT l, sum(c)::BIGINT AS cl, count(*) AS n1pl FROM bt GROUP BY l),
        |rs AS (SELECT r, count(*) AS n1pr FROM bt GROUP BY r),
        |bb AS (SELECT count(*) AS b FROM bt)
        |SELECT d.doc_id, sum(d.tf)::BIGINT AS n_bigrams,
        |  round(sum(d.tf * ln((greatest(bt.c - 0.75, 0) + 0.75 * (ls.n1pl * rs.n1pr) / bb.b) / ls.cl)) / sum(d.tf), 4) + 0 AS avg_logprob
        |FROM dtf d JOIN bt ON bt.l = d.l AND bt.r = d.r
        |JOIN ls ON ls.l = d.l JOIN rs ON rs.r = d.r CROSS JOIN bb
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin))

  private[queries] val BlocklistPatterns =
    Seq("spark", "data", "at", "customer", "er")

  /** Aho–Corasick blocklist matching ([[graft.operators.Blocklist]]):
    * one automaton pass per doc regardless of pattern count; the
    * oracle restates the match contract positionally (every i with
    * substr(t, i, len(p)) = p counts — overlaps included), so the
    * automaton's fail-link traversal is value-checked, not just
    * spec-checked. The pattern list deliberately nests ("at" inside
    * "data", "er" inside "customer") to keep the overlap cases live
    * on real data.
    */
  val blocklist: QueryDef = QueryDef(
    "text_blocklist",
    (s, dir) =>
      graft.operators.Blocklist.flagMatches(
          Tables(s, dir).documents, "text", "doc_id", BlocklistPatterns)
        .orderBy("doc_id"),
    Some {
      val hs = BlocklistPatterns.zipWithIndex.map { case (p, i) =>
        s"len(list_filter(range(1, len(t) - ${p.length} + 2), " +
          s"i -> substr(t, i, ${p.length}) = '$p')) AS h$i"
      }.mkString(",\n  ")
      val nPat = BlocklistPatterns.indices
        .map(i => s"CASE WHEN h$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
      val nHits = BlocklistPatterns.indices.map(i => s"h$i").mkString(" + ")
      s"""WITH tt AS (SELECT doc_id, lower(text) AS t FROM documents),
         |h AS (SELECT doc_id,
         |  $hs FROM tt)
         |SELECT doc_id, ($nPat)::BIGINT AS n_patterns,
         |  ($nHits)::BIGINT AS n_hits
         |FROM h ORDER BY doc_id""".stripMargin
    })

  /** Deflate compression ratio
    * ([[graft.operators.TextAnalysis.compressionRatio]]) — rows-only BY
    * DESIGN (no SQL engine ships deflate); the spec locks the signal's
    * orderings and determinism.
    */
  val compressionRatio: QueryDef = QueryDef(
    "text_compression_ratio",
    (s, dir) =>
      TextAnalysis.compressionRatio(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id"),
    None)

  /** Character-8-gram redundancy ([[graft.operators.TextAnalysis
    * .redundancyRatio]]) — the SQL-statable twin that puts the
    * [[compressionRatio]] quality-signal family under the full oracle
    * (deflate itself is codec-defined, so that gate stays rows-only by
    * design): redundancy = 1 − distinct/total 8-grams, replayed by
    * DuckDB over the same character slicing.
    */
  val redundancyRatio: QueryDef = QueryDef(
    "text_redundancy_ratio",
    (s, dir) =>
      TextAnalysis.redundancyRatio(Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  greatest(length(text) - 7, 0)::BIGINT AS n_grams,
        |  (CASE WHEN length(text) >= 8 THEN
        |     len(list_distinct(list_transform(range(1, length(text) - 6),
        |       i -> substr(text, i, 8))))
        |   ELSE 0 END)::BIGINT AS n_distinct,
        |  CASE WHEN length(text) >= 8 THEN
        |    round(1.0 - (CASE WHEN length(text) >= 8 THEN
        |        len(list_distinct(list_transform(range(1, length(text) - 6),
        |          i -> substr(text, i, 8))))
        |      ELSE 0 END) * 1.0 / greatest(length(text) - 7, 0), 6) + 0
        |  ELSE 0.0 END AS redundancy
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Hashed-linear quality classifier inference
    * ([[graft.operators.QualityClassifier.portableLogitMilli]]): the
    * fastText-style model-based filter under the md5 contract — bucket
    * = h28(token) mod 1024, integer milli-weights w_b = h28('w'||b) mod
    * 2001 − 1000, bias from h28('bias'); per-doc logits are EXACT long
    * sums over distinct-token buckets. The oracle rebuilds model and
    * inference from the contract alone.
    */
  val qualityClassifier: QueryDef = QueryDef(
    "text_quality_classifier",
    (s, dir) =>
      QualityClassifier.portableLogitMilli(
          Tables(s, dir).documents, "text", "doc_id", buckets = 1024)
        .orderBy("doc_id"),
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents),
        |f AS (SELECT doc_id, w, ('0x' || substr(md5(w), 1, 7))::BIGINT % 1024 AS b FROM tk),
        |wt AS (SELECT doc_id, (('0x' || substr(md5('w' || b::VARCHAR), 1, 7))::BIGINT % 2001) - 1000 AS wt FROM f),
        |s AS (SELECT doc_id, count(*) AS n_feat, sum(wt)::BIGINT AS sw FROM wt GROUP BY doc_id),
        |bs AS (SELECT (('0x' || substr(md5('bias'), 1, 7))::BIGINT % 2001) - 1000 AS b0)
        |SELECT doc_id, n_feat, (sw + b0)::BIGINT AS logit_milli, (sw + b0) > 0 AS label
        |FROM s CROSS JOIN bs ORDER BY doc_id""".stripMargin))

  /** Portable BPE merge chain ([[graft.operators.Bpe
    * .portableMergeChain]]) — the md5-contract-style twin that puts
    * the tokenize-and-merge pipeline under the hard oracle the
    * corpus-trained `text_bpe_encode` path (rows-only by design)
    * cannot: char tokens over normalized text, 12 fixed merges, each
    * merge = one non-overlapping left-to-right replace-all that both
    * engines' `replace` implement identically.
    */
  val bpePortable: QueryDef = QueryDef(
    "text_bpe_portable",
    (s, dir) =>
      graft.operators.Bpe.portableMergeChain(
          Tables(s, dir).documents, "text", "doc_id", maxChars = 64)
        .orderBy("doc_id"),
    Some {
      val chain = graft.operators.Bpe.PortableMerges.foldLeft("t") {
        case (acc, (x, y)) =>
          s"replace($acc, '$x' || chr(31) || '$y', '$x$y')"
      }
      s"""WITH b AS (SELECT doc_id,
         |    substr(regexp_replace(lower(text), '[^a-z ]', '', 'g'), 1, 64) AS s
         |  FROM documents),
         |c AS (SELECT doc_id, s,
         |    rtrim(regexp_replace(s, '(.)', '\\1' || chr(31), 'g'), chr(31)) AS t
         |  FROM b),
         |m AS (SELECT doc_id, s, $chain AS t FROM c)
         |SELECT doc_id,
         |  (CASE WHEN s = '' THEN 0 ELSE len(string_split(t, chr(31))) END)::BIGINT AS n_tokens,
         |  replace(t, chr(31), '|') AS tokens
         |FROM m ORDER BY doc_id""".stripMargin
    })

  /** Unicode normalization ([[TextAnalysis.normalizeForMatch]] over the
    * codegen'd [[graft.expressions.StripAccents]]): lowercase → NFD
    * accent fold → whitespace collapse, the canonical match key every
    * multilingual dedup/decontamination pipeline applies before keying.
    *
    * Corpus: deterministic accented text rebuilt from doc_id (three
    * vocab words with messy spacing) so non-ASCII actually flows — the
    * testdata text is ASCII. The oracle derives the folded form
    * INDEPENDENTLY in closed form (per-word expected strings, not a
    * replay of the chain), so a wrong fold on any vocab word — or a
    * transliteration where mark-removal was contracted (`ß ø œ` must
    * survive) — breaks the hash. DuckDB-semantics parity
    * (`strip_accents`) is additionally pinned in StripAccentsSpec.
    */
  val normalizeUnicode: QueryDef = {
    val raw = Seq("Café", "Noël", "Déjà", "Größe", "Façade", "Über",
      "Niño", "Sørensen", "Ångström", "Pâté", "Crème", "Brûlée",
      "naïve", "Zürich", "Œuvre")
    val folded = Seq("café", "noël", "déjà", "größe", "façade", "über",
      "niño", "sørensen", "ångström", "pâté", "crème", "brûlée",
      "naïve", "zürich", "œuvre").map(w =>
      java.text.Normalizer.normalize(w, java.text.Normalizer.Form.NFD)
        .filterNot(c => Character.getType(c) == Character.NON_SPACING_MARK))
    // hand-check the independent derivation stays honest: the fold is
    // computed HERE at definition time (driver side, plain JDK, no
    // Spark), and the literal list below is what the oracle embeds
    require(folded == Seq("cafe", "noel", "deja", "große", "facade",
      "uber", "nino", "sørensen", "angstrom", "pate", "creme", "brulee",
      "naive", "zurich", "œuvre"), s"unexpected fold: $folded")
    QueryDef(
      "text_normalize_unicode",
      (s, dir) => {
        graft.expressions.GraftFunctions.register(s)
        val vocab = array(raw.map(lit): _*)
        def pick(idx: org.apache.spark.sql.Column) =
          element_at(vocab, (idx + 1).cast("int"))
        Tables(s, dir).documents
          .select(col("doc_id"),
            concat(lit(" "), pick(col("doc_id") % 15),
              lit("  "), pick((col("doc_id") * 7 + 3) % 15),
              lit(" "), pick((col("doc_id") * 13 + 5) % 15)).as("messy"))
          .select(col("doc_id"), col("messy"),
            TextAnalysis.normalizeForMatch(col("messy")).as("norm"))
          .orderBy("doc_id")
      },
      Some {
        val rawList = raw.map(w => s"'$w'").mkString(", ")
        val foldList = folded.map(w => s"'$w'").mkString(", ")
        s"""WITH v AS (SELECT doc_id,
           |    [$rawList] AS r, [$foldList] AS f,
           |    (doc_id % 15) + 1 AS i1,
           |    ((doc_id * 7 + 3) % 15) + 1 AS i2,
           |    ((doc_id * 13 + 5) % 15) + 1 AS i3
           |  FROM documents)
           |SELECT doc_id,
           |  ' ' || r[i1] || '  ' || r[i2] || ' ' || r[i3] AS messy,
           |  f[i1] || ' ' || f[i2] || ' ' || f[i3] AS norm
           |FROM v ORDER BY doc_id""".stripMargin
      })
  }

  /** Sentence-level cross-document duplication
    * ([[graft.operators.SentenceDedup]]) — the C4/RefinedWeb boilerplate
    * signal: fraction of each document's sentences that also occur in
    * OTHER documents. The testdata text carries no punctuation, so the
    * corpus is rebuilt deterministically: each doc's real words chopped
    * into 7-word sentences with cycling `.`/`!`/`?` terminators, plus
    * two boilerplate sentences injected on doc_id % 3 / % 5 — the
    * cross-doc duplicates the operator exists to catch. The oracle
    * replays corpus construction, the RE2-safe split contract, md5
    * keying, and the distinct-doc frequency join under the hash.
    */
  val sentenceDedup: QueryDef = QueryDef(
    "text_sentence_dedup",
    (s, dir) => {
      val ws = split(trim(col("text")), "\\s+")
      val nc = floor((size(ws) + lit(6)) / lit(7)).cast("long")
      val punct = array(lit("."), lit("!"), lit("?"))
      val parts = transform(sequence(lit(0L), nc - 1), i =>
        concat(array_join(slice(ws, (i * 7 + 1).cast("int"), lit(7)), " "),
          element_at(punct, (i % 3 + 1).cast("int"))))
      val messy = concat(
        when(col("doc_id") % 3 === 0,
          lit("Subscribe to our newsletter today! ")).otherwise(lit("")),
        array_join(parts, " "),
        when(col("doc_id") % 5 === 0,
          lit(" Click here to read more.")).otherwise(lit("")))
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), messy.as("text"))
      graft.operators.SentenceDedup.crossDocStats(docs).orderBy("doc_id")
    },
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |    FROM documents),
        |c AS (SELECT doc_id, ws, (len(ws) + 6) // 7 AS nc FROM w),
        |g AS (SELECT doc_id, ws,
        |    unnest(generate_series(0, nc - 1)) AS i FROM c),
        |p AS (SELECT doc_id, i,
        |    array_to_string(ws[(i*7+1):(i*7+7)], ' ')
        |      || ['.', '!', '?'][(i % 3) + 1] AS part
        |  FROM g),
        |b AS (SELECT doc_id, string_agg(part, ' ' ORDER BY i) AS body
        |  FROM p GROUP BY doc_id),
        |m AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0
        |        THEN 'Subscribe to our newsletter today! ' ELSE '' END)
        |    || body ||
        |    (CASE WHEN doc_id % 5 = 0
        |        THEN ' Click here to read more.' ELSE '' END) AS messy
        |  FROM b),
        |e AS (SELECT doc_id,
        |    unnest(string_split_regex(messy, '[.!?]+\s+|[.!?]+$')) AS sraw
        |  FROM m),
        |e2 AS (SELECT doc_id, md5(lower(trim(sraw))) AS k
        |  FROM e WHERE trim(sraw) <> ''),
        |f AS (SELECT k, count(DISTINCT doc_id) AS nd FROM e2 GROUP BY k)
        |SELECT e2.doc_id AS doc_id,
        |  count(*) AS n_sent,
        |  (sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END))::BIGINT AS n_cross,
        |  round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
        |    AS dup_ratio
        |FROM e2 JOIN f USING (k) GROUP BY e2.doc_id ORDER BY doc_id""".stripMargin))

  /** Unicode script profiling ([[TextAnalysis.scriptCounts]] /
    * [[TextAnalysis.dominantScript]]): per-script character counts +
    * deterministic dominant script — the coarse multilingual router in
    * front of per-script language ID. Corpus rebuilt deterministically
    * from doc_id as three words drawn from Latin/Cyrillic/Greek/CJK
    * vocabularies (the testdata text is ASCII-only); the oracle
    * rebuilds the same text and replays the RE2 counting classes and
    * the tie-break CASE chain under the hash.
    */
  val scriptProfile: QueryDef = QueryDef(
    "text_script_profile",
    (s, dir) => {
      val vocab = array(
        array(lit("stream"), lit("data"), lit("engine"), lit("table")),
        array(lit("данные"), lit("поток"), lit("слово"), lit("текст")),
        array(lit("δεδομένα"), lit("ροή"), lit("λέξη"), lit("κείμενο")),
        array(lit("数据"), lit("流"), lit("处理"), lit("文本")))
      def pick(a: Long, b: Long, c: Long, d: Long) =
        element_at(element_at(vocab,
            ((col("doc_id") * a + b) % 4 + 1).cast("int")),
          ((col("doc_id") * c + d) % 4 + 1).cast("int"))
      val built = concat_ws(" ",
        pick(1, 0, 7, 0), pick(5, 1, 3, 2), pick(11, 2, 13, 1))
      val withText = Tables(s, dir).documents
        .select(col("doc_id"), built.as("mtext"))
      val counts = TextAnalysis.scriptCounts(col("mtext")).map {
        case (n, c) => c.cast("long").as(s"n_$n")
      }
      withText.select(
          Seq(col("doc_id"), col("mtext")) ++ counts :+
            TextAnalysis.dominantScript(col("mtext")).as("dominant"): _*)
        .orderBy("doc_id")
    },
    Some(
      """WITH v AS (SELECT doc_id,
        |    [['stream','data','engine','table'],
        |     ['данные','поток','слово','текст'],
        |     ['δεδομένα','ροή','λέξη','κείμενο'],
        |     ['数据','流','处理','文本']] AS vv
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    vv[((doc_id * 1 + 0) % 4 + 1)::INT][((doc_id * 7 + 0) % 4 + 1)::INT]
        |    || ' ' ||
        |    vv[((doc_id * 5 + 1) % 4 + 1)::INT][((doc_id * 3 + 2) % 4 + 1)::INT]
        |    || ' ' ||
        |    vv[((doc_id * 11 + 2) % 4 + 1)::INT][((doc_id * 13 + 1) % 4 + 1)::INT]
        |      AS mtext
        |  FROM v),
        |c AS (SELECT doc_id, mtext,
        |    length(regexp_replace(mtext, '[^A-Za-z]', '', 'g'))::BIGINT AS n_latin,
        |    length(regexp_replace(mtext, '[^\x{0400}-\x{04FF}]', '', 'g'))::BIGINT AS n_cyrillic,
        |    length(regexp_replace(mtext, '[^\x{0370}-\x{03FF}]', '', 'g'))::BIGINT AS n_greek,
        |    length(regexp_replace(mtext, '[^\x{4E00}-\x{9FFF}]', '', 'g'))::BIGINT AS n_cjk
        |  FROM m)
        |SELECT doc_id, mtext, n_latin, n_cyrillic, n_greek, n_cjk,
        |  CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_greek AND n_latin >= n_cjk THEN 'latin'
        |       WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_cjk THEN 'cyrillic'
        |       WHEN n_greek >= n_cjk THEN 'greek'
        |       ELSE 'cjk' END AS dominant
        |FROM c ORDER BY doc_id""".stripMargin))

  /** Flesch reading ease ([[TextAnalysis.fleschScore]] over
    * [[TextAnalysis.syllableCount]] + the [[SentenceDedup.sentences]]
    * contract): the classic readability quality feature. Runs on the
    * same deterministic punctuated corpus as `text_sentence_dedup`;
    * the oracle rebuilds the corpus and replays word, sentence, and
    * vowel-group counts plus the 4-dp score arithmetic.
    */
  val readability: QueryDef = QueryDef(
    "text_readability",
    (s, dir) => {
      val ws = split(trim(col("text")), "\\s+")
      val nc = floor((size(ws) + lit(6)) / lit(7)).cast("long")
      val punct = array(lit("."), lit("!"), lit("?"))
      val parts = transform(sequence(lit(0L), nc - 1), i =>
        concat(array_join(slice(ws, (i * 7 + 1).cast("int"), lit(7)), " "),
          element_at(punct, (i % 3 + 1).cast("int"))))
      val messy = concat(
        when(col("doc_id") % 3 === 0,
          lit("Subscribe to our newsletter today! ")).otherwise(lit("")),
        array_join(parts, " "),
        when(col("doc_id") % 5 === 0,
          lit(" Click here to read more.")).otherwise(lit("")))
      Tables(s, dir).documents
        .select(col("doc_id"), messy.as("mtext"))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("mtext")).cast("long").as("n_words"),
          size(graft.operators.SentenceDedup.sentences(col("mtext")))
            .cast("long").as("n_sentences"),
          TextAnalysis.syllableCount(col("mtext")).cast("long")
            .as("n_syllables"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          TextAnalysis.fleschScore(col("n_words"), col("n_sentences"),
            col("n_syllables")).as("flesch"))
        .orderBy("doc_id")
    },
    Some(
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |    FROM documents),
        |c AS (SELECT doc_id, ws, (len(ws) + 6) // 7 AS nc FROM w),
        |g AS (SELECT doc_id, ws,
        |    unnest(generate_series(0, nc - 1)) AS i FROM c),
        |p AS (SELECT doc_id, i,
        |    array_to_string(ws[(i*7+1):(i*7+7)], ' ')
        |      || ['.', '!', '?'][(i % 3) + 1] AS part
        |  FROM g),
        |b AS (SELECT doc_id, string_agg(part, ' ' ORDER BY i) AS body
        |  FROM p GROUP BY doc_id),
        |m AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0
        |        THEN 'Subscribe to our newsletter today! ' ELSE '' END)
        |    || body ||
        |    (CASE WHEN doc_id % 5 = 0
        |        THEN ' Click here to read more.' ELSE '' END) AS mtext
        |  FROM b),
        |n AS (SELECT doc_id,
        |    len(string_split_regex(trim(mtext), '\s+'))::BIGINT AS n_words,
        |    len(list_filter(list_transform(
        |        string_split_regex(mtext, '[.!?]+\s+|[.!?]+$'), s -> trim(s)),
        |      s -> s <> ''))::BIGINT AS n_sentences,
        |    (len(regexp_extract_all(lower(mtext), '[aeiouy]+'))
        |     + len(list_filter(string_split_regex(trim(mtext), '\s+'),
        |         w -> NOT regexp_matches(w, '[aeiouyAEIOUY]'))))::BIGINT
        |      AS n_syllables
        |  FROM m)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
        |    - 84.6 * (n_syllables::DOUBLE / n_words), 4) + 0 AS flesch
        |FROM n ORDER BY doc_id""".stripMargin))

  /** Hashing-trick feature histogram ([[graft.operators.Features
    * .hashedFeatureHistogram]]): md5-bucketed token features over the
    * corpus — the unbounded-vocabulary featurizer, assignments
    * engine-portable by the md5 contract; only (bucket, count)
    * partials ever shuffle.
    */
  val hashedFeatures: QueryDef = QueryDef(
    "text_hashed_features",
    (s, dir) =>
      graft.operators.Features.hashedFeatureHistogram(
          Tables(s, dir).documents, "text", nBuckets = 64)
        .orderBy("bucket"),
    Some(
      """SELECT bucket, count(*) AS cnt FROM (
        |  SELECT ('0x' || substr(md5(w), 1, 7))::BIGINT % 64 AS bucket
        |  FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |        FROM documents)
        |  WHERE w <> '')
        |GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** Rare-term TF-IDF pair candidates ([[graft.operators.Features
    * .tfidfRareTermPairs]]): top-20 document pairs by exact integer
    * TF-IDF dot product over shared bigram terms with df ∈ [2, 20] —
    * the df cap bounds candidates the way PPJoin prefixes do (an
    * uncapped term join goes quadratic on every stopword). The oracle
    * replays bigram tokenize, df filter, integer-division weights, and
    * the ranked pair join.
    */
  val tfidfPairs: QueryDef = QueryDef(
    "text_tfidf_pairs",
    (s, dir) =>
      graft.operators.Features.tfidfRareTermPairs(
        Tables(s, dir).documents, "doc_id", "text",
        dfMin = 2, dfMax = 20, k = 20),
    Some(
      """WITH tk AS (SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS ws
        |  FROM documents),
        |bg AS (SELECT id, ws[i] || ' ' || ws[i+1] AS w
        |       FROM tk, unnest(range(1, len(ws))) AS t(i)),
        |tf AS (SELECT id, w, count(*) AS tf FROM bg GROUP BY 1, 2),
        |df AS (SELECT w, count(*) AS dfreq FROM tf GROUP BY w
        |       HAVING count(*) BETWEEN 2 AND 20),
        |wt AS (SELECT id, tf.w, tf * (1000000 // dfreq) AS wt
        |       FROM tf JOIN df ON tf.w = df.w)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  sum(a.wt * b.wt)::BIGINT AS dot
        |FROM wt a JOIN wt b ON a.w = b.w AND a.id < b.id
        |GROUP BY 1, 2
        |ORDER BY dot DESC, id_a, id_b LIMIT 20""".stripMargin))

  /** χ² feature screening ([[graft.operators.Features
    * .chi2BinaryFeatures]]): hashed-bucket presence vs lang='en' under
    * the 2×2 closed form — one fixed-order expression over exact
    * counts, DECIMAL(38,0) products, one double division. The oracle
    * replays the md5 buckets, the contingency, and the closed form via
    * HUGEINT.
    */
  val chi2Features: QueryDef = QueryDef(
    "text_chi2_features",
    (s, dir) =>
      graft.operators.Features.chi2BinaryFeatures(
          Tables(s, dir).documents, "doc_id", "text", nBuckets = 64,
          positive = col("lang") === "en")
        .orderBy("bucket"),
    Some(
      """WITH docs AS (SELECT doc_id AS id, (lang = 'en') AS pos, text
        |              FROM documents),
        |g AS (SELECT count(*) AS nn,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS np FROM docs),
        |pr AS (SELECT DISTINCT id, pos,
        |    ('0x' || substr(md5(w), 1, 7))::BIGINT % 64 AS bucket
        |  FROM (SELECT id, pos,
        |        unnest(string_split_regex(lower(text), '\s+')) AS w
        |        FROM docs)
        |  WHERE w <> ''),
        |cells AS (SELECT bucket,
        |    sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS a,
        |    count(*)::BIGINT AS ab FROM pr GROUP BY bucket),
        |x AS (SELECT bucket, a, ab - a AS b, np - a AS c,
        |      nn - np - ab + a AS d, nn FROM cells, g)
        |SELECT bucket, a, b, c, d,
        |  CASE WHEN (a+b)*(c+d)*(a+c)*(b+d) <> 0 THEN
        |    round((nn::HUGEINT * (a::HUGEINT*d - b::HUGEINT*c)
        |        * (a::HUGEINT*d - b::HUGEINT*c))::DOUBLE /
        |      ((a+b)::HUGEINT * (c+d) * (a+c) * (b+d))::DOUBLE, 4)
        |  END AS chi2
        |FROM x ORDER BY bucket""".stripMargin))

  /** Trending terms ([[graft.operators.TextAnalysis.trendingTerms]]):
    * top-3 tokens per month, months from the closed-form document
    * datestamp ([[graft.sources.XmlRecords.datestampFor]] contract) —
    * the corpus-drift dashboard; one vocabulary-bounded aggregate +
    * a 12-partition rank window.
    */
  val trendingTerms: QueryDef = QueryDef(
    "text_trending_terms",
    (s, dir) =>
      graft.operators.TextAnalysis.trendingTerms(
          Tables(s, dir).documents, "text",
          month(date_add(lit("2024-01-01").cast("date"),
            (col("doc_id") % 365).cast("int"))).cast("long"), k = 3)
        .orderBy("bucket", "rk"),
    Some(
      """WITH tk AS (SELECT
        |    month(DATE '2024-01-01' + (doc_id % 365)::INTEGER)::BIGINT
        |      AS bucket,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |c AS (SELECT bucket, w, count(*) AS cnt FROM tk WHERE w <> ''
        |      GROUP BY 1, 2)
        |SELECT bucket, w, cnt,
        |  row_number() OVER (PARTITION BY bucket
        |    ORDER BY cnt DESC, w)::BIGINT AS rk
        |FROM c QUALIFY rk <= 3 ORDER BY bucket, rk""".stripMargin))

  /** Per-source vocabulary diversity ([[graft.operators.TextAnalysis
    * .vocabDiversity]]): token/type counts, TTR, Shannon entropy —
    * the corpus-health panel; the float log sum is vocabulary-bounded
    * (same contract as the JS-divergence gate).
    */
  val vocabDiversity: QueryDef = QueryDef(
    "text_vocab_diversity",
    (s, dir) =>
      graft.operators.TextAnalysis.vocabDiversity(
          Tables(s, dir).documents, "text", "lang")
        .withColumnRenamed("grp", "lang")
        .orderBy("lang"),
    Some(
      """WITH tk AS (SELECT lang AS grp,
        |    unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |c AS (SELECT grp, w, count(*) AS c FROM tk WHERE w <> ''
        |      GROUP BY 1, 2),
        |t AS (SELECT grp, sum(c)::BIGINT AS n_tokens,
        |      count(*) AS n_types FROM c GROUP BY grp)
        |SELECT c.grp AS lang, t.n_tokens, t.n_types,
        |  round(-sum((c::DOUBLE / n_tokens) * ln(c::DOUBLE / n_tokens)), 4) + 0
        |    AS entropy,
        |  round(n_types::DOUBLE / n_tokens, 6) AS ttr
        |FROM c JOIN t ON c.grp = t.grp
        |GROUP BY c.grp, t.n_tokens, t.n_types
        |ORDER BY lang""".stripMargin))

  /** BPE round trip ([[graft.operators.Bpe.detokenized]]): subwords
    * concatenate back to the whitespace-stripped normalized text —
    * the tokenizer's lossless property under the hard oracle, checked
    * WITHOUT knowing the merge table (the oracle restates the
    * normalization only).
    */
  val bpeRoundTrip: QueryDef = QueryDef(
    "text_bpe_roundtrip",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val merges = bpeMerges.getOrElseUpdate(dir) {
        graft.operators.Bpe.trainMerges(docs, "text", numMerges = 24)
      }
      graft.operators.Bpe.detokenized(
          graft.operators.Bpe.encode(docs, "text", merges))
        .select(col("doc_id"), col("detok"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\s+', '', 'g') AS detok
        |FROM documents ORDER BY doc_id""".stripMargin))

  private val wordPieceVocabs =
    new graft.operators.LruCache[String, Set[String]](8)

  /** WordPiece round trip ([[graft.operators.WordPiece]]): learn a
    * vocabulary from the BPE trainer machinery (one corpus pass),
    * greedy-longest-match encode with `##` continuations, strip the
    * markers and concatenate — the THIRD tokenizer family's lossless
    * property under the hard oracle, checked WITHOUT knowing the
    * vocabulary (the oracle restates the normalization only; the
    * code-point seed guarantees no `[UNK]` on the training corpus).
    */
  val wordPieceRoundTrip: QueryDef = QueryDef(
    "text_wordpiece_roundtrip",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val vocab = wordPieceVocabs.getOrElseUpdate(dir) {
        graft.operators.WordPiece.vocabFromCorpus(docs, "text",
          numMerges = 24)
      }
      graft.operators.WordPiece.detokenized(
          graft.operators.WordPiece.encode(docs, "text", vocab))
        .select(col("doc_id"), col("detok"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\s+', '', 'g') AS detok
        |FROM documents ORDER BY doc_id""".stripMargin))

  private val unigramPieces =
    new graft.operators.LruCache[String, Seq[(String, Long)]](8)

  /** Unigram-LM round trip ([[graft.operators.UnigramLm]]): train a
    * SentencePiece-style piece vocabulary by EM over the corpus word
    * dict (one corpus pass, the Bpe discipline), Viterbi-encode with
    * integer milli-nat log-probs, and concatenate the pieces back —
    * the OTHER tokenizer family's lossless property under the hard
    * oracle, checked WITHOUT knowing the piece table (the oracle
    * restates the normalization only).
    */
  val unigramLmRoundTrip: QueryDef = QueryDef(
    "text_unigram_lm_roundtrip",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val pieces = unigramPieces.getOrElseUpdate(dir) {
        graft.operators.UnigramLm.trainPieces(docs, "text",
          vocabSize = 512, maxPieceLen = 3, maxCandidates = 4096,
          emIters = 2)
      }
      graft.operators.UnigramLm.detokenized(
          graft.operators.UnigramLm.encode(docs, "text", pieces))
        .select(col("doc_id"), col("detok"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\s+', '', 'g') AS detok
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Per-document keywords ([[graft.operators.TextAnalysis
    * .docKeywords]]): top-3 terms per doc by the integer TF-IDF
    * weight, ubiquitous terms (df > 80% of the corpus) excluded — the
    * document-tagging primitive. One corpus tokenize, one
    * vocabulary-bounded df aggregate, a per-doc top-k window.
    */
  val docKeywordsGate: QueryDef = QueryDef(
    "text_doc_keywords",
    (s, dir) =>
      TextAnalysis.docKeywords(
          Tables(s, dir).documents, "doc_id", "text", k = 3,
          dfMaxShare = 0.8)
        .orderBy("doc_id", "rk"),
    Some(
      """WITH n AS (SELECT count(*) AS nd FROM documents),
        |tf AS (SELECT doc_id, w AS term, count(*) AS tf
        |  FROM (SELECT doc_id,
        |        unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |        FROM documents)
        |  WHERE w <> '' GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
        |j AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.dfreq,
        |    tf.tf * (1000000 // dfq.dfreq) AS score
        |  FROM tf JOIN dfq USING (term), n
        |  WHERE dfq.dfreq <= nd * 0.8)
        |SELECT doc_id, term, tf, dfreq, score,
        |  row_number() OVER (PARTITION BY doc_id
        |                     ORDER BY score DESC, term) AS rk
        |FROM j QUALIFY rk <= 3 ORDER BY doc_id, rk""".stripMargin))

  /** Token character offsets ([[graft.operators.TextAnalysis
    * .tokenOffsets]]): per-token (start, end) positions over the
    * normalized single-space form — the NER/PII span-alignment
    * primitive, a pure prefix sum replayed by the oracle via
    * cumulative windows.
    */
  val tokenOffsetsGate: QueryDef = QueryDef(
    "text_token_offsets",
    (s, dir) =>
      TextAnalysis.tokenOffsets(
          Tables(s, dir).documents.filter(col("doc_id") % 10 === 0),
          "doc_id", "text")
        .orderBy("doc_id", "idx"),
    Some(
      """WITH t AS (SELECT doc_id, idx - 1 AS idx, ws[idx] AS token
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(text), '\s+') AS ws
        |        FROM documents WHERE doc_id % 10 = 0),
        |    unnest(range(1, len(ws) + 1)) AS u(idx)
        |  WHERE ws[idx] <> ''),
        |o AS (SELECT doc_id, idx, token,
        |    (coalesce(sum(length(token)) OVER (PARTITION BY doc_id
        |       ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1
        |       PRECEDING), 0) + idx)::BIGINT AS start
        |  FROM t)
        |SELECT doc_id, idx::BIGINT AS idx, token, start,
        |  (start + length(token))::BIGINT AS "end"
        |FROM o ORDER BY doc_id, idx""".stripMargin))

  /** Luhn-gated card redaction ([[graft.operators.Redaction
    * .redactCards]]): every doc gets one known-valid card number and
    * one doc_id-derived candidate whose Luhn validity varies (~10%
    * pass), so masking must make the ARITHMETIC decision, not just
    * match the digit shape. The oracle replays extraction, the
    * checksum fold, and the literal-replace reduction.
    */
  val luhnRedaction: QueryDef = QueryDef(
    "text_luhn_redaction",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val withCards = concat(
        col("text"), lit(" pay 4111111111111111 or 52"),
        lpad((col("doc_id") % 100000000L).cast("string"), 12, "0"),
        (col("doc_id") % 10).cast("string"))
      graft.operators.Redaction.redactCards(
          docs.select(col("doc_id"), withCards.as("text")),
          "text", "doc_id")
        .orderBy("doc_id")
    },
    Some(
      """WITH p AS (SELECT doc_id,
        |    text || ' pay 4111111111111111 or 52'
        |      || lpad((doc_id % 100000000)::VARCHAR, 12, '0')
        |      || (doc_id % 10)::VARCHAR AS text
        |  FROM documents),
        |c AS (SELECT doc_id, text,
        |    list_distinct(regexp_extract_all(text, '\b\d{13,16}\b'))
        |      AS cands
        |  FROM p),
        |v AS (SELECT doc_id, text, cands,
        |    list_filter(cands, n ->
        |      list_sum(list_transform(range(0, length(n)), i ->
        |        CASE WHEN i % 2 = 1 THEN
        |          CASE WHEN substring(reverse(n), i + 1, 1)::INT < 5
        |            THEN 2 * substring(reverse(n), i + 1, 1)::INT
        |            ELSE 2 * substring(reverse(n), i + 1, 1)::INT - 9 END
        |        ELSE substring(reverse(n), i + 1, 1)::INT END)) % 10 = 0)
        |      AS valid
        |  FROM c)
        |SELECT doc_id,
        |  list_reduce(list_prepend(text, valid),
        |    (a, x) -> replace(a, x, '<CARD>')) AS redacted,
        |  len(cands)::BIGINT AS n_candidates,
        |  len(valid)::BIGINT AS n_valid
        |FROM v ORDER BY doc_id""".stripMargin))

  /** Separator-tolerant card redaction ([[graft.operators.Redaction
    * .redactCardsSeparated]]): every doc gets one known-valid SPACED
    * card ("4111 1111 1111 1111" — invisible to the contiguous pass)
    * and one dash-grouped doc_id-derived candidate whose Luhn validity
    * varies, so the gate proves the separator-stripped checksum
    * decision AND the exact-span (separators included) replacement.
    */
  val luhnRedactionSeparated: QueryDef = QueryDef(
    "text_luhn_redaction_separated",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val digits = concat(lit("52"),
        lpad((col("doc_id") % 100000000L).cast("string"), 12, "0"),
        (col("doc_id") % 10).cast("string"))
      val grouped = concat(
        substring(digits, 1, 4), lit("-"), substring(digits, 5, 4),
        lit("-"), substring(digits, 9, 4), lit("-"),
        substring(digits, 13, 3))
      val withCards = concat(col("text"),
        lit(" pay 4111 1111 1111 1111 or "), grouped)
      graft.operators.Redaction.redactCardsSeparated(
          docs.select(col("doc_id"), withCards.as("text")),
          "text", "doc_id")
        .orderBy("doc_id")
    },
    Some(
      """WITH g AS (SELECT doc_id,
        |    '52' || lpad((doc_id % 100000000)::VARCHAR, 12, '0')
        |      || (doc_id % 10)::VARCHAR AS d
        |  FROM documents),
        |p AS (SELECT t.doc_id,
        |    t.text || ' pay 4111 1111 1111 1111 or '
        |      || substring(d, 1, 4) || '-' || substring(d, 5, 4)
        |      || '-' || substring(d, 9, 4) || '-' || substring(d, 13, 3)
        |      AS text
        |  FROM documents t JOIN g ON t.doc_id = g.doc_id),
        |c AS (SELECT doc_id, text,
        |    list_distinct(regexp_extract_all(text,
        |      '\b\d(?:[ -]?\d){12,15}\b')) AS cands
        |  FROM p),
        |v AS (SELECT doc_id, text, cands,
        |    list_filter(cands, s ->
        |      list_sum(list_transform(
        |        range(0, length(replace(replace(s, ' ', ''), '-', ''))),
        |        i -> CASE WHEN i % 2 = 1 THEN
        |          CASE WHEN substring(reverse(
        |              replace(replace(s, ' ', ''), '-', '')),
        |              i + 1, 1)::INT < 5
        |            THEN 2 * substring(reverse(
        |              replace(replace(s, ' ', ''), '-', '')),
        |              i + 1, 1)::INT
        |            ELSE 2 * substring(reverse(
        |              replace(replace(s, ' ', ''), '-', '')),
        |              i + 1, 1)::INT - 9 END
        |        ELSE substring(reverse(
        |          replace(replace(s, ' ', ''), '-', '')),
        |          i + 1, 1)::INT END)) % 10 = 0) AS valid
        |  FROM c)
        |SELECT doc_id,
        |  list_reduce(list_prepend(text, valid),
        |    (a, x) -> replace(a, x, '<CARD>')) AS redacted,
        |  len(cands)::BIGINT AS n_candidates,
        |  len(valid)::BIGINT AS n_valid
        |FROM v ORDER BY doc_id""".stripMargin))

  /** Code-document detection ([[graft.operators.TextAnalysis
    * .codeDetect]]): exact length-difference symbol counts, integer
    * cross-multiplied flag decision — the prose-vs-code filter.
    */
  /** Per-source template prefix
    * ([[graft.operators.TextAnalysis.sourceCommonPrefix]]): group LCP
    * = LCP(min, max) under binary order, bounded filter-count length,
    * the prefix string itself under the hash.
    */
  val commonPrefix: QueryDef = QueryDef(
    "text_source_common_prefix",
    (s, dir) =>
      graft.operators.TextAnalysis.sourceCommonPrefix(
          Tables(s, dir).documents, "source", "text")
        .orderBy("source"),
    Some(
      """WITH s AS (SELECT source, count(*)::BIGINT AS n_docs,
        |    min(text) AS a, max(text) AS b FROM documents
        |  GROUP BY source),
        |l AS (SELECT source, n_docs, a, b,
        |    least(length(a), length(b), 40) AS lim FROM s),
        |p AS (SELECT source, n_docs, a,
        |    (CASE WHEN lim > 0 THEN len(list_filter(range(1, lim + 1),
        |      i -> substr(a, 1, i::INT) = substr(b, 1, i::INT)))
        |    ELSE 0 END)::BIGINT AS lcp_len
        |  FROM l)
        |SELECT source, n_docs, lcp_len,
        |  substr(a, 1, lcp_len::INT) AS prefix
        |FROM p ORDER BY source""".stripMargin))

  val codeDetect: QueryDef = QueryDef(
    "text_code_detect",
    (s, dir) =>
      graft.operators.TextAnalysis.codeDetect(
          Tables(s, dir).documents, "text", "doc_id")
        .orderBy("doc_id"),
    Some(
      """WITH c AS (SELECT doc_id,
        |    (length(text) - length(replace(text, '{', ''))
        |      + length(text) - length(replace(text, '}', '')))::BIGINT
        |      AS n_braces,
        |    (length(text) - length(replace(text, ';', '')))::BIGINT
        |      AS n_semis,
        |    (length(text) - length(replace(text, '(', ''))
        |      + length(text) - length(replace(text, ')', '')))::BIGINT
        |      AS n_parens,
        |    greatest(length(text)::BIGINT, 1) AS n
        |  FROM documents)
        |SELECT doc_id, n_braces, n_semis, n_parens,
        |  round((n_braces + n_semis + n_parens)::DOUBLE * 1000.0
        |    / n::DOUBLE, 6) + 0 AS symbols_per_kchar,
        |  (n_braces >= 2 AND
        |    (n_braces + n_semis + n_parens) * 1000 >= 8 * n) AS is_code
        |FROM c ORDER BY doc_id""".stripMargin))

  /** ISO 7064 mod-97 structured-ID validation
    * ([[graft.operators.Redaction.mod97Valid]]): IBAN-shaped
    * candidates derived from customer keys (so validity varies with
    * real data), the rearrange+fold remainder chain replayed by the
    * oracle as a recursive character walk — the VALIDITY DECISION is
    * under the hash, not just the string shape.
    */
  val mod97: QueryDef = QueryDef(
    "text_mod97_checksum",
    (s, dir) => {
      val cand = concat(lit("DE"),
        lpad((col("c_custkey") % 100).cast("string"), 2, "0"),
        lpad(col("c_custkey").cast("string"), 16, "0"))
      Tables(s, dir).customer
        .select(col("c_custkey"), cand.as("_s"))
        .groupBy(graft.operators.Redaction.mod97Valid(col("_s"))
          .as("is_valid"))
        .agg(count(lit(1)).as("n"),
          min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
        .orderBy("is_valid")
    },
    Some(
      """WITH RECURSIVE c AS (SELECT c_custkey AS key,
        |    'DE' || lpad((c_custkey % 100)::VARCHAR, 2, '0')
        |         || lpad(c_custkey::VARCHAR, 16, '0') AS s
        |  FROM customer),
        |re AS (SELECT key, substr(s, 5) || substr(s, 1, 4) AS t FROM c),
        |st AS (
        |  SELECT key, t, 0::BIGINT AS acc, 1::BIGINT AS i FROM re
        |  UNION ALL
        |  SELECT key, t,
        |    CASE WHEN ascii(substr(t, i::INT, 1)) BETWEEN 48 AND 57
        |      THEN (acc * 10 + (ascii(substr(t, i::INT, 1)) - 48)) % 97
        |      ELSE (acc * 100 + (ascii(substr(t, i::INT, 1)) - 55)) % 97
        |    END, i + 1
        |  FROM st WHERE i <= length(t)),
        |fin AS (SELECT key, acc FROM st WHERE i = length(t) + 1)
        |SELECT (acc = 1) AS is_valid, count(*)::BIGINT AS n,
        |  min(key)::BIGINT AS min_key, max(key)::BIGINT AS max_key
        |FROM fin GROUP BY 1 ORDER BY is_valid""".stripMargin))

  /** TextRank keywords ([[TextAnalysis.textRankTerms]]): weighted
    * PageRank over the word-adjacency graph, top-20 terms. Full
    * oracle: DuckDB rebuilds the positional bigram graph (correlated
    * `unnest(range(1, len(l)))` lateral), the symmetric edge weights,
    * and replays the all-integer fixed-point rank recurrence unrolled
    * per iteration — the established `graph_pagerank_weighted`
    * contract over a text-derived graph.
    */
  val textRank: QueryDef = QueryDef(
    "text_textrank_terms",
    (s, dir) =>
      TextAnalysis.textRankTerms(Tables(s, dir).documents, "text",
        iterations = 2, topK = 20),
    Some(
      """WITH lst AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS l FROM documents),
        |bg AS (SELECT l[i] AS a, l[i+1] AS b FROM lst, unnest(range(1, len(l))) t(i)),
        |pc AS (SELECT a, b, count(*) AS c FROM bg WHERE a <> b GROUP BY a, b),
        |e AS (SELECT src, dst, sum(c)::BIGINT AS w FROM (
        |        SELECT a AS src, b AS dst, c FROM pc
        |        UNION ALL SELECT b, a, c FROM pc) GROUP BY src, dst),
        |deg AS (SELECT src, sum(w)::BIGINT AS d FROM e GROUP BY src),
        |nn AS (SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
        |cnt AS (SELECT count(*) AS n FROM nn),
        |r0 AS (SELECT term, (1000000000000 // n)::BIGINT AS r FROM nn CROSS JOIN cnt),
        |it1 AS (SELECT nn.term, ((15000000000000 // (100*cnt.n)) + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt LEFT JOIN
        |          (SELECT e.dst, sum((r0.r // deg.d) * e.w)::BIGINT AS m FROM e JOIN r0 ON r0.term = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.term),
        |it2 AS (SELECT nn.term, ((15000000000000 // (100*cnt.n)) + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
        |        FROM nn CROSS JOIN cnt LEFT JOIN
        |          (SELECT e.dst, sum((it1.r // deg.d) * e.w)::BIGINT AS m FROM e JOIN it1 ON it1.term = e.src
        |           JOIN deg ON deg.src = e.src GROUP BY e.dst) s ON s.dst = nn.term)
        |SELECT term, r AS rank_fp FROM it2
        |ORDER BY rank_fp DESC, term LIMIT 20""".stripMargin))

  def defs: Seq[QueryDef] =
    Seq(tokens, quality, langId, fingerprint, bigramFreq, rarityTerms,
      repetition, redaction, unigramLogProb, gopherRules, bm25,
      bm25Indexed, bm25TxPinned, bm25TxPinnedDelete, phraseTxPinned,
      conjunctiveTxPinned,
      bm25IndexAppend, indexPhrase, indexPhraseAppend,
      indexConjunctive, bm25BatchIndexed, bpeEncode,
      bigramLogProb, pmi, winnow, jsDivergence, jaroWinkler, zipf,
      kneserNey, blocklist, compressionRatio, redundancyRatio,
      qualityClassifier,
      bpePortable, normalizeUnicode, sentenceDedup, scriptProfile,
      readability, hashedFeatures, tfidfPairs, chi2Features,
      trendingTerms, vocabDiversity, bpeRoundTrip, unigramLmRoundTrip,
      wordPieceRoundTrip, luhnRedaction,
      luhnRedactionSeparated, docKeywordsGate, tokenOffsetsGate, mod97,
      codeDetect, commonPrefix, textRank)
}

object SamplingQueries extends QueryGroup {

  /** Stratified deterministic 10% sample per language group. */
  val stratified: QueryDef = QueryDef(
    "sample_stratified_take",
    (s, dir) =>
      graft.operators.Sampling.stratifiedTake(
          Tables(s, dir).documents, "lang", "doc_id", 0.1)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
    Some(
      """WITH r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n
        |FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= ceil(0.1 * n)
        |ORDER BY doc_id""".stripMargin))

  /** Deterministic global shuffle for training export: MINSTD
    * permutation key → shard + within-shard position. Arithmetic-only
    * hash, so the oracle reproduces the identical permutation.
    */
  val shuffleShards: QueryDef = QueryDef(
    "pipeline_shuffle_shards",
    (s, dir) =>
      graft.operators.Sampling.shuffleShards(
          Tables(s, dir).documents, "doc_id", numShards = 8)
        .select("doc_id", "shard", "shard_pos")
        .orderBy("doc_id"),
    Some(
      """WITH k AS (SELECT doc_id,
        |  ((doc_id % 2147483647) * 742938285) % 2147483647 AS k FROM documents)
        |SELECT doc_id, k % 8 AS shard,
        |  row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) - 1 AS shard_pos
        |FROM k ORDER BY doc_id""".stripMargin))

  /** Corpus mixture: per-language deterministic take at per-group rates
    * (all of en, half of de, a quarter of fr, 10% of the rest) — the
    * source-weighting step before training export.
    */
  val mixture: QueryDef = QueryDef(
    "pipeline_mixture",
    (s, dir) =>
      graft.operators.Sampling.weightedTake(
          Tables(s, dir).documents, "lang", "doc_id",
          weights = Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25),
          defaultWeight = 0.1)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
    Some(
      """WITH r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n
        |FROM documents)
        |SELECT doc_id, lang FROM r
        |WHERE rn <= ceil((CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5
        |                   WHEN 'fr' THEN 0.25 ELSE 0.1 END) * n)
        |ORDER BY doc_id""".stripMargin))

  /** CCNet-style quality terciles: head/middle/tail labels from exact
    * percentile thresholds over the (oracle-stable) quality score.
    * Full oracle — DuckDB `quantile_cont` and Spark `percentile` both
    * linear-interpolate (parity proven by pipeline_profile).
    */
  val qualityBuckets: QueryDef = QueryDef(
    "pipeline_quality_buckets",
    (s, dir) => {
      val scored = Tables(s, dir).documents.select(
        col("doc_id"),
        graft.operators.TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.operators.Sampling.bucketByScore(scored, "quality")
        .orderBy("doc_id")
    },
    Some(
      """WITH b AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS nw,
        |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0
        |      / greatest(length(text), 1) AS praw,
        |    list_reduce(list_prepend(0::BIGINT,
        |        list_transform(string_split_regex(trim(text), '\s+'), w -> length(w)::BIGINT)),
        |        (a, b) -> a + b) * 1.0
        |      / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS mwl
        |  FROM documents),
        |q AS (SELECT doc_id,
        |  round(least(nw * 1.0 / 100.0, 1.0) * 0.4
        |      + (1.0 - least(praw * 5.0, 1.0)) * 0.4
        |      + (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6)
        |    AS quality FROM b),
        |t AS (SELECT quantile_cont(quality, [1/3.0, 2/3.0]) AS th FROM q)
        |SELECT q.doc_id, q.quality,
        |  CASE WHEN q.quality <= th[1] + 0.000000001 THEN 'tail'
        |       WHEN q.quality <= th[2] + 0.000000001 THEN 'middle'
        |       ELSE 'head' END AS bucket
        |FROM q, t ORDER BY doc_id""".stripMargin))

  /** Temperature-scaled language mixture (τ = 0.5 boosts the tail
    * languages against the English head) — full oracle (the rate
    * formula is count arithmetic + pow, rounded to 6 dp before the
    * take cut on both engines).
    */
  val temperatureMix: QueryDef = QueryDef(
    "sample_temperature_mix",
    (s, dir) =>
      graft.operators.Sampling.temperatureTake(
          Tables(s, dir).documents, "lang", "doc_id",
          tau = 0.5, baseRate = 0.3)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
    Some(
      """WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang),
        |t AS (SELECT sum(pow(n, 0.5)) AS z, sum(n) AS total FROM c),
        |r AS (SELECT lang, n,
        |  round(least(1.0, 0.3 * total * pow(n, 0.5) / (z * n)), 6) AS rate
        |  FROM c, t),
        |d AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang FROM d JOIN r USING (lang)
        |WHERE rn <= ceil(rate * n) ORDER BY doc_id""".stripMargin))

  /** Efraimidis–Spirakis weighted sample without replacement: 50 docs,
    * inclusion ∝ n_chars, deterministic hash-derived uniforms so the
    * DRAW ITSELF is oracle-checkable (same integer mod + pow in SQL).
    * Priority gap at the k-boundary on this data is ~9e-6 — orders
    * above cross-engine pow ulps, so membership cannot flip.
    */
  val weightedSample: QueryDef = QueryDef(
    "sample_weighted",
    (s, dir) =>
      graft.operators.Sampling.weightedReservoirTake(
          Tables(s, dir).documents, "doc_id", "n_chars", k = 50)
        .select("doc_id", "n_chars", "priority")
        .orderBy("doc_id"),
    Some(
      """WITH p AS (SELECT doc_id, n_chars,
        |  round(pow((((doc_id * 2654435761) % 4294967296) + 1) / 4294967297.0,
        |            1.0 / n_chars), 9) AS priority
        |  FROM documents)
        |SELECT doc_id, n_chars, priority FROM p
        |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin))

  /** Per-language Efraimidis–Spirakis draw (k = 15 each) — stratified
    * weighted sampling. Full oracle; ranking runs on the 9-dp-rounded
    * priorities in both engines (k-boundary gaps ≥ 4.9e-7 ≈ 500
    * rounding steps on this data).
    */
  val weightedPerGroup: QueryDef = QueryDef(
    "sample_weighted_per_group",
    (s, dir) =>
      graft.operators.Sampling.weightedReservoirTakePerGroup(
          Tables(s, dir).documents.select("doc_id", "lang", "n_chars"),
          "lang", "doc_id", "n_chars", k = 15)
        .orderBy("lang", "doc_id"),
    Some(
      """WITH p AS (SELECT doc_id, lang, n_chars,
        |  round(pow((((doc_id * 2654435761) % 4294967296) + 1) / 4294967297.0,
        |            1.0 / n_chars), 9) AS priority
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY priority DESC, doc_id) AS rn FROM p)
        |SELECT doc_id, lang, n_chars, priority FROM r
        |WHERE rn <= 15 ORDER BY lang, doc_id""".stripMargin))

  /** Deterministic 80/10/10 train/val/test split
    * ([[graft.operators.Sampling.deterministicSplit]]): md5-bucketed by
    * id, so assignments are stable across reruns, engines, and corpus
    * growth — the oracle replays the identical CASE over
    * `substr(md5(id), 1, 2)`. Scan-local, zero shuffles.
    */
  val splitHash: QueryDef = QueryDef(
    "pipeline_split_hash",
    (s, dir) =>
      graft.operators.Sampling.deterministicSplit(
          Tables(s, dir).documents,
          "doc_id", Seq("train" -> 204, "val" -> 26, "test" -> 26))
        .select("doc_id", "split")
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  CASE WHEN substr(md5(doc_id::VARCHAR),1,2) < 'cc' THEN 'train'
        |       WHEN substr(md5(doc_id::VARCHAR),1,2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Deterministic negative sampling
    * ([[graft.operators.Sampling.negativeSamples]]): 2 md5-contract
    * pseudo-random non-neighbors per doc against the near-dup pair
    * graph — the contrastive-training triple builder, margin-bounded
    * candidate generation (no cross join). The oracle replays the
    * dense index, slot hashing, neighbor anti-join, min-j dedup, and
    * the (j, neg_id) rank.
    */
  val negativeSamples: QueryDef = QueryDef(
    "pipeline_negative_samples",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      graft.operators.Sampling.negativeSamples(
          docs.select(col("doc_id")), "doc_id",
          PipelineQueries.jaccardPairsFor(s, dir), "id_a", "id_b",
          k = 2, margin = 8)
        .orderBy("doc_id", "j")
    },
    Some(
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
        |cj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |      FROM tk a JOIN tk b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM cj JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |          WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95),
        |u AS (SELECT DISTINCT doc_id AS id FROM documents),
        |ix AS (SELECT id, row_number() OVER (ORDER BY id) AS rn FROM u),
        |cnt AS (SELECT count(*) AS n FROM u),
        |cd AS (SELECT a.id AS anchor, t.j,
        |    (('0x' || substr(md5(a.id::VARCHAR || ':' || t.j::VARCHAR), 1, 7))::BIGINT
        |      % cnt.n) + 1 AS slot
        |  FROM u a CROSS JOIN cnt, generate_series(1, 8) AS t(j)),
        |c2 AS (SELECT anchor, j, ix.id AS neg_id
        |  FROM cd JOIN ix ON ix.rn = cd.slot WHERE ix.id <> cd.anchor),
        |nb AS (SELECT id_a AS anchor, id_b AS neg_id FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |nn AS (SELECT anchor, neg_id, min(j) AS j FROM c2
        |  ANTI JOIN nb USING (anchor, neg_id) GROUP BY anchor, neg_id)
        |SELECT anchor AS doc_id, neg_id, j FROM
        |  (SELECT anchor, neg_id, j,
        |     row_number() OVER (PARTITION BY anchor ORDER BY j, neg_id) AS rk
        |   FROM nn)
        |WHERE rk <= 2 ORDER BY doc_id, j""".stripMargin))

  /** Curriculum + proportional source interleave ([[graft.operators
    * .Sampling.curriculumInterleave]]): within-source easy→hard ranks
    * (n_chars as the difficulty proxy) with an exact-integer
    * source-progress order key, so skewed sources advance at the same
    * relative pace — the deterministic training-order builder. The
    * oracle replays both windows and the integer division.
    */
  val curriculum: QueryDef = QueryDef(
    "pipeline_curriculum",
    (s, dir) =>
      graft.operators.Sampling.curriculumInterleave(
          Tables(s, dir).documents, "doc_id", "n_chars", "source")
        .orderBy("doc_id"),
    Some(
      """WITH t AS (SELECT count(*) AS total FROM documents),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars, doc_id) AS rank_in_source,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM documents)
        |SELECT doc_id, source, rank_in_source,
        |  ((rank_in_source - 1) * total) // n_src AS pos_key
        |FROM r, t ORDER BY doc_id""".stripMargin))

  /** Distribution-matched rebalance ([[graft.operators.Sampling
    * .distributionMatchSummary]]): thin over-represented languages
    * toward the uniform mix with exact basis-point keep-rates and the
    * portable md5 coin — deterministic resampling, no RNG. The 'en'
    * group (4× the others here) thins; at-or-under-target groups keep
    * rate 10000. The oracle replays rates and every coin flip.
    */
  val distributionMatch: QueryDef = QueryDef(
    "pipeline_distribution_match",
    (s, dir) =>
      graft.operators.Sampling.distributionMatchSummary(
          Tables(s, dir).documents, "doc_id", "lang")
        .orderBy("lang"),
    Some(
      """WITH c AS (SELECT lang, count(*)::BIGINT AS n_before
        |           FROM documents GROUP BY lang),
        |t AS (SELECT sum(n_before)::BIGINT AS tot,
        |             count(*)::BIGINT AS ng FROM c),
        |r AS (SELECT lang, n_before, tot // ng AS target,
        |    least(10000, (tot // ng) * 10000 // n_before) AS rate_bp
        |  FROM c, t),
        |k AS (SELECT d.lang, count(*)::BIGINT AS n_kept
        |  FROM documents d JOIN r ON r.lang = d.lang
        |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':dm'), 1, 7))
        |          ::BIGINT % 10000 < r.rate_bp
        |  GROUP BY d.lang)
        |SELECT r.lang, r.n_before, r.target, r.rate_bp,
        |  coalesce(k.n_kept, 0)::BIGINT AS n_kept
        |FROM r LEFT JOIN k ON k.lang = r.lang
        |ORDER BY r.lang""".stripMargin))

  /** Stratified K-fold ([[graft.operators.Sampling.stratifiedKFold]]):
    * per-language folds balanced to within one row by ranking on the
    * portable md5 coin and taking rank mod k — deterministic CV
    * assignment, replayed fold-for-fold by the oracle.
    */
  val kfold: QueryDef = QueryDef(
    "pipeline_kfold",
    (s, dir) =>
      graft.operators.Sampling.stratifiedKFold(
          Tables(s, dir).documents, "doc_id", "lang", k = 5)
        .orderBy("doc_id"),
    Some(
      """WITH r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      ('0x' || substr(md5(doc_id::VARCHAR || ':kf'), 1, 15))
        |        ::BIGINT % 1000000007, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, (rn - 1) % 5 AS fold
        |FROM r ORDER BY doc_id""".stripMargin))

  /** Neyman optimal stratified allocation
    * ([[graft.operators.Sampling.neymanAllocation]]): n_h ∝ N_h·σ_h
    * with largest-remainder integerization — the allocation itself
    * (not just the quotas) under the oracle.
    */
  val neyman: QueryDef = QueryDef(
    "sample_neyman_allocation",
    (s, dir) =>
      graft.operators.Sampling.neymanAllocation(
          Tables(s, dir).orders, "o_orderpriority", "o_totalprice",
          budget = 1000L)
        .orderBy("o_orderpriority"),
    Some(
      """WITH v AS (SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
        |      AS v
        |  FROM orders),
        |pg AS (SELECT g, count(*)::BIGINT AS n, sum(v)::BIGINT AS s,
        |    sum(v::HUGEINT * v::HUGEINT) AS q FROM v GROUP BY g),
        |ww AS (SELECT g, n,
        |    n::DOUBLE * sqrt(greatest(0.0,
        |      (q::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
        |        / n::DOUBLE)) AS w
        |  FROM pg),
        |tw AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
        |    list(w ORDER BY g)), (a, b) -> a + b) AS tw FROM ww),
        |qt AS (SELECT g, n, ww.w AS w,
        |    1000.0 * ww.w / tw AS quota,
        |    floor(1000.0 * ww.w / tw)::BIGINT AS base,
        |    1000.0 * ww.w / tw - floor(1000.0 * ww.w / tw) AS rem
        |  FROM ww CROSS JOIN tw),
        |lo AS (SELECT (1000 - sum(base))::BIGINT AS lft FROM qt),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, g) AS rk
        |  FROM qt)
        |SELECT g AS o_orderpriority, n AS n_rows,
        |  round(rk.w / n::DOUBLE / 10000.0, 6) + 0 AS sigma,
        |  round(rk.quota, 6) + 0 AS quota,
        |  (base + CASE WHEN rk.rk <= lft THEN 1 ELSE 0 END)::BIGINT
        |    AS alloc
        |FROM rk CROSS JOIN lo ORDER BY o_orderpriority""".stripMargin))

  /** Epoch mixing ([[graft.operators.Sampling.epochMix]]): fractional
    * per-source repetition with the portable md5 coin — the training
    * data recipe step, per-copy rows under the hash.
    */
  val epochs: QueryDef = QueryDef(
    "pipeline_epoch_mix",
    (s, dir) =>
      graft.operators.Sampling.epochMix(
          Tables(s, dir).documents.select("doc_id", "source"),
          "doc_id", "source",
          weights = Map("src0" -> 2.5, "src1" -> 1.5, "src2" -> 0.25),
          defaultWeight = 1.0)
        .orderBy("doc_id", "epoch"),
    Some(
      """WITH w AS (SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.5
        |      WHEN 'src2' THEN 0.25 ELSE 1.0 END AS w
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |    floor(w)::INT
        |      + CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':'
        |          || 'epoch'), 1, 7))::BIGINT % 10000
        |        < CAST(round((w - floor(w)) * 10000.0, 0) AS BIGINT)
        |        THEN 1 ELSE 0 END AS copies
        |  FROM w)
        |SELECT doc_id, source, unnest(range(1, copies + 1))::BIGINT
        |    AS epoch
        |FROM c WHERE copies > 0
        |ORDER BY doc_id, epoch""".stripMargin))

  def defs: Seq[QueryDef] =
    Seq(stratified, shuffleShards, mixture, qualityBuckets, temperatureMix,
      weightedSample, weightedPerGroup, splitHash, negativeSamples,
      curriculum, distributionMatch, kfold, neyman, epochs)
}

object EventQueries extends QueryGroup {

  val tumbling: QueryDef = QueryDef(
    "events_window_tumbling",
    (s, dir) =>
      EventWindows.tumbling(Tables(s, dir).events)
        .orderBy("window_start", "event_type"),
    Some(
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  val sliding: QueryDef = QueryDef(
    "events_window_sliding",
    (s, dir) =>
      EventWindows.sliding(Tables(s, dir).events)
        .orderBy("window_start", "event_type"),
    Some(
      """WITH s AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS b, event_type FROM events),
        |w AS (SELECT b AS window_start, event_type FROM s
        |      UNION ALL
        |      SELECT b - INTERVAL '30 minutes' AS window_start, event_type FROM s)
        |SELECT window_start, event_type, count(*) AS cnt
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Session boundary convention (both session gates): Spark's
    * `session_window` spans are `[t, t+gap)` and merely-touching
    * windows do NOT overlap, so an event exactly `gap` after its
    * predecessor starts a NEW session — the oracle's `>=` replays
    * that; a `>` there would diverge on any exact-300 s gap.
    */
  val sessions: QueryDef = QueryDef(
    "events_sessionization",
    (s, dir) =>
      EventWindows.sessions(Tables(s, dir).events)
        .orderBy("user_id", "session_start"),
    Some(
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '5 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts, value,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM d)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin))

  /** Last-writer-wins upsert compaction (the batch half of the streaming
    * ingest's latestByKey — SURVEY.md §2.6): latest event per user.
    */
  val latestByKey: QueryDef = QueryDef(
    "events_latest_by_key",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables(s, dir).events
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    },
    Some(
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin))

  /** As-of join: each purchase matched to the user's latest click at or
    * before it (graft.operators.AsOfJoin composition). Oracle: DuckDB's
    * native ASOF JOIN — an independent implementation of the same
    * semantics.
    */
  val asofPurchaseClick: QueryDef = QueryDef(
    "events_asof_join",
    (s, dir) => {
      val e = Tables(s, dir).events
      graft.operators.AsOfJoin.asOf(
          left = e.filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id"),
          right = e.filter(col("event_type") === "click")
            .select("user_id", "ts", "event_id"),
          keyCol = "user_id", tsCol = "ts", rightValueCol = "event_id")
        .select(col("event_id"), col("matched_event_id"))
        .orderBy("event_id")
    },
    Some(
      """WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
        |      WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.event_id, c.click_id AS matched_event_id
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin))

  /** Tolerance-bounded as-of ([[graft.operators.AsOfJoin
    * .asOfTolerance]], pandas `merge_asof(tolerance=…)`): the most
    * recent click explains a purchase only within 30 minutes — stale
    * matches null out, surviving gaps reported in exact microseconds.
    * The oracle is DuckDB's native ASOF join with the same gap CASE.
    */
  val asofTolerance: QueryDef = QueryDef(
    "events_asof_tolerance",
    (s, dir) => {
      val e = Tables(s, dir).events
      graft.operators.AsOfJoin.asOfTolerance(
          left = e.filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id"),
          right = e.filter(col("event_type") === "click")
            .select("user_id", "ts", "event_id"),
          keyCol = "user_id", tsCol = "ts", rightValueCol = "event_id",
          toleranceSeconds = 1800L)
        .select(col("event_id"), col("matched_event_id"),
          col("asof_gap_us"))
        .orderBy("event_id")
    },
    Some(
      """WITH p AS (SELECT user_id, ts, event_id FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
        |      WHERE event_type = 'click' GROUP BY user_id, ts),
        |j AS (SELECT p.event_id, c.click_id,
        |        epoch_us(p.ts) - epoch_us(c.ts) AS gap
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND c.ts <= p.ts)
        |SELECT event_id,
        |  CASE WHEN gap <= 1800000000 THEN click_id END
        |    AS matched_event_id,
        |  CASE WHEN gap <= 1800000000 THEN gap END AS asof_gap_us
        |FROM j ORDER BY event_id""".stripMargin))

  /** Nearest as-of ([[graft.operators.AsOfJoin.asOfNearest]], pandas
    * `direction='nearest'`): each purchase matches the CLOSEST click in
    * either direction, ties backward. The oracle replays the exact
    * union + two-frame window shape (DuckDB native ASOF is one-
    * directional), so candidate choice, gap arithmetic, and direction
    * labels are all under the hash.
    */
  val asofNearest: QueryDef = QueryDef(
    "events_asof_nearest",
    (s, dir) => {
      val e = Tables(s, dir).events
      graft.operators.AsOfJoin.asOfNearest(
          left = e.filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id"),
          right = e.filter(col("event_type") === "click")
            .select("user_id", "ts", "event_id"),
          keyCol = "user_id", tsCol = "ts", rightValueCol = "event_id")
        .select(col("event_id"), col("matched_event_id"),
          col("asof_gap_us"), col("asof_dir"))
        .orderBy("event_id")
    },
    Some(
      """WITH p AS (SELECT user_id, ts, event_id FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(event_id) AS v FROM events
        |      WHERE event_type = 'click' GROUP BY user_id, ts),
        |u AS (SELECT user_id, ts, event_id, 1 AS is_left,
        |        NULL::BIGINT AS rv, NULL::BIGINT AS rts FROM p
        |      UNION ALL
        |      SELECT user_id, ts, NULL, 0, v, epoch_us(ts) FROM c),
        |w AS (SELECT *,
        |    last_value(rv IGNORE NULLS) OVER wb AS brv,
        |    last_value(rts IGNORE NULLS) OVER wb AS brts,
        |    first_value(rv IGNORE NULLS) OVER wf AS frv,
        |    first_value(rts IGNORE NULLS) OVER wf AS frts
        |  FROM u WINDOW
        |    wb AS (PARTITION BY user_id ORDER BY ts, is_left
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY ts, is_left
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |g AS (SELECT event_id, brv, frv,
        |    epoch_us(ts) - brts AS gb, frts - epoch_us(ts) AS gf,
        |    (brts IS NOT NULL AND (frts IS NULL
        |      OR epoch_us(ts) - brts <= frts - epoch_us(ts))) AS takeb,
        |    frts IS NOT NULL AS hasf
        |  FROM w WHERE is_left = 1)
        |SELECT event_id,
        |  CASE WHEN takeb THEN brv ELSE frv END AS matched_event_id,
        |  CASE WHEN takeb THEN gb ELSE gf END AS asof_gap_us,
        |  CASE WHEN takeb THEN 'backward'
        |       WHEN hasf THEN 'forward' END AS asof_dir
        |FROM g ORDER BY event_id""".stripMargin))

  /** The same as-of join through the CUSTOM CATALYST OPERATOR
    * (graft.plans.AsOfJoinPlan: logical node → strategy → co-partitioned
    * co-sorted single-pass merge exec, §7.3c) — checked against the
    * identical DuckDB native ASOF oracle as the composed variant, so
    * the custom physical plan's semantics are pinned by a third
    * independent implementation.
    */
  val asofExec: QueryDef = QueryDef(
    "events_asof_join_exec",
    (s, dir) => {
      val e = Tables(s, dir).events
      graft.plans.AsOfJoinPlan.asOf(
          left = e.filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id"),
          right = e.filter(col("event_type") === "click")
            .select("user_id", "ts", "event_id"),
          keyCol = "user_id", tsCol = "ts", rightValueCol = "event_id")
        .select(col("event_id"), col("matched_event_id"))
        .orderBy("event_id")
    },
    Some(
      """WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
        |      WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.event_id, c.click_id AS matched_event_id
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin))

  /** Forward as-of through the custom exec: each purchase matched to
    * the user's EARLIEST click at or after it — DuckDB's ASOF with `>=`
    * is the independent oracle for the flipped direction.
    */
  val asofExecForward: QueryDef = QueryDef(
    "events_asof_join_fwd",
    (s, dir) => {
      val e = Tables(s, dir).events
      graft.plans.AsOfJoinPlan.asOf(
          left = e.filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id"),
          right = e.filter(col("event_type") === "click")
            .select("user_id", "ts", "event_id"),
          keyCol = "user_id", tsCol = "ts", rightValueCol = "event_id",
          forward = true)
        .select(col("event_id"), col("matched_event_id"))
        .orderBy("event_id")
    },
    Some(
      """WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
        |      WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.event_id, c.click_id AS matched_event_id
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts >= p.ts
        |ORDER BY p.event_id""".stripMargin))

  /** Composite-key as-of through the custom exec: purchases matched to
    * the latest click of the same user on the same derived "device"
    * bucket (props.k mod 4) — equality on BOTH key columns plus the
    * temporal condition, oracled by DuckDB ASOF with two equalities.
    */
  val asofExecMultiKey: QueryDef = QueryDef(
    "events_asof_join_multikey",
    (s, dir) => {
      val e = Tables(s, dir).events
        .withColumn("dev",
          pmod(from_json(col("props"),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,long>"))("k"),
            lit(4L)))
      graft.plans.AsOfJoinPlan.asOfMultiKey(
          left = e.filter(col("event_type") === "purchase")
            .select("user_id", "dev", "ts", "event_id"),
          right = e.filter(col("event_type") === "click")
            .select("user_id", "dev", "ts", "event_id"),
          keyCols = Seq("user_id", "dev"), tsCol = "ts",
          rightValueCol = "event_id")
        .select(col("event_id"), col("matched_event_id"))
        .orderBy("event_id")
    },
    Some(
      """WITH b AS (SELECT user_id, event_type, ts, event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS dev FROM events),
        |p AS (SELECT user_id, dev, ts, event_id FROM b WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, dev, ts, max(event_id) AS click_id FROM b
        |      WHERE event_type = 'click' GROUP BY user_id, dev, ts)
        |SELECT p.event_id, c.click_id AS matched_event_id
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.dev = c.dev AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin))

  /** Bucketized range join: clicks in the minute preceding each error.
    * Oracle states the same semantics as a plain inequality join — the
    * bucketing is purely a physical-plan strategy.
    */
  val rangeJoin: QueryDef = QueryDef(
    "events_range_join",
    (s, dir) => {
      val e = Tables(s, dir).events
      graft.operators.RangeJoin.trailingCount(
          left = e.filter(col("event_type") === "error"),
          right = e.filter(col("event_type") === "click"),
          leftIdCol = "event_id", tsCol = "ts", windowSeconds = 60)
        .orderBy("event_id")
    },
    Some(
      """SELECT e.event_id, count(c.ts) AS n_preceding
        |FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
        |LEFT JOIN (SELECT ts FROM events WHERE event_type = 'click') c
        |  ON c.ts >= e.ts - INTERVAL 60 SECONDS AND c.ts < e.ts
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin))

  /** [[graft.streaming.StreamingJoin.intervalJoin]]'s BATCH contract
    * under the hard oracle: `withWatermark` is a no-op on batch frames
    * (Spark's EliminateEventTimeWatermark), so the SAME operator code
    * runs here as a plain range-predicate join — click → purchase
    * attribution within 30 minutes. StreamingJoinSpec locks
    * batch ≡ streaming on shared input, so this gate anchors both
    * paths to DuckDB (the CorpusMonitor pattern).
    */
  val intervalJoin: QueryDef = QueryDef(
    "events_interval_join",
    (s, dir) => {
      val e = Tables(s, dir).events
      graft.streaming.StreamingJoin.intervalJoin(
          left = e.filter(col("event_type") === "click"),
          right = e.filter(col("event_type") === "purchase"),
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "ts",
          within = "30 minutes")
        .orderBy("key", "left_ts", "right_ts")
    },
    Some(
      """SELECT c.user_id AS key, c.ts AS left_ts, p.ts AS right_ts,
        |  epoch_ms(p.ts) - epoch_ms(c.ts) AS lag_ms
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id AND p.ts > c.ts
        | AND p.ts <= c.ts + INTERVAL '30 minutes'
        |ORDER BY key, left_ts, right_ts""".stripMargin))

  /** Ordered-conversion funnel ([[graft.operators.Funnel]]): first
    * view → first click within a day AFTER it → first purchase within
    * a day after THAT, per user. Full oracle on the per-user stage
    * timestamps (null from the first stage missed in order).
    */
  val funnel: QueryDef = QueryDef(
    "events_funnel",
    (s, dir) =>
      graft.operators.Funnel.stages(
          Tables(s, dir).events, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), withinSeconds = 86400L)
        .orderBy("user_id"),
    Some(
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |        AND e.ts <= v.t1 + INTERVAL 86400 SECONDS
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |      JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |        AND e.ts <= c.t2 + INTERVAL 86400 SECONDS
        |      GROUP BY e.user_id)
        |SELECT v.user_id, v.t1, c.t2, p.t3
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin))

  /** Time-RANGE window frame: per user, the trailing-hour event count
    * and exact decimal value sum at every event (RANGE BETWEEN
    * 1 hour PRECEDING, not ROWS — peers at the same microsecond share
    * a frame in both engines). Ordering key is epoch MICROS on both
    * sides, so frame boundaries are integer-exact; the sum is decimal
    * until the final double cast, so no float-accumulation drift.
    */
  val movingWindow: QueryDef = QueryDef(
    "events_moving_window",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0L)
      Tables(s, dir).events
        .withColumn("cnt_1h", count(lit(1)).over(w))
        .withColumn("sum_1h",
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .over(w).cast("double"))
        .select("event_id", "user_id", "cnt_1h", "sum_1h")
        .orderBy("event_id")
    },
    Some(
      """SELECT event_id, user_id,
        |  count(*) OVER w AS cnt_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin))

  /** Cohort retention: users grouped by first-active day, counted per
    * day-offset they return — the standard retention triangle. Two
    * user-keyed aggregates + one join; the (user, day) activity set is
    * distinct-compressed BEFORE the join, so the join input tracks
    * active-user-days, not raw events.
    */
  val retention: QueryDef = QueryDef(
    "events_retention",
    (s, dir) => {
      val e = Tables(s, dir).events
      val cohort = e.groupBy(col("user_id"))
        .agg(min(date_trunc("day", col("ts"))).as("cohort"))
      val active = e.select(col("user_id"),
        date_trunc("day", col("ts")).as("day")).distinct()
      cohort.join(active, "user_id")
        .groupBy(col("cohort"),
          datediff(to_date(col("day")), to_date(col("cohort"))).as("day_offset"))
        .agg(count(lit(1)).as("users"))
        .orderBy("cohort", "day_offset")
    },
    Some(
      """WITH f AS (SELECT user_id, min(date_trunc('day', ts)) AS cohort
        |           FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
        |SELECT f.cohort,
        |  date_diff('day', f.cohort, a.day) AS day_offset,
        |  count(*) AS users
        |FROM f JOIN a ON f.user_id = a.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Per-user inter-event timing: lag/lead gaps + session-position
    * quartile (ntile) — the row-navigation window family (LAG / LEAD /
    * NTILE) over event streams. One shuffle (the per-user sort window);
    * full oracle.
    */
  val lagLead: QueryDef = QueryDef(
    "events_lag_lead",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .select(col("event_id"), col("user_id"),
          (unix_millis(col("ts")) -
            unix_millis(lag(col("ts"), 1).over(w))).as("prev_gap_ms"),
          (unix_millis(lead(col("ts"), 1).over(w)) -
            unix_millis(col("ts"))).as("next_gap_ms"),
          ntile(4).over(w).as("quartile"))
        .orderBy("event_id")
    },
    Some(
      """SELECT event_id, user_id,
        |  epoch_ms(ts) - epoch_ms(lag(ts, 1) OVER w) AS prev_gap_ms,
        |  epoch_ms(lead(ts, 1) OVER w) - epoch_ms(ts) AS next_gap_ms,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin))

  /** Corpus-top 3-step user journeys: consecutive event-type triples
    * per user (LEAD window), counted corpus-wide — behavioural path
    * mining. Integer counts, full oracle.
    */
  val topPaths: QueryDef = QueryDef(
    "events_top_paths",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .select(col("user_id"),
          concat_ws(">", col("event_type"),
            lead(col("event_type"), 1).over(w),
            lead(col("event_type"), 2).over(w)).as("path"),
          lead(col("event_type"), 2).over(w).isNotNull.as("_full"))
        .filter(col("_full"))
        .groupBy(col("path")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 50)
        .orderBy(col("cnt").desc, col("path"))
    },
    Some(
      """WITH t AS (SELECT user_id, event_type,
        |  lead(event_type, 1) OVER w AS n1, lead(event_type, 2) OVER w AS n2
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || n1 || '>' || n2 AS path, count(*) AS cnt
        |FROM t WHERE n2 IS NOT NULL
        |GROUP BY 1 HAVING count(*) >= 50
        |ORDER BY cnt DESC, path""".stripMargin))

  /** RFM segmentation: per-user recency (last event) / frequency /
    * monetary (decimal-exact value sum), with the recency quartile —
    * the standard behavioural-segmentation aggregate. One user-keyed
    * aggregate, then [[graft.operators.Ranks.withGlobalNtile]] for the
    * quartile (exact SQL-ntile contract at range-bucket parallelism —
    * an unpartitioned ntile window would single-task the users frame);
    * full oracle.
    */
  val rfm: QueryDef = QueryDef(
    "events_rfm_segments",
    (s, dir) => {
      val per = Tables(s, dir).events
        .groupBy(col("user_id"))
        .agg(unix_millis(max(col("ts"))).as("last_ts_ms"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total_value"))
      graft.operators.Ranks.withGlobalNtile(per, "r_quartile", 4,
          col("last_ts_ms"), descending = true, ties = Seq(col("user_id")))
        .withColumn("r_quartile", col("r_quartile").cast("int"))
        .orderBy("user_id")
    },
    Some(
      """WITH a AS (SELECT user_id, epoch_ms(max(ts)) AS last_ts_ms,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM events GROUP BY user_id)
        |SELECT user_id, last_ts_ms, n_events, total_value,
        |  CAST(ntile(4) OVER (ORDER BY last_ts_ms DESC, user_id) AS INT)
        |    AS r_quartile
        |FROM a ORDER BY user_id""".stripMargin))

  /** The DuckDB restatement of [[graft.streaming.CorpusMonitor
    * .qualityByWindow]] over any `base` CTE providing (doc_id, text,
    * ts): langId markers, token count, the 6-dp quality score, and the
    * per-(window, lang) order-independent sums — shared by the
    * synthetic-timestamp gate and the OAI-loop monitor gate so both
    * anchor the identical arithmetic.
    */
  private def monitorOracleSql(baseCte: String, truncUnit: String): String = {
      def hits(markers: Seq[String]) = {
        val l = markers.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> list_contains([$l], w)))"
      }
      val en = hits(graft.operators.TextAnalysis.LangMarkers("en"))
      val de = hits(graft.operators.TextAnalysis.LangMarkers("de"))
      val fr = hits(graft.operators.TextAnalysis.LangMarkers("fr"))
      val es = hits(graft.operators.TextAnalysis.LangMarkers("es"))
      val stop = graft.operators.TextAnalysis.EnglishStopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH base AS ($baseCte),
         |h AS (SELECT *, $en AS en, $de AS de, $fr AS fr, $es AS es FROM base),
         |l AS (SELECT doc_id, text, ts, CASE
         |    WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |    WHEN en = greatest(en, de, fr, es) THEN 'en'
         |    WHEN de = greatest(en, de, fr, es) THEN 'de'
         |    WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |    ELSE 'es' END AS lang_pred FROM h),
         |q AS (
         |  SELECT doc_id, ts, lang_pred,
         |    len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens,
         |    round(least(len(string_split_regex(trim(text), '\\s+')) * 1.0 / 100.0, 1.0) * 0.4
         |      + (1.0 - least((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) * 1.0
         |          / greatest(length(text), 1) * 5.0, 1.0)) * 0.4
         |      + (CASE WHEN list_reduce(list_prepend(0::BIGINT,
         |            list_transform(string_split_regex(trim(text), '\\s+'), w -> length(w)::BIGINT)),
         |            (a, b) -> a + b) * 1.0
         |            / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
         |          BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality
         |  FROM l)
         |SELECT date_trunc('$truncUnit', ts) AS window_start, lang_pred,
         |  count(*) AS n_docs,
         |  round(sum(n_tokens) * 1.0 / count(*), 6) AS avg_tokens,
         |  max(n_tokens) AS max_tokens,
         |  round(sum(CAST(quality AS DECIMAL(18,6))) * 1.0 / count(*), 6) AS avg_quality,
         |  round(sum(CASE WHEN quality < 0.5 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         |    AS low_quality_share
         |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** CorpusMonitor's BATCH path under the hard oracle: per (1-hour
    * event-time window × predicted language) volume + quality stats
    * over the documents table, with a deterministic synthetic event
    * time (doc_id minutes past a fixed origin — documents carry no
    * timestamp). The streaming path is spec-locked batch ≡ streaming
    * (CorpusMonitorSpec), so this gate anchors BOTH to DuckDB. Means
    * come from order-independent sums (integer / DECIMAL(18,6)), which
    * is what makes the hash comparable.
    */
  val corpusMonitor: QueryDef = QueryDef(
    "events_corpus_monitor",
    (s, dir) => {
      val docs = Tables(s, dir).documents
        .withColumn("ts",
          // doc_id stays BIGINT in the interval arithmetic — a cast to
          // int would silently wrap past 2^31 at larger scale factors
          // and diverge from the oracle's to_minutes(doc_id)
          expr("timestamp'2024-01-01 00:00:00' + doc_id * interval '1' minute"))
      graft.streaming.CorpusMonitor
        .qualityByWindow(docs, "ts", "text", windowDuration = "1 hour")
        .orderBy("window_start", "lang_pred")
    },
    Some(monitorOracleSql(
      """
        |  SELECT doc_id, text,
        |    TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS ts
        |  FROM documents""".stripMargin, "hour")))

  /** The STREAMING face of the OAI operating loop, batch-anchored:
    * documents render as `ListRecords` harvest pages, the StAX parser
    * reads them back, deleted records drop, the parsed `datestamp`
    * becomes the event time, and [[graft.streaming.CorpusMonitor
    * .qualityByWindow]] aggregates per (day window × predicted
    * language). This exact composition — `XmlRecords.readStream` drop
    * directory → exactly-once TxTable sink → monitor — is spec-locked
    * batch ≡ streaming in StreamingOaiLoopSpec; this gate anchors the
    * shared batch face to DuckDB (the oracle restates pages, parse,
    * and monitor arithmetic straight off the parquet corpus: deleted =
    * id%13=0, datestamp = 2024-01-01 + id%365 days).
    */
  val oaiMonitor: QueryDef = QueryDef(
    "pipeline_oai_monitor",
    (s, dir) => {
      val parsed = graft.sources.XmlRecords.roundTripExtract(
        Tables(s, dir).documents,
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"))
      val live = parsed.filter(!col("deleted"))
        .select(col("doc_id"), col("text"),
          col("datestamp").cast("timestamp").as("ts"))
      graft.streaming.CorpusMonitor
        .qualityByWindow(live, "ts", "text", windowDuration = "24 hours")
        .orderBy("window_start", "lang_pred")
    },
    Some(monitorOracleSql(
      """
        |  SELECT doc_id, text,
        |    (DATE '2024-01-01' + to_days((doc_id % 365)::INT))::TIMESTAMP
        |      AS ts
        |  FROM documents WHERE doc_id % 13 <> 0""".stripMargin, "day")))

  /** First-order Markov transition matrix over per-user event
    * sequences ([[graft.operators.EventSequences.transitions]]): one
    * user-partitioned window shuffle; the totals join is a broadcast of
    * ≤ #event-types rows. Probabilities are single divisions of exact
    * counts (the `c * 1.0 / n` contract), 6-dp-rounded.
    */
  val markovTransitions: QueryDef = QueryDef(
    "events_markov_transitions",
    (s, dir) =>
      graft.operators.EventSequences.transitions(Tables(s, dir).events)
        .orderBy("prev", "next"),
    Some(
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |t AS (SELECT prev, event_type AS next, count(*) AS cnt FROM seq
        |      WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev, sum(cnt) AS n FROM t GROUP BY prev)
        |SELECT t.prev, t.next, t.cnt, round(t.cnt * 1.0 / tot.n, 6) AS prob
        |FROM t JOIN tot USING (prev) ORDER BY prev, next""".stripMargin))

  /** First/last-touch conversion attribution
    * ([[graft.operators.EventSequences.touchAttribution]]): purchases
    * attributed to the first resp. latest strictly-prior non-purchase
    * touch per user ("direct" when none). Same single user-window
    * shuffle; channel frames are event-type-bounded.
    */
  val attribution: QueryDef = QueryDef(
    "events_attribution",
    (s, dir) =>
      graft.operators.EventSequences.touchAttribution(
        Tables(s, dir).events, convType = "purchase")
        .orderBy("channel"),
    Some(
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM events),
        |conv AS (SELECT coalesce(ft, 'direct') AS ft, coalesce(lt, 'direct') AS lt
        |         FROM seq WHERE event_type = 'purchase'),
        |f AS (SELECT ft AS channel, count(*) AS first_touch FROM conv GROUP BY 1),
        |l AS (SELECT lt AS channel, count(*) AS last_touch FROM conv GROUP BY 1)
        |SELECT coalesce(f.channel, l.channel) AS channel,
        |  coalesce(first_touch, 0) AS first_touch,
        |  coalesce(last_touch, 0) AS last_touch
        |FROM f FULL OUTER JOIN l ON f.channel = l.channel
        |ORDER BY channel""".stripMargin))

  /** Per-type z-score outliers
    * ([[graft.operators.EventSequences.zscoreAnomalies]]): exact
    * decimal sum/sum-of-squares per group, one fixed double
    * association for mean/variance/z, 4-dp round before the threshold
    * — the metric-anomaly monitor under the hard oracle.
    */
  val zscoreAnomaly: QueryDef = QueryDef(
    "events_zscore_anomaly",
    (s, dir) =>
      graft.operators.EventSequences.zscoreAnomalies(Tables(s, dir).events)
        .orderBy("event_id"),
    Some(
      """WITH st AS (SELECT event_type, count(*) AS n,
        |  sum(CAST(value AS DECIMAL(18,2))) AS s,
        |  sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS ss
        |  FROM events GROUP BY event_type
        |  HAVING count(*) >= 2
        |    AND min(CAST(value AS DECIMAL(18,2))) <> max(CAST(value AS DECIMAL(18,2)))),
        |z AS (SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - s::DOUBLE / n)
        |    / sqrt((ss::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n)) * n / (n - 1)), 4) AS z
        |  FROM events e JOIN st USING (event_type))
        |SELECT event_id, event_type, value, z FROM z
        |WHERE abs(z) >= 3.0 ORDER BY event_id""".stripMargin))

  /** Robust MAD anomalies ([[graft.operators.EventSequences
    * .madAnomalies]]): the modified z-score 0.6745·(x−median)/MAD —
    * the outlier-resistant sibling of `events_zscore_anomaly` (a
    * masking-prone σ vs a rank-stable MAD). Exact grouped percentiles
    * under the `agg_percentiles` cross-engine contract; the oracle
    * replays both medians, the zero-MAD guard, and the 4-dp score.
    */
  val madAnomaly: QueryDef = QueryDef(
    "events_mad_anomaly",
    (s, dir) =>
      graft.operators.EventSequences.madAnomalies(Tables(s, dir).events)
        .orderBy("event_id"),
    Some(
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type HAVING count(*) >= 2),
        |md AS (SELECT e.event_type, med,
        |    quantile_cont(abs(e.value - med), 0.5) AS mad
        |  FROM events e JOIN med USING (event_type)
        |  GROUP BY e.event_type, med
        |  HAVING quantile_cont(abs(e.value - med), 0.5) > 0),
        |mz AS (SELECT e.event_id, e.event_type, e.value,
        |    round(0.6745 * (e.value - med) / mad, 4) AS mz
        |  FROM events e JOIN md USING (event_type))
        |SELECT event_id, event_type, value, mz FROM mz
        |WHERE abs(mz) >= 3.5 ORDER BY event_id""".stripMargin))

  /** Trimmed per-group statistics
    * ([[graft.operators.EventSequences.trimmedStats]]): exact
    * [p05, p95] band per event type, then the mean of the surviving
    * values as exact decimals into one double division — the robust
    * read-side companion to the anomaly flags. Oracle replays bounds,
    * band filter, and decimal-sum mean.
    */
  val trimmedStatsGate: QueryDef = QueryDef(
    "events_trimmed_stats",
    (s, dir) =>
      graft.operators.EventSequences.trimmedStats(Tables(s, dir).events)
        .orderBy("event_type"),
    Some(
      """WITH b AS (SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi,
        |    count(*)::BIGINT AS n_all
        |  FROM events GROUP BY event_type),
        |k AS (SELECT e.event_type, b.lo, b.hi, b.n_all,
        |    count(*)::BIGINT AS n_kept,
        |    sum(CAST(e.value AS DECIMAL(18,2))) AS s
        |  FROM events e JOIN b USING (event_type)
        |  WHERE e.value >= b.lo AND e.value <= b.hi
        |  GROUP BY e.event_type, b.lo, b.hi, b.n_all)
        |SELECT event_type, round(lo, 4) + 0 AS lo, round(hi, 4) + 0 AS hi,
        |  n_all, n_kept, round(s::DOUBLE / n_kept, 4) + 0 AS trimmed_mean
        |FROM k ORDER BY event_type""".stripMargin))

  /** Time-decayed per-user value sum
    * ([[graft.operators.EventSequences.decayedSum]]): recency-weighted
    * feature aggregate with power-of-two weights so the whole decay is
    * EXACT long arithmetic under the hash (an `exp`-based decay never
    * cross-engine-hashes). Oracle replays the calendar age, the capped
    * half-life exponent, the shift, and the single final division.
    */
  val decayedSumGate: QueryDef = QueryDef(
    "events_decayed_sum",
    (s, dir) =>
      graft.operators.EventSequences.decayedSum(Tables(s, dir).events)
        .orderBy("user_id"),
    Some(
      """WITH r AS (SELECT max(ts) AS ref FROM events),
        |a AS (SELECT user_id,
        |    (r.ref::DATE - ts::DATE) AS age_days,
        |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS cents
        |  FROM events, r),
        |h AS (SELECT user_id, least(age_days // 7, 20) AS hl, cents FROM a),
        |f AS (SELECT user_id, count(*)::BIGINT AS n_events,
        |    sum(cents * (1::BIGINT << (20 - hl)))::BIGINT AS decayed_fp
        |  FROM h GROUP BY user_id)
        |SELECT user_id, n_events, decayed_fp,
        |  round(decayed_fp::DOUBLE / 104857600.0, 6) + 0 AS decayed
        |FROM f ORDER BY user_id""".stripMargin))

  /** Streaming safety-monitor composition under the batch contract
    * ([[graft.streaming.CorpusMonitor.blocklistByWindow]] +
    * [[graft.operators.EventSequences.zscoreAnomalies]]): per event-
    * time window, blocklist-hit stats from the broadcast Aho–Corasick
    * kernel, then hit-volume outlier windows flagged by z-score — the
    * "spam burst in this hour" alert. Total assignment: every window
    * row is emitted, `z` non-null only where |z| ≥ 1. The oracle
    * replays per-position match counts, hour truncation, the exact-
    * decimal window stats, and the z arithmetic.
    */
  val blocklistMonitor: QueryDef = QueryDef(
    "events_blocklist_monitor",
    (s, dir) => {
      val docs = Tables(s, dir).documents
        .withColumn("ts",
          expr("timestamp'2024-01-01 00:00:00' + doc_id * interval '1' minute"))
      val windows = graft.streaming.CorpusMonitor.blocklistByWindow(
          docs, "ts", "text", "doc_id", TextQueries.BlocklistPatterns)
        .withColumn("wid", unix_timestamp(col("window_start")).cast("long"))
      val anomalies = graft.operators.EventSequences.zscoreAnomalies(
        windows.select(col("wid").as("window_id"),
          lit("hits").as("metric"),
          col("total_hits").cast("double").as("value")),
        typeCol = "metric", idCol = "window_id", valueCol = "value",
        threshold = 1.0)
      windows
        .join(anomalies.select(col("window_id").as("wid"), col("z")),
          Seq("wid"), "left")
        .select(col("window_start"), col("n_docs"), col("n_flagged"),
          col("flagged_share"), col("total_hits"), col("max_hits"), col("z"))
        .orderBy("window_start")
    },
    Some {
      val pats = TextQueries.BlocklistPatterns
      val hs = pats.zipWithIndex.map { case (p, i) =>
        s"len(list_filter(range(1, len(t) - ${p.length} + 2), " +
          s"i -> substr(t, i, ${p.length}) = '$p')) AS h$i"
      }.mkString(",\n  ")
      val nPat = pats.indices
        .map(i => s"CASE WHEN h$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
      val nHits = pats.indices.map(i => s"h$i").mkString(" + ")
      s"""WITH tt AS (SELECT doc_id, lower(text) AS t,
         |    TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS ts
         |  FROM documents),
         |h AS (SELECT doc_id, ts,
         |  $hs FROM tt),
         |d AS (SELECT doc_id, date_trunc('hour', ts) AS window_start,
         |    ($nPat)::BIGINT AS n_patterns, ($nHits)::BIGINT AS n_hits
         |  FROM h),
         |w AS (SELECT window_start, count(*)::BIGINT AS n_docs,
         |    sum(CASE WHEN n_patterns > 0 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
         |    round(sum(CASE WHEN n_patterns > 0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS flagged_share,
         |    sum(n_hits)::BIGINT AS total_hits, max(n_hits)::BIGINT AS max_hits
         |  FROM d GROUP BY 1),
         |st AS (SELECT count(*) AS n, sum(CAST(total_hits AS DECIMAL(18,2))) AS s,
         |    sum(CAST(total_hits AS DECIMAL(18,2)) * CAST(total_hits AS DECIMAL(18,2))) AS ss
         |  FROM w
         |  HAVING count(*) >= 2
         |    AND min(CAST(total_hits AS DECIMAL(18,2))) <> max(CAST(total_hits AS DECIMAL(18,2)))),
         |zf AS (SELECT window_start AS zw,
         |    round((total_hits - s::DOUBLE / n)
         |      / sqrt((ss::DOUBLE / n - (s::DOUBLE / n) * (s::DOUBLE / n)) * n / (n - 1)), 4) AS z
         |  FROM w CROSS JOIN st),
         |za AS (SELECT zw, z FROM zf WHERE abs(z) >= 1.0)
         |SELECT window_start, n_docs, n_flagged, flagged_share,
         |  total_hits, max_hits, za.z AS z
         |FROM w LEFT JOIN za ON za.zw = w.window_start
         |ORDER BY window_start""".stripMargin
    })

  /** Interval island merge
    * ([[graft.operators.EventSequences.mergeIntervals]]): per-user
    * spans [ts, ts + value·600 s) coalesce wherever they overlap or
    * touch — 10 000 intervals collapse to ~4 700 islands at sf0.01.
    * Bounds are exact epoch-micros longs (the 2-dp decimal value times
    * an integer scale), so the running-max island logic is identical
    * integer arithmetic on both engines.
    */
  val intervalMerge: QueryDef = QueryDef(
    "events_interval_merge",
    (s, dir) => {
      val iv = Tables(s, dir).events.select(
        col("user_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) +
          (col("value").cast("decimal(18,2)") * lit(600000000L))
            .cast("long")).as("end_us"))
      graft.operators.EventSequences.mergeIntervals(
          iv, "user_id", "start_us", "end_us")
        .orderBy("user_id", "start_us")
    },
    Some(
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS start_us,
        |             epoch_us(ts) + (CAST(value AS DECIMAL(18,2)) * 600000000)::BIGINT AS end_us
        |           FROM events),
        |x AS (SELECT user_id, start_us, end_us,
        |        max(end_us) OVER (PARTITION BY user_id ORDER BY start_us, end_us
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |      FROM iv),
        |y AS (SELECT user_id, start_us, end_us,
        |        CASE WHEN pm IS NULL OR start_us > pm THEN 1 ELSE 0 END AS ni
        |      FROM x),
        |z AS (SELECT user_id, start_us, end_us,
        |        sum(ni) OVER (PARTITION BY user_id ORDER BY start_us, end_us
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |      FROM y)
        |SELECT user_id, min(start_us) AS start_us, max(end_us) AS end_us,
        |  count(*) AS n_merged
        |FROM z GROUP BY user_id, island ORDER BY user_id, start_us""".stripMargin))

  /** SCD type-2 history ([[graft.operators.EventSequences.scd2History]]):
    * each user's event-type stream collapsed into validity ranges with
    * [valid_from, valid_to) micros bounds, valid_to NULL on the open
    * version — the dimension-build shape over the same window as
    * latest_by_key. Full oracle: lag/cumsum/lead restated in SQL.
    */
  val scd2: QueryDef = QueryDef(
    "events_scd2_history",
    (s, dir) =>
      graft.operators.EventSequences.scd2History(Tables(s, dir).events)
        .orderBy("user_id", "version"),
    Some(
      """WITH m AS (SELECT user_id, event_type, ts, event_id,
        |        CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> event_type
        |             THEN 1 ELSE 0 END AS chg
        |      FROM events),
        |v AS (SELECT user_id, event_type, ts,
        |        sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |      FROM m),
        |r AS (SELECT user_id, version::BIGINT AS version,
        |        min(event_type) AS value,
        |        min(epoch_us(ts)) AS valid_from_us,
        |        count(*) AS n_events
        |      FROM v GROUP BY user_id, version)
        |SELECT user_id, version, value, valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version) AS valid_to_us,
        |  n_events
        |FROM r ORDER BY user_id, version""".stripMargin))

  /** Grouped OLS trend ([[graft.operators.EventSequences.olsTrend]]):
    * per-user least-squares slope/intercept of value over centered
    * time, exact integer fixed-point moments with DECIMAL(38,0)
    * combination — the oracle replays the identical closed forms via
    * HUGEINT, including the floor division to whole seconds and the
    * null on zero time variance.
    */
  val olsTrend: QueryDef = QueryDef(
    "events_ols_trend",
    (s, dir) =>
      graft.operators.EventSequences.olsTrend(Tables(s, dir).events)
        .orderBy("user_id"),
    Some(
      """WITH t0 AS (SELECT user_id, min(epoch_us(ts)) AS t0
        |            FROM events GROUP BY 1),
        |b AS (SELECT e.user_id, (epoch_us(ts) - t0) // 1000000 AS x,
        |        CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y
        |      FROM events e JOIN t0 USING (user_id)),
        |m AS (SELECT user_id, count(*) AS n, sum(x)::BIGINT AS sx,
        |        sum(y)::BIGINT AS sy, sum(x*y)::BIGINT AS sxy,
        |        sum(x*x)::BIGINT AS sxx
        |      FROM b GROUP BY 1)
        |SELECT user_id, n AS n_events,
        |  CASE WHEN n::HUGEINT*sxx - sx::HUGEINT*sx <> 0 THEN
        |    round((n::HUGEINT*sxy - sx::HUGEINT*sy)::DOUBLE /
        |      ((n::HUGEINT*sxx - sx::HUGEINT*sx)::DOUBLE * 10000), 6) + 0
        |  END AS slope,
        |  CASE WHEN n::HUGEINT*sxx - sx::HUGEINT*sx <> 0 THEN
        |    round((sxx::HUGEINT*sy - sx::HUGEINT*sxy)::DOUBLE /
        |      ((n::HUGEINT*sxx - sx::HUGEINT*sx)::DOUBLE * 10000), 6) + 0
        |  END AS intercept
        |FROM m ORDER BY user_id""".stripMargin))

  /** Daily-grid gap fill with LOCF
    * ([[graft.operators.EventSequences.gapFillLocf]]): the
    * time-series alignment step — per-user daily grid, last event of
    * the day wins, missing days carry forward. The oracle replays the
    * grid generation, the deterministic day pick, and the
    * IGNORE-NULLS running fill.
    */
  val gapFill: QueryDef = QueryDef(
    "events_gap_fill_locf",
    (s, dir) =>
      graft.operators.EventSequences.gapFillLocf(Tables(s, dir).events)
        .select(col("user_id"), col("day").cast("string").as("day"),
          col("value"), col("filled"))
        .orderBy("user_id", "day"),
    Some(
      """WITH daily AS (SELECT user_id, day, obs FROM (
        |    SELECT user_id, CAST(ts AS DATE) AS day,
        |      CAST(value AS DECIMAL(18,4)) AS obs,
        |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |g AS (SELECT user_id,
        |    unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
        |        max(CAST(ts AS DATE)) AS d1 FROM events GROUP BY 1)),
        |j AS (SELECT g.user_id, g.day, obs FROM g
        |  LEFT JOIN daily ON g.user_id = daily.user_id AND g.day = daily.day)
        |SELECT user_id, CAST(day AS VARCHAR) AS day,
        |  CAST(last_value(obs IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS value,
        |  obs IS NULL AS filled
        |FROM j ORDER BY user_id, day""".stripMargin))

  /** One-sided CUSUM drift ([[graft.operators.EventSequences
    * .cusumDrift]]): the recursion restated as two cumulative windows
    * via the prefix-min identity, exact longs end to end — the oracle
    * replays P = Σy − (target+k)·i and the running min.
    */
  val cusum: QueryDef = QueryDef(
    "events_cusum_drift",
    (s, dir) =>
      graft.operators.EventSequences.cusumDrift(Tables(s, dir).events)
        .orderBy("user_id", "event_id"),
    Some(
      """WITH b AS (SELECT user_id, event_id, ts,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y
        |  FROM events),
        |c AS (SELECT user_id, event_id, ts, y,
        |    sum(y) OVER w - (first_value(y) OVER w + 50000)
        |      * row_number() OVER w AS p
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (SELECT user_id, event_id, y, p,
        |    least(0, min(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS pmin
        |  FROM c)
        |SELECT user_id, event_id, y AS value_fp,
        |  (p - pmin)::BIGINT AS cusum_fp,
        |  (p - pmin) > 500000 AS drift
        |FROM d ORDER BY user_id, event_id""".stripMargin))

  /** A-priori frequent pairs ([[graft.operators.FrequentItemsets
    * .frequentPairs]]): event-type pairs co-occurring in ≥570 user-day
    * baskets, with the exact per-item counts and basket total the
    * confidence/lift divisions need. The oracle replays the basket
    * distinct, the level-1 prune, and the within-basket pair join.
    */
  val frequentPairs: QueryDef = QueryDef(
    "events_frequent_pairs",
    (s, dir) =>
      graft.operators.FrequentItemsets.frequentPairs(
          Tables(s, dir).events
            .select(concat_ws("@", col("user_id").cast("string"),
              to_date(col("ts")).cast("string")).as("basket"),
              col("event_type")),
          "basket", "event_type", minSupport = 570L)
        .orderBy("item_a", "item_b"),
    Some(
      """WITH it AS (SELECT DISTINCT
        |    user_id::VARCHAR || '@' || ts::DATE::VARCHAR AS basket,
        |    event_type AS item
        |  FROM events),
        |f AS (SELECT item, count(*) AS cnt FROM it GROUP BY item
        |      HAVING count(*) >= 570),
        |tot AS (SELECT count(DISTINCT basket) AS n_baskets FROM it),
        |fi AS (SELECT basket, it.item, f.cnt
        |       FROM it JOIN f ON f.item = it.item)
        |SELECT a.item AS item_a, b.item AS item_b,
        |  count(*) AS support, a.cnt AS count_a, b.cnt AS count_b,
        |  n_baskets
        |FROM fi a JOIN fi b ON a.basket = b.basket AND a.item < b.item,
        |  tot
        |GROUP BY 1, 2, 4, 5, 6
        |HAVING count(*) >= 570
        |ORDER BY item_a, item_b""".stripMargin))

  /** Rolling 7-day distinct actives ([[graft.operators.EventSequences
    * .rollingDistinct]]): trailing-week distinct users per calendar
    * day — the rolling-WAU report. Exact; the explode factor is the
    * window length, not the corpus.
    */
  val rollingActives: QueryDef = QueryDef(
    "events_rolling_distinct",
    (s, dir) =>
      graft.operators.EventSequences.rollingDistinct(
          Tables(s, dir).events, "ts", "user_id", days = 7)
        .orderBy("day"),
    Some(
      """WITH de AS (SELECT DISTINCT ts::DATE AS d, user_id FROM events),
        |obs AS (SELECT DISTINCT d AS day FROM de),
        |x AS (SELECT o.day, de.user_id
        |      FROM de JOIN obs o ON o.day BETWEEN de.d AND de.d + 6)
        |SELECT day, count(DISTINCT user_id) AS active
        |FROM x GROUP BY day ORDER BY day""".stripMargin))

  /** Sweep-line peak concurrency ([[graft.operators.EventSequences
    * .maxConcurrency]]): per day, the maximum number of user sessions
    * (5-minute-gap sessionization, closed [min ts, max ts] extents)
    * open at once — the capacity-planning readout. The oracle replays
    * sessionization, the ±1 deltas with starts-before-ends tie order,
    * and the per-day running max.
    */
  val maxConcurrencyGate: QueryDef = QueryDef(
    "events_max_concurrency",
    (s, dir) => {
      val iv = Tables(s, dir).events
        .groupBy(col("user_id"),
          session_window(col("ts"), "5 minutes").as("w"))
        .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
        .select(to_date(col("s")).as("day"), col("s"), col("e"))
      graft.operators.EventSequences.maxConcurrency(iv, "s", "e", "day")
        .orderBy("day")
    },
    Some(
      """WITH d AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL '5 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sx AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM d),
        |iv AS (SELECT min(ts) AS s, max(ts) AS e
        |       FROM sx GROUP BY user_id, sid),
        |dl AS (SELECT s::DATE AS day, s AS t, 1 AS delta FROM iv
        |       UNION ALL SELECT s::DATE, e, -1 FROM iv),
        |r AS (SELECT day, sum(delta) OVER (PARTITION BY day
        |        ORDER BY t, delta DESC ROWS UNBOUNDED PRECEDING) AS c
        |      FROM dl),
        |nc AS (SELECT s::DATE AS day, count(*) AS n_intervals
        |       FROM iv GROUP BY 1)
        |SELECT r.day, nc.n_intervals, max(c)::BIGINT AS max_concurrent
        |FROM r JOIN nc ON nc.day = r.day
        |GROUP BY r.day, nc.n_intervals ORDER BY r.day""".stripMargin))

  def defs: Seq[QueryDef] =
    Seq(tumbling, sliding, sessions, latestByKey, asofPurchaseClick,
      asofExec, asofExecForward, asofExecMultiKey, rangeJoin, intervalJoin,
      funnel, movingWindow, retention, lagLead, topPaths, rfm, corpusMonitor,
      oaiMonitor,
      asofTolerance, asofNearest,
      markovTransitions, attribution, zscoreAnomaly, madAnomaly,
      trimmedStatsGate, decayedSumGate, blocklistMonitor, intervalMerge,
      scd2, olsTrend, gapFill, cusum, frequentPairs, rollingActives,
      maxConcurrencyGate)
}

object IoQueries extends QueryGroup {

  /** JSONL sink→source round trip on the real documents table: write
    * once (JVM temp dir, build-once registry), read back with the
    * EXPLICIT schema, and the oracle checks the round-tripped rows
    * against the parquet original — newline/quote/non-ASCII escaping
    * proven lossless on real data, not a toy fixture.
    */
  val jsonlRoundTrip: QueryDef = QueryDef(
    "io_jsonl_roundtrip",
    (s, dir) =>
      graft.sources.Jsonl.roundTrip(
          Tables(s, dir).documents,
          tag = dir.replaceAll("[^A-Za-z0-9.]", "_"))
        .orderBy("doc_id"),
    Some(
      "SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "ORDER BY doc_id"))

  /** Z-order (Morton) clustering values over (o_custkey, o_totalprice)
    * — the data-skipping layout key ([[graft.ingest.ZOrder]]). Full
    * oracle: quantization is double arithmetic in the same expression
    * shape on both engines, the interleave is integer bit math;
    * ZOrderSpec asserts the layout's actual 2-D file pruning.
    */
  val zorderValues: QueryDef = QueryDef(
    "io_zorder_values",
    (s, dir) =>
      graft.ingest.ZOrder.zValue(Tables(s, dir).orders,
          "o_custkey", "o_totalprice", bits = 16)
        .select(col("o_orderkey"), col("z"))
        .orderBy("o_orderkey"),
    Some(
      """WITH b AS (SELECT min(o_custkey * 1.0) AS mina, max(o_custkey * 1.0) AS maxa,
        |                  min(o_totalprice * 1.0) AS minb, max(o_totalprice * 1.0) AS maxb
        |           FROM orders),
        |q AS (SELECT o_orderkey,
        |        CAST(floor((o_custkey * 1.0 - mina) * 65535 / (maxa - mina)) AS BIGINT) AS qa,
        |        CAST(floor((o_totalprice * 1.0 - minb) * 65535 / (maxb - minb)) AS BIGINT) AS qb
        |      FROM orders, b)
        |SELECT o_orderkey,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |    ((qa >> i) & 1) * (1::BIGINT << (2 * i)) +
        |    ((qb >> i) & 1) * (1::BIGINT << (2 * i + 1)))) AS BIGINT) AS z
        |FROM q ORDER BY o_orderkey""".stripMargin))

  /** CSV round trip ([[graft.sources.Csv]]) — headered, explicit
    * schema, split-preserving (multiLine stays false); the oracle is
    * the parquet original, so the gate proves sink+source byte
    * fidelity on real data.
    */
  val csvRoundTrip: QueryDef = QueryDef(
    "io_csv_roundtrip",
    (s, dir) =>
      graft.sources.Csv.roundTrip(
          Tables(s, dir).documents,
          tag = dir.replaceAll("[^A-Za-z0-9.]", "_"))
        .orderBy("doc_id"),
    Some(
      "SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "ORDER BY doc_id"))

  /** WARC round-trip extract ([[graft.sources.Warc]]) — the crawl
    * entry-point format: documents written as member-per-record
    * `.warc.gz` (record metadata closed-form in doc_id), read back by
    * the streaming record parser, payload decoded and doc_id recovered
    * from the target URI. Lossless by construction, so the oracle
    * restates the extract straight off the parquet original — header
    * framing, Content-Length byte math (UTF-8, not chars), and
    * concatenated-gzip-member handling all sit under the hash.
    */
  val warcExtract: QueryDef = QueryDef(
    "io_warc_extract",
    (s, dir) =>
      graft.sources.Warc.roundTripExtract(
          Tables(s, dir).documents,
          tag = dir.replaceAll("[^A-Za-z0-9.]", "_"))
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  'https://example.org/doc/' || doc_id AS target_uri,
        |  octet_length(encode(text)) AS n_bytes, text
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** The complete crawl front end under ONE hash
    * ([[graft.sources.Warc.writeHttp]] → [[graft.sources.Warc
    * .splitHttp]] → [[graft.operators.TextAnalysis.htmlToText]]):
    * documents become HTTP-response WARC records (status line +
    * headers + HTML body from a deterministic template), are read
    * back through the record parser, split at the RFC 9112 header/
    * body boundary, and reduced to clean text by the column-only
    * HTML extractor. The oracle rebuilds the template and replays the
    * IDENTICAL regex/replace chain in DuckDB — script/style removal,
    * tag strip, entity decode order (amp last), whitespace collapse —
    * so the extraction contract itself is hash-pinned end to end.
    */
  val warcHttpExtract: QueryDef = QueryDef(
    "io_warc_http_extract",
    (s, dir) =>
      graft.sources.Warc.roundTripHttpExtract(
          Tables(s, dir).documents,
          tag = dir.replaceAll("[^A-Za-z0-9.]", "_"))
        .orderBy("doc_id"),
    Some(
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title><style>p { margin: 0; }</style><script>var docId = ' || doc_id
        |    || ';</script></head><body><h1>Doc ' || doc_id || '</h1><p>' || text || ' &amp; more</p></body></html>' AS html
        |  FROM documents),
        |t1 AS (SELECT doc_id, regexp_replace(html, '<script.*?</script>', ' ', 'gis') AS x FROM h),
        |t2 AS (SELECT doc_id, regexp_replace(x, '<style.*?</style>', ' ', 'gis') AS x FROM t1),
        |t3 AS (SELECT doc_id, regexp_replace(x, '<[^>]+>', ' ', 'g') AS x FROM t2),
        |t4 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(x,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS x FROM t3)
        |SELECT doc_id, 200 AS http_status,
        |  'text/html; charset=utf-8' AS content_type,
        |  trim(regexp_replace(x, '\s+', ' ', 'g')) AS text
        |FROM t4 ORDER BY doc_id""".stripMargin))

  /** URL canonicalization ([[graft.operators.UrlNormalize]]) — the
    * crawl-frontier dedup key. Synthetic messy URLs exercise every
    * rule at once (mixed-case host, default port, fragment, utm
    * param, unsorted params, case-SENSITIVE path preserved); the
    * oracle replays the identical chain with DuckDB list functions,
    * and a distinct-count column pins the dedup effect (doc_id %35
    * collisions survive canonicalization as true duplicates).
    */
  val urlCanonicalize: QueryDef = QueryDef(
    "io_url_canonicalize",
    (s, dir) => {
      val urls = Tables(s, dir).documents.select(col("doc_id"),
        concat(lit("HTTPS://Example.COM:443/Path/"), col("doc_id") % 7,
          lit("?utm_source=feed&b="), col("doc_id") % 5,
          lit("&a="), col("doc_id") % 7, lit("#sec")).as("url"))
      urls.select(col("doc_id"), col("url"),
          graft.operators.UrlNormalize.canonicalize(col("url")).as("canonical"))
        .orderBy("doc_id")
    },
    Some(
      """WITH u AS (SELECT doc_id,
        |    'HTTPS://Example.COM:443/Path/' || (doc_id % 7)
        |    || '?utm_source=feed&b=' || (doc_id % 5)
        |    || '&a=' || (doc_id % 7) || '#sec' AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |    'https://example.com/Path/' || (doc_id % 7)
        |    || '?a=' || (doc_id % 7) || '&b=' || (doc_id % 5) AS canonical
        |  FROM u)
        |SELECT doc_id, url, canonical FROM c ORDER BY doc_id""".stripMargin))

  /** Frontier dedup — the composition the canonical key exists for:
    * group the messy URL stream by canonical form, keep the min-id
    * survivor and the variant count (one hash aggregate with map-side
    * combine; at crawl scale this IS the fetch-scheduler's dedup).
    * 500 messy URLs collapse to 35 true pages at sf0.01 — the dedup
    * effect sits under the hash, not just the per-row rewrite.
    */
  val urlFrontier: QueryDef = QueryDef(
    "io_url_frontier_dedup",
    (s, dir) => {
      val urls = Tables(s, dir).documents.select(col("doc_id"),
        concat(lit("HTTPS://Example.COM:443/Path/"), col("doc_id") % 7,
          lit("?utm_source=feed&b="), col("doc_id") % 5,
          lit("&a="), col("doc_id") % 7, lit("#sec")).as("url"))
      urls
        .groupBy(graft.operators.UrlNormalize.canonicalize(col("url"))
          .as("canonical"))
        .agg(min(col("doc_id")).as("survivor"),
          count(lit(1)).as("n_variants"))
        .orderBy("canonical")
    },
    Some(
      """WITH c AS (SELECT doc_id,
        |    'https://example.com/Path/' || (doc_id % 7)
        |    || '?a=' || (doc_id % 7) || '&b=' || (doc_id % 5) AS canonical
        |  FROM documents)
        |SELECT canonical, min(doc_id) AS survivor, count(*) AS n_variants
        |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin))

  private val bloomLayouts =
    new graft.operators.LruCache[String, String](8)

  /** Per-file Bloom skipping ([[graft.ingest.FileBloomIndex]]): an
    * 8-file hash layout of `documents` gets a Bloom sidecar on
    * doc_id; three point lookups (two hits, one miss) run through the
    * index — each opens only the files whose filter might contain the
    * key (FileBloomIndexSpec asserts ≤3 of 8) and the row predicate
    * keeps the answer exact, so the gate is full-oracle. The
    * non-cluster-column complement of TxTable's manifest min/max
    * skipping.
    */
  val bloomSkipping: QueryDef = QueryDef(
    "io_bloom_skipping",
    (s, dir) => {
      val p = bloomLayouts.getOrElseUpdate(dir) {
        val t = s"${System.getProperty("java.io.tmpdir")}/graft-bloomidx/" +
          dir.replaceAll("[^A-Za-z0-9.]", "_")
        Tables(s, dir).documents
          .repartition(8, col("doc_id"))
          .write.mode("overwrite").parquet(t)
        graft.ingest.FileBloomIndex.write(s, t, "doc_id",
          expectedPerFile = 200000L)
        t
      }
      Seq(123L, 321L, 99999999L)
        .map(id => graft.ingest.FileBloomIndex.lookup(s, p, "doc_id", id)
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars")))
        .reduce(_ unionByName _)
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (123, 321, 99999999)
        |ORDER BY doc_id""".stripMargin))

  /** Merge-on-read delete ([[graft.sources.TxTable.deleteWhere]]):
    * deletion vectors — the predicate's row POSITIONS persist under
    * the manifest's `dv/` namespace and readers anti-join them, so
    * the delete rewrites ZERO data bytes (TxTableDvSpec asserts the
    * data file set is untouched); a later append carries the DVs
    * forward. Full oracle: create wave (event_id % 3 < 2) loses its
    * clicks, the appended wave keeps everything.
    */
  val txDeleteDv: QueryDef = QueryDef(
    "io_tx_delete_dv",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select("event_id", "event_type", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txdv-").toString
      graft.sources.TxTable.create(ev.filter(col("event_id") % 3 < 2), root)
      graft.sources.TxTable.deleteWhere(s, root,
        col("event_type") === "click")
      graft.sources.TxTable.append(ev.filter(col("event_id") % 3 === 2), root)
      graft.sources.TxTable.read(s, root).orderBy("event_id")
    },
    Some(
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id % 3 = 2 OR event_type <> 'click'
        |ORDER BY event_id""".stripMargin))

  /** Versioned rollback ([[graft.sources.TxTable.restore]]): a bad
    * delete rolls back as a NEW COMMIT (KB-scale manifest re-list, no
    * data copy), then ingest continues on top — the operational
    * recovery loop. Full oracle: the restored table equals all events
    * (the deleted clicks came back), plus the post-restore wave.
    */
  val txRestore: QueryDef = QueryDef(
    "io_tx_restore",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select("event_id", "event_type", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txrestore-").toString
      graft.sources.TxTable.create(ev.filter(col("event_id") % 3 === 0), root)
      graft.sources.TxTable.append(ev.filter(col("event_id") % 3 === 1), root)
      graft.sources.TxTable.deleteWhere(s, root,
        col("event_type") === "click") // the mistake
      graft.sources.TxTable.restore(s, root, toVersion = 1L) // undo it
      graft.sources.TxTable.append(ev.filter(col("event_id") % 3 === 2), root)
      graft.sources.TxTable.read(s, root).orderBy("event_id")
    },
    Some(
      """SELECT event_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin))

  /** CHECK constraint enforcement ([[graft.sources.TxTable
    * .setCheckConstraint]] / header `check=`): the gate ITSELF drives
    * the rejection path — a batch with negated ids must abort
    * wholesale (all-or-nothing: its valid rows don't land either),
    * then the honest batch commits. Full oracle: the final table is
    * exactly the clean corpus, which is only true if the guard both
    * fired and stayed atomic.
    */
  val txCheckGate: QueryDef = QueryDef(
    "io_tx_check_constraint",
    (s, dir) => {
      val ev = Tables(s, dir).events.select("event_id", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txcheck-").toString
      graft.sources.TxTable.create(ev.filter(col("event_id") % 2 === 0),
        root, check = Some("event_id >= 0"))
      val rejected =
        try {
          graft.sources.TxTable.append(
            ev.filter(col("event_id") % 2 === 1)
              .withColumn("event_id", -col("event_id")), root)
          false
        } catch { case _: IllegalArgumentException => true }
      require(rejected, "CHECK constraint failed to reject the bad batch")
      graft.sources.TxTable.append(ev.filter(col("event_id") % 2 === 1), root)
      graft.sources.TxTable.read(s, root).orderBy("event_id")
    },
    Some(
      """SELECT event_id, value FROM events ORDER BY event_id""".stripMargin))

  /** RECLUSTER / OPTIMIZE-ZORDER ([[graft.sources.TxTable.recluster]],
    * round 14): a range-clustered table picks up a second hot
    * predicate column, DV-deletes some rows, then MIGRATES to z-order
    * clustering in one commit — the rewrite must materialize the DVs
    * (deleted rows stay gone) and the new 2-D stats must serve
    * [[graft.sources.TxTable.readBox]] exactly. Full oracle: box +
    * delete predicates restate in SQL; TxTableSpec asserts the
    * file-level pruning side.
    */
  val txRecluster: QueryDef = QueryDef(
    "io_tx_recluster",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select("event_id", "user_id", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txreclus-").toString
      graft.sources.TxTable.create(ev, root,
        clusterCol = Some("event_id"), buckets = 4)
      graft.sources.TxTable.deleteWhere(s, root, col("user_id") % 9 === 4)
      graft.sources.TxTable.recluster(s, root,
        Seq("event_id", "user_id"), buckets = 8)
      graft.sources.TxTable.readBox(s, root, 101L, 900L, 10L, 60L)
        .orderBy("event_id")
    },
    Some(
      """SELECT event_id, user_id, value FROM events
        |WHERE event_id BETWEEN 101 AND 900
        |  AND user_id BETWEEN 10 AND 60
        |  AND user_id % 9 <> 4
        |ORDER BY event_id""".stripMargin))

  /** Schema evolution ([[graft.sources.TxTable]] `schema=` header,
    * round 14): the gate drives BOTH edges — a wider batch is
    * REJECTED by the strict default (before any file lands), then
    * lands with `mergeSchema = true`, publishing the union schema in
    * the same commit; reads scan by the DECLARED schema, so
    * pre-evolution files serve the new column as null instead of the
    * single-footer lottery dropping it. Full oracle: the CASE
    * restates exactly which rows carry the evolved column.
    */
  val txSchemaEvolution: QueryDef = QueryDef(
    "io_tx_schema_evolution",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val root = java.nio.file.Files
        .createTempDirectory("graft-txschema-").toString
      graft.sources.TxTable.create(
        ev.filter(col("event_id") % 2 === 0).select("event_id", "value"),
        root)
      val wider = ev.filter(col("event_id") % 2 === 1)
        .select("event_id", "value", "event_type")
      val rejected =
        try { graft.sources.TxTable.append(wider, root); false }
        catch { case _: IllegalArgumentException => true }
      require(rejected, "strict append failed to reject the wider batch")
      graft.sources.TxTable.append(wider, root, mergeSchema = true)
      graft.sources.TxTable.read(s, root).orderBy("event_id")
    },
    Some(
      """SELECT event_id, value,
        |  CASE WHEN event_id % 2 = 1 THEN event_type ELSE NULL END
        |    AS event_type
        |FROM events ORDER BY event_id""".stripMargin))

  /** Column RENAME via column mapping ([[graft.sources.TxTable
    * .renameColumn]], round 15): a pure metadata commit — the declared
    * field takes the new logical name, its metadata pins the PHYSICAL
    * name the bytes live under, and ZERO data files are rewritten (the
    * gate asserts the file set is unchanged across the rename). Reads
    * resolve BY PHYSICAL NAME across three generations — files written
    * before the rename, after it under the new logical name, and a
    * post-rename DV delete predicated ON the renamed column — while a
    * strict append still carrying the OLD name is rejected. Full
    * oracle: the union of generations, the rename, and the delete all
    * restate in SQL.
    */
  val txSchemaRename: QueryDef = QueryDef(
    "io_tx_schema_rename",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text", "lang")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txrename-").toString
      graft.sources.TxTable.create(
        docs.filter(col("doc_id") % 2 === 0), root) // v0: gen-1 "lang"
      graft.sources.TxTable.append(
        docs.filter(col("doc_id") % 2 === 1), root) // v1: gen-2 "lang"
      val before = graft.sources.TxTable.latestSnapshot(s, root).files.toSet
      graft.sources.TxTable.renameColumn(s, root, "lang", "language") // v2
      require(graft.sources.TxTable.latestSnapshot(s, root).files.toSet
        == before, "rename rewrote data files")
      val rejected =
        try { graft.sources.TxTable.append(docs.limit(5), root); false }
        catch { case _: IllegalArgumentException => true }
      require(rejected, "append under the OLD column name was admitted")
      // gen-3: new rows under the NEW logical name (shifted ids keep
      // the oracle deterministic)
      graft.sources.TxTable.append(
        docs.filter(col("doc_id") % 2 === 1)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
            col("lang").as("language")), root) // v3
      // a delete PREDICATED on the renamed column, across generations
      graft.sources.TxTable.deleteWhere(s, root, col("language") === "de")
      graft.sources.TxTable.read(s, root)
        .select("doc_id", "language")
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, lang AS language FROM (
        |  SELECT doc_id, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, lang FROM documents
        |  WHERE doc_id % 2 = 1)
        |WHERE lang <> 'de'
        |ORDER BY doc_id""".stripMargin))

  /** CDC ACROSS A RENAME ([[graft.sources.TxTable.readChangesTyped]]
    * × column mapping, round 16): a long-lived incremental consumer —
    * the reference's selective-harvest model
    * (`/root/reference/tests/test_serve.py:1342`) — reads ONE change
    * range that spans a `renameColumn` commit. The feed resolves
    * fields by PHYSICAL name, so rows from BOTH generations surface
    * under the NEW logical name with their original values: pre-rename
    * inserts, the metadata-only rename itself (contributes no events),
    * post-rename inserts, and a DV delete predicated on the renamed
    * column whose positions resolve across both file generations.
    * Full oracle: generation routing, the rename, and the delete all
    * restate in SQL.
    */
  val txChangesAcrossRename: QueryDef = QueryDef(
    "io_tx_changes_across_rename",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text", "lang")
      val root = java.nio.file.Files
        .createTempDirectory("graft-cdcrename-").toString
      graft.sources.TxTable.create(
        docs.filter(col("doc_id") % 3 === 0), root)                // v0
      graft.sources.TxTable.append(
        docs.filter(col("doc_id") % 3 === 1), root)                // v1
      graft.sources.TxTable.renameColumn(s, root, "lang", "language") // v2
      graft.sources.TxTable.append(
        docs.filter(col("doc_id") % 3 === 2)
          .withColumnRenamed("lang", "language"), root)            // v3
      graft.sources.TxTable.deleteWhere(s, root,
        col("language") === "de")                                  // v4
      graft.sources.TxTable.readChangesTyped(s, root, 0L, 4L)
        .select("doc_id", "language", "_change_type", "_commit_version")
        .orderBy("_commit_version", "_change_type", "doc_id")
    },
    Some(
      """SELECT * FROM (
        |  SELECT doc_id, lang AS language, 'insert' AS "_change_type",
        |    (CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END)::BIGINT
        |      AS "_commit_version"
        |  FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, lang, 'delete', 4 FROM documents
        |  WHERE lang = 'de')
        |ORDER BY "_commit_version", "_change_type", doc_id""".stripMargin))

  /** CDC ACROSS A DROP ([[graft.sources.TxTable.readChangesTyped]] ×
    * [[graft.sources.TxTable.dropColumn]], round 16): the feed serves
    * every change range under the DESTINATION version's declared
    * schema, so a column dropped inside the range LEAVES the feed —
    * pre-drop generations' insert events exclude it rather than
    * resurrect its bytes (the gate asserts the feed's exact column
    * set). Full oracle: both generations restate narrow in SQL.
    */
  val txChangesAcrossDrop: QueryDef = QueryDef(
    "io_tx_changes_across_drop",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select("event_id", "value", "event_type")
      val root = java.nio.file.Files
        .createTempDirectory("graft-cdcdrop-").toString
      graft.sources.TxTable.create(
        ev.filter(col("event_id") % 2 === 0), root)                // v0
      graft.sources.TxTable.append(
        ev.filter(col("event_id") % 2 === 1), root)                // v1
      graft.sources.TxTable.dropColumn(s, root, "event_type")      // v2
      graft.sources.TxTable.append(
        ev.filter(col("event_id") % 2 === 1)
          .select((col("event_id") + 10000000L).as("event_id"),
            col("value")), root)                                   // v3
      val feed = graft.sources.TxTable.readChangesTyped(s, root, 0L, 3L)
      require(feed.columns.toSeq ==
        Seq("event_id", "value", "_change_type", "_commit_version"),
        s"dropped column resurfaced in the feed: ${feed.columns.toSeq}")
      feed.orderBy("_commit_version", "event_id")
    },
    Some(
      """SELECT * FROM (
        |  SELECT event_id, value, 'insert' AS "_change_type",
        |    1::BIGINT AS "_commit_version"
        |  FROM events WHERE event_id % 2 = 1
        |  UNION ALL
        |  SELECT event_id + 10000000, value, 'insert', 3
        |  FROM events WHERE event_id % 2 = 1)
        |ORDER BY "_commit_version", event_id""".stripMargin))

  /** VACUUM vs a slow CDC consumer ([[graft.sources.TxTable.vacuum]]
    * × [[graft.sources.TxTable.readChangesTyped]], round 16): vacuum
    * drops manifests outside the kept window, and a change consumer
    * whose `fromVersion` predates the sweep must fail CRISPLY — a
    * [[graft.sources.TxTable.VacuumedVersionException]] naming the
    * oldest surviving version — never a silently partial feed (the
    * Delta CDF retention contract). The gate sweeps v0, asserts the
    * stale read throws with the boundary in the message, then reads
    * from the boundary itself and serves EXACTLY the surviving range.
    * Full oracle: the surviving commit's rows restate in SQL.
    */
  val txVacuumCdcBoundary: QueryDef = QueryDef(
    "io_tx_vacuum_cdc_boundary",
    (s, dir) => {
      val ev = Tables(s, dir).events.select("event_id", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft-vaccdc-").toString
      graft.sources.TxTable.create(
        ev.filter(col("event_id") % 3 === 0), root)                // v0
      graft.sources.TxTable.append(
        ev.filter(col("event_id") % 3 === 1), root)                // v1
      graft.sources.TxTable.append(
        ev.filter(col("event_id") % 3 === 2), root)                // v2
      graft.sources.TxTable.vacuum(s, root, keepVersions = 2,
        retentionMs = 0L)                                          // sweeps v0
      val msg =
        try {
          graft.sources.TxTable.readChangesTyped(s, root, 0L, 2L).count()
          ""
        } catch {
          case e: graft.sources.TxTable.VacuumedVersionException =>
            e.getMessage
        }
      require(msg.contains("retention boundary") && msg.contains("1"),
        s"stale CDC read did not fail crisply at the boundary: '$msg'")
      graft.sources.TxTable.readChangesTyped(s, root, 1L, 2L)
        .orderBy("event_id")
    },
    Some(
      """SELECT event_id, value, 'insert' AS "_change_type",
        |  2::BIGINT AS "_commit_version"
        |FROM events WHERE event_id % 3 = 2
        |ORDER BY event_id""".stripMargin))

  /** CDC-APPLY REPLICATION, end to end (round 16): the composition a
    * 100 TB pipeline actually runs — TABLE MIRRORING. A source TxTable
    * takes mixed traffic (append, change-feed `mergeInto` with
    * updates + inserts + tombstones, then a DV `deleteWhere`); a
    * consumer bootstraps a SECOND TxTable from the v0 snapshot and
    * applies the typed change feed version by version via
    * [[graft.sources.TxTable.mergeInto]] (insert ∪ update_postimage
    * upsert, delete tombstones, preimages ignored). The gate asserts
    * replica ≡ source row-for-row in both directions, then returns
    * the REPLICA read against a full oracle restating the source
    * state — so any silent feed gap (the bug class the r15 groupToRow
    * case fix belonged to) breaks the hash. Driver work is bounded by
    * the VERSION COUNT, never the table: each step reads one
    * version's delta files only.
    */
  val txCdcReplicate: QueryDef = QueryDef(
    "io_tx_cdc_replicate",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val src = java.nio.file.Files
        .createTempDirectory("graft-cdcrep-src-").toString
      val dst = java.nio.file.Files
        .createTempDirectory("graft-cdcrep-dst-").toString
      graft.sources.TxTable.create(
        docs.filter(col("doc_id") % 3 === 0), src)                 // v0
      graft.sources.TxTable.append(
        docs.filter(col("doc_id") % 3 === 1), src)                 // v1
      graft.sources.TxTable.setChangeFeed(s, src, enabled = true)  // v2
      val msrc = docs.filter(col("doc_id") % 7 === 1)
        .select(col("doc_id"), concat(lit("M:"), col("text")).as("text"),
          lit(false).as("deleted"))
        .unionByName(docs
          .filter(col("doc_id") % 11 === 3 && col("doc_id") % 7 =!= 1)
          .select(col("doc_id"), col("text"), lit(true).as("deleted")))
      graft.sources.TxTable.mergeInto(src, msrc, "doc_id",
        Seq("text"), "deleted")                                    // v3
      graft.sources.TxTable.deleteWhere(s, src,
        col("doc_id") % 5 === 2)                                   // v4
      // consumer: v0 snapshot bootstrap, then apply the feed in
      // version order — the standard initial-load + CDC-tail mirror
      graft.sources.TxTable.create(
        graft.sources.TxTable.readVersion(s, src, 0L), dst)
      graft.sources.TxTable.versions(s, src).filter(_ >= 1L).foreach { v =>
        val ev = graft.sources.TxTable.readChangesTyped(s, src, v - 1L, v)
        val upserts = ev
          .filter(col("_change_type").isin("insert", "update_postimage"))
          .select(col("doc_id"), col("text"), lit(false).as("deleted"))
        val tombstones = ev.filter(col("_change_type") === "delete")
          .select(col("doc_id"), col("text"), lit(true).as("deleted"))
        val apply = upserts.unionByName(tombstones)
        if (!apply.isEmpty)
          graft.sources.TxTable.mergeInto(dst, apply, "doc_id",
            Seq("text"), "deleted")
      }
      val a = graft.sources.TxTable.read(s, src)
      val b = graft.sources.TxTable.read(s, dst)
      require(a.count() == b.count() &&
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "replica diverged from source")
      b.orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, text FROM (
        |  SELECT doc_id, 'M:' || text AS text FROM documents
        |  WHERE doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 IN (0, 1) AND doc_id % 7 <> 1
        |    AND doc_id % 11 <> 3)
        |WHERE doc_id % 5 <> 2
        |ORDER BY doc_id""".stripMargin))

  /** DELTA-BOUNDED CDC REPLICATION ([[graft.sources.TxReplicate]],
    * round 16): the SAME mixed traffic as `io_tx_cdc_replicate`
    * (append, change-feed merge with updates + inserts + tombstones,
    * DV delete) mirrored with the delta-bounded apply instead of the
    * per-version full-table merge rewrite — deletes and update
    * preimages mask via the deletion-vector path (KB-scale position
    * writes, stats-pruned matching scan), inserts and postimages
    * append through the exactly-once streaming face (the source
    * version is the batch id, so a redelivered batch skips BEFORE
    * its key-delete could catch already-applied postimage rows).
    * Same oracle SQL as the merge-apply gate: the hash pins the two
    * apply strategies to identical final state.
    */
  val txCdcReplicateDv: QueryDef = QueryDef(
    "io_tx_cdc_replicate_dv",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val srcPath = java.nio.file.Files
        .createTempDirectory("graft-cdcrepdv-src-")
      val dstPath = java.nio.file.Files
        .createTempDirectory("graft-cdcrepdv-dst-")
      val src = srcPath.toString
      val dst = dstPath.toString
      val out = try {
        graft.sources.TxTable.create(
          docs.filter(col("doc_id") % 3 === 0), src)               // v0
        graft.sources.TxTable.append(
          docs.filter(col("doc_id") % 3 === 1), src)               // v1
        graft.sources.TxTable.setChangeFeed(s, src, enabled = true) // v2
        val msrc = docs.filter(col("doc_id") % 7 === 1)
          .select(col("doc_id"), concat(lit("M:"), col("text")).as("text"),
            lit(false).as("deleted"))
          .unionByName(docs
            .filter(col("doc_id") % 11 === 3 && col("doc_id") % 7 =!= 1)
            .select(col("doc_id"), col("text"), lit(true).as("deleted")))
        graft.sources.TxTable.mergeInto(src, msrc, "doc_id",
          Seq("text"), "deleted")                                  // v3
        graft.sources.TxTable.deleteWhere(s, src,
          col("doc_id") % 5 === 2)                                 // v4
        graft.sources.TxReplicate.mirror(s, src, dst, "doc_id")
        val a = graft.sources.TxTable.read(s, src)
        val b = graft.sources.TxTable.read(s, dst)
        require(a.count() == b.count() &&
          a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          "DV-applied replica diverged from source")
        // redelivery of an already-applied version is a wholesale
        // no-op (the high-water skip guards the key-delete)
        require(graft.sources.TxReplicate.applyTyped(s, dst, "doc_id",
          graft.sources.TxTable.readChangesTyped(s, src, 3L, 4L),
          streamId = "mirror", batchId = 4L) == 0,
          "redelivered batch must skip wholesale")
        b.orderBy("doc_id").collect().toSeq
      } finally {
        import scala.jdk.CollectionConverters._
        Seq(srcPath, dstPath).foreach { p =>
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(q => java.nio.file.Files.deleteIfExists(q))
        }
      }
      import s.implicits._
      out.map(r => (r.getLong(0), r.getString(1)))
        .toDF("doc_id", "text").orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, text FROM (
        |  SELECT doc_id, 'M:' || text AS text FROM documents
        |  WHERE doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 IN (0, 1) AND doc_id % 7 <> 1
        |    AND doc_id % 11 <> 3)
        |WHERE doc_id % 5 <> 2
        |ORDER BY doc_id""".stripMargin))

  /** MIRROR RESUME ACROSS A VACUUMED GAP ([[graft.sources
    * .TxReplicate.resume]], round 16): a mirror consumer that slept
    * past the source's vacuum retention cannot tail the feed — the
    * read throws the crisp [[graft.sources.TxTable
    * .VacuumedVersionException]] — and the recovery the exception
    * prescribes is the Merkle reconcile: one nBuckets-scale digest
    * diff, then a DV-mask + append touching ONLY the drifted
    * buckets, where a naive recovery re-copies the table. The gate
    * mirrors, lands the same mixed traffic as the replicate gates
    * while the consumer sleeps, vacuums the source to the tip,
    * resumes (asserting the reconcile path actually ran and the
    * high-water advanced so the NEXT resume is a pure tail), and
    * hashes the repaired replica against the source-state SQL.
    */
  val txMirrorVacuumResume: QueryDef = QueryDef(
    "io_tx_mirror_vacuum_resume",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val srcPath = java.nio.file.Files
        .createTempDirectory("graft-mirres-src-")
      val dstPath = java.nio.file.Files
        .createTempDirectory("graft-mirres-dst-")
      val src = srcPath.toString
      val dst = dstPath.toString
      val out = try {
        graft.sources.TxTable.create(
          docs.filter(col("doc_id") % 3 === 0), src)               // v0
        graft.sources.TxTable.setChangeFeed(s, src, enabled = true) // v1
        graft.sources.TxReplicate.mirror(s, src, dst, "doc_id")
        // the consumer sleeps through three versions...
        graft.sources.TxTable.append(
          docs.filter(col("doc_id") % 3 === 1), src)               // v2
        val msrc = docs.filter(col("doc_id") % 7 === 1)
          .select(col("doc_id"), concat(lit("M:"), col("text")).as("text"),
            lit(false).as("deleted"))
          .unionByName(docs
            .filter(col("doc_id") % 11 === 3 && col("doc_id") % 7 =!= 1)
            .select(col("doc_id"), col("text"), lit(true).as("deleted")))
        graft.sources.TxTable.mergeInto(src, msrc, "doc_id",
          Seq("text"), "deleted")                                  // v3
        graft.sources.TxTable.deleteWhere(s, src,
          col("doc_id") % 5 === 2)                                 // v4
        // ...and the source vacuums to the tip
        graft.sources.TxTable.vacuum(s, src, keepVersions = 1,
          retentionMs = 0L)
        val r = graft.sources.TxReplicate.resume(
          s, src, dst, "doc_id", "text", nBuckets = 64)
        require(r.reconciled && r.version == 4L,
          s"expected the Merkle-reconcile path at v4, got $r")
        val a = graft.sources.TxTable.read(s, src)
        val b = graft.sources.TxTable.read(s, dst)
        require(a.count() == b.count() &&
          a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          "reconciled replica diverged from source")
        // high-water advanced: the next resume is a pure tail
        require(graft.sources.TxReplicate.resume(
          s, src, dst, "doc_id", "text", nBuckets = 64) ==
          graft.sources.TxReplicate.ResumeResult(4L, reconciled = false),
          "post-reconcile resume must tail cleanly")
        b.orderBy("doc_id").collect().toSeq
      } finally {
        import scala.jdk.CollectionConverters._
        Seq(srcPath, dstPath).foreach { p =>
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(q => java.nio.file.Files.deleteIfExists(q))
        }
      }
      import s.implicits._
      out.map(r => (r.getLong(0), r.getString(1)))
        .toDF("doc_id", "text").orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, text FROM (
        |  SELECT doc_id, 'M:' || text AS text FROM documents
        |  WHERE doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 IN (0, 1) AND doc_id % 7 <> 1
        |    AND doc_id % 11 <> 3)
        |WHERE doc_id % 5 <> 2
        |ORDER BY doc_id""".stripMargin))

  /** SNAPSHOT-PINNED HARVEST ([[graft.query.TxStudyStore]], round
    * 16): the OAI resumption-token pagination (Q12's keyset cursor)
    * composed with TxTable time travel — the first page pins the
    * table version into the token, so a harvest that spans appends,
    * updates, and deletes still serves EXACTLY the pinned snapshot
    * (the reference re-queries live MongoDB per continuation and can
    * serve a torn list). The gate harvests page 1, lands an append +
    * a text-mutating merge + a DV delete mid-harvest, drains the
    * harvest, and hashes the collected rows against the ORIGINAL
    * even-doc corpus — any leak from the mutated generations breaks
    * the hash. In-gate it also asserts a fresh harvest sees the
    * post-mutation state, a vacuum that sweeps the pinned version
    * expires the old token as `badResumptionToken` (retention ≡
    * token lifetime), and a latest-pinned token survives the vacuum.
    */
  val txSnapshotHarvest: QueryDef = QueryDef(
    "io_tx_snapshot_harvest",
    (s, dir) => {
      import s.implicits._
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val keyed = docs.withColumn("_aggregator_identifier",
        lpad(col("doc_id").cast("string"), 10, "0"))
      val rootPath = java.nio.file.Files
        .createTempDirectory("graft-snapharvest-")
      val root = rootPath.toString
      val collected = try {
        graft.sources.TxTable.create(
          keyed.filter(col("doc_id") % 2 === 0), root)             // v0
        val store = new graft.query.TxStudyStore(s, root)
        val fp = graft.query.ResumptionToken
          .fingerprint("io_tx_snapshot_harvest")
        val fields = Seq("doc_id", "text")
        def page(t: Option[graft.query.ResumptionToken]) =
          store.queryPage(graft.query.True, fields, 100, t, fp)
        val p1 = page(None)
        val firstToken = p1.token.getOrElse(
          sys.error("harvest must span multiple pages"))
        // mid-harvest traffic: new records, updated bodies, deletes
        graft.sources.TxTable.append(
          keyed.filter(col("doc_id") % 2 === 1), root)             // v1
        // mergeInto rewrites the table to key + valueCols, so the
        // harvest key column rides along as a value column
        graft.sources.TxTable.mergeInto(root,
          keyed.filter(col("doc_id") % 10 === 2)
            .select(col("doc_id"),
              concat(lit("MUT:"), col("text")).as("text"),
              col("_aggregator_identifier"),
              lit(false).as("deleted")),
          "doc_id", Seq("text", "_aggregator_identifier"),
          "deleted")                                               // v2
        graft.sources.TxTable.deleteWhere(s, root,
          col("doc_id") % 6 === 4)                                 // v3
        val rows = Seq.newBuilder[(Long, String)]
        var tok: Option[graft.query.ResumptionToken] = None
        var p = p1
        while ({
          rows ++= p.rows.map(r =>
            (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
          tok = p.token
          tok.isDefined
        }) p = page(tok)
        // a FRESH harvest re-resolves the latest version
        val live = graft.sources.TxTable.read(s, root).count()
        val b1 = page(None)
        require(b1.completeListSize == live,
          s"fresh harvest saw ${b1.completeListSize}, table has $live")
        // vacuum sweeps the old pin -> token expiry, latest pin lives
        graft.sources.TxTable.vacuum(s, root, keepVersions = 1,
          retentionMs = 0L)
        val expired =
          try { page(Some(firstToken)); false }
          catch { case graft.query.OaiError("badResumptionToken", _) => true }
        require(expired,
          "continuation on a vacuum-swept snapshot must expire")
        require(page(b1.token).rows.nonEmpty,
          "latest-pinned token must survive the vacuum")
        rows.result()
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(rootPath).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      collected.toDF("doc_id", "text").orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |ORDER BY doc_id""".stripMargin))

  /** The full table lifecycle in one gate, feature interplay
    * included: range-clustered create → append → DV delete →
    * append → incremental autoCompact (the SUBTLE corner: the
    * rewritten small files' DV positions go stale and are carried
    * harmlessly, while the smallDf read applies them — TxTableDvSpec's
    * rules under real data) → stat-pruned [[graft.sources.TxTable
    * .readRange]]. Full oracle: commit routing, the delete, and the
    * range restate in SQL; compaction must be invisible to results.
    */
  val txLifecycle: QueryDef = QueryDef(
    "io_tx_lifecycle",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select("event_id", "user_id", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txlife-").toString
      graft.sources.TxTable.create(ev.filter(col("event_id") % 3 === 0),
        root, clusterCol = Some("event_id"), buckets = 4)
      graft.sources.TxTable.append(ev.filter(col("event_id") % 3 === 1), root)
      graft.sources.TxTable.deleteWhere(s, root, col("user_id") % 7 === 0)
      graft.sources.TxTable.append(ev.filter(col("event_id") % 3 === 2), root)
      graft.sources.TxTable.autoCompact(s, root, minSmallFiles = 2)
      graft.sources.TxTable.readRange(s, root, 101L, 700L)
        .orderBy("event_id")
    },
    Some(
      """SELECT event_id, user_id, value FROM events
        |WHERE event_id BETWEEN 101 AND 700
        |  AND (event_id % 3 = 2 OR user_id % 7 <> 0)
        |ORDER BY event_id""".stripMargin))

  /** TxTable streaming change feed ([[graft.streaming.TxChangeStream]]
    * via [[graft.sources.TxTable.readChangeStream]]): three commits
    * land in a fresh TxTable (create + two appends, event_id % 3 per
    * wave), then the CDC stream TAILS THE MANIFEST LOG under
    * `Trigger.AvailableNow` — offset = committed version, every row
    * stamped `_commit_version` — and drains into a memory sink. The
    * oracle restates the commit routing arithmetic off the parquet
    * original, so the gate proves the streaming face replays exactly
    * the batch [[graft.sources.TxTable.readChanges]] delta, version
    * by version. Driver touches manifests only; delta files are read
    * executor-side (one InputPartition per file).
    */
  val txChangeStreamGate: QueryDef = QueryDef(
    "io_txtable_change_stream",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select("event_id", "ts", "user_id", "event_type", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txcdc-").toString
      graft.sources.TxTable.create(ev.filter(col("event_id") % 3 === 0), root)
      graft.sources.TxTable.append(ev.filter(col("event_id") % 3 === 1), root)
      graft.sources.TxTable.append(ev.filter(col("event_id") % 3 === 2), root)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-txcdc-ckpt-").toString
      val sink = "txcdc_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val q = graft.sources.TxTable.readChangeStream(s, root)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(sink)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("_commit_version"))
        .orderBy("event_id")
    },
    Some(
      """SELECT event_id, ts, user_id, event_type, value,
        |  event_id % 3 AS "_commit_version"
        |FROM events ORDER BY event_id""".stripMargin))

  /** The CDC consumption loop end to end ([[graft.streaming
    * .TxChangeStream]] → [[graft.operators.IncrementalDedup
    * .newAgainstCorpus]]): corpus v0 serves while two appends land;
    * the change stream (startingVersion = 1, AvailableNow) delivers
    * ONLY the appended rows, which then dedup EXACTLY against the v0
    * corpus (Bloom prefilter + confirm join — no false positives in
    * the answer). This is the incremental-ingest composition a 100 TB
    * pipeline runs continuously: subscribe to the table's delta,
    * admit only novel content. Full oracle: commit routing AND the
    * text anti-join restate in SQL.
    */
  val cdcDedupGate: QueryDef = QueryDef(
    "pipeline_cdc_dedup",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val root = java.nio.file.Files
        .createTempDirectory("graft-cdcdedup-").toString
      graft.sources.TxTable.create(docs.filter(col("doc_id") % 3 === 0), root)
      graft.sources.TxTable.append(docs.filter(col("doc_id") % 3 === 1), root)
      graft.sources.TxTable.append(docs.filter(col("doc_id") % 3 === 2), root)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-cdcdedup-ckpt-").toString
      val sink = "cdcdedup_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val q = graft.sources.TxTable
        .readChangeStream(s, root, startingVersion = 1L)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val incoming = s.table(sink)
        .select(col("doc_id"), col("text"), col("_commit_version"))
      val corpus = graft.sources.TxTable.readVersion(s, root, 0L)
      graft.operators.IncrementalDedup
        .newAgainstCorpus(incoming, corpus, col("text"))
        .select(col("doc_id"), col("_commit_version"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT d.doc_id, d.doc_id % 3 AS "_commit_version"
        |FROM documents d
        |WHERE d.doc_id % 3 <> 0
        |  AND d.text NOT IN
        |    (SELECT text FROM documents WHERE doc_id % 3 = 0)
        |ORDER BY d.doc_id""".stripMargin))

  /** [[cdcDedupGate]] with a MID-STREAM DV delete ([[graft.streaming
    * .TxChangeStream]]'s `_change_type` channel, VERDICT r13 #1): a
    * [[graft.sources.TxTable.deleteWhere]] lands between the two
    * appends, and the consumer folds insert-minus-delete before
    * deduping — so rows the table no longer serves MUST drop out of
    * the consumer's result (the silent-stale-serve hazard the
    * append-only feed had). Full oracle: commit routing (append №2
    * commits AFTER the delete, so its rows survive), the delete
    * predicate, and the dedup anti-join all restate in SQL.
    */
  val cdcDedupDeleteGate: QueryDef = QueryDef(
    "pipeline_cdc_dedup_delete",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val root = java.nio.file.Files
        .createTempDirectory("graft-cdcdeldedup-").toString
      graft.sources.TxTable.create(docs.filter(col("doc_id") % 3 === 0), root)
      graft.sources.TxTable.append(docs.filter(col("doc_id") % 3 === 1), root)
      graft.sources.TxTable.deleteWhere(s, root, col("doc_id") % 5 === 1)
      graft.sources.TxTable.append(docs.filter(col("doc_id") % 3 === 2), root)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-cdcdeldedup-ckpt-").toString
      val sink = "cdcdeldedup_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val q = graft.sources.TxTable
        .readChangeStream(s, root, startingVersion = 1L)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val changes = s.table(sink)
      val inserts = changes.filter(col("_change_type") === "insert")
        .select(col("doc_id"), col("text"), col("_commit_version"))
      // rename the delete side's key: both branches read the same sink
      // view, and a left_anti over identical attribute ids is a
      // conflicting-references self-join otherwise
      val deletes = changes.filter(col("_change_type") === "delete")
        .select(col("doc_id").as("del_id"))
      val live = inserts.join(deletes,
        col("doc_id") === col("del_id"), "left_anti")
      val corpus = graft.sources.TxTable.readVersion(s, root, 0L)
      graft.operators.IncrementalDedup
        .newAgainstCorpus(live, corpus, col("text"))
        .select(col("doc_id"), col("_commit_version"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT d.doc_id,
        |  (CASE WHEN d.doc_id % 3 = 1 THEN 1 ELSE 3 END)::BIGINT
        |    AS "_commit_version"
        |FROM documents d
        |WHERE d.doc_id % 3 <> 0
        |  AND NOT (d.doc_id % 3 = 1 AND d.doc_id % 5 = 1)
        |  AND d.text NOT IN
        |    (SELECT text FROM documents WHERE doc_id % 3 = 0)
        |ORDER BY d.doc_id""".stripMargin))

  /** Typed BATCH change feed ([[graft.sources.TxTable
    * .readChangesTyped]], round 15): the batch twin of the stream's
    * three channels in one gate — v1 appends arrive as `insert` rows,
    * a v2 `deleteWhere` resolves its positions back to full `delete`
    * rows (semi-join over only the touched files), and a v4 change-feed
    * `mergeInto` serves its explicit cdc rows (pre/post-images,
    * inserts, tombstone deletes) instead of tripping the rewrite
    * guard. Full oracle: every branch of the event algebra restates as
    * one SQL UNION ALL.
    */
  val txChangesTyped: QueryDef = QueryDef(
    "io_txtable_changes_typed",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val root = java.nio.file.Files
        .createTempDirectory("graft-typedcdc-").toString
      graft.sources.TxTable.create(docs.filter(col("doc_id") % 3 === 0), root)
      graft.sources.TxTable.append(docs.filter(col("doc_id") % 3 === 1), root)
      graft.sources.TxTable.deleteWhere(s, root, col("doc_id") % 5 === 1) // v2
      graft.sources.TxTable.setChangeFeed(s, root, enabled = true) // v3
      val src = docs.filter(col("doc_id") % 7 === 1)
        .select(col("doc_id"), concat(lit("M:"), col("text")).as("text"),
          lit(false).as("deleted"))
        .unionByName(docs
          .filter(col("doc_id") % 11 === 3 && col("doc_id") % 7 =!= 1)
          .select(col("doc_id"), col("text"), lit(true).as("deleted")))
      graft.sources.TxTable.mergeInto(root, src, "doc_id", Seq("text"),
        "deleted") // v4
      graft.sources.TxTable.readChangesTyped(s, root, 0L, 4L)
        .orderBy("_commit_version", "_change_type", "doc_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, text FROM documents),
        |m AS (SELECT doc_id, text FROM d
        |      WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 <> 1)
        |SELECT * FROM (
        |  SELECT doc_id, text, 'insert' AS "_change_type",
        |    1::BIGINT AS "_commit_version" FROM d WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, text, 'delete', 2 FROM d
        |  WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id, text, 'update_preimage', 4 FROM m
        |  WHERE doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id, 'M:' || text, 'update_postimage', 4 FROM m
        |  WHERE doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id, 'M:' || text, 'insert', 4 FROM d
        |  WHERE doc_id % 7 = 1
        |    AND NOT (doc_id % 3 IN (0, 1) AND doc_id % 5 <> 1)
        |  UNION ALL
        |  SELECT doc_id, text, 'delete', 4 FROM m
        |  WHERE doc_id % 11 = 3 AND doc_id % 7 <> 1)
        |ORDER BY "_commit_version", "_change_type", doc_id""".stripMargin))

  /** [[cdcDedupDeleteGate]]'s missing half (round-15 verdict #1): a
    * MID-STREAM `mergeInto` on a change-feed-enabled table — the
    * reference's core harvest shape (a re-harvested study is a
    * last-writer-wins UPDATE, `/root/reference/tests/test_serve.py:
    * 1342`) — emits `update_preimage`/`update_postimage`/`insert`/
    * `delete` rows through the stream's `cdc/` channel instead of
    * killing the feed at the rewrite guard. The consumer folds
    * insert ∪ update_postimage (upsert) minus delete, then dedups
    * against the v0 corpus. Full oracle: the merge's key routing
    * (updates for keys in the table, inserts for new keys, tombstone
    * deletes), the fold, and the dedup anti-join all restate in SQL.
    */
  val cdcDedupUpdateGate: QueryDef = QueryDef(
    "pipeline_cdc_dedup_update",
    (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val root = java.nio.file.Files
        .createTempDirectory("graft-cdcupddedup-").toString
      graft.sources.TxTable.create(docs.filter(col("doc_id") % 3 === 0), root)
      graft.sources.TxTable.setChangeFeed(s, root, enabled = true) // v1
      graft.sources.TxTable.append(docs.filter(col("doc_id") % 3 === 1), root)
      // v3: upserts re-text keys %5==1 (matched → update, unmatched →
      // insert); tombstones remove keys %7==2 (unmatched ones no-op)
      val src = docs.filter(col("doc_id") % 5 === 1 &&
          col("doc_id") % 7 =!= 2)
        .select(col("doc_id"), concat(lit("U:"), col("text")).as("text"),
          lit(false).as("deleted"))
        .unionByName(docs.filter(col("doc_id") % 7 === 2)
          .select(col("doc_id"), col("text"), lit(true).as("deleted")))
      graft.sources.TxTable.mergeInto(root, src, "doc_id", Seq("text"),
        "deleted")
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-cdcupddedup-ckpt-").toString
      val sink = "cdcupddedup_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val q = graft.sources.TxTable
        .readChangeStream(s, root, startingVersion = 2L)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val changes = s.table(sink)
      val inserts = changes.filter(col("_change_type") === "insert")
        .select(col("doc_id"), col("text"), col("_commit_version"))
      // rename every non-primary branch's key: all branches read the
      // same sink view, and joins over identical attribute ids are
      // conflicting-reference self-joins otherwise
      val posts = changes.filter(col("_change_type") === "update_postimage")
        .select(col("doc_id").as("up_id"), col("text").as("up_text"),
          col("_commit_version").as("up_v"))
      val dels = changes.filter(col("_change_type") === "delete")
        .select(col("doc_id").as("del_id"))
      val upserted = inserts
        .join(posts.select(col("up_id")),
          col("doc_id") === col("up_id"), "left_anti")
        .unionByName(posts.select(col("up_id").as("doc_id"),
          col("up_text").as("text"), col("up_v").as("_commit_version")))
      val live = upserted.join(dels,
        col("doc_id") === col("del_id"), "left_anti")
      val corpus = graft.sources.TxTable.readVersion(s, root, 0L)
      graft.operators.IncrementalDedup
        .newAgainstCorpus(live, corpus, col("text"))
        .select(col("doc_id"), col("_commit_version"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT d.doc_id,
        |  (CASE WHEN d.doc_id % 5 = 1 AND d.doc_id % 7 <> 2
        |        THEN 3 ELSE 2 END)::BIGINT AS "_commit_version"
        |FROM documents d
        |WHERE ((d.doc_id % 3 = 1
        |        AND NOT (d.doc_id % 5 = 1 AND d.doc_id % 7 <> 2)
        |        AND d.doc_id % 7 <> 2
        |        AND d.text NOT IN
        |          (SELECT text FROM documents WHERE doc_id % 3 = 0))
        |   OR ((d.doc_id % 5 = 1 AND d.doc_id % 7 <> 2)
        |        AND ('U:' || d.text) NOT IN
        |          (SELECT text FROM documents WHERE doc_id % 3 = 0)))
        |ORDER BY d.doc_id""".stripMargin))

  /** Avro round trip ([[graft.sources.AvroIo]]) — the Kafka-side
    * interchange format, written as container part files (deflate
    * blocks, writer schema embedded) and read back with the frame's
    * own schema as the Avro READER schema (evolution path). `events`
    * exercises the timestamp-micros logical type alongside
    * long/double/string; the oracle is the parquet original, so the
    * gate proves sink+source value fidelity including microsecond
    * timestamps.
    */
  val avroRoundTrip: QueryDef = QueryDef(
    "io_avro_roundtrip",
    (s, dir) =>
      graft.sources.AvroIo.roundTrip(
          Tables(s, dir).events,
          tag = dir.replaceAll("[^A-Za-z0-9.]", "_"))
        .orderBy("event_id"),
    Some(
      "SELECT event_id, ts, user_id, event_type, value, props " +
        "FROM events ORDER BY event_id"))

  /** ORC round trip ([[graft.sources.Orc]]) — the Hive/Trino-side
    * columnar interchange, schema-checked read after a
    * partition-per-file write; the oracle is the parquet original, so
    * the gate proves sink+source byte fidelity on real data.
    */
  val orcRoundTrip: QueryDef = QueryDef(
    "io_orc_roundtrip",
    (s, dir) =>
      graft.sources.Orc.roundTrip(
          Tables(s, dir).documents,
          tag = dir.replaceAll("[^A-Za-z0-9.]", "_"))
        .orderBy("doc_id"),
    Some(
      "SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "ORDER BY doc_id"))

  /** Domain-level corpus stats + floor filter (the C4/RefinedWeb move:
    * aggregate per registrable host, drop thin domains): synthetic
    * multi-host URLs → [[graft.operators.UrlNormalize.host]] → ONE
    * hash aggregate with map-side combine, scalar floor on the result.
    * mean_chars is integer-sum ÷ count (one exact division — no
    * float-accumulation ordering on either engine).
    */
  val domainStats: QueryDef = QueryDef(
    "io_domain_stats",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val urls = docs.select(col("doc_id"), col("n_chars"),
        concat(lit("https://host"), col("doc_id") % 17,
          lit(".example.org/p/"), col("doc_id")).as("url"))
      urls
        .withColumn("host", graft.operators.UrlNormalize.host(col("url")))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"))
        .filter(col("n_docs") >= 30)
        .select(col("host"), col("n_docs"), col("total_chars"),
          round(col("total_chars").cast("double") / col("n_docs"), 2)
            .as("mean_chars"))
        .orderBy("host")
    },
    Some(
      """WITH u AS (SELECT doc_id, n_chars,
        |    'host' || (doc_id % 17) || '.example.org' AS host FROM documents),
        |g AS (SELECT host, count(*)::BIGINT AS n_docs,
        |    sum(n_chars)::BIGINT AS total_chars
        |  FROM u GROUP BY host HAVING count(*) >= 30)
        |SELECT host, n_docs, total_chars,
        |  round(total_chars / n_docs::DOUBLE, 2) AS mean_chars
        |FROM g ORDER BY host""".stripMargin))

  /** Hive-style partition pruning
    * ([[graft.ingest.PartitionedLayout]]): documents laid out
    * partitioned BY LANGUAGE, read back with an equality predicate
    * that must prune directories at planning time (the spec asserts
    * `partitionFilters` reaches the scan and fewer partitions than
    * exist are listed). The oracle is the same predicate on the
    * parquet original — values prove the layout round-trips, the plan
    * proves the skip.
    */
  val partitionPrune: QueryDef = QueryDef(
    "io_partition_prune",
    (s, dir) =>
      graft.ingest.PartitionedLayout.roundTrip(
          Tables(s, dir).documents,
          tag = dir.replaceAll("[^A-Za-z0-9.]", "_"), "lang")
        .filter(col("lang") === "en")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id"),
    Some(
      "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en' " +
        "ORDER BY doc_id"))

  /** OAI-PMH harvest-page XML ingestion
    * ([[graft.sources.XmlRecords]]) — the reference's own wire format
    * read back in: documents become `ListRecords` pages (identifier/
    * datestamp/setSpecs closed-form in doc_id, every 13th record
    * deleted with no metadata, text XML-escaped), parsed back through
    * the StAX pull reader. Lossless by construction, so the oracle
    * restates every column — including the deleted-record null shape —
    * straight off the parquet table.
    */
  val xmlRecords: QueryDef = QueryDef(
    "io_xml_records",
    (s, dir) =>
      graft.sources.XmlRecords.roundTripExtract(
          Tables(s, dir).documents,
          tag = dir.replaceAll("[^A-Za-z0-9.]", "_"))
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  'oai:graft:' || doc_id AS identifier,
        |  CAST(DATE '2024-01-01' + (doc_id % 365)::INTEGER AS VARCHAR)
        |    AS datestamp,
        |  (doc_id % 13 = 0) AS deleted,
        |  'language:' || lang || ',source:' || source AS sets,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS language,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END AS text
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Warehouse MERGE semantics ([[graft.operators.MergeUpsert]]):
    * apply a closed-form CDC changeset (updates for id%3, tombstones
    * for id%7, inserts keyed id+1e6 for id%11) to the documents table
    * in ONE full-outer join, every surviving row action-classified.
    * The oracle replays the changeset construction and the null-
    * pattern CASE.
    */
  val mergeUpsert: QueryDef = QueryDef(
    "io_merge_upsert",
    (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text", "lang")
      val upd = d
        .filter(col("doc_id") % 3 === 0 && col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          col("lang"), lit(false).as("del"))
      val dels = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"), col("lang"),
          lit(true).as("del"))
      val ins = d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new "), col("text")).as("text"), col("lang"),
          lit(false).as("del"))
      graft.operators.MergeUpsert.merge(
          d, upd.unionByName(dels).unionByName(ins),
          "doc_id", Seq("text", "lang"), "del")
        .orderBy("doc_id")
    },
    Some(
      """WITH t AS (SELECT doc_id, text, lang FROM documents),
        |s AS (
        |  SELECT doc_id, text || ' v2' AS text, lang, false AS del
        |    FROM documents WHERE doc_id % 3 = 0 AND doc_id % 7 <> 0
        |  UNION ALL SELECT doc_id, text, lang, true
        |    FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 1000000, 'new ' || text, lang, false
        |    FROM documents WHERE doc_id % 11 = 0)
        |SELECT COALESCE(s.doc_id, t.doc_id) AS doc_id,
        |  COALESCE(s.text, t.text) AS text,
        |  COALESCE(s.lang, t.lang) AS lang,
        |  CASE WHEN s.doc_id IS NOT NULL AND t.doc_id IS NOT NULL
        |         THEN 'update'
        |       WHEN s.doc_id IS NOT NULL THEN 'insert'
        |       ELSE 'keep' END AS action
        |FROM t FULL OUTER JOIN s ON t.doc_id = s.doc_id
        |WHERE NOT COALESCE(s.del, false)
        |ORDER BY doc_id""".stripMargin))

  /** The same MERGE applied TRANSACTIONALLY ([[graft.sources
    * .TxTable.mergeInto]]): documents becomes TxTable version 0, the
    * closed-form changeset commits as one atomic version 1 (immutable
    * parquet data files + rename-published manifest — snapshot
    * isolation, optimistic concurrency), and the gate reads the table
    * BACK from disk. Same oracle as [[mergeUpsert]] minus the `action`
    * metadata column: the hash proves the full
    * write-commit-resolve-read cycle preserves MERGE semantics
    * bit-for-bit, closing the 100 TB ingest path (harvest commits
    * while queries keep serving their resolved snapshot).
    */
  val mergeUpsertAcid: QueryDef = QueryDef(
    "io_merge_upsert_acid",
    (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text", "lang")
      val upd = d
        .filter(col("doc_id") % 3 === 0 && col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          col("lang"), lit(false).as("del"))
      val dels = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"), col("lang"),
          lit(true).as("del"))
      val ins = d.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new "), col("text")).as("text"), col("lang"),
          lit(false).as("del"))
      val root = java.nio.file.Files
        .createTempDirectory("graft-acid-merge-").toString
      graft.sources.TxTable.create(d, root)
      graft.sources.TxTable.mergeInto(
        root, upd.unionByName(dels).unionByName(ins),
        "doc_id", Seq("text", "lang"), "del")
      graft.sources.TxTable.read(s, root).orderBy("doc_id")
    },
    Some(
      """WITH t AS (SELECT doc_id, text, lang FROM documents),
        |s AS (
        |  SELECT doc_id, text || ' v2' AS text, lang, false AS del
        |    FROM documents WHERE doc_id % 3 = 0 AND doc_id % 7 <> 0
        |  UNION ALL SELECT doc_id, text, lang, true
        |    FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 1000000, 'new ' || text, lang, false
        |    FROM documents WHERE doc_id % 11 = 0)
        |SELECT COALESCE(s.doc_id, t.doc_id) AS doc_id,
        |  COALESCE(s.text, t.text) AS text,
        |  COALESCE(s.lang, t.lang) AS lang
        |FROM t FULL OUTER JOIN s ON t.doc_id = s.doc_id
        |WHERE NOT COALESCE(s.del, false)
        |ORDER BY doc_id""".stripMargin))

  /** The reference's ACTUAL operating cycle, end to end under the hard
    * oracle: documents render as OAI-PMH `ListRecords` harvest pages
    * ([[graft.sources.XmlRecords]] — identifier/datestamp/setSpec/
    * deleted-record wire shape), the pages are parsed back through the
    * StAX reader, the parsed records MERGE into a serving
    * [[graft.sources.TxTable]] in two harvest slices (even ids as the
    * initial load, odd ids plus a re-delivered id%10 overlap as the
    * incremental pass — resumption re-delivery must upsert
    * idempotently), and [[graft.metrics.MetricsJob]] runs over the
    * round-tripped TABLE read back from disk. The oracle restates the
    * whole loop as per-source record counts (with the deleted-record
    * split) straight off the parquet corpus — render → parse → commit
    * → serve → aggregate, one hash.
    */
  val oaiLoop: QueryDef = QueryDef(
    "pipeline_oai_loop",
    (s, dir) => {
      import s.implicits._
      val parsed = graft.sources.XmlRecords.roundTripExtract(
        Tables(s, dir).documents,
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"))
      val initial = parsed.filter(col("doc_id") % 2 === 0)
      val incremental = parsed
        .filter(col("doc_id") % 2 === 1 || col("doc_id") % 10 === 0)
        .withColumn("_del", lit(false))
      val rootPath = java.nio.file.Files
        .createTempDirectory("graft-oai-loop-")
      val root = rootPath.toString
      // MetricsJob.run fully materializes its numbers on the driver,
      // so the temp table is dead weight once `m` exists — delete it
      // in a finally (bench/correctness runs invoke this gate n+warmup
      // times; leaving tables would accrete /tmp parquet, the same
      // disk-accrual class as /tmp/blockmgr-*)
      val m = try {
        graft.sources.TxTable.create(initial, root)
        graft.sources.TxTable.mergeInto(root, incremental, "doc_id",
          Seq("identifier", "datestamp", "deleted", "sets", "language",
            "text"), "_del")
        val served = graft.sources.TxTable.read(s, root)
        val studies = served.select(
          regexp_extract(col("sets"), ",source:(.*)$", 1)
            .as("_direct_base_url"),
          struct(when(col("deleted"), graft.schema.RecordStatus.Deleted)
            .otherwise(graft.schema.RecordStatus.Created).as("status"))
            .as("_metadata"))
        graft.metrics.MetricsJob.run(studies)
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(rootPath).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      (m.perPublisher.map(p =>
        (p.baseUrl, p.records, p.recordsWithoutDeleted)) :+
        (("_total", m.recordsTotal, m.recordsTotalWithoutDeleted)))
        .toDF("base_url", "records", "records_without_deleted")
        .orderBy("base_url")
    },
    Some(
      """WITH r AS (SELECT source AS src, (doc_id % 13 = 0) AS deleted
        |  FROM documents)
        |SELECT src AS base_url, count(*)::BIGINT AS records,
        |  count(CASE WHEN NOT deleted THEN 1 END)::BIGINT
        |    AS records_without_deleted
        |FROM r GROUP BY src
        |UNION ALL
        |SELECT '_total', count(*)::BIGINT,
        |  count(CASE WHEN NOT deleted THEN 1 END)::BIGINT
        |FROM r
        |ORDER BY base_url""".stripMargin))

  /** Manifest file-skipping ([[graft.sources.TxTable.readRange]]):
    * documents becomes a doc_id-range-clustered TxTable (8 files,
    * per-file min/max in the manifest), then a narrow key-range query
    * reads back ONLY the overlapping files plus the row filter. The
    * oracle is the plain BETWEEN — the hash proves file-level skipping
    * never changes an answer; TxTableSpec separately pins that the
    * pruned file list is a strict subset (the scan really shrank).
    */
  val txtableSkipping: QueryDef = QueryDef(
    "io_txtable_skipping",
    (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text", "lang")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txtable-skip-").toString
      graft.sources.TxTable.create(d, root,
        clusterCol = Some("doc_id"), buckets = 8)
      graft.sources.TxTable.readRange(s, root, 100L, 199L)
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, text, lang FROM documents
        |WHERE doc_id BETWEEN 100 AND 199
        |ORDER BY doc_id""".stripMargin))

  /** Compaction roundtrip ([[graft.sources.TxTable.compact]]): the
    * clustered table accretes two closed-form appended slices (the
    * per-batch small-file pattern), compacts back to 8 re-clustered
    * files, and the gate reads the COMPACTED table. Oracle = the union
    * of the three slices: the hash proves compaction is contents-
    * preserving; the spec pins that the file count actually fell and
    * stats survive.
    */
  val txtableCompact: QueryDef = QueryDef(
    "io_txtable_compact",
    (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text", "lang")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txtable-compact-").toString
      graft.sources.TxTable.create(d.filter(col("doc_id") % 3 =!= 0), root,
        clusterCol = Some("doc_id"), buckets = 8)
      graft.sources.TxTable.append(
        d.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0), root)
      graft.sources.TxTable.append(
        d.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 1), root)
      graft.sources.TxTable.compact(s, root, buckets = 8)
      graft.sources.TxTable.read(s, root).orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, text, lang FROM documents
        |ORDER BY doc_id""".stripMargin))

  /** 2-D box read over a Z-ORDER-clustered TxTable
    * ([[graft.sources.TxTable.createClustered]] with two cluster
    * columns → Morton-curve file layout, per-file min/max of BOTH
    * columns in the manifest; [[graft.sources.TxTable.readBox]] prunes
    * on both before any parquet footer opens). The oracle is the plain
    * two-predicate BETWEEN — the hash proves multi-dimension file
    * skipping never changes an answer; TxTableSpec separately pins
    * that the box actually touches fewer files than either dimension
    * alone.
    */
  val txtableZorderBox: QueryDef = QueryDef(
    "io_txtable_zorder_box",
    (s, dir) => {
      val d = Tables(s, dir).documents
        .select("doc_id", "n_chars", "text", "lang")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txtable-zbox-").toString
      graft.sources.TxTable.createClustered(
        d, root, Seq("doc_id", "n_chars"), buckets = 16)
      graft.sources.TxTable.readBox(s, root, 100L, 1400L, 100L, 200L)
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, n_chars, text, lang FROM documents
        |WHERE doc_id BETWEEN 100 AND 1400
        |  AND n_chars BETWEEN 100 AND 200
        |ORDER BY doc_id""".stripMargin))

  /** Incremental small-file compaction
    * ([[graft.sources.TxTable.autoCompact]]): the clustered table
    * accretes four closed-form single-file appends (the per-batch
    * streaming pattern), then autoCompact folds ONLY the sub-threshold
    * files — the large initial file is never rewritten (its manifest
    * line, stats included, carries over verbatim; the spec pins that).
    * Oracle = union of all five slices: the hash proves the
    * incremental fold is contents-preserving end to end.
    */
  val txtableAutoCompact: QueryDef = QueryDef(
    "io_txtable_autocompact",
    (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text", "lang")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txtable-autoc-").toString
      graft.sources.TxTable.createClustered(
        d.filter(col("doc_id") % 5 =!= 0), root, Seq("doc_id"),
        buckets = 1)
      (0L until 4L).foreach { k =>
        graft.sources.TxTable.append(
          d.filter(col("doc_id") % 5 === 0 && col("doc_id") % 4 === k),
          root, buckets = 1)
      }
      // smallBytes sits between the append slices (~1/20 of the
      // table each) and the initial 4/5-of-table file
      graft.sources.TxTable.autoCompact(s, root,
        smallBytes = 1L << 20, targetBytes = 1L << 30,
        minSmallFiles = 2)
      graft.sources.TxTable.read(s, root).orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, text, lang FROM documents
        |ORDER BY doc_id""".stripMargin))

  /** Column-profile drift ([[graft.operators.DataProfile.drift]]):
    * the per-ingest data-quality monitor — exact per-column row/null/
    * distinct/bounds profiles of two snapshots (documents vs a
    * closed-form mutation: %7 deleted, %3 text-suffixed) joined into
    * the drift report. One aggregate per snapshot; the oracle replays
    * both profiles and the delta join.
    */
  /** Snapshot time travel ([[graft.sources.TxTable.readVersion]]):
    * version 0 holds the even documents, version 1 appends the odds;
    * the gate reads VERSION 0 *after* the append committed. The oracle
    * is the even slice alone — the hash proves an old snapshot is
    * immutable under later commits (the reader contract concurrent
    * harvest-ingest + query needs), and TxTableSpec separately pins
    * the version list and the latest-read union.
    */
  val txtableTimeTravel: QueryDef = QueryDef(
    "io_txtable_timetravel",
    (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text", "lang")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txtable-tt-").toString
      graft.sources.TxTable.create(d.filter(col("doc_id") % 2 === 0), root)
      graft.sources.TxTable.append(d.filter(col("doc_id") % 2 === 1), root)
      graft.sources.TxTable.readVersion(s, root, 0L).orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, text, lang FROM documents
        |WHERE doc_id % 2 = 0
        |ORDER BY doc_id""".stripMargin))

  /** Change-data feed ([[graft.sources.TxTable.readChanges]]): the
    * rows added by versions (0, 2] of an append-only table — the
    * incremental-consumer read that touches ONLY delta files. Oracle
    * = the two appended slices; the hash proves file-set subtraction
    * is exactly the appended data, nothing replayed, nothing lost.
    */
  val txtableChanges: QueryDef = QueryDef(
    "io_txtable_changes",
    (s, dir) => {
      val d = Tables(s, dir).documents.select("doc_id", "text", "lang")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txtable-cdf-").toString
      graft.sources.TxTable.create(d.filter(col("doc_id") % 3 === 0), root)
      graft.sources.TxTable.append(d.filter(col("doc_id") % 3 === 1), root)
      graft.sources.TxTable.append(d.filter(col("doc_id") % 3 === 2), root)
      graft.sources.TxTable.readChanges(s, root, 0L, 2L)
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, text, lang FROM documents
        |WHERE doc_id % 3 <> 0
        |ORDER BY doc_id""".stripMargin))

  val profileDrift: QueryDef = QueryDef(
    "io_profile_drift",
    (s, dir) => {
      val d = Tables(s, dir).documents
        .select("doc_id", "text", "lang", "source", "n_chars")
      val after = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.operators.DataProfile.drift(d, after,
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("column")
    },
    Some(
      """WITH b AS (SELECT doc_id, text, lang, source, n_chars
        |           FROM documents),
        |a AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END
        |      AS text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 7 <> 0),
        |pb AS (
        |  SELECT 'doc_id' AS col, count(*) AS n,
        |      count(CASE WHEN doc_id IS NULL THEN 1 END) AS nulls,
        |      count(DISTINCT doc_id) AS nd,
        |      min(doc_id::VARCHAR) AS mn, max(doc_id::VARCHAR) AS mx FROM b
        |  UNION ALL SELECT 'text', count(*),
        |      count(CASE WHEN text IS NULL THEN 1 END),
        |      count(DISTINCT text), min(text), max(text) FROM b
        |  UNION ALL SELECT 'lang', count(*),
        |      count(CASE WHEN lang IS NULL THEN 1 END),
        |      count(DISTINCT lang), min(lang), max(lang) FROM b
        |  UNION ALL SELECT 'source', count(*),
        |      count(CASE WHEN source IS NULL THEN 1 END),
        |      count(DISTINCT source), min(source), max(source) FROM b
        |  UNION ALL SELECT 'n_chars', count(*),
        |      count(CASE WHEN n_chars IS NULL THEN 1 END),
        |      count(DISTINCT n_chars), min(n_chars::VARCHAR),
        |      max(n_chars::VARCHAR) FROM b),
        |pa AS (
        |  SELECT 'doc_id' AS col, count(*) AS n,
        |      count(CASE WHEN doc_id IS NULL THEN 1 END) AS nulls,
        |      count(DISTINCT doc_id) AS nd,
        |      min(doc_id::VARCHAR) AS mn, max(doc_id::VARCHAR) AS mx FROM a
        |  UNION ALL SELECT 'text', count(*),
        |      count(CASE WHEN text IS NULL THEN 1 END),
        |      count(DISTINCT text), min(text), max(text) FROM a
        |  UNION ALL SELECT 'lang', count(*),
        |      count(CASE WHEN lang IS NULL THEN 1 END),
        |      count(DISTINCT lang), min(lang), max(lang) FROM a
        |  UNION ALL SELECT 'source', count(*),
        |      count(CASE WHEN source IS NULL THEN 1 END),
        |      count(DISTINCT source), min(source), max(source) FROM a
        |  UNION ALL SELECT 'n_chars', count(*),
        |      count(CASE WHEN n_chars IS NULL THEN 1 END),
        |      count(DISTINCT n_chars), min(n_chars::VARCHAR),
        |      max(n_chars::VARCHAR) FROM a)
        |SELECT pb.col AS "column",
        |  pb.n AS rows_before, pa.n AS rows_after,
        |  pa.n - pb.n AS rows_delta,
        |  pb.nulls::BIGINT AS nulls_before, pa.nulls::BIGINT AS nulls_after,
        |  pb.nd AS distinct_before, pa.nd AS distinct_after,
        |  pa.nd - pb.nd AS distinct_delta,
        |  pb.mn IS DISTINCT FROM pa.mn AS min_changed,
        |  pb.mx IS DISTINCT FROM pa.mx AS max_changed
        |FROM pb JOIN pa ON pb.col = pa.col
        |ORDER BY pb.col""".stripMargin))

  /** Per-bucket Merkle digest ([[graft.operators.DataProfile
    * .merkleDigest]]): order-independent O(1)-state bucket digests
    * (row count + exact DECIMAL sums of two 60-bit md5 slices) — the
    * snapshot-comparison primitive that moves nBuckets rows instead
    * of the corpus. Every accumulator is md5-contract portable, so
    * the *digest itself* sits under the cross-engine hash.
    */
  val merkleDigestGate: QueryDef = QueryDef(
    "io_merkle_digest",
    (s, dir) =>
      graft.operators.DataProfile.merkleDigest(
          Tables(s, dir).documents, "doc_id", "text", nBuckets = 32)
        .orderBy("bucket"),
    Some(
      """WITH r AS (SELECT
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 32
        |      AS bucket,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 1, 15))
        |      ::BIGINT AS h1,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 16, 15))
        |      ::BIGINT AS h2
        |  FROM documents)
        |SELECT bucket, count(*) AS n_rows,
        |  md5(count(*)::VARCHAR || ':' || sum(h1)::VARCHAR || ':' ||
        |      sum(h2)::VARCHAR) AS digest
        |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** Bucket-level snapshot diff ([[graft.operators.DataProfile
    * .changedBuckets]]): v2 derives deterministically from the corpus
    * (drop ids ≡0 mod 17, rewrite text for ids ≡0 mod 5, add shifted
    * copies for ids ≡0 mod 23); the diff joins two 128-row digest
    * frames — the row-level pass ([[graft.operators.IncrementalDedup
    * .snapshotDiff]]) then only needs the `changed` buckets.
    */
  val merkleChangedGate: QueryDef = QueryDef(
    "io_merkle_changed",
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val v2 = docs.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      graft.operators.DataProfile.changedBuckets(
          docs, v2, "doc_id", "text", nBuckets = 128)
        .orderBy("bucket")
    },
    Some(
      """WITH v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 23 = 0),
        |da AS (SELECT bucket, count(*) AS n_rows,
        |    md5(count(*)::VARCHAR || ':' || sum(h1)::VARCHAR || ':' ||
        |        sum(h2)::VARCHAR) AS digest
        |  FROM (SELECT
        |      ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 128
        |        AS bucket,
        |      ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 1, 15))
        |        ::BIGINT AS h1,
        |      ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 16, 15))
        |        ::BIGINT AS h2
        |    FROM documents) GROUP BY bucket),
        |db AS (SELECT bucket, count(*) AS n_rows,
        |    md5(count(*)::VARCHAR || ':' || sum(h1)::VARCHAR || ':' ||
        |        sum(h2)::VARCHAR) AS digest
        |  FROM (SELECT
        |      ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 128
        |        AS bucket,
        |      ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 1, 15))
        |        ::BIGINT AS h1,
        |      ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 16, 15))
        |        ::BIGINT AS h2
        |    FROM v2) GROUP BY bucket)
        |SELECT coalesce(da.bucket, db.bucket) AS bucket,
        |  coalesce(da.n_rows, 0)::BIGINT AS n_old,
        |  coalesce(db.n_rows, 0)::BIGINT AS n_new,
        |  CASE WHEN da.digest IS NULL THEN 'added'
        |       WHEN db.digest IS NULL THEN 'removed'
        |       WHEN da.digest <> db.digest THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
        |ORDER BY bucket""".stripMargin))

  /** Key-skew profile ([[graft.operators.DataProfile.keySkewProfile]]):
    * top-10 hottest event keys with exact counts, basis-point share
    * (integer division), and cumulative share — the pre-shuffle
    * diagnostic that decides when [[graft.operators.SkewJoin]] salting
    * is warranted. Everything after the one key-count aggregate is
    * ≤k rows.
    */
  val keySkewGate: QueryDef = QueryDef(
    "io_key_skew_profile",
    (s, dir) =>
      graft.operators.DataProfile.keySkewProfile(
          Tables(s, dir).events, "user_id", k = 10)
        .orderBy("rk"),
    Some(
      """WITH c AS (SELECT user_id::VARCHAR AS key, count(*) AS cnt
        |           FROM events GROUP BY 1),
        |t AS (SELECT sum(cnt)::BIGINT AS total, count(*) AS n_keys
        |      FROM c),
        |tk AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 10)
        |SELECT row_number() OVER (ORDER BY cnt DESC, key) AS rk,
        |  key, cnt, cnt * 10000 // total AS share_bp,
        |  (sum(cnt * 10000 // total)
        |    OVER (ORDER BY cnt DESC, key ROWS UNBOUNDED PRECEDING))::BIGINT
        |    AS cum_share_bp,
        |  n_keys
        |FROM tk, t ORDER BY rk""".stripMargin))

  /** Windowed streaming digest, batch face ([[graft.streaming
    * .CorpusMonitor.digestByWindow]]): per (event-day, bucket), the
    * same md5-contract digest as `io_merkle_digest` — the continuous
    * dataset-fingerprint emission an ingest stream publishes.
    * Timestamps are the closed-form document datestamp
    * ([[graft.sources.XmlRecords.datestampFor]] contract), day-aligned
    * on both engines; batch ≡ streaming is spec-asserted
    * (CorpusMonitorSpec), the arithmetic is oracle-checked here.
    */
  val merkleWindowGate: QueryDef = QueryDef(
    "io_merkle_window",
    (s, dir) =>
      graft.streaming.CorpusMonitor.digestByWindow(
          Tables(s, dir).documents.withColumn("ts",
            date_add(lit("2024-01-01").cast("date"),
              (col("doc_id") % 365).cast("int")).cast("timestamp")),
          "ts", "doc_id", "text", nBuckets = 8)
        .orderBy("window_start", "bucket"),
    Some(
      """WITH d AS (SELECT doc_id, text,
        |    (DATE '2024-01-01' + ((doc_id % 365)::INT))::TIMESTAMP AS ts
        |  FROM documents),
        |r AS (SELECT date_trunc('day', ts) AS window_start,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 8
        |      AS bucket,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 1, 15))
        |      ::BIGINT AS h1,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 16, 15))
        |      ::BIGINT AS h2
        |  FROM d)
        |SELECT window_start, bucket, count(*) AS n_rows,
        |  md5(count(*)::VARCHAR || ':' || sum(h1)::VARCHAR || ':' ||
        |      sum(h2)::VARCHAR) AS digest
        |FROM r GROUP BY 1, 2 ORDER BY window_start, bucket""".stripMargin))

  /** Parquet schema evolution ([[graft.sources.ParquetEvolution]]):
    * a dataset dir holding a two-column v1 batch (even ids) and a
    * four-column v2 batch (odd ids) reads back as the union schema
    * with v1's absent columns null — the long-lived-dataset contract.
    * The oracle unions the same two projections by name.
    */
  val schemaEvolution: QueryDef = QueryDef(
    "io_schema_evolution",
    (s, dir) => {
      val path = graft.sources.ParquetEvolution.evolvedDir(
        Tables(s, dir).documents,
        tag = dir.replaceAll("[^A-Za-z0-9.]", "_"))
      graft.sources.ParquetEvolution.readMerged(s, path)
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, text,
        |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang,
        |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Atomic corpus+index publish ([[graft.sources.TxTable.buildIvfIndex]]
    * + index-maintaining [[graft.sources.TxTable.append]]): v1 pins an
    * IVF index to the even embeddings, v2 appends the odds — corpus
    * delta and routed index delta in ONE manifest rename. The gate
    * reads BOTH sides at BOTH versions and counts set differences; the
    * oracle says every version's index row set IS its corpus row set
    * (both-or-neither — no instant pairs corpus v with index v-1).
    */
  val txIndexPinned: QueryDef = QueryDef(
    "io_tx_index_pinned",
    (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txidx-pin-").toString
      graft.sources.TxTable.create(e.filter(col("vec_id") % 2 === 0), root)
      graft.sources.TxTable.buildIvfIndex(s, root, "emb",
        "vec_id", "embedding", numCentroids = 4, buckets = 4)
      graft.sources.TxTable.append(e.filter(col("vec_id") % 2 === 1), root)
      import s.implicits._
      (1L to 2L).map { v =>
        val c = graft.sources.TxTable.readVersion(s, root, v).select("vec_id")
        val i = graft.sources.TxTable
          .readIndexVersion(s, root, "emb", v).select("vec_id")
        (v, c.count(), i.count(), c.except(i).count(), i.except(c).count())
      }.toDF("version", "corpus_rows", "index_rows",
          "only_corpus", "only_index")
        .orderBy("version")
    },
    Some(
      """SELECT 1::BIGINT AS version, count(*)::BIGINT AS corpus_rows,
        |  count(*)::BIGINT AS index_rows, 0::BIGINT AS only_corpus,
        |  0::BIGINT AS only_index
        |FROM embeddings WHERE vec_id % 2 = 0
        |UNION ALL
        |SELECT 2, count(*), count(*), 0, 0 FROM embeddings
        |ORDER BY version""".stripMargin))

  /** Transactional MERGE over an indexed corpus
    * ([[graft.sources.TxTable.mergeInto]] with a pinned index): the
    * merge upserts every %3 id with a shifted vector and tombstones
    * the %15 ids, and the SAME commit rebuilds the index from the
    * merged result. The gate full-outer-joins corpus ids against index
    * ids at the merged version; the oracle is the closed-form merge
    * survivor set with both membership flags 1 — a stale index (any
    * surviving tombstone, any missed upsert) breaks the hash.
    */
  val txMergeIndexAtomic: QueryDef = QueryDef(
    "io_tx_merge_index_atomic",
    (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      val root = java.nio.file.Files
        .createTempDirectory("graft-txidx-merge-").toString
      graft.sources.TxTable.create(e, root)
      graft.sources.TxTable.buildIvfIndex(s, root, "emb",
        "vec_id", "embedding", numCentroids = 4, buckets = 4)
      val src = e.filter(col("vec_id") % 3 === 0)
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(1.0f)))
        .withColumn("_del", col("vec_id") % 5 === 0)
      graft.sources.TxTable.mergeInto(root, src,
        "vec_id", Seq("embedding"), "_del")
      val c = graft.sources.TxTable.read(s, root)
        .select(col("vec_id"), lit(1).as("in_corpus"))
      val i = graft.sources.TxTable.readIndex(s, root, "emb")
        .select(col("vec_id"), lit(1).as("in_index"))
      c.join(i, Seq("vec_id"), "full_outer")
        .select(col("vec_id"),
          coalesce(col("in_corpus"), lit(0)).as("in_corpus"),
          coalesce(col("in_index"), lit(0)).as("in_index"))
        .orderBy("vec_id")
    },
    Some(
      """SELECT vec_id, 1 AS in_corpus, 1 AS in_index FROM embeddings
        |WHERE NOT (vec_id % 3 = 0 AND vec_id % 5 = 0)
        |ORDER BY vec_id""".stripMargin))

  def defs: Seq[QueryDef] =
    Seq(jsonlRoundTrip, csvRoundTrip, warcExtract, warcHttpExtract,
      urlCanonicalize, urlFrontier, zorderValues, orcRoundTrip,
      avroRoundTrip, bloomSkipping, txDeleteDv, txRestore, txLifecycle,
      txCheckGate, txSchemaEvolution, txRecluster,
      domainStats, partitionPrune, xmlRecords, mergeUpsert,
      mergeUpsertAcid, oaiLoop, txtableSkipping, txtableCompact,
      txtableZorderBox, txtableAutoCompact, txtableTimeTravel,
      txtableChanges, txChangeStreamGate, cdcDedupGate, cdcDedupDeleteGate,
      cdcDedupUpdateGate, txChangesTyped, txSchemaRename,
      txChangesAcrossRename, txChangesAcrossDrop, txVacuumCdcBoundary,
      txCdcReplicate, txCdcReplicateDv, txMirrorVacuumResume,
      txSnapshotHarvest,
      profileDrift,
      txIndexPinned, txMergeIndexAtomic,
      merkleDigestGate, merkleChangedGate, keySkewGate, merkleWindowGate,
      schemaEvolution)
}

object MultimodalQueries extends QueryGroup {

  /** Synthetic media corpora (real PNG/BMP/WAV/GIF containers encoded
    * on the executors) built ONCE per corpus dir and checkpointed —
    * the gates measure the DECODE operator, and without this cache
    * each bench iteration re-paid the encode (~3× the decode for the
    * multi-frame GIFs) plus the allocation churn that showed up as GC
    * drag on unrelated later gates. Payloads are KB-scale; 5 000 docs
    * checkpoint in a few MB.
    */
  private val mediaCache =
    new graft.operators.LruCache[(String, String), org.apache.spark.sql.DataFrame](8)

  private def syntheticMediaFor(
      s: org.apache.spark.sql.SparkSession, dir: String, kind: String) = {
    implicit val sp: org.apache.spark.sql.SparkSession = s
    mediaCache.getOrElseUpdate((dir, kind)) {
      val docs = Tables(s, dir).documents
      (kind match {
        case "image" => Multimodal.syntheticImageTable(docs)
        case "jpeg"  => Multimodal.syntheticJpegTable(docs)
        case "audio" => Multimodal.syntheticAudioTable(docs)
        case "video" => Multimodal.syntheticVideoTable(docs)
      }).localCheckpoint(true)
    }
  }

  /** Binary-column plumbing + stub decode (pure-column variant; the
    * mapPartitions batch variant is spec-tested for parity with this).
    */
  val decodeStub: QueryDef = QueryDef(
    "multimodal_decode_stub",
    (s, dir) =>
      Multimodal.decodeStubColumns(
        Multimodal.mediaTable(Tables(s, dir).documents))
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  'image/stub' AS format,
        |  CAST(octet_length(encode(text)) * 7 % 1024 + 1 AS INTEGER) AS width,
        |  CAST(octet_length(encode(text)) * 13 % 768 + 1 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** REAL `javax.imageio` decode under the hard oracle: the synthetic
    * corpus encodes pixel = closed-form fn(x, y, doc_id) into actual
    * PNG/BMP containers on the executors, the operator decodes them back
    * with the JDK codec, and DuckDB recomputes width/height/pixel-sum
    * from doc_id alone — so a hash match proves the full encode→decode
    * round trip, not just the plumbing.
    */
  val decodeReal: QueryDef = QueryDef(
    "multimodal_decode",
    (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Multimodal.decodeImages(syntheticMediaFor(s, dir, "image"))
        .toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("pixel_sum"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |  CAST(doc_id % 13 + 4 AS INTEGER) AS width,
        |  CAST(doc_id % 7 + 4 AS INTEGER) AS height,
        |  CAST(list_sum(list_transform(
        |        range(0, (doc_id % 13 + 4) * (doc_id % 7 + 4)),
        |        i -> ((i % (doc_id % 13 + 4)) * 31
        |            + (i // (doc_id % 13 + 4)) * 17 + doc_id) % 256))
        |       AS BIGINT) AS pixel_sum
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** REAL `javax.sound.sampled` WAV decode under the hard oracle: the
    * synthetic corpus encodes 16-bit PCM sample = closed-form
    * fn(i, doc_id) into actual RIFF/WAV containers, the operator
    * parses them back with the JDK codec, and DuckDB recomputes
    * sample count / rate / exact PCM sum from doc_id alone.
    */
  val audioReal: QueryDef = QueryDef(
    "multimodal_audio_decode",
    (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Multimodal.decodeAudio(syntheticMediaFor(s, dir, "audio"))
        .toDF()
        .select(col("doc_id"), col("format"), col("sample_rate"),
          col("channels"), col("n_samples"), col("pcm_sum"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, 'wav' AS format, 8000 AS sample_rate, 1 AS channels,
        |  CAST(doc_id % 50 + 20 AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(0, doc_id % 50 + 20),
        |      i -> (i * 37 + doc_id * 11) % 65536 - 32768)) AS BIGINT) AS pcm_sum
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** REAL multi-frame decode + frame sampling under the hard oracle:
    * the synthetic corpus encodes each doc as an animated GIF (frame
    * k's pixel = closed-form fn(x, y, doc_id + k), 256-gray indexed
    * palette → lossless), the operator parses the container and
    * rasterizes every 2nd frame only, and DuckDB recomputes each
    * sampled frame's dimensions and pixel sum from doc_id alone.
    */
  /** REAL resize under the hard oracle
    * ([[graft.operators.Multimodal.resizeImages]]): decode →
    * explicit-index nearest-neighbour resample to 4×4 → PNG re-encode
    * → decode AGAIN — two codec round trips plus the resample, and
    * DuckDB recomputes the final pixel sum from doc_id alone via the
    * same `x·sw/4` source-index arithmetic. Partition-preserving
    * mapPartitions kernels, no shuffle.
    */
  val resizeReal: QueryDef = QueryDef(
    "multimodal_resize",
    (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Multimodal.decodeImages(
          Multimodal.resizeImages(syntheticMediaFor(s, dir, "image"), 4, 4))
        .toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("pixel_sum"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, 'png' AS format, 4 AS width, 4 AS height,
        |  CAST(list_sum(list_transform(range(0, 16),
        |    i -> (((i % 4) * (doc_id % 13 + 4) // 4) * 31
        |        + ((i // 4) * (doc_id % 7 + 4) // 4) * 17 + doc_id) % 256))
        |  AS BIGINT) AS pixel_sum
        |FROM documents ORDER BY doc_id""".stripMargin))

  val frameSample: QueryDef = QueryDef(
    "multimodal_frame_sample",
    (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Multimodal.sampleFrames(syntheticMediaFor(s, dir, "video"), everyK = 2)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("pixel_sum"))
        .orderBy("doc_id", "frame_idx")
    },
    Some(
      """SELECT doc_id, CAST(k AS INTEGER) AS frame_idx,
        |  CAST(doc_id % 13 + 4 AS INTEGER) AS width,
        |  CAST(doc_id % 7 + 4 AS INTEGER) AS height,
        |  CAST(list_sum(list_transform(
        |        range(0, (doc_id % 13 + 4) * (doc_id % 7 + 4)),
        |        i -> ((i % (doc_id % 13 + 4)) * 31
        |            + (i // (doc_id % 13 + 4)) * 17 + doc_id + k) % 256))
        |       AS BIGINT) AS pixel_sum
        |FROM documents, unnest(range(0, doc_id % 9 + 2, 2)) AS t(k)
        |ORDER BY doc_id, frame_idx""".stripMargin))

  /** REAL JPEG decode ([[graft.operators.Multimodal
    * .syntheticJpegTable]] + [[graft.operators.Multimodal
    * .decodeImages]]) — the dominant (and lossy) web image format.
    * The JDK encoder's DCT quantization makes pixel values
    * codec-defined, so the hard oracle covers what IS exact — the
    * magic-byte sniff and the raster dimensions recomputed closed-form
    * from doc_id — while MultimodalSpec pins the decoded content to a
    * per-pixel error bound against the encoded pattern (the ANN
    * recall-floor pattern for approximate outputs).
    */
  val jpegDecode: QueryDef = QueryDef(
    "multimodal_jpeg_decode",
    (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Multimodal.decodeImages(syntheticMediaFor(s, dir, "jpeg"))
        .toDF()
        .select(col("doc_id"), col("format"), col("width"), col("height"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, 'jpeg' AS format,
        |  CAST(doc_id % 13 + 4 AS INTEGER) AS width,
        |  CAST(doc_id % 7 + 4 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Perceptual dHash ([[graft.operators.Multimodal.dhashImages]]):
    * the image near-dup key — real PNG/BMP decode, 9×8 nearest-
    * neighbour grid, per-row gradient bits as 8 hex bytes. The oracle
    * recomputes every bit from doc_id alone via the same `x·sw/9`
    * index arithmetic and the closed-form pixel pattern.
    */
  val dhash: QueryDef = QueryDef(
    "multimodal_dhash",
    (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Multimodal.dhashImages(syntheticMediaFor(s, dir, "image"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, array_to_string(list_transform(range(0, 8),
        |  y -> printf('%02x', CAST(list_sum(list_transform(range(0, 8),
        |    x -> CASE WHEN
        |      ((((x+1) * (doc_id % 13 + 4)) // 9) * 31
        |        + ((y * (doc_id % 7 + 4)) // 8) * 17 + doc_id) % 256
        |      > (((x * (doc_id % 13 + 4)) // 9) * 31
        |        + ((y * (doc_id % 7 + 4)) // 8) * 17 + doc_id) % 256
        |      THEN 1 << x ELSE 0 END)) AS INTEGER))), '') AS dhash
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** dHash near-dup pairs ([[graft.operators.Multimodal
    * .dhashNearDupPairs]]): hamming ≤ 3 via 4×16-bit pigeonhole
    * banding — the oracle does ALL-PAIRS hamming over the closed-form
    * hashes, so the gate proves banding ≡ brute force (the simhash
    * argument, replayed for images).
    */
  val dhashNearDup: QueryDef = QueryDef(
    "multimodal_dhash_neardup",
    (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Multimodal.dhashNearDupPairs(
          Multimodal.dhashImages(syntheticMediaFor(s, dir, "image")))
        .orderBy("id_a", "id_b")
    },
    Some(
      """WITH bytes AS (SELECT doc_id, y,
        |    CAST(list_sum(list_transform(range(0, 8), x ->
        |      CASE WHEN
        |        ((((x+1) * (doc_id % 13 + 4)) // 9) * 31
        |          + ((y * (doc_id % 7 + 4)) // 8) * 17 + doc_id) % 256
        |        > (((x * (doc_id % 13 + 4)) // 9) * 31
        |          + ((y * (doc_id % 7 + 4)) // 8) * 17 + doc_id) % 256
        |        THEN 1 << x ELSE 0 END)) AS INTEGER) AS byte
        |  FROM documents, unnest(range(0, 8)) AS t(y)),
        |bands AS (SELECT b0.doc_id, b0.y // 2 AS band,
        |    b0.byte * 256 + b1.byte AS v
        |  FROM bytes b0 JOIN bytes b1
        |    ON b0.doc_id = b1.doc_id AND b1.y = b0.y + 1
        |  WHERE b0.y % 2 = 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  sum(bit_count(xor(a.v, b.v)))::BIGINT AS hamming
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING sum(bit_count(xor(a.v, b.v))) <= 3
        |ORDER BY id_a, id_b""".stripMargin))

  /** Skew-hardened twin of [[dhashNearDup]] ([[graft.operators
    * .Multimodal.dhashNearDupPairsCapped]]): `maxBucket = 25` is BELOW
    * this corpus's largest band buckets (45/41/40/36/… at sf0.01), so
    * the hot path — recursive 12-bit sub-banding of over-cap buckets —
    * provably ENGAGES here, while every sub-bucket stays ≤ 24 ≤ cap so
    * nothing is dropped. Same ALL-PAIRS oracle as the uncapped gate:
    * the hash proves capped banding ≡ brute force with the recursion
    * live, not just on a corpus where the cap is a no-op.
    */
  val dhashNearDupCapped: QueryDef = QueryDef(
    "multimodal_dhash_neardup_capped",
    (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Multimodal.dhashNearDupPairsCapped(
          Multimodal.dhashImages(syntheticMediaFor(s, dir, "image")),
          maxBucket = 25)
        .orderBy("id_a", "id_b")
    },
    Some(
      """WITH bytes AS (SELECT doc_id, y,
        |    CAST(list_sum(list_transform(range(0, 8), x ->
        |      CASE WHEN
        |        ((((x+1) * (doc_id % 13 + 4)) // 9) * 31
        |          + ((y * (doc_id % 7 + 4)) // 8) * 17 + doc_id) % 256
        |        > (((x * (doc_id % 13 + 4)) // 9) * 31
        |          + ((y * (doc_id % 7 + 4)) // 8) * 17 + doc_id) % 256
        |        THEN 1 << x ELSE 0 END)) AS INTEGER) AS byte
        |  FROM documents, unnest(range(0, 8)) AS t(y)),
        |bands AS (SELECT b0.doc_id, b0.y // 2 AS band,
        |    b0.byte * 256 + b1.byte AS v
        |  FROM bytes b0 JOIN bytes b1
        |    ON b0.doc_id = b1.doc_id AND b1.y = b0.y + 1
        |  WHERE b0.y % 2 = 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  sum(bit_count(xor(a.v, b.v)))::BIGINT AS hamming
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING sum(bit_count(xor(a.v, b.v))) <= 3
        |ORDER BY id_a, id_b""".stripMargin))

  /** Per-channel raster statistics ([[graft.operators.Multimodal
    * .imageChannelStats]]): real PNG/BMP decode → exact R/G/B sums and
    * red-channel extremes — the image-corpus quality profile. The
    * synthetic corpus is gray (r=g=b), so all three channel sums
    * replay from the one closed-form pixel pattern; min/max replay via
    * list aggregates.
    */
  val imageStats: QueryDef = QueryDef(
    "multimodal_image_stats",
    (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Multimodal.imageChannelStats(syntheticMediaFor(s, dir, "image"))
        .toDF()
        .orderBy("doc_id")
    },
    Some(
      """WITH px AS (SELECT doc_id,
        |    list_transform(range(0, (doc_id % 13 + 4) * (doc_id % 7 + 4)),
        |      i -> ((i % (doc_id % 13 + 4)) * 31
        |          + (i // (doc_id % 13 + 4)) * 17 + doc_id) % 256) AS l
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |  CAST(doc_id % 13 + 4 AS INTEGER) AS width,
        |  CAST(doc_id % 7 + 4 AS INTEGER) AS height,
        |  CAST(list_sum(l) AS BIGINT) AS sum_r,
        |  CAST(list_sum(l) AS BIGINT) AS sum_g,
        |  CAST(list_sum(l) AS BIGINT) AS sum_b,
        |  CAST(list_aggregate(l, 'min') AS INTEGER) AS min_px,
        |  CAST(list_aggregate(l, 'max') AS INTEGER) AS max_px
        |FROM px ORDER BY doc_id""".stripMargin))

  /** Frame-level audio features ([[graft.operators.Multimodal
    * .audioFrameFeatures]]): real WAV decode → 16-sample windows, each
    * emitting exact integer Σv² energy and the zero-crossing count —
    * the VAD/silence-trim features, integer-exact so the whole frame
    * pipeline sits under the hard oracle. DuckDB replays the PCM
    * closed form, the framing, and the within-frame crossing pairs.
    */
  val audioFrames: QueryDef = QueryDef(
    "multimodal_audio_frames",
    (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Multimodal.audioFrameFeatures(
          syntheticMediaFor(s, dir, "audio"), frameSize = 16)
        .toDF()
        .orderBy("doc_id", "frame_idx")
    },
    Some(
      """WITH d AS (SELECT doc_id, doc_id % 50 + 20 AS ns FROM documents),
        |s AS (SELECT doc_id, i,
        |    (i * 37 + doc_id * 11) % 65536 - 32768 AS v
        |  FROM d, unnest(range(0, ns)) AS t(i)),
        |w AS (SELECT doc_id, i, v,
        |    CAST(i // 16 AS INTEGER) AS frame_idx,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv,
        |    (i % 16) > 0 AS in_frame_pair
        |  FROM s)
        |SELECT doc_id, frame_idx, CAST(count(*) AS INTEGER) AS n,
        |  CAST(sum(v * v) AS BIGINT) AS energy,
        |  CAST(sum(CASE WHEN in_frame_pair AND ((v < 0) <> (pv < 0))
        |           THEN 1 ELSE 0 END) AS BIGINT) AS zc
        |FROM w GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin))

  /** Scene-cut detection ([[graft.operators.Multimodal.sceneCuts]]):
    * real multi-frame GIF decode, consecutive frames diffed
    * pixel-by-pixel, cut where mean |Δ| > 2 (stated multiplicatively —
    * no division). The synthetic pattern shifts by +1 mod 256 each
    * frame, so the exact diff is w·h + 254·c where c counts the
    * predecessor's 255-valued pixels — DuckDB replays that closed
    * form, making the decode+diff kernel hash-checkable.
    */
  val sceneCutsGate: QueryDef = QueryDef(
    "multimodal_scene_cuts",
    (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Multimodal.sceneCuts(
          syntheticMediaFor(s, dir, "video"), meanDiffThreshold = 2L)
        .toDF()
        .orderBy("doc_id", "frame_idx")
    },
    Some(
      """WITH g AS (SELECT doc_id, doc_id % 13 + 4 AS w,
        |    doc_id % 7 + 4 AS h, doc_id % 9 + 2 AS nf FROM documents),
        |k AS (SELECT doc_id, w, h, kk AS frame_idx
        |      FROM g, unnest(range(1, nf)) AS t(kk)),
        |c AS (SELECT doc_id, frame_idx, w, h,
        |    len(list_filter(range(0, w * h),
        |      i -> ((i % w) * 31 + (i // w) * 17 + doc_id + frame_idx - 1)
        |           % 256 = 255)) AS c255
        |  FROM k)
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(w * h + 254 * c255 AS BIGINT) AS diff,
        |  (w * h + 254 * c255) > (w * h * 2) AS is_cut
        |FROM c ORDER BY doc_id, frame_idx""".stripMargin))

  def defs: Seq[QueryDef] =
    Seq(decodeStub, decodeReal, jpegDecode, audioReal, frameSample,
      resizeReal, dhash, dhashNearDup, dhashNearDupCapped, imageStats,
      audioFrames, sceneCutsGate)
}
