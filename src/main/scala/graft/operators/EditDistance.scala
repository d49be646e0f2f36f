package graft.operators

import graft.operators.Materialize.MaterializeOps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact edit-distance (Levenshtein) near-duplicate pairs at corpus
  * scale — the character-level complement to the token-set kernels in
  * [[Dedup]] (entity resolution over names/titles, OCR-noise dedup,
  * key-mangling detection in a training corpus).
  *
  * Candidate generation is the q-gram COUNT FILTER (Gravano et al.,
  * VLDB 2001; tightened by the Ed-Join location filters, Xiao et al.,
  * VLDB 2008 — public literature): one edit operation destroys at most
  * `q` of a string's |s| − q + 1 positional q-grams, so
  *
  *   ed(a,b) ≤ k  ⇒  |Gq(a) ∩multiset Gq(b)| ≥ max(|a|,|b|) − q + 1 − k·q
  *
  * Pairs below that bound are provably beyond distance k and are never
  * verified; survivors get one exact `levenshtein` check, so the result
  * is IDENTICAL to the naive all-pairs join at any threshold — the
  * filter only prunes work, never recall.
  *
  * 100 TB shape: the shuffle carries (gram, id, multiplicity) rows —
  * bounded by total text volume, never by pair count; the candidate
  * join groups by gram (vocabulary-distributed keys), the verify join
  * rejoins only candidate ids to their strings. Strings too short to
  * yield a positive bound (both |s| ≤ q − 1 + k·q) can share zero
  * grams while within distance k, so the short class pairs through a
  * 3-neighbour length-bucket block join instead — still exact, and
  * bounded by the short-string subcorpus, which for near-dup workloads
  * (names, titles) is the whole point of the operator.
  */
object EditDistance {

  /** All unordered pairs (id_a < id_b) within Levenshtein distance
    * `maxDist`, with the exact distance. `strCol` must be non-null
    * (null rows are dropped); ids must be long-castable and unique per
    * string row.
    */
  def pairs(
      df: DataFrame, strCol: String, idCol: String,
      maxDist: Int, q: Int = 3): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 2, s"q must be >= 2, got $q")
    Dedup.requireLongCastableId(df, idCol)
    val base = df
      .select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("len", length(col("s")))

    // ---- short class: both strings ≤ shortMax ⇒ the gram bound can be
    // non-positive; exact 3-neighbour length-bucket block join
    val shortMax = q - 1 + maxDist * q
    val bucketW = maxDist + 1
    val short = base.filter(col("len") <= shortMax)
    val shortLeft = short.select(
      (col("len") / bucketW).cast("int").as("bkt"),
      col("id").as("id_a"), col("s").as("s_a"), col("len").as("len_a"))
    val shortRight = short.select(
      explode(sequence((col("len") / bucketW).cast("int") - 1,
        (col("len") / bucketW).cast("int") + 1)).as("bkt"),
      col("id").as("id_b"), col("s").as("s_b"), col("len").as("len_b"))
    val shortPairs = shortLeft.join(shortRight, Seq("bkt"))
      // each unordered pair matches exactly once: the left side emits
      // only its own bucket, so (b,a) never re-matches under id_a < id_b
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .select("id_a", "id_b", "s_a", "s_b")

    // ---- long class: at least one string > shortMax ⇒ bound ≥ 1, so
    // every qualifying pair shares a gram; count-filter candidate join
    val grams = base.filter(col("len") >= q)
      .select(col("id"), col("len"),
        explode(expr(s"transform(sequence(1, len - ${q - 1}), i -> substring(s, i, $q))"))
          .as("gram"))
      .groupBy("id", "len", "gram")
      .agg(count(lit(1)).as("cnt"))
    val ga = grams.select(col("id").as("id_a"), col("len").as("len_a"),
      col("gram"), col("cnt").as("cnt_a"))
    val gb = grams.select(col("id").as("id_b"), col("len").as("len_b"),
      col("gram"), col("cnt").as("cnt_b"))
    val candidates = ga.join(gb, Seq("gram"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist &&
        greatest(col("len_a"), col("len_b")) > shortMax)
      .groupBy("id_a", "id_b", "len_a", "len_b")
      .agg(sum(least(col("cnt_a"), col("cnt_b"))).as("common"))
      .filter(col("common") >=
        greatest(col("len_a"), col("len_b")) - lit(q - 1) - lit(maxDist * q))
      .select("id_a", "id_b")
    val sA = base.select(col("id").as("id_a"), col("s").as("s_a"))
    val sB = base.select(col("id").as("id_b"), col("s").as("s_b"))
    val longPairs = candidates.join(sA, "id_a").join(sB, "id_b")
      .select("id_a", "id_b", "s_a", "s_b")

    // ---- exact verify (the filters above are candidate pruners only);
    // the threshold variant early-terminates the DP at maxDist+1
    shortPairs.unionByName(longPairs)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** [[pairs]] with PREFIX-FILTERED candidate generation — identical
    * result set, different cost shape. The count-filter join above
    * pairs strings on EVERY shared gram, so its work is
    * Σ_gram |bucket|², and a frequent gram ("the ", a shared format
    * prefix) makes that quadratic in corpus size — the round-16
    * probe (PERF.md, "EditDistance q-gram kernel") measured the
    * candidate join at ~60× the enumeration cost on a 100k
    * mostly-distinct dictionary. The prefix filter (Chaudhuri et al., ICDE 2006; Xiao et al.'s
    * Ed-Join, VLDB 2008 — public literature) bounds that: order gram
    * OCCURRENCES by global rarity and keep only each string's
    * `maxDist·q + 1` rarest as join keys. Soundness: within distance
    * `maxDist` the pair shares ≥ T = max(len)−(q−1)−maxDist·q gram
    * occurrences; a string's gram count g satisfies
    * g − T + 1 ≤ maxDist·q + 1, and two sets sharing ≥ T elements
    * must intersect inside their (g−T+1)-prefixes under ANY common
    * total order — so every qualifying pair meets on ≥ 1 rare key and
    * frequent grams never fan out. Occurrences join as (gram, j)
    * pairs (j = occurrence index within the string), which makes the
    * multiset intersection an exact set intersection.
    *
    * The short class and the exact DP verify are [[pairs]]' own;
    * candidates go straight to the threshold-bounded `levenshtein`
    * (strings are dictionary-short — the DP is cheaper than a second
    * count-filter join). Extra cost vs [[pairs]]: three linear
    * window shuffles over the gram frame (occurrence index, global
    * rarity, per-string rank). Measured cost shapes (PERF.md,
    * round-16 editdist probe): on a shared-format dictionary the
    * count filter is QUADRATIC in corpus size while this stays
    * bucket-bounded (~20× at 20k rows); on uniform-gram corpora
    * (hash-like strings, where the prefix keeps g−1 of g keys and
    * prunes nothing) the two run at parity.
    *
    * DEGENERATE-CASE GUARD: the prefix guarantee needs ≥
    * `maxDist·q + 1` rare gram occurrences per string — a variable
    * region shorter than ~`maxDist·q` chars forces a shared frequent
    * gram into every prefix and the join degrades to a quadratic
    * WORSE than the count filter's (round-16 probe: 539 s vs the
    * count filter's ~90 s at 20k). Rather than hope callers read
    * this paragraph, the operator now MEASURES the hazard at plan
    * time: the kept-prefix frame (materialized — it feeds both join
    * sides anyway) yields its max key document frequency in one
    * bounded aggregate, and when the hottest key alone would emit
    * more than ~16× the frame's rows in candidate pairs
    * (maxDf² > 16·|prefix rows|, i.e. maxDf ≳ 4·√rows — the
    * classic df ≈ corpus collapse signature) the call falls back to
    * [[pairs]] wholesale. Both paths are exact, so the result set is
    * identical either way; only the cost shape changes.
    */
  /** The [[pairsPrefix]] fallback decision: true when the hottest kept
    * prefix key's candidate fan-out (maxDf²) exceeds ~16× the whole
    * prefix frame — the hot key ALONE then emits ≥ 16·rows pairs, the
    * collapse signature of a too-narrow variable region (maxDf ≈ n
    * where a healthy prefix has maxDf ≪ √rows). Pure function of the
    * two collected stats so the threshold is unit-testable.
    */
  private[graft] def prefixDegenerate(maxDf: Long, rows: Long): Boolean =
    maxDf * maxDf > 16L * math.max(1L, rows)

  def pairsPrefix(
      df: DataFrame, strCol: String, idCol: String,
      maxDist: Int, q: Int = 3): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 2, s"q must be >= 2, got $q")
    Dedup.requireLongCastableId(df, idCol)
    import org.apache.spark.sql.expressions.Window
    val base = df
      .select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("len", length(col("s")))

    val shortMax = q - 1 + maxDist * q
    val bucketW = maxDist + 1
    val short = base.filter(col("len") <= shortMax)
    val shortLeft = short.select(
      (col("len") / bucketW).cast("int").as("bkt"),
      col("id").as("id_a"), col("s").as("s_a"), col("len").as("len_a"))
    val shortRight = short.select(
      explode(sequence((col("len") / bucketW).cast("int") - 1,
        (col("len") / bucketW).cast("int") + 1)).as("bkt"),
      col("id").as("id_b"), col("s").as("s_b"), col("len").as("len_b"))
    val shortPairs = shortLeft.join(shortRight, Seq("bkt"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .select("id_a", "id_b", "s_a", "s_b")

    // long class: (gram, j) occurrence elements, globally
    // rarity-ordered, prefix-pruned to maxDist·q + 1 per string
    val pfx = maxDist * q + 1
    val occ = base.filter(col("len") >= q)
      .select(col("id"), col("len"), posexplode(
        expr(s"transform(sequence(1, len - ${q - 1}), " +
          s"i -> substring(s, i, $q))")).as(Seq("pos", "gram")))
      .withColumn("j", row_number().over(
        Window.partitionBy(col("id"), col("gram")).orderBy(col("pos"))))
    // occurrence frequency as an unordered window count — one shuffle
    // on (gram, j), no aggregate-plus-rejoin round trip
    val prefix = occ
      .withColumn("_f", count(lit(1)).over(
        Window.partitionBy(col("gram"), col("j"))))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("_f"), col("gram"), col("j"))))
      .filter(col("_rn") <= pfx)
      .select(col("id"), col("len"), col("gram"), col("j"))
      // materialized: feeds the degenerate-case probe AND both sides
      // of the candidate join — the 3-window chain above runs once
      .materialized
    // degenerate-case guard (see scaladoc): one bounded aggregate over
    // the kept-prefix frame; a hot key whose df² dwarfs the frame means
    // the variable region is too narrow for the prefix guarantee, and
    // the count filter is the cheaper quadratic — fall back, exactly.
    val st = prefix.groupBy(col("gram"), col("j"))
      .agg(count(lit(1)).as("_df"))
      .agg(coalesce(max(col("_df")), lit(0L)).as("maxDf"),
        coalesce(sum(col("_df")), lit(0L)).as("rows"))
      .head()
    if (prefixDegenerate(st.getLong(0), st.getLong(1)))
      return pairs(df, strCol, idCol, maxDist, q)
    val pa = prefix.select(col("id").as("id_a"),
      col("len").as("len_a"), col("gram"), col("j"))
    val pb = prefix.select(col("id").as("id_b"),
      col("len").as("len_b"), col("gram"), col("j"))
    val candidates = pa.join(pb, Seq("gram", "j"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist &&
        greatest(col("len_a"), col("len_b")) > shortMax)
      .select("id_a", "id_b").distinct()
    val sA = base.select(col("id").as("id_a"), col("s").as("s_a"))
    val sB = base.select(col("id").as("id_b"), col("s").as("s_b"))
    val longPairs = candidates.join(sA, "id_a").join(sB, "id_b")
      .select("id_a", "id_b", "s_a", "s_b")

    shortPairs.unionByName(longPairs)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
