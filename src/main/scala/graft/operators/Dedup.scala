package graft.operators

import graft.operators.Materialize.MaterializeOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design (100 TB):
  *  - exact dedup groups by a 256-bit content hash, NOT the raw text — the
  *    shuffle carries 32 bytes/row instead of whole documents.
  *  - near-dup never materializes the O(n²) pair space: MinHash+LSH and
  *    SimHash band candidates so only same-bucket docs join; the exact
  *    verify join runs on the (tiny) candidate set.
  *  - all hashes are Spark's codegen'd built-ins (xxhash64/hash/sha2);
  *    no UDFs anywhere in the hot path.
  */
object Dedup {

  /** The pair-oriented kernels key docs by `idCol` cast to long (pairs
    * shuffle as primitive longs, not strings). A non-integral id column
    * would cast to null and silently drop rows, so fail fast instead —
    * callers with string ids should join a dense surrogate id first.
    */
  private[graft] def requireLongCastableId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"idCol '$idCol' must be an integral type (pairs are keyed by long); " +
          s"got $other — map string ids to a surrogate long id first")
    }
  }

  /** Exact dedup: one survivor (min id) per identical content.
    * Hash-groupBy (SURVEY.md extension surface): sha2-256 collisions are
    * ~2^-128 — acceptable; at 100 TB this is the difference between
    * shuffling 32-byte keys and shuffling documents.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Streaming exact dedup: emit the first occurrence of each content
    * hash, dropping duplicates that arrive within the watermark horizon
    * of the original. State is WATERMARK-BOUNDED — a hash is evicted
    * once event time passes its horizon (vs. plain dropDuplicates,
    * whose state grows forever). The continuous-ingest analogue of
    * [[exact]]: re-harvested or replayed documents are suppressed while
    * they can still plausibly arrive, and the periodic batch compaction
    * catches strays older than the horizon.
    */
  def streamingExact(
      docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    docs.withColumn("content_hash", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Dup → survivor mapping for an arbitrary content key: for every
    * non-surviving duplicate, the id to remap it to (min id of its key
    * group). What a pipeline JOINs against to rewrite references after
    * dedup. One shuffle on the 32-byte key hash; the window never sees
    * document text.
    */
  def remapByKey(df: DataFrame, key: Column, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("content_hash"))
    df.select(col(idCol), sha2(key.cast("string"), 256).as("content_hash"))
      .withColumn("survivor", min(col(idCol)).over(w))
      .filter(col(idCol) =!= col("survivor"))
      .select(col(idCol), col("survivor"))
  }

  /** [[remapByKey]] on raw text — byte-exact duplicate remap. */
  def exactRemap(df: DataFrame, textCol: String, idCol: String): DataFrame =
    remapByKey(df, col(textCol), idCol)

  /** Survivor selection by PRIORITY, not min id — what production
    * dedup actually wants: among duplicates, keep the highest-quality
    * copy (longest, best score, freshest) and remap the rest to it.
    * `priority` is any column expression; ties break on the lower id
    * so the choice is total and deterministic. Same single-shuffle
    * window shape as [[remapByKey]] (the shuffle still carries the
    * 32-byte hash + priority scalar, never the text).
    */
  def remapByKeyPriority(
      df: DataFrame, key: Column, idCol: String,
      priority: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("content_hash"))
      .orderBy(col("_priority").desc, col(idCol))
    df.select(col(idCol), sha2(key.cast("string"), 256).as("content_hash"),
        priority.as("_priority"))
      .withColumn("survivor", first(col(idCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col(idCol) =!= col("survivor"))
      .select(col(idCol), col("survivor"))
  }

  /** Word-order/whitespace/case-insensitive content key: the sorted
    * distinct token set as one string. Catches shuffled or reformatted
    * copies that byte-exact dedup misses.
    */
  def normalizedSetKey(textCol: String): Column =
    concat_ws(" ", array_sort(array_distinct(words(textCol))))

  /** Whitespace word tokens, lowercased and trimmed. Trim matters for
    * cross-engine parity: Java's split drops trailing empty tokens but
    * keeps leading ones; trimming first removes the asymmetry (and
    * matches the JVM kernels' `toLowerCase.trim.split`).
    */
  def words(textCol: String): Column =
    split(lower(trim(col(textCol))), "\\s+")

  /** Word n-gram shingles: contiguous n-word windows, distinct.
    * Pure array expressions — codegen, no explode until the caller needs
    * rows.
    */
  def shingles(textCol: String, n: Int): Column = {
    val w = words(textCol)
    array_distinct(
      when(size(w) < n, array(concat_ws(" ", w)))
        .otherwise(transform(
          sequence(lit(0), size(w) - n),
          i => concat_ws(" ", slice(w, i + 1, lit(n))))))
  }

  /** Doc pairs sharing ≥ `minSpans` distinct VERBATIM n-token windows —
    * the exact-substring copy signal (the "repeated substrings across
    * documents" family of training-data dedup): catches copy-paste
    * overlap between otherwise-different documents, which set-Jaccard
    * dilutes away on long docs.
    *
    * Shuffle shape: per-doc distinct spans explode once and shuffle
    * ONCE, as 64-bit span hashes (8-byte keys, never text), into a
    * per-span `collect_list` of holder ids. A document-frequency
    * guard drops spans outside [2, maxSpanDf] — df=1 spans can't pair
    * at all, and boilerplate present in thousands of docs would
    * otherwise emit df² pairs through one key; the guard bounds the
    * worst span at maxSpanDf², a constant the caller picks. Pairs then
    * expand via the repartitioned double-explode (the
    * [[expandClusterPairs]] shape): after the first explode a hot span
    * is df rows that hash across the shuffle, so no single task emits
    * a whole df² block. This replaces the earlier self-join plan
    * (df-count agg + join-back + two join sides ≈ four shuffles of the
    * span set, plus two checkpoints) with group-once + pair-expand —
    * measured 5.9 → ~2 s at sf0.1 for the identical pair set.
    */
  def sharedSpanPairs(
      df: DataFrame, textCol: String, idCol: String,
      spanTokens: Int = 8, minSpans: Int = 1,
      maxSpanDf: Int = 1000): DataFrame = {
    requireLongCastableId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    // Span hashing runs in a per-partition JVM kernel for the same
    // reason as [[minhashSignatures]]: explode(shingles(...)) walks an
    // interpreted HOF lambda per window, which dominates the whole
    // query's cost. Downstream only compares hashes for equality, so
    // the hash function is internal (2^-64 collisions fold two spans).
    val groups = df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          shingleStrings(text, spanTokens).iterator.map(s => (id, hash64(s)))
        }
      }
      .toDF("id", "h")
      .groupBy(col("h"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxSpanDf))
    groups
      .select(explode(col("ids")).as("ma"), col("ids"))
      .repartition(col("ma"))
      .select(col("ma"), explode(col("ids")).as("mb"))
      .filter(col("ma") < col("mb"))
      .groupBy(col("ma").as("id_a"), col("mb").as("id_b"))
      .agg(count(lit(1)).as("shared_spans"))
      .filter(col("shared_spans") >= minSpans)
  }

  /** Sub-document dedup at aligned token-block granularity — the
    * "remove repeated passages" op (MassiveText/C4 family, which cuts
    * duplicated lines/paragraphs rather than whole documents): the
    * corpus keeps only the FIRST occurrence (min id, then min block
    * index) of every distinct `blockTokens`-token block; later
    * occurrences are cut and each document's text reassembled from its
    * surviving blocks (single-space re-joined — whitespace normalizes).
    *
    * Shuffle shape: the dedup decision never moves text. A JVM kernel
    * emits (id, block_idx, 64-bit block hash) — 24-byte rows; the
    * per-hash first occurrence is a partial-aggregating `min(struct)`
    * (map-side combine collapses boilerplate blocks BEFORE the shuffle,
    * so a block repeated 10⁹ times costs one row per map task — a
    * `row_number` window would instead sort all 10⁹ in one task), and a
    * hash join back on the block hash marks the drops. The drop list
    * (duplicated blocks only, a small fraction of the corpus) groups
    * per doc and joins back on id, and a second kernel re-splits each
    * doc and emits the kept blocks. Blocks equal up to 2^-64 hash
    * collisions, the family-wide accepted rate.
    */
  def dedupTokenBlocks(
      df: DataFrame, textCol: String, idCol: String,
      blockTokens: Int = 8): DataFrame = {
    requireLongCastableId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    val k = blockTokens
    def numBlocks(nWords: Int): Int = math.max(1, (nWords + k - 1) / k)
    def blockAt(w: Array[String], i: Int): String =
      w.slice(i * k, math.min((i + 1) * k, w.length)).mkString(" ")
    val base = df.select(col(idCol).cast("long").as("id"), col(textCol))
    val blocks = base
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val w = text.trim.split("\\s+")
          (0 until numBlocks(w.length)).iterator
            .map(i => (id, i, hash64(blockAt(w, i))))
        }
      }
      .toDF("id", "idx", "h")
    val first = blocks.groupBy(col("h"))
      .agg(min(struct(col("id"), col("idx"))).as("first"))
    val drops = blocks
      .join(first, Seq("h"))
      .filter(!(col("id") === col("first.id") && col("idx") === col("first.idx")))
      .groupBy(col("id"))
      .agg(collect_list(col("idx")).as("drop_idxs"))
    base
      .join(drops, Seq("id"), "left")
      .as[(Long, String, Option[scala.collection.Seq[Int]])]
      .mapPartitions { it =>
        it.map { case (id, text, dropped) =>
          val drop = dropped.map(_.toSet).getOrElse(Set.empty[Int])
          val w = text.trim.split("\\s+")
          val kept = (0 until numBlocks(w.length)).filterNot(drop)
            .map(blockAt(w, _))
          (id, kept.mkString(" "), drop.size.toLong)
        }
      }
      .toDF(idCol, textCol, "n_dropped")
  }

  /** Boilerplate removal at aligned token-block granularity — the OTHER
    * C4-family sub-document rule: where [[dedupTokenBlocks]] keeps the
    * first occurrence of a repeated block, this drops EVERY occurrence
    * of any block whose corpus frequency reaches `minDf` (C4 discards
    * all copies of any line occurring three or more times — navigation
    * chrome, cookie banners, licence stubs carry no training signal
    * even once). Documents are reassembled from their surviving blocks;
    * a document that was pure boilerplate survives as an empty string
    * (the caller's length filter is the right place to cut it).
    *
    * Shuffle shape matches [[dedupTokenBlocks]]: kernels emit (id, idx,
    * 64-bit block hash); the frequency count is a partial-aggregating
    * `count` per hash (map-side combine bounds a 10⁹-repeat block at
    * one row per map task), and only the drop list — boilerplate
    * occurrences, a small corpus fraction by design — is joined back.
    * Text never shuffles.
    */
  def removeBoilerplateBlocks(
      df: DataFrame, textCol: String, idCol: String,
      blockTokens: Int = 8, minDf: Long = 3L): DataFrame = {
    requireLongCastableId(df, idCol)
    require(minDf >= 2, s"minDf must be >= 2 (got $minDf)")
    val spark = df.sparkSession
    import spark.implicits._
    val k = blockTokens
    def numBlocks(nWords: Int): Int = math.max(1, (nWords + k - 1) / k)
    def blockAt(w: Array[String], i: Int): String =
      w.slice(i * k, math.min((i + 1) * k, w.length)).mkString(" ")
    val base = df.select(col(idCol).cast("long").as("id"), col(textCol))
    val blocks = base
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val w = text.trim.split("\\s+")
          (0 until numBlocks(w.length)).iterator
            .map(i => (id, i, hash64(blockAt(w, i))))
        }
      }
      .toDF("id", "idx", "h")
    val hot = blocks.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("h"))
    val drops = blocks
      .join(hot, Seq("h"), "left_semi")
      .groupBy(col("id"))
      .agg(collect_list(col("idx")).as("drop_idxs"))
    base
      .join(drops, Seq("id"), "left")
      .as[(Long, String, Option[scala.collection.Seq[Int]])]
      .mapPartitions { it =>
        it.map { case (id, text, dropped) =>
          val drop = dropped.map(_.toSet).getOrElse(Set.empty[Int])
          val w = text.trim.split("\\s+")
          val kept = (0 until numBlocks(w.length)).filterNot(drop)
            .map(blockAt(w, _))
          (id, kept.mkString(" "), drop.size.toLong)
        }
      }
      .toDF(idCol, textCol, "n_dropped")
  }

  /** MinHash signature of the shingle set: k permutations of the universal
    * family h_i(x) = (a_i·x + b_i) mod p over xxhash64(shingle).
    * p = 2³¹−1 keeps every product below 2^62 — exact long arithmetic
    * even under ANSI mode (no silent wrap, no overflow error).
    * Deterministic (fixed seed), one aggregate pass — the k mins are
    * computed as k partial-aggregating min() columns, so the shuffle
    * carries k longs per doc.
    */
  val MinhashPrime: Long = (1L << 31) - 1

  def hashFamily(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((rnd.nextLong(MinhashPrime - 1) + 1, rnd.nextLong(MinhashPrime)))
  }

  /** 64-bit token hash for the JVM kernels (two murmur32 halves) —
    * deterministic, engine-internal (nothing downstream depends on which
    * hash family this is).
    */
  private[graft] def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x85ebca6b)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Bit-identical twin of the `xxhash64` SQL function (seed 42) for
    * the JVM kernels, so a kernel-built hash array interoperates with
    * declaratively-built ones ([[jaccardPairsBlocked]],
    * [[jaccardSorted]]) value-for-value.
    */
  private[graft] def xxhash64String(s: String): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  /** Cluster key of a sorted token-hash set: each hash is folded
    * through XXH64 with the running key as its seed. A linear fold
    * (`k * 31 + h`) maps distinct sets to one key — `[1, 2]` and
    * `[0, 33]` both give `seed * 961 + 33` — and would merge their
    * clusters into false J = 1 pairs.
    */
  private[graft] def tokenSetKey(sortedHashes: Array[Long]): Long = {
    var k = 1125899906842597L
    var j = 0
    while (j < sortedHashes.length) {
      k = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(sortedHashes(j), k)
      j += 1
    }
    k
  }

  private[graft] def shingleStrings(text: String, n: Int): Array[String] = {
    val w = text.toLowerCase.trim.split("\\s+")
    if (w.length < n) Array(w.mkString(" "))
    else Array.tabulate(w.length - n + 1)(i => w.slice(i, i + n).mkString(" ")).distinct
  }

  /** (id, signature array<long>) per document — computed SHUFFLE-FREE in
    * a per-partition JVM kernel. Spark's higher-order array functions
    * (transform/aggregate) evaluate their lambdas interpreted, so k=64
    * permutations × ~100 shingles/doc through HOFs costs more than the
    * whole shuffle it saves; a tight loop does the same 10⁷ multiplies in
    * milliseconds. The DataFrame boundary (id, signature) is unchanged —
    * banding/verification stay declarative.
    */
  def minhashSignatures(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, shingleSize: Int = 3): DataFrame = {
    requireLongCastableId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    val fam = hashFamily(numHashes).toArray
    val p = MinhashPrime
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val hs = shingleStrings(text, shingleSize)
            .map(s => java.lang.Math.floorMod(hash64(s), p))
          val sig = new Array[Long](fam.length)
          var i = 0
          while (i < fam.length) {
            val (a, b) = fam(i)
            var best = Long.MaxValue
            var j = 0
            while (j < hs.length) {
              val v = (hs(j) * a + b) % p
              if (v < best) best = v
              j += 1
            }
            sig(i) = best
            i += 1
          }
          (id, sig)
        }
      }
      .toDF(idCol, "signature")
  }

  /** (id, sorted 64-bit shingle-hash set, minhash signature) per doc —
    * the per-document row a bipartite or STREAMING near-dup check
    * indexes ([[graft.streaming.StreamingDedup]]): `hs` feeds the exact
    * verify (sorted_intersect_count), `signature` feeds the banding
    * join. Same kernel economics as [[minhashSignatures]]; mod-p only
    * inside the permutation loop, full-width hashes for verify.
    */
  def signedSets(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, shingleSize: Int = 3): DataFrame = {
    requireLongCastableId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    val fam = hashFamily(numHashes).toArray
    val p = MinhashPrime
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val hs = shingleStrings(text, shingleSize).map(hash64)
          java.util.Arrays.sort(hs)
          val hm = new Array[Long](hs.length)
          var i = 0
          while (i < hs.length) {
            hm(i) = java.lang.Math.floorMod(hs(i), p); i += 1
          }
          val sig = new Array[Long](fam.length)
          var f = 0
          while (f < fam.length) {
            val (a, b) = fam(f)
            var best = Long.MaxValue
            var j = 0
            while (j < hm.length) {
              val v = (hm(j) * a + b) % p
              if (v < best) best = v
              j += 1
            }
            sig(f) = best
            f += 1
          }
          (id, hs, sig)
        }
      }
      .toDF(idCol, "hs", "signature")
  }

  /** LSH banding: signature → b bands of r rows; docs sharing any band
    * bucket are candidates. Returns distinct candidate (idA < idB) pairs.
    * The only shuffles are the band groupBy and the final distinct —
    * no all-pairs join ever happens.
    *
    * `saltFactor` > 1 spreads HOT band buckets over that many reducers
    * LOSSLESSLY (skew guard for boilerplate-heavy corpora at 100×):
    * buckets with ≥ `hotBucketThreshold` members (found by a cheap
    * pre-aggregation, broadcast back) get two-sided salting — the left
    * side a deterministic salt from its id, the right side replicated
    * to every salt — so every qualifying pair still meets exactly once
    * while no single shuffle partition receives a whole hot bucket.
    * Cold buckets (the long tail) are NOT replicated: total shuffle
    * inflation is saltFactor × (hot rows only), not × the corpus.
    */
  def minhashCandidates(
      signatures: DataFrame, idCol: String,
      bands: Int, rows: Int, saltFactor: Int = 1,
      hotBucketThreshold: Int = 100000): DataFrame = {
    val banded = signatures.select(
      col(idCol),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          hash(slice(col("signature"), b * rows + 1, rows)).as("bucket"))): _*))
        .as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
    val (a, b, saltCond) =
      if (saltFactor <= 1) (banded.as("a"), banded.as("b"), lit(true))
      else {
        val hot = broadcast(
          banded.groupBy(col("band"), col("bucket"))
            .agg(count(lit(1)).as("c"))
            .filter(col("c") >= hotBucketThreshold)
            .select(col("band"), col("bucket"), lit(true).as("_hot")))
        val marked = banded.join(hot, Seq("band", "bucket"), "left")
          .withColumn("_hot", coalesce(col("_hot"), lit(false)))
        (
          marked.withColumn("salt",
            when(col("_hot"), pmod(xxhash64(col(idCol)), lit(saltFactor)))
              .otherwise(0L)).as("a"),
          marked.withColumn("salt",
            explode(when(col("_hot"),
                sequence(lit(0L), lit(saltFactor - 1L)))
              .otherwise(array(lit(0L))))).as("b"),
          col("a.salt") === col("b.salt"))
      }
    a.join(b,
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") && saltCond &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Declarative Jaccard over PRE-SORTED hash arrays via the native
    * [[graft.expressions.SortedIntersectCount]] expression (merge walk,
    * codegen'd, allocation-free) — the Column-context form of the merge
    * kernels inside [[ngramJaccardPairs]]/[[minhashNearDups]], same
    * values. Use when the verify must stay declarative (e.g. inside a
    * larger Catalyst plan) instead of a mapPartitions kernel.
    */
  def jaccardSorted(
      spark: org.apache.spark.sql.SparkSession,
      a: Column, b: Column): Column = {
    graft.expressions.GraftFunctions.register(spark)
    val c = call_function("sorted_intersect_count", a, b)
    c.cast("double") / (size(a) + size(b) - c)
  }

  /** Absolute-overlap verify: keep candidate pairs whose SORTED hash
    * sets share at least `minOverlap` elements, with the count beside
    * each surviving pair — the threshold form of the verify stage
    * (decontamination "≥ k shared shingles", citation overlap, common-
    * token confirmation) where jaccard's ratio is the wrong contract
    * because a long document must not dilute a verbatim 50-token leak.
    *
    * Runs through [[graft.expressions.SortedIntersectCount]] under the
    * [[graft.expressions.IntersectPrefilterRule]] optimizer rule: the
    * plan's Filter gains derived `size(set) >= minOverlap` conjuncts
    * that short-circuit the O(|a|+|b|) merge walk for every pair one
    * short side already disqualifies. Sets are md5-h28 element hashes
    * (the portable contract — any SQL engine replays them), sorted
    * distinct, so the exchange carries longs.
    */
  def verifyOverlapCount(
      candidates: DataFrame, docs: DataFrame,
      elemsCol: Column, idCol: String, minOverlap: Int): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val spark = docs.sparkSession
    graft.expressions.GraftFunctions.register(spark)
    graft.expressions.IntersectPrefilter.install(spark)
    val hashed = array_sort(array_distinct(transform(elemsCol,
      w => conv(substring(md5(w), 1, 7), 16, 10).cast("long"))))
    val sets = docs.select(col(idCol).as("vid"), hashed.as("hset"))
    candidates
      .join(sets.withColumnRenamed("vid", "id_a")
        .withColumnRenamed("hset", "set_a"), "id_a")
      .join(sets.withColumnRenamed("vid", "id_b")
        .withColumnRenamed("hset", "set_b"), "id_b")
      .filter(call_function("sorted_intersect_count",
        col("set_a"), col("set_b")) >= minOverlap)
      .select(col("id_a"), col("id_b"),
        call_function("sorted_intersect_count",
          col("set_a"), col("set_b")).cast("long").as("overlap"))
  }

  /** Exact set-Jaccard for candidate pairs (the verify stage after LSH
    * pruning), on the SAME element set the signatures hashed — `setCol`
    * is any array expression over `docs` (word set, shingle set, ...).
    */
  def verifyJaccard(
      candidates: DataFrame, docs: DataFrame,
      setCol: Column, idCol: String): DataFrame = {
    val sets = docs.select(col(idCol).as("vid"),
      array_distinct(setCol).as("wset"))
    candidates
      .join(sets.withColumnRenamed("vid", "id_a").withColumnRenamed("wset", "set_a"), "id_a")
      .join(sets.withColumnRenamed("vid", "id_b").withColumnRenamed("wset", "set_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b")))).as("jaccard"))
  }

  /** MinHash+LSH near-dup end to end: candidates → exact-verify → filter.
    * False negatives bounded by the (bands, rows) S-curve; defaults catch
    * >99% of pairs at jaccard ≥ 0.8.
    */
  def minhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      saltFactor: Int = 1, hotBucketThreshold: Int = 100000): DataFrame = {
    requireLongCastableId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    val fam = hashFamily(numHashes).toArray
    val p = MinhashPrime
    // phase 1 — cheap per-doc kernel: sorted FULL-WIDTH shingle-hash set
    // (the verify input; 64-bit so the exact-verify jaccard never shifts
    // from mod-p collisions) + content cluster key (identical-set
    // clustering, same rationale as [[ngramJaccardPairs]])
    val pre = df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val hs = shingleStrings(text, shingleSize).map(hash64)
          java.util.Arrays.sort(hs)
          var ck = 1125899906842597L // deterministic fold over the set
          var i = 0
          while (i < hs.length) { ck = ck * 31 + hs(i); i += 1 }
          (id, ck, hs)
        }
      }
      .toDF("id", "ckey", "hs")
    // phase 2 — the k-permutation signature kernel runs ONCE PER
    // DISTINCT SET, not per doc: on duplicated corpora this is where
    // the clustering pays (the perm loop dominates the per-doc cost).
    // Only HERE do hashes reduce mod p (keeps a·h+b below 2^62).
    val clusters = pre.groupBy(col("ckey")).agg(
        first(col("hs")).as("hs"), collect_list(col("id")).as("ids"))
      .as[(Long, Array[Long], Seq[Long])]
      .mapPartitions { it =>
        it.map { case (ck, hs, ids) =>
          val hm = new Array[Long](hs.length)
          var i = 0
          while (i < hs.length) {
            hm(i) = java.lang.Math.floorMod(hs(i), p); i += 1
          }
          val sig = new Array[Long](fam.length)
          var f = 0
          while (f < fam.length) {
            val (a, b) = fam(f)
            var best = Long.MaxValue
            var j = 0
            while (j < hm.length) {
              val v = (hm(j) * a + b) % p
              if (v < best) best = v
              j += 1
            }
            sig(f) = best
            f += 1
          }
          (ck, hs, ids, sig)
        }
      }
      .toDF("ckey", "hs", "ids", "signature")
    // banding + salting run at distinct-set scale, keyed by ckey
    val cands = minhashCandidates(
      clusters.select(col("ckey"), col("signature")), "ckey",
      bands, numHashes / bands, saltFactor, hotBucketThreshold)
    val repPairs = cands
      .join(clusters.select(col("ckey").as("id_a"), col("hs").as("ha")), "id_a")
      .join(clusters.select(col("ckey").as("id_b"), col("hs").as("hb")), "id_b")
      .select(col("id_a"), col("id_b"), col("ha"), col("hb"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions { it =>
        it.map { case (ka, kb, ha, hb) =>
          var a = 0; var b = 0; var c = 0
          while (a < ha.length && b < hb.length) {
            if (ha(a) == hb(b)) { c += 1; a += 1; b += 1 }
            else if (ha(a) < hb(b)) a += 1
            else b += 1
          }
          (ka, kb, c.toDouble / (ha.length + hb.length - c))
        }
      }
      .toDF("ckey_a", "ckey_b", "jaccard")
      .filter(col("jaccard") >= threshold)
    expandClusterPairs(clusters.select(col("ckey"), col("ids")),
      repPairs, "jaccard", lit(1.0))
  }

  /** Exact word-set Jaccard pairs via PREFIX FILTERING (the AllPairs /
    * PPJoin scheme) — the scale path for exact set-similarity joins.
    *
    * Principle: order tokens by a single global total order (here:
    * document frequency ascending, rarest first). If J(A,B) ≥ t then
    * |A∩B| ≥ t·max(|A|,|B|), so A and B MUST share a token within their
    * first |x| − ⌈t·|x|⌉ + 1 tokens under that order. Joining only those
    * prefix tokens (≈ 5% of tokens at t = 0.95, and the RAREST 5%, so
    * per-token groups are tiny) replaces the quadratic
    * shared-vocabulary token join with a sparse candidate join; the
    * survivors get one exact intersect verify. Exact — identical result
    * set to the naive join at any threshold.
    *
    * Shuffles: token df groupBy, per-doc rank window, candidate join,
    * verify join — all key-partitioned, nothing driver-side, nothing
    * O(n²).
    */
  /** Shared cluster-expansion machinery for the identical-key dedup
    * optimizations ([[ngramJaccardPairs]], [[simhashNearDups]]).
    *
    * `clusters` = (ckey, ids) where ckey deterministically identifies one
    * group of identical-content docs; `repPairs` = (ckey_a, ckey_b,
    * score) with ckey_a < ckey_b, scored once per cluster pair;
    * `withinScore` = the exact score of an identical pair. Emits every
    * member pair exactly once: cross-cluster products inherit the
    * representative score, within-cluster pairs get `withinScore`, and
    * same-id pairs (possible only when one id appears with different
    * content) are dropped — mirroring the direct joins' `a.id < b.id`.
    *
    * Scale bound: a cluster of K duplicates has K²/2 output pairs. The
    * REPARTITION between the two explodes spreads them: after the first
    * explode a mega-cluster is K rows (one per left member, each
    * carrying the other side's id list), which hash across the shuffle
    * so every task emits only K of the K² pairs. Without it the single
    * task holding the cluster row would serialize the whole emission.
    */
  private[operators] def expandClusterPairs(
      clusters: DataFrame, repPairs: DataFrame,
      scoreCol: String, withinScore: Column): DataFrame = {
    val cross = repPairs
      .join(clusters.select(col("ckey").as("ckey_a"), col("ids").as("ids_a")), "ckey_a")
      .join(clusters.select(col("ckey").as("ckey_b"), col("ids").as("ids_b")), "ckey_b")
      .select(col(scoreCol), explode(col("ids_a")).as("ma"), col("ids_b"))
      .repartition(col("ma"))
      .select(col(scoreCol), col("ma"), explode(col("ids_b")).as("mb"))
      .filter(col("ma") =!= col("mb"))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col(scoreCol))
    val within = clusters.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .repartition(col("id_a"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), withinScore.as(scoreCol))
    cross.unionByName(within)
  }

  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireLongCastableId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    // sorted 64-bit token hashes: the verify kernel merge-intersects
    // these (bit-identical to [[jaccardPairsBlocked]]'s xxhash64 arrays
    // via [[xxhash64String]], so both variants agree value-for-value).
    // A per-partition JVM kernel replaces the earlier declarative
    // transform/array_sort/concat_ws chain: Spark evaluates HOF lambdas
    // interpreted, and that chain was one ~1.0 s single-task job at
    // sf0.1 (the whole gate was 2.3 s) — the tight loop does the same
    // hashing in ~50 ms and needs no pre-aggregate materialize barrier
    // (the kernel output feeds exactly one consumer, the cluster
    // aggregate, so nothing re-evaluates).
    val keyed = df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = text.toLowerCase.trim.split("\\s+").distinct
          val hs = new Array[Long](toks.length)
          var i = 0
          while (i < toks.length) { hs(i) = xxhash64String(toks(i)); i += 1 }
          java.util.Arrays.sort(hs)
          // deterministic cluster identity from the content itself — NOT
          // a member id, which is ambiguous when one id appears with two
          // texts (internal key: never leaves the query)
          (id, tokenSetKey(hs), hs)
        }
      }
      .toDF("id", "ckey", "hs")
    // CLUSTER identical token sets first: on templated / duplicated
    // corpora, distinct sets grow far slower than docs (sf0.1: 3935 of
    // 5000; a 10×-duplicated corpus: unchanged), so the quadratic-ish
    // candidate work runs once per distinct set and within-cluster pairs
    // (J = 1 exactly) and cross-cluster member products are cheap,
    // output-bounded joins. `first(hs)` is an arbitrary member, but all
    // downstream quantities depend only on the token SET, which every
    // member shares — so the plan stays deterministic.
    val clusters = keyed.groupBy(col("ckey")).agg(
      first(col("hs")).as("hs"),
      collect_list(col("id")).as("ids"))
      .materialized
    // prefix tokens are the 8-byte hashes, not strings — smaller join
    // shuffles, same identity (the kernels already accept the 2⁻⁶⁴
    // hash-collision rate)
    val tok = clusters.select(col("ckey"),
      size(col("hs")).as("n"), explode(col("hs")).as("w"))
    val dfreq = tok.groupBy("w").agg(count(lit(1)).as("df"))
    // prefix rows carry their cluster's full hash set, so candidates
    // pipeline from the join straight into the verify kernel with NO
    // join-back — the candidate stream (orders of magnitude larger than
    // the prefix table on templated corpora) never hits a shuffle
    val prefix = tok.join(dfreq, "w")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("ckey")).orderBy(col("df"), col("w"))))
      .filter(col("rk") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("ckey"), col("n"), col("w"))
      .join(clusters.select(col("ckey"), col("hs")), "ckey")
    // The candidate join + verify stage is CPU-bound on KB-scale rows
    // (every surviving candidate merge-walks two sorted hash arrays), so
    // AQE's byte-based coalescing folds it into one task and the gate
    // stops scaling with cores (measured: a 1.2 s single-task stage at
    // sf0.1/local[32]). Pin the join's partitioning explicitly —
    // repartition WITH a partition count is exempt from AQE coalescing —
    // sized scale-adaptively from the session (max of the configured
    // shuffle width and the executor slot count, never a constant), and
    // shared by both join sides (same child plan → one Exchange, reused).
    val pWidth = math.max(
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt,
      spark.sparkContext.defaultParallelism)
    val pPrefix = prefix.repartition(pWidth, col("w"))
    // size-compatibility prune inside the candidate join:
    // J ≥ t ⇒ t·|B| ≤ |A| ≤ |B|/t; pair identity = cluster keys
    val cands = pPrefix.as("a").join(pPrefix.as("b"),
        col("a.w") === col("b.w") && col("a.ckey") < col("b.ckey") &&
          col("a.n") * threshold <= col("b.n") &&
          col("b.n") * threshold <= col("a.n"))
      .select(col("a.ckey").as("ka"), col("a.hs").as("ha"),
        col("b.ckey").as("kb"), col("b.hs").as("hb"))
      .as[(Long, Array[Long], Long, Array[Long])]
    val repPairs = cands.mapPartitions { it =>
      it.flatMap { case (ka, ha, kb, hb) =>
        var a = 0; var b = 0; var c = 0
        while (a < ha.length && b < hb.length) {
          if (ha(a) == hb(b)) { c += 1; a += 1; b += 1 }
          else if (ha(a) < hb(b)) a += 1
          else b += 1
        }
        val j = c.toDouble / (ha.length + hb.length - c)
        if (j >= threshold) Some((ka, kb, j)) else None
      }
    }.toDF("ckey_a", "ckey_b", "jaccard").distinct()
    expandClusterPairs(clusters.select(col("ckey"), col("ids")),
      repPairs, "jaccard", lit(1.0))
  }

  /** Directed CONTAINMENT pairs over n-gram shingle sets: (src, dst,
    * containment) whenever |S(src) ∩ S(dst)| / |S(src)| ≥ threshold —
    * the asymmetric near-dup relation Jaccard misses (a doc pasted
    * inside a larger one scores J ≈ |A|/|B| but containment 1.0; quote
    * farms and template expansions are subset duplicates, not
    * symmetric ones).
    *
    * Same at-scale skeleton as [[ngramJaccardPairs]]: identical shingle
    * sets cluster first (candidates generated once per distinct set);
    * the CONTAINED side carries a rarest-first prefix of
    * |A| − ⌈t·|A|⌉ + 1 shingles (if containment ≥ t, fewer than the
    * prefix's size of A's shingles can be missing from B, so B shares
    * ≥ 1 prefix shingle); the CONTAINING side indexes ALL its shingles
    * (containment puts no lower bound on what fraction of B is shared —
    * only |B| ≥ t·|A| survives as a size prune). Verify is the same
    * merge-intersect kernel over sorted 64-bit shingle hashes,
    * candidates pipelining straight from the join with no join-back.
    */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireLongCastableId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    val sets = df.select(col(idCol).cast("long").as("id"),
      array_distinct(shingles(textCol, shingleN)).as("ws"))
    // materialize the per-doc projection BEFORE the cluster aggregate:
    // the shingle/hash/sort chain is interpreted HOF lambdas, and a
    // partial aggregate over the lazy plan re-evaluates it per row per
    // aggregate expression (measured 4.4 s vs 0.25 s from materialized
    // input at sf0.1); the checkpointed cluster frame then feeds its
    // five consumers (token explode, prefix join, two hash-set
    // re-attachments, member expansion) without recompute
    val keyed = sets
      .withColumn("hs", array_sort(transform(col("ws"), w => xxhash64(w))))
      .withColumn("ckey", xxhash64(
        concat_ws(",", transform(col("hs"), h => h.cast("string")))))
      .materialized
    val clusters = keyed.groupBy(col("ckey")).agg(
      first(col("ws")).as("ws"), first(col("hs")).as("hs"),
      collect_list(col("id")).as("ids"))
      .materialized
    // token rows carry the 8-byte shingle HASH, not the string — the
    // candidate join's shuffle volume drops by the mean shingle width
    // (hash identity ≡ shingle identity up to the 2⁻⁶⁴ collisions the
    // verify kernel already accepts)
    val tok = clusters.select(col("ckey"),
      size(col("hs")).as("n"), explode(col("hs")).as("w"))
    val dfreq = tok.groupBy("w").agg(count(lit(1)).as("df"))
    // contained-side prefix (rarest shingles first)
    val prefix = tok.join(dfreq, "w")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("ckey")).orderBy(col("df"), col("w"))))
      .filter(col("rk") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("ckey"), col("n"), col("w"))
    // Unlike the Jaccard path (prefix ⋈ prefix), the containing side
    // indexes ALL its shingles — an array-carrying token join here
    // would shuffle every cluster's hash set once PER SHINGLE. So the
    // candidate join runs on KEYS only, collapses to distinct pairs,
    // then re-attaches the two hash sets from the cluster frame: each
    // cluster's array now moves once per equi-join, not once per
    // shingle occurrence (hash joins on ka/kb; Catalyst broadcasts the
    // cluster side when it fits).
    val index = tok.select(col("ckey"), col("n"), col("w"))
    val cands = prefix.as("a").join(index.as("b"),
        col("a.w") === col("b.w") && col("a.ckey") =!= col("b.ckey") &&
          col("b.n") >= col("a.n") * threshold)
      .select(col("a.ckey").as("ka"), col("b.ckey").as("kb"))
      .distinct()
      .join(clusters.select(col("ckey").as("ka"), col("hs").as("ha")), "ka")
      .join(clusters.select(col("ckey").as("kb"), col("hs").as("hb")), "kb")
      .select(col("ka"), col("ha"), col("kb"), col("hb"))
      .as[(Long, Array[Long], Long, Array[Long])]
    val repPairs = cands.mapPartitions { it =>
      it.flatMap { case (ka, ha, kb, hb) =>
        var a = 0; var b = 0; var c = 0
        while (a < ha.length && b < hb.length) {
          if (ha(a) == hb(b)) { c += 1; a += 1; b += 1 }
          else if (ha(a) < hb(b)) a += 1
          else b += 1
        }
        val cont = c.toDouble / ha.length
        if (cont >= threshold) Some((ka, kb, cont)) else None
      }
    }.toDF("ckey_a", "ckey_b", "containment").distinct()
    // directed expansion: cluster A members are sources, B members
    // destinations; within a cluster every ordered pair is a mutual
    // full containment
    val cross = repPairs
      .join(clusters.select(col("ckey").as("ckey_a"), col("ids").as("ids_a")), "ckey_a")
      .join(clusters.select(col("ckey").as("ckey_b"), col("ids").as("ids_b")), "ckey_b")
      .select(col("containment"), explode(col("ids_a")).as("src"), col("ids_b"))
      .repartition(col("src"))
      .select(col("containment"), col("src"), explode(col("ids_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("containment"))
    val within = clusters.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("src"), col("ids"))
      .repartition(col("src"))
      .select(col("src"), explode(col("ids")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), lit(1.0).as("containment"))
    cross.unionByName(within)
      .select(col("src"), col("dst"),
        round(col("containment"), 6).as("containment"))
  }

  /** Block-broadcast exact Jaccard pairs: word sets become broadcast
    * sorted-hash arrays; each partition merge-intersects its docs against
    * the block in a tight loop. Same results as [[ngramJaccardPairs]]
    * (exact, same rounding) but no 10⁸-row token join — the right shape
    * when the vocabulary is small or thresholds are low. At 100 TB the
    * broadcast block becomes a tile loop; the kernel is unchanged.
    */
  def jaccardPairsBlocked(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double): DataFrame = {
    requireLongCastableId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    val sets = df.select(col(idCol).cast("long").as("id"),
        array_sort(transform(array_distinct(words(textCol)), w => xxhash64(w))).as("hs"))
      .as[(Long, Array[Long])]
    val corpus = sets.collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(corpus)
    sets.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (id, hs) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var j = 0
        while (j < all.length) {
          val (oid, os) = all(j)
          // size-compatibility prune: J ≥ t ⇒ t·|B| ≤ |A| ≤ |B|/t
          if (oid > id &&
              hs.length * threshold <= os.length &&
              os.length * threshold <= hs.length) {
            var a = 0; var b = 0; var c = 0
            while (a < hs.length && b < os.length) {
              if (hs(a) == os(b)) { c += 1; a += 1; b += 1 }
              else if (hs(a) < os(b)) a += 1
              else b += 1
            }
            val jac = c.toDouble / (hs.length + os.length - c)
            if (jac >= threshold) {
              val r = BigDecimal(jac)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              out += ((id, oid, r))
            }
          }
          j += 1
        }
        out
      }
    }.toDF("id_a", "id_b", "jaccard")
  }

  /** SimHash: 64-bit signature where bit j is the sign of the sum over
    * tokens of ±1 (bit j of xxhash64(token)). Near-dups = signatures
    * within `maxHammingDistance`, found by banding the 64 bits into
    * (maxHammingDistance+1) chunks — pigeonhole guarantees any pair
    * within the distance shares at least one exact chunk.
    */
  def simhash(textCol: String): Column = {
    val tokenHashes = transform(array_distinct(words(textCol)), w => xxhash64(w))
    // one expression per bit (j is a compile-time Int — shiftright needs
    // it); 64 codegen'd array-aggregates, no shuffle, no UDF
    (0 until 64).map { j =>
      val bitSum = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc +
          when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash signatures in a JVM kernel (same rationale as
    * [[minhashSignatures]]: HOF lambdas are interpreted; the 64-bit ±1
    * accumulation is a tight loop).
    */
  def simhashSignatures(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    requireLongCastableId(df, idCol)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val tokens = text.toLowerCase.trim.split("\\s+").distinct
          val sums = new Array[Int](64)
          var t = 0
          while (t < tokens.length) {
            val h = hash64(tokens(t))
            var j = 0
            while (j < 64) {
              if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
              j += 1
            }
            t += 1
          }
          var sig = 0L
          var j = 0
          while (j < 64) { if (sums(j) > 0) sig |= (1L << j); j += 1 }
          (id, sig)
        }
      }
      .toDF(idCol, "sig")
  }

  /** Block-broadcast SimHash near-dups: signatures (one long per doc) are
    * broadcast; each partition popcounts its docs against the block.
    * Identical results to [[simhashNearDups]]; 12.5M XOR+popcounts at
    * 5k docs ≈ milliseconds, vs a banding join's candidate explosion on
    * correlated corpora. Banding remains the >10⁷-doc path.
    */
  def simhashNearDupsBlocked(
      df: DataFrame, textCol: String, idCol: String,
      maxHammingDistance: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sigs = simhashSignatures(df, textCol, idCol)
      .select(col(idCol).as("id"), col("sig")).as[(Long, Long)]
    val corpus = sigs.collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(corpus)
    sigs.mapPartitions { it =>
      val all = bc.value
      it.flatMap { case (id, sig) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        var j = 0
        while (j < all.length) {
          val (oid, osig) = all(j)
          if (oid > id) {
            val d = java.lang.Long.bitCount(sig ^ osig)
            if (d <= maxHammingDistance) out += ((id, oid, d))
          }
          j += 1
        }
        out
      }
    }.toDF("id_a", "id_b", "hamming")
  }

  /** SimHash near-dup pairs via chunk banding + hamming verify — the
    * shuffle-based path for corpora too large to broadcast signatures.
    *
    * Identical SIGNATURES are clustered first (same rationale as
    * [[ngramJaccardPairs]]'s set clustering): the banding self-join runs
    * once per distinct signature, within-cluster pairs expand as
    * hamming = 0 products, cross-cluster pairs inherit their
    * representatives' distance — on duplicated corpora the join cost
    * stays at distinct-signature scale while the output stays exact.
    */
  def simhashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      maxHammingDistance: Int = 3): DataFrame = {
    val chunks = maxHammingDistance + 1
    val bits = 64 / chunks
    val sigs = simhashSignatures(df, textCol, idCol)
      .select(col(idCol).as("id"), col("sig"))
    // the signature itself is the cluster key — deterministic and unique
    // per cluster even when one id appears with different texts
    val clusters = sigs.groupBy(col("sig").as("ckey"))
      .agg(collect_list(col("id")).as("ids"))
    val banded = clusters.select(col("ckey"),
      explode(array((0 until chunks).map(cI =>
        struct(lit(cI).as("chunk"),
          shiftright(col("ckey"), cI * bits)
            .bitwiseAND((1L << bits) - 1).as("key"))): _*)).as("ck"))
      .select(col("ckey"), col("ck.chunk"), col("ck.key"))
    val repPairs = banded.as("a").join(banded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.ckey") < col("b.ckey"))
      .select(col("a.ckey").as("ckey_a"), col("b.ckey").as("ckey_b"),
        hammingDistance(col("a.ckey"), col("b.ckey")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHammingDistance)
    expandClusterPairs(clusters, repPairs, "hamming", lit(0))
  }

  /** Dedup threshold sweep: given an exact similarity pair list (e.g.
    * [[ngramJaccardPairs]] at the LOWEST threshold of interest —
    * computed ONCE), the per-threshold dedup impact curve: pair count
    * and touched-document count at each candidate threshold. This is
    * how a pipeline PICKS its near-dup threshold — sweep the curve,
    * find the knee — without re-running the pair join per setting.
    *
    * Thresholds are double literals on both engines (identical binary
    * values, so boundary comparisons agree bit-for-bit); thresholds
    * with zero surviving pairs still appear with zero counts. Cost:
    * the pair list explodes |thresholds|× — pairs-scale, not
    * corpus-scale.
    */
  def thresholdSweep(
      pairs: DataFrame, jacCol: String, idACol: String, idBCol: String,
      thresholds: Seq[Double]): DataFrame = {
    val base = pairs.sparkSession.range(1)
      .select(explode(array(thresholds.map(lit): _*)).as("t"))
    val survived = pairs
      .select(col(jacCol).as("_j"), col(idACol).as("_a"),
        col(idBCol).as("_b"))
      .withColumn("t", explode(array(thresholds.map(lit): _*)))
      .filter(col("_j") >= col("t"))
    val nPairs = survived.groupBy("t")
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = survived
      .select(col("t"), explode(array(col("_a"), col("_b"))).as("_d"))
      .groupBy("t")
      .agg(countDistinct(col("_d")).as("n_docs"))
    base.join(nPairs, Seq("t"), "left_outer")
      .join(nDocs, Seq("t"), "left_outer")
      .select(col("t"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Cross-source overlap matrix — the provenance-governance report a
    * multi-source corpus needs before mixing: per unordered source
    * pair, how many near-dup pairs straddle it (including the diagonal
    * — within-source redundancy). Decides which source to drop or
    * down-weight when two crawls substantially duplicate each other.
    *
    * Runs off an EXISTING pair list (the checkpointed dedup output).
    * The labels frame is corpus-scale at 100 TB, so the PAIR side is
    * what broadcasts — each resolution step streams the labels scan
    * past a broadcast of the (pairs-scale) unresolved frame, then the
    * matrix aggregate is |sources|²-bounded. Nothing re-touches
    * document text, and the labels never shuffle. (If the pair list
    * itself is fact-scale, dedup first — a pair list that size IS the
    * problem this report exists to surface.)
    */
  def sourceOverlapMatrix(
      pairs: DataFrame, labels: DataFrame,
      idACol: String, idBCol: String,
      idCol: String, srcCol: String): DataFrame = {
    val withA = labels
      .select(col(idCol).as(idACol), col(srcCol).as("_src_a"))
      .join(broadcast(pairs.select(col(idACol), col(idBCol))), Seq(idACol))
    val withB = labels
      .select(col(idCol).as(idBCol), col(srcCol).as("_src_b"))
      .join(broadcast(withA), Seq(idBCol))
    withB
      .select(least(col("_src_a"), col("_src_b")).as("source_a"),
        greatest(col("_src_a"), col("_src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Leakage-free train/test assignment — split at NEAR-DUP CLUSTER
    * granularity, not row granularity: a near-dup of a test document
    * sitting in train is contamination that row-level splitting
    * cannot prevent. Every document takes its connected component's
    * min-id as cluster id (singletons are their own cluster) and the
    * whole cluster lands in one md5-assigned bucket, so no pair ever
    * straddles the split.
    *
    * Cost on top of an existing component labelling: one left join of
    * the component frame (near-dup-scale) onto the corpus ids + a
    * scan-local md5 bucket — the split adds nothing corpus-quadratic.
    */
  def leakageFreeSplit(
      docs: DataFrame, components: DataFrame, idCol: String,
      nodeCol: String, componentCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets, got $buckets")
    docs.select(col(idCol))
      .join(components.select(col(nodeCol).as(idCol),
        col(componentCol).as("_comp")), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("_comp"), col(idCol)).as("cluster_id"))
      .withColumn("split_bucket",
        pmod(conv(substring(md5(concat_ws(":",
          col("cluster_id").cast("string"), lit("ls"))), 1, 15), 16, 10)
          .cast("long"), lit(buckets.toLong)))
  }
}
