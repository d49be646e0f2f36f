package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exact dedup keeps min id per identical text") {
    val df = docs(
      (1L, "aa bb cc"), (2L, "aa bb cc"), (5L, "dd ee"), (3L, "aa bb cc"))
    val out = Dedup.exact(df, "text", "doc_id")
      .select("doc_id", "dup_count").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 3L), (5L, 1L)))
  }

  test("exact remap points every duplicate at its group's min id") {
    val df = docs(
      (1L, "aa bb cc"), (2L, "aa bb cc"), (5L, "dd ee"), (3L, "aa bb cc"))
    val remap = Dedup.exactRemap(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(remap == Set((2L, 1L), (3L, 1L))) // survivors and uniques absent
  }

  test("priority remap keeps the highest-priority copy, ties to lower id") {
    val s = spark
    import s.implicits._
    // same normalized word set, different raw lengths — doc 7 is the
    // longest copy so IT survives; docs 5 and 9 tie at quality 2 in
    // another group, lower id 5 survives
    val df = Seq(
      (1L, "aa bb", 5L), (7L, "bb  aa", 6L), (4L, "aa  bb", 5L),
      (5L, "cc dd", 2L), (9L, "dd cc", 2L))
      .toDF("doc_id", "text", "quality")
    val remap = Dedup.remapByKeyPriority(df,
        Dedup.normalizedSetKey("text"), "doc_id",
        org.apache.spark.sql.functions.col("quality"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(remap == Set((1L, 7L), (4L, 7L), (9L, 5L)))
  }

  test("priority remap equals min-id remap when priority is constant") {
    val docs001 = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val a = Dedup.remapByKey(docs001,
        Dedup.normalizedSetKey("text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.remapByKeyPriority(docs001,
        Dedup.normalizedSetKey("text"), "doc_id",
        org.apache.spark.sql.functions.lit(0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("shared spans: verbatim window pairs, boilerplate guard") {
    // docs 1,2 share the verbatim window "p q r s t"; doc 3 has the
    // same words shuffled (no shared 5-window); "x x x x x" appears in
    // ALL four docs — with maxSpanDf=3 it is dropped as boilerplate
    val df = docs(
      (1L, "p q r s t x x x x x"),
      (2L, "a p q r s t b x x x x x"),
      (3L, "t s r q p x x x x x"),
      (4L, "u v w y z x x x x x"))
    val out = Dedup.sharedSpanPairs(df, "text", "doc_id",
        spanTokens = 5, minSpans = 1, maxSpanDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc2's windows: "a p q r s","p q r s t","q r s t b","r s t b x",
    // "s t b x x","t b x x x","b x x x x","x x x x x" — only
    // "p q r s t" is shared with doc 1 (the x-run is df=4 > 3)
    assert(out.toSet == Set((1L, 2L, 1L)))
    // raising the guard lets the boilerplate through: every pair shares
    // the x-run
    val loose = Dedup.sharedSpanPairs(df, "text", "doc_id",
        spanTokens = 5, minSpans = 1, maxSpanDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
  }

  test("shingles: n-gram windows, distinct, short-text fallback") {
    val df = docs((1L, "a b c d"), (2L, "x y"))
    val sh = df.select(col("doc_id"), Dedup.shingles("text", 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(sh(1L) == Set("a b c", "b c d"))
    assert(sh(2L) == Set("x y")) // shorter than n → whole text
  }

  test("minhash signatures: identical texts get identical signatures") {
    val df = docs((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"),
      (3L, "completely different words here now"))
    val sigs = Dedup.minhashSignatures(df, "text", "doc_id", 16, 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).size == 16)
  }

  test("minhash LSH recall: finds every brute-force pair at sf0.001") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lsh = Dedup.minhashNearDups(d, "text", "doc_id",
        threshold = 0.5, numHashes = 64, bands = 32)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs on the same shingle sets
    val sets = d.select(col("doc_id"),
      array_distinct(Dedup.shingles("text", 3)).as("s"))
    val brute = sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
          size(array_union(col("a.s"), col("b.s")))).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "test corpus should contain near-dups")
    assert(lsh == brute) // b=32,r=2 S-curve ⇒ ~100% recall at j≥0.5
  }

  test("blocked jaccard matches the expression-join variant exactly") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def norm(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val joinVariant = norm(
      Dedup.ngramJaccardPairs(d, "text", "doc_id", 0.9)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6)))
    val blocked = norm(Dedup.jaccardPairsBlocked(d, "text", "doc_id", 0.9))
    assert(joinVariant == blocked)
    assert(blocked.nonEmpty)
  }

  test("simhash: identical → distance 0; near-identical → small distance") {
    val df = docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (4L, "entirely unrelated vocabulary concerning maritime navigation charts"))
    val sigs = df.select(col("doc_id"), Dedup.simhash("text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) == 0)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
  }

  test("simhash banding finds all pairs within max hamming distance") {
    val df = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight"))
    val sigs = Dedup.simhashSignatures(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val within = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 3
    } yield (a, b)).toSet
    val found = Dedup.simhashNearDups(df, "text", "doc_id", 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == within) // pigeonhole banding is exact for ≤ maxDist
  }

  test("cluster expansion survives one id appearing with different texts") {
    // id 7 occurs with two different texts: both its clusters pair with
    // neighbours, no self-pair (7,7) is emitted, and cross pairs between
    // 7's two clusters' partners survive (a min-id representative would
    // collide here and silently drop them)
    val df = docs(
      (7L, "alpha beta gamma delta"),
      (8L, "alpha beta gamma delta epsilon"),
      (7L, "one two three four"),
      (12L, "one two three four five"))
    val pairs = Dedup.ngramJaccardPairs(df, "text", "doc_id", 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((7L, 8L), (7L, 12L)))
    val sims = Dedup.simhashNearDups(df, "text", "doc_id", 32)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sims.contains((7L, 7L)))
    assert(sims.contains((7L, 8L)) && sims.contains((7L, 12L)))
    val mh = Dedup.minhashNearDups(df, "text", "doc_id",
        threshold = 0.3, numHashes = 64, bands = 32, shingleSize = 2)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!mh.contains((7L, 7L)))
    assert(mh.contains((7L, 8L)) && mh.contains((7L, 12L)))
  }

  test("token-set cluster keys separate sets a linear fold merges") {
    // k * 31 + h maps both sorted arrays to seed * 961 + 33
    assert(Dedup.tokenSetKey(Array(1L, 2L)) != Dedup.tokenSetKey(Array(0L, 33L)))
    assert(Dedup.tokenSetKey(Array(1L, 2L)) == Dedup.tokenSetKey(Array(1L, 2L)))
  }

  test("prefix filtering is exact at a low threshold (long prefixes)") {
    // t = 0.5 makes prefixes > half of each token set — exercises the
    // prefix bound far from the high-threshold regime the gate uses
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def norm(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefixed = norm(
      Dedup.ngramJaccardPairs(d, "text", "doc_id", 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6)))
    val blocked = norm(Dedup.jaccardPairsBlocked(d, "text", "doc_id", 0.5))
    assert(prefixed == blocked)
    assert(blocked.size > 100)
  }

  test("salted LSH banding is lossless: saltFactor=4 equals unsalted") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def norm(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = norm(Dedup.minhashNearDups(d, "text", "doc_id",
      threshold = 0.5, numHashes = 64, bands = 32))
    // threshold 2 makes every candidate-producing bucket "hot", so the
    // salted join path is fully exercised; threshold high = cold-only
    for (hotThreshold <- Seq(2, 1000000)) {
      val salted = norm(Dedup.minhashNearDups(d, "text", "doc_id",
        threshold = 0.5, numHashes = 64, bands = 32,
        saltFactor = 4, hotBucketThreshold = hotThreshold))
      assert(salted == plain, s"hotBucketThreshold=$hotThreshold")
    }
    assert(plain.nonEmpty)
  }

  test("blocked simhash pairing matches the banding variant on real data") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def norm(df: DataFrame) = df.select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = norm(Dedup.simhashNearDups(d, "text", "doc_id", 3))
    val blocked = norm(Dedup.simhashNearDupsBlocked(d, "text", "doc_id", 3))
    assert(banded == blocked)
  }

  test("token-block dedup keeps first occurrence, cuts later ones") {
    // k=4 blocks: doc1 = [a b c d][e f g h]; doc2 repeats doc1's first
    // block at block 0 (cut) and has a novel tail; doc3 repeats a block
    // WITHIN itself (second occurrence cut) and duplicates doc2's tail
    val df = docs(
      (1L, "a b c d e f g h"),
      (2L, "a b c d p q r s"),
      (3L, "m n o p m n o p p q r s"))
    val byId = Dedup.dedupTokenBlocks(df, "text", "doc_id", blockTokens = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(byId == Map(
      1L -> (("a b c d e f g h", 0L)),
      2L -> (("p q r s", 1L)),
      3L -> (("m n o p", 2L)))) // self-dup cut AND doc2's tail was first
  }

  test("token-block dedup: fully duplicated doc reassembles to empty") {
    val df = docs((1L, "a b c d"), (2L, "a b c d"))
    val out = Dedup.dedupTokenBlocks(df, "text", "doc_id", blockTokens = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set((1L, "a b c d", 0L), (2L, "", 1L)))
  }

  test("boilerplate removal cuts EVERY occurrence of a corpus-hot block") {
    // "x y z w" appears 3 times (docs 1, 2, 3) -> df=3 >= minDf=3, all
    // three cut (including the FIRST — the contract first-survivor
    // dedup would keep); "a b c d" appears twice -> kept everywhere.
    val df = docs(
      (1L, "x y z w a b c d"),
      (2L, "a b c d x y z w"),
      (3L, "x y z w m n o p"))
    val out = Dedup.removeBoilerplateBlocks(df, "text", "doc_id",
        blockTokens = 4, minDf = 3L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      (1L, "a b c d", 1L),
      (2L, "a b c d", 1L),
      (3L, "m n o p", 1L)))
  }

  test("boilerplate removal counts WITHIN-doc repeats toward the df") {
    // block repeated 3x inside one doc alone reaches minDf=3 (C4 counts
    // occurrences, not distinct docs) and is cut everywhere
    val df = docs((1L, "u v u v u v"), (2L, "u v q r"))
    val out = Dedup.removeBoilerplateBlocks(df, "text", "doc_id",
        blockTokens = 2, minDf = 3L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set((1L, "", 3L), (2L, "q r", 1L)))
  }

  test("token-block dedup matches a string-keyed reference on real data") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fast = Dedup.dedupTokenBlocks(d, "text", "doc_id", blockTokens = 8)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // reference: same semantics computed on raw block STRINGS via a
    // window (no hashing, no kernels)
    import org.apache.spark.sql.expressions.Window
    val s2 = spark
    import s2.implicits._
    val blocks = d.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val w = t.trim.split("\\s+")
        val nb = math.max(1, (w.length + 7) / 8)
        (0 until nb).map(i =>
          (id, i, w.slice(i * 8, math.min((i + 1) * 8, w.length)).mkString(" ")))
      }.toDF("id", "idx", "block")
    val ref = blocks
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("block")).orderBy(col("id"), col("idx"))))
      .filter(col("rn") === 1)
      .groupBy(col("id"))
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("idx"), col("block"))))
        .getField("block")).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // ref drops docs whose every block was cut; fast keeps them as ""
    assert(fast.filter(_._2.nonEmpty) == ref)
    assert(fast.keySet == d.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert((fast.keySet -- ref.keySet).forall(id => fast(id).isEmpty))
  }

  test("non-integral id columns fail fast instead of silently dropping rows") {
    val s2 = spark
    import s2.implicits._
    val strIds = Seq(("a", "aa bb cc"), ("b", "aa bb cc"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(strIds, "text", "doc_id", 0.5)
    }
    assert(e.getMessage.contains("integral"))
    intercept[IllegalArgumentException] {
      Dedup.minhashNearDups(strIds, "text", "doc_id")
    }
    intercept[IllegalArgumentException] {
      Similarity.cosinePairsBlockJoin(
        Seq(("a", Array(1.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", 0.5)
    }
  }

  test("containment is directional: a doc pasted inside a larger one") {
    val s2 = spark
    import s2.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      // doc 1's full text inside a much longer doc
      (2L, "alpha beta gamma delta zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau"),
      (3L, "unrelated words entirely different content here")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 1 ⊂ 2 fully; 2 only fractionally inside 1; 3 nowhere
    assert(got == Set((1L, 2L, 1.0)))
  }

  test("containment pairs match a naive all-pairs computation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val t = 0.7
    val got = Dedup.containmentPairs(docs, "text", "doc_id", t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sets = docs.collect().map { r =>
      val id = r.getAs[Long]("doc_id")
      val sh = Dedup.shingleStrings(r.getAs[String]("text"), 3).toSet
      (id, sh)
    }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      c = (sa intersect sb).size.toDouble / sa.size
      if c >= t
    } yield (a, b, BigDecimal(c).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got == want)
  }

  test("identical shingle sets contain each other both ways") {
    val s2 = spark
    import s2.implicits._
    val docs = Seq(
      (1L, "aa bb cc dd"), (2L, "aa bb cc dd"), (3L, "ee ff gg")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 1L)))
  }

  test("thresholdSweep counts pairs/docs per threshold, zeros included") {
    val s2 = spark
    import s2.implicits._
    // pair (1,2): jaccard 1.0; pair (3,4): 3/5 = 0.6; (5) isolated
    val docs = Seq(
      (1L, "aa bb cc"), (2L, "aa bb cc"),
      (3L, "dd ee ff gg"), (4L, "dd ee ff hh"),
      (5L, "zz yy")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 0.5)
    val sweep = Dedup.thresholdSweep(pairs, "jaccard", "id_a", "id_b",
        Seq(0.5, 0.7, 1.0))
      .orderBy("t").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(sweep.toSeq == Seq(
      (0.5, 2L, 4L),  // both pairs, 4 docs touched
      (0.7, 1L, 2L),  // only the exact pair
      (1.0, 1L, 2L)))
  }

  test("source overlap matrix folds pairs into unordered source cells") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L))
      .toDF("id_a", "id_b")
    val labels = Seq((1L, "crawl_a"), (2L, "crawl_b"), (3L, "crawl_a"),
      (4L, "crawl_c"), (5L, "crawl_b")).toDF("doc_id", "source")
    val m = Dedup.sourceOverlapMatrix(pairs, labels,
        "id_a", "id_b", "doc_id", "source")
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(m.toSeq == Seq(
      ("crawl_a", "crawl_a", 1L),  // 1-3 within crawl_a
      ("crawl_a", "crawl_b", 2L),  // 1-2 and 2-3, both directions fold
      ("crawl_b", "crawl_c", 1L))) // 4-5 normalized to (b, c)
  }

  test("leakage-free split keeps every near-dup cluster in one bucket") {
    val s = spark
    import s.implicits._
    val docs = (1L to 30L).toDF("doc_id")
    // clusters: {1,2,3} via chain, {10,11}; rest singletons
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("node", "component")
    val out = Dedup.leakageFreeSplit(docs, comp, "doc_id",
        "node", "component", buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = out.map(t => t._1 -> t).toMap
    // all members of a cluster share cluster id AND bucket
    assert(Seq(1L, 2L, 3L).map(byDoc(_)._2).distinct.size == 1)
    assert(Seq(1L, 2L, 3L).map(byDoc(_)._3).distinct.size == 1)
    assert(byDoc(10L)._3 == byDoc(11L)._3)
    // singleton keeps its own id as the cluster
    assert(byDoc(20L)._2 == 20L)
    assert(out.forall(t => t._3 >= 0 && t._3 < 4))
  }
}
