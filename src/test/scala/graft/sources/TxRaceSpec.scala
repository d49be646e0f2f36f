package graft.sources

import java.nio.file.Files

import graft.SparkSpec

import org.apache.spark.sql.functions._

import scala.sys.process._

/** Two-PROCESS TxTable commit races: two separate Spark driver JVMs
  * (not threads — different FileSystem instances, no shared JVM state)
  * commit concurrently to one table path. The
  * `FileContext.rename(…, Rename.NONE)` publish is the only arbiter,
  * so this is the real harvest-while-serving contention test.
  *
  *   - append race: exactly one winner per version, no lost rows,
  *     contiguous version history.
  *   - merge race: read-modify-write commits on OVERLAPPING keys —
  *     the optimistic retry must re-read the latest snapshot before
  *     re-publishing, or an interleaved merge's rows silently vanish
  *     (the lost-update anomaly). The assertion is full
  *     serializability: the final table must equal the in-memory
  *     REPLAY of the merges in claimed-version order (the serial
  *     order the CAS actually produced).
  */
class TxRaceSpec extends SparkSpec {

  import TxRaceSpec._

  test("two driver JVMs racing append: one winner per version, no lost rows") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-txrace-").toString
    TxTable.create(Seq(("seed", -1L)).toDF("worker", "seq"), root)

    val perWorker = 5
    val (p1, out1) = launchWorker(Seq("append", root, "w1", perWorker.toString))
    val (p2, out2) = launchWorker(Seq("append", root, "w2", perWorker.toString))
    val ex1 = p1.exitValue() // blocks
    val ex2 = p2.exitValue()
    assert(ex1 == 0, s"worker 1 failed:\n${out1.result().takeRight(2000)}")
    assert(ex2 == 0, s"worker 2 failed:\n${out2.result().takeRight(2000)}")

    // version history: contiguous 0..2n, exactly one manifest each
    val vs = TxTable.versions(spark, root)
    assert(vs == (0L to (2L * perWorker)),
      s"non-contiguous version history: $vs")

    // no lost updates: every (worker, seq) row survives exactly once
    val rows = TxTable.read(spark, root)
      .groupBy(col("worker"), col("seq"))
      .agg(count(lit(1)).as("n")).collect()
    val expected = (Seq(("seed", -1L)) ++
      (0 until perWorker).flatMap(i => Seq(("w1", i.toLong), ("w2", i.toLong))))
      .toSet
    assert(rows.forall(_.getLong(2) == 1L),
      s"duplicated rows: ${rows.filter(_.getLong(2) != 1L).mkString(",")}")
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet == expected,
      "row set mismatch — an append was lost or fabricated")

    // the winners' own commit logs agree with the manifest count:
    // 2n committed versions were claimed, all distinct
    val claimed = claimedVersions(out1.result() + out2.result()).map(_._3)
    assert(claimed.size == 2 * perWorker, s"claims: $claimed")
    assert(claimed.distinct.size == claimed.size,
      s"two workers claimed one version: $claimed")
  }

  test("two driver JVMs racing mergeInto: final table = serial replay " +
    "in commit order (no lost updates)") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-txmerge-").toString
    // seed: the contended keys both workers upsert
    TxTable.create(
      (0L to 4L).map(k => (k, "seed")).toDF("k", "v"), root)

    val perWorker = 5
    val (p1, out1) = launchWorker(Seq("merge", root, "w1", perWorker.toString))
    val (p2, out2) = launchWorker(Seq("merge", root, "w2", perWorker.toString))
    val ex1 = p1.exitValue()
    val ex2 = p2.exitValue()
    assert(ex1 == 0, s"worker 1 failed:\n${out1.result().takeRight(2000)}")
    assert(ex2 == 0, s"worker 2 failed:\n${out2.result().takeRight(2000)}")

    // contiguous version history, one manifest per committed merge
    val vs = TxTable.versions(spark, root)
    assert(vs == (0L to (2L * perWorker)),
      s"non-contiguous version history: $vs")
    val claims = claimedVersions(out1.result() + out2.result())
    assert(claims.size == 2 * perWorker, s"claims: $claims")
    assert(claims.map(_._3).distinct.size == claims.size,
      s"two workers claimed one version: $claims")

    // serializability: replay each claimed merge's payload (the
    // worker's deterministic function of (workerId, seq) — mirrored
    // from TxRaceWorker) in CLAIMED-VERSION order over the seed, and
    // demand the on-disk table equals the replay exactly. A stale
    // re-publish (merge derived from snapshot N published over N+1)
    // would drop the interleaved merge's private key and fail here.
    val state = scala.collection.mutable.Map.empty[Long, String]
    (0L to 4L).foreach(k => state(k) = "seed")
    claims.sortBy(_._3).foreach { case (w, i, _) =>
      val widx = (w.hashCode.toLong & 0xffffL) + 1L
      state(i % 5L) = s"$w:$i"
      state(1000L * widx + i) = s"$w:$i"
      if (i >= 2) state.remove(1000L * widx + i - 2)
    }
    val got = TxTable.read(spark, root).collect()
      .map(r => r.getLong(r.fieldIndex("k")) ->
        r.getString(r.fieldIndex("v"))).toMap
    assert(got == state.toMap,
      s"table diverged from the serial replay:\n" +
        s"  only on disk: ${(got.toSet -- state.toSet).toSeq.sortBy(_._1)}\n" +
        s"  only in replay: ${(state.toSet -- got.toSet).toSeq.sortBy(_._1)}")
  }
}

object TxRaceSpec {
  private val addOpens = Seq(
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED")

  /** Spawn one TxRaceWorker JVM, inheriting THIS test JVM's classpath
    * and working directory (not a hardcoded build layout), capturing
    * its stdout race log.
    */
  def launchWorker(args: Seq[String]): (Process, StringBuilder) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val cwd = new java.io.File(System.getProperty("user.dir"))
    val out = new StringBuilder
    val logger = ProcessLogger(line => out.synchronized {
      out.append(line).append('\n')
    }, _ => ())
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g", "-cp", cp,
      "graft.tools.TxRaceWorker") ++ args
    (Process(cmd, cwd).run(logger), out)
  }

  /** Parse `[txrace] worker=w seq=i version=v` lines → (w, i, v). */
  def claimedVersions(log: String): Seq[(String, Long, Long)] =
    log.linesIterator.filter(_.startsWith("[txrace]")).map { l =>
      val kv = l.stripPrefix("[txrace] ").split(" ")
        .map { t => val Array(k, v) = t.split("=", 2); k -> v }.toMap
      (kv("worker"), kv("seq").toLong, kv("version").toLong)
    }.toSeq
}
