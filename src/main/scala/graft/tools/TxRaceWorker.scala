package graft.tools

import graft.sources.TxTable

import org.apache.spark.sql.SparkSession

/** One competitor in the multi-PROCESS TxTable commit race: a separate
  * Spark driver JVM that runs `n` commits against a shared table path,
  * retrying through lost optimistic races. Launched twice concurrently
  * by TxRaceSpec (and usable by hand for longer soaks) to exercise the
  * real harvest-while-serving contention the in-JVM retry specs
  * cannot: two drivers, two FileSystem instances, one directory, with
  * the `FileContext.rename(…, Rename.NONE)` fail-if-exists publish as
  * the only arbiter.
  *
  *   java -cp … graft.tools.TxRaceWorker <mode> <tableRoot> <workerId> <n>
  *
  * Modes:
  *   - `append`: blind-append `n` single-row (worker, seq) frames —
  *     conflict-free commits, exercises the version CAS.
  *   - `merge`: run `n` [[TxTable.mergeInto]] calls on OVERLAPPING
  *     keys — read-modify-write commits whose optimistic retry must
  *     re-read the latest snapshot, exercising the lost-update
  *     anomaly. Merge payload for (worker w, seq i), over schema
  *     (k long, v string):
  *       - upsert the CONTENDED key i % 5 to "w:i" (both workers hit
  *         keys 0..4 — last committed merge must win);
  *       - insert the PRIVATE key 1000·widx + i with "w:i" (a stale
  *         re-publish would silently drop the other worker's private
  *         rows — the anomaly the race is hunting);
  *       - tombstone own private key 1000·widx + (i − 2) when i ≥ 2
  *         (deletes must serialize too).
  *     The orchestrator replays the merges in claimed-version order
  *     and asserts the final table equals the replay exactly.
  *
  * Prints one `[txrace] worker=… seq=… version=…` line per commit;
  * exits non-zero if any commit exhausts its retries.
  */
object TxRaceWorker {
  /** widx: a small numeric namespace per worker id for private keys. */
  private def widx(workerId: String): Long =
    (workerId.hashCode.toLong & 0xffffL) + 1L

  /** `readhold <root> <version> <signalFile>`: resolve a time-travel
    * frame at `version` (file list pinned NOW), announce it, wait for
    * the orchestrator's signal file (it vacuums meanwhile), then
    * count. Exit 0 + `count=` when the scan survives; exit 3 +
    * `readfail=` when vacuum physically deleted the files out from
    * under the pinned list — TxVacuumRaceSpec drives both outcomes to
    * pin [[TxTable.vacuum]]'s reader-retention contract.
    */
  private def readHold(root: String, version: Long, signal: String): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-txreadhold")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val df = TxTable.readVersion(spark, root, version)
      println(s"[txrace] resolved=$version")
      Console.flush()
      val deadline = System.currentTimeMillis() + 60000L
      while (!java.nio.file.Files.exists(java.nio.file.Paths.get(signal)) &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      try println(s"[txrace] count=${df.count()}")
      catch {
        case e: Throwable =>
          println(s"[txrace] readfail=${e.getClass.getSimpleName}")
          spark.stop()
          sys.exit(3)
      }
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "readhold") {
      readHold(args(1), args(2).toLong, args(3))
      return
    }
    val Array(mode, root, workerId, nStr) = args
    val n = nStr.toInt
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-txrace-$workerId")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      (0 until n).foreach { i =>
        val v = mode match {
          case "append" =>
            TxTable.append(
              Seq((workerId, i.toLong)).toDF("worker", "seq"),
              root, maxRetries = 200)
          case "merge" =>
            val w = widx(workerId)
            val rows = Seq(
              (i.toLong % 5L, s"$workerId:$i", false),
              (1000L * w + i, s"$workerId:$i", false)) ++
              (if (i >= 2) Seq((1000L * w + i - 2, "", true)) else Nil)
            TxTable.mergeInto(root,
              rows.toDF("k", "v", "_del"), "k", Seq("v"), "_del",
              maxRetries = 200)
          case "dvdel" =>
            // deletion-vector delete race: worker w's commit i
            // tombstones ITS OWN disjoint 10-key slice via deleteWhere
            // — racing DV commits must serialize like appends (each
            // retry re-reads the tip and re-scans), no slice lost, no
            // foreign slice touched. Key layout: w1 owns [0,500),
            // w2 owns [500,1000), slice i = base + [i*10, i*10+10).
            val base = if (workerId == "w1") 0L else 500L
            val lo = base + i * 10L
            TxTable.deleteWhere(spark, root,
              org.apache.spark.sql.functions.col("k").between(lo, lo + 9L),
              maxRetries = 200)
          case other =>
            sys.error(s"unknown mode '$other' (append|merge|dvdel)")
        }
        // stdout is the race log the orchestrator asserts over
        println(s"[txrace] worker=$workerId seq=$i version=$v")
      }
    } finally spark.stop()
  }
}
