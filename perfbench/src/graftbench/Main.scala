package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (see `perfbench/run.py`). */
final case class Opts(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, exactFile: Option[Path], traceOut: Option[Path])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("work")), m.get("exact-file").map(Paths.get(_)), m.get("trace-out").map(Paths.get(_)))
  }
}

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

/** Entry point: one run of one workload, printing one JSON result line. */
object Main {
  /** Store builds per run; `setup_s` counts their median. */
  val Reps = 3
  /** Requests a run needs so that ten samples lie beyond its p75. */
  val MinRequests = 40

  private def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Heap plus non-heap in use after a full collection: what the served
    * engine, its Spark session and the run's state retain.
    */
  private def retainedMb(): Double = {
    System.gc()
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "0.0" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = Opts.parse(args)
    val workload = Workload(o.workload)
    Files.createDirectories(o.work)
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    var code = 1
    try {
      val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
      val env = new Env(spark, o.work, o.seed, tracer)
      val (_, prepareS) = env.timed(workload.prepare(env))
      // set-up: the store is built Reps times (the last one is served),
      // then warmed up once
      val builds = (0 until Reps).map { r =>
        val (layoutS, s) = env.timed(workload.build(env, r))
        (s, layoutS)
      }
      val (_, warmS) = env.timed(workload.warmUp(env))
      val setupS = sessionS + Stats.median(builds.map(_._1)) + warmS

      val gc0 = gcMs()
      env.recording = true
      val w0 = System.nanoTime()
      workload.run(env, Workload.Stop(env, w0 + o.seconds * 1000000000L, MinRequests, workload.exactOps))
      val w1 = System.nanoTime()
      env.recording = false
      val windowS = (w1 - w0) / 1e9
      val gcPerS = (gcMs() - gc0) / windowS

      val ops = env.ops.asScala.toSeq
      val requests = ops.filter(_.kind == "request")
      val attempted = env.attempted.get
      val metrics: Map[String, (Double, String)] = tracer match {
        case None =>
          val lat = requests.map(_.ms)
          Map(
            "setup_s" -> (setupS, "s"),
            "ok_share" -> (Stats.ratio((attempted - math.min(env.checks.failed, attempted)).toDouble, attempted.toDouble), "share"),
            "retained_mb" -> (retainedMb(), "MB"),
            // the centre as a mean: point_lookup's latencies cluster by verb
            // and by where an id sits in the layout, so their median jumps
            // between clusters from seed to seed
            "request_mean_ms" -> (Stats.mean(lat), "ms"),
            "request_p75_ms" -> (Stats.quantile(lat, 0.75), "ms"),
            "requests_per_s" -> (requests.size / windowS, "1/s"))
        case Some(t) =>
          t.settle()
          o.traceOut.foreach(t.dump)
          Layers.metrics(env, t, ops, builds.map(_._2), gcPerS, workload.exactOps, o.exactFile)
      }
      val failed = math.min(env.checks.failed, attempted)
      val diag = Map(
        "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
        "window_s" -> windowS, "requests" -> requests.size, "ops" -> ops.size,
        "session_s" -> sessionS, "prepare_s" -> prepareS,
        "build_reps_s" -> builds.map(_._1), "layout_write_s" -> builds.map(_._2), "warmup_s" -> warmS,
        "gc_ms_per_s" -> gcPerS,
        // the fixed heap is all touched during a run, so RSS is a diagnostic
        "peak_rss_mb" -> peakRssMb(),
        "failures" -> env.checks.firstFailures,
        // each operation in order: r(equest), c(ommit) or s(crape), then its ms
        "ops_ms" -> ops.sortBy(_.startNs).map(o => s"${o.kind.head}${math.round(o.ms)}"))
      println("# perfbench " + json(diag))
      val result = Map(
        "correct" -> (failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
      println(json(result))
      System.out.flush()
      tracer.foreach(_.close())
      code = 0
    } finally spark.stop()
    sys.exit(code)
  }
}
