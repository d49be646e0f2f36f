package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{DoubleAdder, LongAdder}

import graft.metrics.MetricsJob.labelValue

/** OAI request instrumentation with the reference's exact semantics
  * (metrics.py:52-70 counter definitions; metrics.py:224-246 log_request):
  *
  *  - `requests_total` counts every OAI request;
  *  - `requests_per_user_agent{harvester}` counts per User-Agent;
  *  - success/failure splits at HTTP status 300
  *    (`requests_succeeded` < 300 ≤ `requests_failed`);
  *  - `requests_duration{verb,metadataPrefix}` (a Summary: count + sum in
  *    milliseconds) observes ONLY successful responses that are not
  *    in-band OAI errors — error durations "should not be mixed with
  *    successful oai responses" (metrics.py:237-244;
  *    tests/test_metrics.py:276-287).
  *
  * Driver-side and lock-free (adders): protocol serving is not a Spark
  * job, so this collector never touches executors; the corpus-level
  * gauges stay in [[MetricsJob]].
  */
final class RequestMetrics {

  private val total = new LongAdder
  private val succeeded = new LongAdder
  private val failed = new LongAdder
  private val perUserAgent = new ConcurrentHashMap[String, LongAdder]()
  private val durationCount = new ConcurrentHashMap[(String, String), LongAdder]()
  private val durationSum = new ConcurrentHashMap[(String, String), DoubleAdder]()

  def record(
      verb: Option[String],
      metadataPrefix: Option[String],
      userAgent: Option[String],
      httpStatus: Int,
      oaiError: Boolean,
      durationMillis: Double): Unit = {
    total.increment()
    perUserAgent
      .computeIfAbsent(userAgent.getOrElse(""), _ => new LongAdder)
      .increment()
    if (httpStatus < 300) {
      succeeded.increment()
      if (!oaiError) {
        val key = (verb.getOrElse(""), metadataPrefix.getOrElse(""))
        durationCount.computeIfAbsent(key, _ => new LongAdder).increment()
        durationSum.computeIfAbsent(key, _ => new DoubleAdder).add(durationMillis)
      }
    } else {
      failed.increment()
    }
  }

  def requestsTotal: Long = total.sum()
  def requestsSucceeded: Long = succeeded.sum()
  def requestsFailed: Long = failed.sum()

  def requestsPerUserAgent: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    perUserAgent.forEach((k, v) => b += k -> v.sum())
    b.result()
  }

  /** (verb, metadataPrefix) → (observation count, total millis). */
  def durations: Map[(String, String), (Long, Double)] = {
    val b = Map.newBuilder[(String, String), (Long, Double)]
    durationCount.forEach((k, v) =>
      b += k -> (v.sum(), Option(durationSum.get(k)).fold(0.0)(_.sum())))
    b.result()
  }

  /** Prometheus exposition (counter + summary syntax). */
  def prometheus: String = {
    val sb = new StringBuilder
    sb ++= "# HELP requests_total Total number of external catalogue requests received\n"
    sb ++= "# TYPE requests_total counter\n"
    sb ++= s"requests_total ${requestsTotal}\n"
    sb ++= "# HELP requests_per_user_agent Number of external catalogue requests received per user-agent\n"
    sb ++= "# TYPE requests_per_user_agent counter\n"
    requestsPerUserAgent.toSeq.sortBy(_._1).foreach { case (ua, n) =>
      sb ++= s"""requests_per_user_agent{harvester="${labelValue(ua)}"} $n\n"""
    }
    sb ++= "# HELP requests_succeeded Number of successful catalogue requests\n"
    sb ++= "# TYPE requests_succeeded counter\n"
    sb ++= s"requests_succeeded ${requestsSucceeded}\n"
    sb ++= "# HELP requests_failed Number of failed catalogue requests\n"
    sb ++= "# TYPE requests_failed counter\n"
    sb ++= s"requests_failed ${requestsFailed}\n"
    sb ++= "# HELP requests_duration Response time in milliseconds\n"
    sb ++= "# TYPE requests_duration summary\n"
    durations.toSeq.sortBy(_._1).foreach { case ((verb, prefix), (n, sum)) =>
      val l = s"""{verb="${labelValue(verb)}",metadataPrefix="${labelValue(prefix)}"}"""
      sb ++= s"requests_duration_count$l $n\n"
      sb ++= s"requests_duration_sum$l $sum\n"
    }
    sb.toString
  }
}
