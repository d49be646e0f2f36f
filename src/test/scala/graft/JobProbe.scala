package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What the Spark jobs a block submits on the calling thread cost: the
  * jobs are tagged with a local property, and a trailing fence job makes
  * sure the listener has seen every task of the block before counting.
  */
object JobProbe {

  final case class Usage[T](result: T, jobs: Int, recordsRead: Long)

  def apply[T](spark: SparkSession)(body: => T): Usage[T] = {
    val sc = spark.sparkContext
    val tagKey = "graft.test.probe"
    val probe = java.util.UUID.randomUUID().toString
    val fence = probe + "-fence"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val fenceJobs = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger
    val read = new AtomicLong
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tagKey)).orNull match {
          case `probe` =>
            jobs.incrementAndGet()
            e.stageIds.foreach(stages.add(_))
          case `fence` => fenceJobs.add(e.jobId)
          case _       =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (fenceJobs.contains(e.jobId)) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tagKey, probe)
      val result = try body finally sc.setLocalProperty(tagKey, null)
      // a listener sees events in posting order, so once the fence job's
      // end arrives, every job and task of `body` has been counted
      sc.setLocalProperty(tagKey, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tagKey, null)
      assert(fenced.await(60, TimeUnit.SECONDS), "listener never saw the fence job")
      Usage(result, jobs.get, read.get)
    } finally sc.removeSparkListener(listener)
  }
}
