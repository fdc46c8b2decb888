package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. The block runs under its own job
  * group, so jobs of other suites are not counted. Listener events arrive
  * asynchronously, so a sentinel job is run after the block: once the
  * listener sees the sentinel, every earlier job start has been seen too. */
object SparkJobs {
  def count[A](spark: SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val sentinelGroup = group + "-sentinel"
    val seen = new AtomicInteger()
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => seen.incrementAndGet(); ()
          case `sentinelGroup` => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinelGroup, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel job never seen")
      (out, seen.get())
    } finally sc.removeSparkListener(listener)
  }
}
