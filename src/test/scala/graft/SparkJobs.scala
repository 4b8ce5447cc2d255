package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block of driver code starts. */
object SparkJobs {

  /** Runs `body` under its own job group and counts the Spark jobs it
    * started. Listener events arrive asynchronously: a sentinel job run
    * afterwards marks the point where every earlier event has been
    * delivered. */
  def jobsIn[A](spark: SparkSession)(body: => A): (Int, A) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val delivered = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet(); ()
          case Some(`sentinel`) => delivered.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(delivered.await(30, TimeUnit.SECONDS),
        "listener sentinel never delivered")
      (jobs.get(), a)
    } finally sc.removeSparkListener(listener)
  }
}
