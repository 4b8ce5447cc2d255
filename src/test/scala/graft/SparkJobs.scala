package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Counts the Spark jobs a block of driver code starts, their tasks,
  * the stages that read a given RDD, and the bytes those tasks send
  * back to the driver. */
object SparkJobs {

  /** Runs `body` under its own job tag and counts the Spark jobs it
    * started. */
  def jobsIn[A](spark: SparkSession)(body: => A): (Int, A) = {
    val jobs = new AtomicInteger(0)
    val a = tagged(spark)(_ => jobs.incrementAndGet(), _ => ())(body)
    (jobs.get(), a)
  }

  /** Runs `body` under its own job tag and sums the serialized result
    * sizes of its jobs' tasks: what they shipped to the driver. */
  def resultBytesIn[A](spark: SparkSession)(body: => A): (Long, A) = {
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong(0L)
    val a = tagged(spark)(e => e.stageIds.foreach(stages.add(_)), e =>
      if (stages.contains(e.stageId) && e.taskMetrics != null)
        bytes.addAndGet(e.taskMetrics.resultSize))(body)
    (bytes.get(), a)
  }

  /** Runs `body` under its own job tag and counts the tasks its jobs
    * ran (a skipped stage runs none). */
  def tasksIn[A](spark: SparkSession)(body: => A): (Int, A) = {
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new AtomicInteger(0)
    val a = tagged(spark)(e => e.stageIds.foreach(stages.add(_)), e =>
      if (stages.contains(e.stageId)) tasks.incrementAndGet())(body)
    (tasks.get(), a)
  }

  /** Runs `body` under its own job tag and counts the stages its jobs
    * ran that compute `rddId`, a stage skipped because its shuffle
    * output was reused not included: how many times the RDD was read
    * through. */
  def stagesReading[A](spark: SparkSession, rddId: Int)(body: => A)
  : (Int, A) = {
    val reading = ConcurrentHashMap.newKeySet[Int]()
    val ran = ConcurrentHashMap.newKeySet[Int]()
    val a = tagged(spark)(e => e.stageInfos.foreach(s =>
      if (s.rddInfos.exists(_.id == rddId)) reading.add(s.stageId)), e =>
      if (reading.contains(e.stageId)) ran.add(e.stageId))(body)
    (ran.size, a)
  }

  /** Runs `body` under a fresh job tag, passing the start of every job
    * carrying it, and every task end, to the callbacks. The tag is an
    * inheritable local property: threads the block starts (a commit's
    * table-write pool, which sets a job group of its own) keep it, so
    * their jobs count too. Listener events arrive asynchronously, in
    * order: a sentinel job run afterwards marks the point where every
    * earlier event has been delivered. */
  private def tagged[A](spark: SparkSession)(
      onJob: SparkListenerJobStart => Unit,
      onTask: SparkListenerTaskEnd => Unit)(body: => A): A = {
    val sc = spark.sparkContext
    val tag = s"counted-${java.util.UUID.randomUUID()}"
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    val delivered = new CountDownLatch(1)
    def tags(e: SparkListenerJobStart): Set[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .fold(Set.empty[String])(_.split(",").toSet)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val t = tags(e)
        if (t.contains(tag)) onJob(e)
        if (t.contains(sentinel)) delivered.countDown()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = onTask(e)
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val a = try body finally sc.removeJobTag(tag)
      sc.addJobTag(sentinel)
      try spark.range(1).count() finally sc.removeJobTag(sentinel)
      assert(delivered.await(30, TimeUnit.SECONDS),
        "listener sentinel never delivered")
      a
    } finally sc.removeSparkListener(listener)
  }
}
