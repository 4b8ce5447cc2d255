package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

import java.util.concurrent.ConcurrentHashMap

/** Dev diagnostic (round 16, guide §1 "measure first"): run ONE
  * registered query exactly the way [[graft.Bench]] does (same session
  * config, same noop sink, warmup outside the timed region) and print a
  * per-JOB breakdown — wall ms, task count, summed task time, callsite —
  * so the expensive phase of a multi-job operator (versioned commits,
  * streaming micro-batches) is identified empirically instead of
  * guessed. Not driver-invoked; changes nothing about Bench's contract.
  *
  *   SPARK_GRAFT_CPUS=32 sbt 'runMain graft.tools.JobProbe \
  *     /root/testdata/sf0.1 q197_version_history'
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = graft.GraftSession("graft-job-probe")

    final case class Job(start: Long, site: String, var end: Long = -1L,
                         var tasks: Int = 0, var taskMs: Long = 0L)
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n'))
          .getOrElse("?")
        jobs.put(e.jobId, Job(e.time, site))
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted)
      : Unit = {
        val j = jobs.get(stageToJob.getOrDefault(e.stageInfo.stageId, -1))
        if (j != null) {
          j.tasks += e.stageInfo.numTasks
          j.taskMs += e.stageInfo.taskMetrics.executorRunTime
        }
      }
    })

    // warmup exactly like Bench: tables + OSM bundle, untimed
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings"))
      try graft.Queries.T(spark, sfDir, t).limit(1)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    try {
      if (graft.osm.OsmQueries.all.exists(_.name == name))
        graft.osm.SyntheticOsm.materialized(spark, sfDir)
    } catch { case _: Throwable => () }
    // staged artifacts the query consumes, untimed (Bench stages them
    // as their own rows)
    graft.BenchStages.required(Set(name)).foreach { st =>
      try { st.build(spark, sfDir).count(); () }
      catch { case _: Throwable => () }
    }

    jobs.clear() // warmup/staging jobs are outside the timed region
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    // listener bus is async; let it drain before reading
    Thread.sleep(1500)
    println(f"==== $name total ${wall}%.2f s, ${jobs.size} jobs ====")
    import scala.jdk.CollectionConverters._
    val rows = jobs.asScala.toSeq.sortBy(_._1)
    var acct = 0L
    rows.foreach { case (id, j) =>
      val ms = if (j.end > 0) j.end - j.start else -1
      acct += math.max(0, ms)
      println(f"job $id%4d ${ms}%7d ms tasks=${j.tasks}%4d " +
        f"taskTime=${j.taskMs}%7d ms  ${j.site}")
    }
    println(f"accounted job wall: ${acct / 1000.0}%.2f s of $wall%.2f s " +
      "(gaps = driver-side work)")
    spark.stop()
  }
}
