package graft.tools

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicInteger

/** Dev diagnostic (round 16): capture the EXECUTED plan of every write
  * action a query performs — the r15 verdict's gap was that
  * plans/r15 only proved the read-back side of layout changes, never
  * the write that the change actually altered. Runs one registered
  * query with a QueryExecutionListener and appends the formatted plan
  * of each non-noop write (parquet/osm sinks) to one output file.
  *
  *   SPARK_GRAFT_CPUS=32 sbt 'runMain graft.tools.WritePlanDump \
  *     /root/testdata/sf0.1 q52_pbf_roundtrip plans/r16/q52_writes.txt'
  */
object WritePlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val out = Paths.get(args(2))
    val spark = graft.GraftSession("graft-write-plan-dump")
    // a bare file name has no parent directory to create
    Option(out.getParent).foreach(Files.createDirectories(_))
    Files.writeString(out, s"==== write-side plans: $name ====\n")
    val n = new AtomicInteger()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString()
        // writes only, and not the timing-only noop sink
        if ((funcName == "save" || funcName == "command" ||
          funcName == "parquet") && !plan.contains("noop")) {
          val s = qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(out,
            s"\n---- write ${n.incrementAndGet()} ($funcName, " +
              f"${durationNs / 1e9}%.2f s) ----\n$s",
            StandardOpenOption.APPEND)
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })
    try {
      if (graft.osm.OsmQueries.all.exists(_.name == name))
        graft.osm.SyntheticOsm.materialized(spark, sfDir)
    } catch { case _: Throwable => () }
    graft.SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    Thread.sleep(1000) // listener bus drain
    println(s"wrote ${n.get()} write plans to $out")
    spark.stop()
  }
}
