package graft
/** Dev-loop plan audit (not driver-invoked): print the formatted
  * physical plan of named queries so shuffle count, pushed filters,
  * codegen spans, and TakeOrdered-vs-Sort choices can be reviewed.
  *
  *   sbt 'runMain graft.Explain /root/testdata/sf0.01 q78_spatial_knn'
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = GraftSession("graft-explain")
    names.foreach { name =>
      println(s"==== $name ====")
      SparkEntry.queries.get(name) match {
        case Some(fn) => println(fn(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
