package org.apache.spark

/** Spark internals the bench reads. `drain` lets it wait until Spark's listener bus has delivered every
  * event posted so far, so the counters read at a span edge include all
  * the work done before that edge. */
object OsmBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Local property under which a job carries its job group. */
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID
}
