package graft.streaming

import org.apache.spark.sql.SparkSession

/** Deliberate streaming state-partition sizing. A stateful streaming
  * operator keeps one state store (stream-stream joins: four) per
  * shuffle partition per micro-batch; at replay-gate key cardinality
  * the session's batch-oriented partition count is pure store-commit
  * overhead (q136 measured 16s -> 8s at 32 -> 8). Production sizes
  * this knob to throughput; state partitioning is pinned by the
  * checkpoint on first run, and Structured Streaming clones the
  * session conf at `start()`, so restoring the session value
  * immediately afterwards is safe for the batch queries around it. */
object StatePartitions {

  def sized[A](s: SparkSession, n: Int)(startQuery: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      startQuery
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
