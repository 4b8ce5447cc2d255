package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution

/** Budgets for collecting to the driver: how many edge rows the
  * adaptive driver-side path of [[Components]] may collect, a small,
  * fixed fraction of the driver heap, and [[collectUnder]]'s byte cap
  * on a collect that falls back to a distributed path.
  *
  * The old guard was a flat 4M-row limit — right order of magnitude at
  * planet cardinalities (relation_relation ≈ 497K) but blind to the
  * actual driver size: a 2 GiB driver and a 64 GiB driver got the same
  * threshold. Deriving the row budget from `Runtime.maxMemory` keeps
  * the take()-probe-then-fallback shape while making the decision
  * honest about what the collect actually costs.
  */
object DriverBudget {

  /** Estimated heap bytes per COLLECTED edge row: 16 B of payload (two
    * longs) plus Row/boxing/array overhead — ~96 B measured on JDK 17
    * with compressed oops; 128 is the conservative planning figure. */
  val EdgeRowBytes: Long = 128L

  /** Fraction of driver max heap one adaptive collect may claim. Small
    * on purpose: the driver path is an optimization, and spilling into
    * GC pressure would cost more than the distributed loop saves. */
  val HeapFraction: Double = 0.05

  /** Max edge rows the adaptive path may collect on THIS driver
    * (5% of max heap at 128 B/row: 16 GiB -> ~6.7M rows, 2 GiB ->
    * ~840K). Deterministic per JVM; pass an explicit limit (or 0 to
    * force the distributed loop) where tests need to pin the branch. */
  def edgeRowBudget(maxHeapBytes: Long = Runtime.getRuntime.maxMemory())
  : Long = ((maxHeapBytes * HeapFraction) / EdgeRowBytes).toLong

  /** TIME-honest ceiling on the driver edge collect, independent of
    * heap: the round-7 q57 regression (9.6s -> 33.7s) was a
    * multi-million-row `take()` into a BOXED HashMap union-find; the
    * primitive-array implementation that replaced it sorts + unions
    * millions of edges in well under a second, so the binding cost is
    * the `take()` itself (~1 s per million small rows in local mode,
    * measured r15) versus the distributed star loop's ~4 jobs x
    * O(log n) iterations (measured 15-26 s on 1-9 M-edge graphs,
    * BENCH_r14_sf{0.1,1,10} stage:dedup_components). 8M keeps the
    * probe's worst-case wasted take() under a few seconds when the
    * graph turns out bigger; the heap gate ([[edgeRowBudget]], 6.7M
    * rows at 16 GiB) remains the binding limit on small drivers. */
  val EdgeRowTimeCap: Long = 8000000L

  /** Effective driver-collect limit: memory-honest AND time-honest. */
  def edgeCollectLimit(): Long = math.min(edgeRowBudget(), EdgeRowTimeCap)

  /** `df`'s rows on the driver, from one Spark job, when their binary
    * (UnsafeRow) size totals at most `maxBytes`; None otherwise. Each of
    * the frame's partitions gets an even share of the cap and ships
    * nothing once it passes its share, so at most `maxBytes` ever
    * reaches the driver, whatever the partition count: a frame over the
    * cap, or one whose rows crowd into one partition, costs the job but
    * not the driver's memory before the caller falls back to its
    * distributed path. An empty frame always fits.
    *
    * The job runs inside a SQL execution of `df`'s plan, as its own
    * actions do, so its tasks load generated classes through the
    * session's class loader: the classes its adaptive stages compiled
    * serve its result stage too, and a later action over the same plan
    * (`df.localCheckpoint()`, say) reuses them and its finished
    * shuffles. */
  def collectUnder(df: DataFrame, maxBytes: Long): Option[Array[Row]] = {
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(df.queryExecution,
      Some("collectUnder")) {
      val rdd = df.queryExecution.toRdd
      val share = maxBytes / math.max(1, rdd.getNumPartitions)
      rdd.mapPartitions { rows =>
        lazy val toUnsafe = UnsafeProjection.create(schema)
        val out = Array.newBuilder[UnsafeRow]
        var bytes = 0L
        while (rows.hasNext && bytes <= share) {
          val r = (rows.next() match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }).copy()
          bytes += r.getSizeInBytes
          out += r
        }
        Iterator.single(if (bytes <= share && !rows.hasNext) out.result()
          else null)
      }.collect()
    }
    if (parts.contains(null)) None
    else {
      val toRow = ExpressionEncoder(schema).resolveAndBind()
        .createDeserializer()
      Some(parts.flatMap(_.map(toRow)))
    }
  }
}
