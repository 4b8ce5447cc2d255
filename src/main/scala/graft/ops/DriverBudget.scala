package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.unsafe.Platform

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

/** The one rule for what the driver holds: a frame's rows are
  * collected when their binary (UnsafeRow) size totals at most a byte
  * cap, and the caller takes its distributed path otherwise. Its
  * callers (`Replication.applyBatch`, [[Components]]) default that cap
  * to [[BitmapSemi.MaxBytes]], the cap an id bitmap is held under, so
  * the path follows from the bytes the data measures, not from a row
  * count or a fraction of the heap.
  */
object DriverBudget {

  /** `df`'s rows on the driver, from one Spark job, when their binary
    * (UnsafeRow) size totals at most `maxBytes`; None otherwise. Each of
    * the frame's partitions gets an even share of the cap and ships
    * nothing once it passes its share, so at most `maxBytes` ever
    * reaches the driver, whatever the partition count: a frame over the
    * cap, or one whose rows crowd into one partition, costs the job but
    * not the driver's memory before the caller falls back to its
    * distributed path. An empty frame always fits. A partition ships
    * its rows as one byte array, each row's bytes behind its size, not
    * as one serialized object per row.
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
        val buf = new ByteArrayOutputStream()
        val out = new DataOutputStream(buf)
        val scratch = new Array[Byte](4096)
        var bytes = 0L
        while (rows.hasNext && bytes <= share) {
          val r = rows.next() match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }
          out.writeInt(r.getSizeInBytes)
          r.writeToStream(out, scratch)
          bytes += r.getSizeInBytes
        }
        Iterator.single(if (bytes <= share && !rows.hasNext) buf.toByteArray
          else null)
      }.collect()
    }
    if (parts.contains(null)) None
    else {
      val toRow = ExpressionEncoder(schema).resolveAndBind()
        .createDeserializer()
      Some(parts.flatMap { p =>
        val in = ByteBuffer.wrap(p)
        val out = Array.newBuilder[Row]
        while (in.hasRemaining) {
          val size = in.getInt()
          val r = new UnsafeRow(schema.length)
          r.pointTo(p, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
          in.position(in.position() + size)
          out += toRow(r)
        }
        out.result()
      })
    }
  }
}
