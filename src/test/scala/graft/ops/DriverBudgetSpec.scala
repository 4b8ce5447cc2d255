package graft.ops

import graft.SparkJobs
import org.scalatest.funsuite.AnyFunSuite

/** [[DriverBudget.collectUnder]]: the cap bounds what reaches the
  * driver in total, not per partition. */
class DriverBudgetSpec extends AnyFunSuite with graft.TestSession {

  // 4 partitions of 1000 BIGINT rows, 16 UnsafeRow bytes each
  private def frame = spark.range(0, 4000, 1, 4).toDF("id")
  private val partBytes = 1000L * 16

  test("collectUnder holds a frame of exactly the cap, and an empty one " +
    "at cap 0") {
    val rows = DriverBudget.collectUnder(frame, 4 * partBytes)
    assert(rows.map(_.map(_.getLong(0)).sorted.toSeq) ==
      Some(0L until 4000L))
    assert(DriverBudget.collectUnder(frame.where("id < 0"), 0L)
      .map(_.toSeq) == Some(Nil))
    assert(DriverBudget.collectUnder(frame, 4 * partBytes - 1).isEmpty)
  }

  test("collectUnder ships at most the cap when every partition fits it " +
    "but the frame does not") {
    val cap = 2 * partBytes + partBytes / 2
    val (shipped, rows) = SparkJobs.resultBytesIn(spark)(
      DriverBudget.collectUnder(frame, cap))
    assert(rows.isEmpty)
    assert(shipped <= cap, s"$shipped bytes reached the driver, cap $cap")
  }
}
