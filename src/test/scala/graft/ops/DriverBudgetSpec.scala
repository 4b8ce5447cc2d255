package graft.ops

import graft.SparkJobs
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, max, row_number}
import org.scalatest.funsuite.AnyFunSuite

/** [[DriverBudget.collectUnder]]: the cap bounds what reaches the
  * driver in total, not per partition. It and [[BitmapSemi.idSets]]
  * compile a plan's classes once, under the class loader the plan's
  * own SQL actions use. */
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

  private def compiled(body: => Any): Long = {
    val c = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = c.getCount
    body
    c.getCount - before
  }

  /** Runs `df` as an ordinary SQL action that writes nothing. */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("collectUnder and idSets compile each class of a plan once, and " +
    "a repeat compiles none") {
    // generated code inlines these constants, so no other test has
    // compiled these plans' classes; each plan has a shuffle, so part of
    // it runs as an adaptive stage
    def windowed = spark.range(0, 400, 1, 4)
      .select((col("id") % 50 + 1000003).as("g"),
        (col("id") * 7919 + 1000003).as("v"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("g").orderBy(col("v").desc)))
      .where(col("rk") === 1)
    def grouped = spark.range(0, 400, 1, 4)
      .groupBy((col("id") % 37 + 1000007).as("g"))
      .agg(max(col("id") * 31 + 1000007).as("v"))
    val collect = compiled(DriverBudget.collectUnder(windowed, Long.MaxValue))
    assert(collect > 0)
    // the same plan run as a SQL action finds every class compiled: a
    // job outside a SQL execution loads them through another loader,
    // which compiled 6 of them again
    assert(compiled(noop(windowed)) == 0)
    assert(compiled(DriverBudget.collectUnder(windowed, Long.MaxValue)) == 0)
    val sets = compiled(BitmapSemi.idSets(grouped, Seq(col("v"))))
    assert(sets > 0)
    assert(compiled(noop(grouped.select(col("v")))) == 0)
    assert(compiled(BitmapSemi.idSets(grouped, Seq(col("v")))) == 0)
    info(s"first runs compiled $collect (collectUnder) and $sets (idSets)")
  }
}
