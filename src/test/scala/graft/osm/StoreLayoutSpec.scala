package graft.osm

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Physical-layout invariants of the bucketed (point-serving) store —
  * the two r12 lookup-window findings, pinned so they cannot silently
  * regress:
  *
  *  1. every bucket file is EXACTLY sorted by its key column. The
  *     original `sortWithinPartitions(key)` did not satisfy the
  *     dynamic-partition writer's required ordering (the partition
  *     column), so Spark inserted its own non-stable sort by
  *     `__bucket` on top and scrambled per-bucket key order (117K
  *     inversions measured in a 234K-row sf10 node_way bucket) —
  *     page/row-group stats then spanned the full id range and point
  *     probes decoded whole files;
  *  2. key-column pages hold at most the configured 2000 rows
  *     (parquet.page.row.count.limit) — parquet-mr's 20K default made
  *     even a perfectly pruned probe decode 20-40K rows. The page
  *     row count is what bounds per-probe work at ANY store size
  *     (the B-tree-leaf analog, `src/storage.cpp:70-77`).
  *
  * The fixture forces the failure conditions: more buckets than
  * shuffle partitions (so one write task holds several buckets — the
  * scramble precondition) and >2000 rows per bucket (so the page
  * limit is observable), with ids fed in reverse so order must come
  * from the sort, not the input. */
class StoreLayoutSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private val nBuckets = 8
  private val rowsPerBucket = 3000

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-layoutspec").toString
    // reverse id order so any order in the files was CREATED by the
    // write path; ~3000 rows/bucket spans >1 configured page
    val n = nBuckets * rowsPerBucket
    val adj = spark.range(n).select(
      (lit(n.toLong) - col("id")).as("member_id"),
      (col("id") % 17).as("parent_id"))
    VersionedTable.commitBucketed(r,
      Map("node_way" -> ((adj.toDF(), "member_id"))), nBuckets)
    r
  }

  private def bucketFiles(): Seq[Path] = {
    val conf = new Configuration()
    (0 until nBuckets).flatMap { b =>
      val dir = new Path(s"$root/v=1/node_way/__bucket=$b")
      val fs = dir.getFileSystem(conf)
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)
    }
  }

  test("every bucket file is exactly sorted by the bucket key") {
    val files = bucketFiles()
    assert(files.nonEmpty)
    files.foreach { f =>
      // one small file -> one scan partition -> collect() preserves
      // physical row order
      val ids = spark.read.parquet(f.toString)
        .select($"member_id").collect().map(_.getLong(0))
      assert(ids.length > 0)
      val inversions = ids.sliding(2).count(p => p(1) < p(0))
      assert(inversions === 0,
        s"${f.getName}: $inversions inversions in ${ids.length} rows")
    }
  }

  test("key-column pages respect the 2000-row point-read bound") {
    val conf = new Configuration()
    bucketFiles().foreach { f =>
      val pf = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        pf.getFooter.getBlocks.asScala.foreach { block =>
          val chunk = block.getColumns.asScala
            .find(_.getPath.toDotString == "member_id").get
          val oi = pf.readOffsetIndex(chunk)
          assert(oi != null, s"${f.getName}: no offset index")
          val pc = oi.getPageCount
          val rowCounts = (0 until pc).map { i =>
            val first = oi.getFirstRowIndex(i)
            val last = if (i + 1 < pc) oi.getFirstRowIndex(i + 1) - 1
                       else block.getRowCount - 1
            last - first + 1
          }
          assert(rowCounts.forall(_ <= 2000),
            s"${f.getName}: page row counts $rowCounts")
        }
      } finally pf.close()
    }
  }

  test("pages partition the row group exactly (no row lost to paging)") {
    val conf = new Configuration()
    val total = bucketFiles().map { f =>
      val pf = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try pf.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally pf.close()
    }.sum
    assert(total === (nBuckets * rowsPerBucket).toLong)
  }

  test("commitDelta reproduces the creator's pageRowLimit, not a default") {
    // r13 (r12 advisor): a store laid out with a NON-default page
    // granularity must keep it on CDC-rewritten buckets — the limit is
    // recorded in the manifest meta at commitBucketed time and read
    // back by commitDelta, so the probe-cost bound can't silently
    // decay to 2000 on exactly the buckets that change.
    val r = Files.createTempDirectory("graft-layoutspec-prl").toString
    val n = 4 * 1500
    val adj = spark.range(n).select(
      (lit(n.toLong) - col("id")).as("member_id"),
      (col("id") % 17).as("parent_id"))
    VersionedTable.commitBucketed(r,
      Map("node_way" -> ((adj.toDF(), "member_id"))), nBuckets = 4,
      pageRowLimit = 500)
    assert(VersionedTable.current(r).get.meta
      .get(VersionedTable.PageRowLimitKey).contains("500"))
    VersionedTable.commitDelta(spark, r,
      Map("node_way" -> VersionedTable.Delta(Seq(1), identity)))
    val conf = new Configuration()
    val dir = new Path(s"$r/v=2/node_way/__bucket=1")
    val fs = dir.getFileSystem(conf)
    val rewritten = fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    assert(rewritten.nonEmpty, "bucket 1 was not rewritten under v=2")
    rewritten.foreach { f =>
      val pf = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try pf.getFooter.getBlocks.asScala.foreach { block =>
        val chunk = block.getColumns.asScala
          .find(_.getPath.toDotString == "member_id").get
        val oi = pf.readOffsetIndex(chunk)
        assert(oi != null, s"${f.getName}: no offset index")
        val pc = oi.getPageCount
        val rowCounts = (0 until pc).map { i =>
          val first = oi.getFirstRowIndex(i)
          val last = if (i + 1 < pc) oi.getFirstRowIndex(i + 1) - 1
                     else block.getRowCount - 1
          last - first + 1
        }
        assert(rowCounts.forall(_ <= 500),
          s"${f.getName}: page row counts $rowCounts exceed the " +
            "creator's 500-row limit")
      } finally pf.close()
    }
  }
}
