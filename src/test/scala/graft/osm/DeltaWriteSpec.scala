package graft.osm

import graft.io.NioRawLocalFileSystem
import graft.streaming.Replication
import org.apache.hadoop.fs.{FileSystem, RawLocalFileSystem}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import scala.util.Random

/** How [[VersionedTable.commitDelta]] writes a rewrite: in one task
  * when its size estimate, upserts included, is small, `nBuckets` wide
  * otherwise, both giving the same store of one key-sorted file per
  * bucket; and through [[graft.io.NioLocalFileSystem]], whose files and
  * directories carry the modes Hadoop's shell `chmod` gave them. */
class DeltaWriteSpec extends AnyFunSuite with graft.TestSession {
  import ApplyPathsSpec._

  private def fresh(tag: String, w: World): String = {
    val root = Files.createTempDirectory(s"graft-write-$tag").toString
    commitWorld(spark, root, w)
    root
  }

  private def apply(root: String, rows: Seq[Row],
                    id: Long): Unit =
    assert(Replication.applyBatch(spark, root, diffFrame(spark, rows), id)
      == Replication.ApplyResult.Applied)

  private def walk(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** `n` new tagged nodes at seqnum `seq`, ids from 1000 up. */
  private def newNodes(n: Int, seq: Long): Seq[Row] =
    (0 until n).map { i =>
      Row(1000L + i, "node", true, i % 1000, i / 1000,
        1, null, null, Map("name" -> s"street number $i of a long diff"),
        Row(1, 5L, 7L, 3L, "u"), seq)
    }

  test("the single-task and wide writes reach the same store, row for " +
    "row, the single-task one in fewer tasks") {
    val rnd = new Random(21)
    val w = genWorld(rnd)
    val (single, wideRoot) = (fresh("single", w), fresh("wide", w))
    for (d <- 1 to 3) {
      val rows = genDiff(rnd, d * 10L)
      val (one, _) = graft.SparkJobs.tasksIn(spark)(
        atWidth(isWide = false)(apply(single, rows, d)))
      val (many, _) = graft.SparkJobs.tasksIn(spark)(
        atWidth(isWide = true)(apply(wideRoot, rows, d)))
      info(s"diff $d: $one tasks single-task, $many wide")
      assert(one < many, s"diff=$d")
      sameStore(spark, single, wideRoot, s"diff=$d:")
    }
  }

  test("the width counts the rows a rewrite adds, not only the files it " +
    "reads") {
    val root = fresh("estimate", genWorld(new Random(29)))
    val old = VersionedTable.readBuckets(spark, root, "nodes",
      0 until NBuckets)
    val files = walk(Paths.get(root)).filter(p =>
      p.getFileName.toString.endsWith(".parquet") &&
        p.toString.contains("/nodes/")).map(Files.size).sum
    val prev = VersionedTable.singleTaskWriteBytesPerBucket
    VersionedTable.singleTaskWriteBytesPerBucket = files / NBuckets + 1
    try {
      assert(VersionedTable.deltaWidth(old, NBuckets) == 1)
      val row = old.limit(1).collect().toSeq
      val added = spark.createDataFrame(Seq.fill(10000)(row.head).asJava,
        old.schema)
      assert(VersionedTable.deltaWidth(old.unionByName(added), NBuckets) ==
        NBuckets, "a held change set's upserts")
      // a frame over an RDD has no size estimate
      val unsized = spark.createDataFrame(
        spark.sparkContext.parallelize(row, 1), old.schema)
      assert(VersionedTable.deltaWidth(old.unionByName(unsized), NBuckets) ==
        NBuckets, "an unsized frame")
    } finally VersionedTable.singleTaskWriteBytesPerBucket = prev
  }

  test("a small store taking many upserts writes their rewrite wide, " +
    "on both change-set sides") {
    val rows = newNodes(40000, 10L)
    for (cap <- Seq(graft.ops.BitmapSemi.MaxBytes, 0)) {
      val w = genWorld(new Random(31))
      val (single, default) = (fresh("one", w), fresh("default", w))
      def applied(root: String): Int = graft.SparkJobs.tasksIn(spark)(
        assert(Replication.applyBatch(spark, root, diffFrame(spark, rows),
          1L, maxBytes = cap) == Replication.ApplyResult.Applied))._1
      val one = atWidth(isWide = false)(applied(single))
      val tasks = applied(default)
      info(s"cap=$cap: $tasks tasks, $one with every rewrite in one task")
      // the store's files are a few KiB, far under the bound; the new
      // nodes' rewrites are not, and each writes NBuckets tasks wide
      assert(tasks >= one + NBuckets - 1, s"cap=$cap")
      sameStore(spark, single, default, s"cap=$cap:")
    }
  }

  test("every rewritten bucket holds one Parquet file, keys ascending, " +
    "at either width") {
    for ((width, isWide) <- Widths) {
      val rnd = new Random(23)
      val root = fresh(width, genWorld(rnd))
      atWidth(isWide)(apply(root, genDiff(rnd, 10L), 1L))
      val m = VersionedTable.current(root).get
      var rewritten = 0
      // a rewritten bucket left with no rows has no directory
      for ((t, spec) <- m.buckets; b <- spec.versions.indices;
           dir = Paths.get(root, s"v=${m.version}", t, s"__bucket=$b")
           if spec.versions(b) == m.version && Files.isDirectory(dir)) {
        val files = walk(dir).filter(_.getFileName.toString
          .endsWith(".parquet"))
        assert(files.size == 1, s"$width $t bucket $b: $files")
        val keys = spark.read.parquet(files.head.toString)
          .select(col(spec.key)).collect().map(_.getLong(0)).toSeq
        assert(keys == keys.sorted, s"$width $t bucket $b")
        rewritten += 1
      }
      assert(rewritten > 0, width)
    }
  }

  test("store files and directories carry the modes of Hadoop's shell " +
    "path: 0644 and 0755") {
    val rnd = new Random(25)
    val root = fresh("modes", genWorld(rnd))
    apply(root, genDiff(rnd, 10L), 1L)
    def modes(dir: Path): Map[Boolean, Set[String]] =
      walk(dir).filterNot(_ == dir).groupBy(Files.isDirectory(_))
        .map { case (isDir, ps) => isDir -> ps.map(p =>
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
          .toSet }
    val vdirs = {
      val s = Files.list(Paths.get(root))
      try s.iterator().asScala.toSeq finally s.close()
    }
    val store = vdirs.filter(_.getFileName.toString.startsWith("v="))
      .map(modes).reduce((a, b) => (a.keySet ++ b.keySet).map(k =>
        k -> (a.getOrElse(k, Set.empty) ++ b.getOrElse(k, Set.empty))).toMap)
    // the same kind of write through the session's own FileSystem
    val shell = Files.createTempDirectory("graft-write-shell")
    spark.range(0, 100, 1, 2).withColumn("b", col("id") % 2)
      .write.mode("overwrite").partitionBy("b")
      .parquet(shell.resolve("t").toString)
    assert(store == modes(shell))
    assert(store == Map(true -> Set("rwxr-xr-x"), false -> Set("rw-r--r--")))
  }

  test("a commit's bytes go through NioRawLocalFileSystem") {
    val rnd = new Random(27)
    val root = fresh("stats", genWorld(rnd))
    // Hadoop keeps per-class statistics only behind this deprecated call
    @annotation.nowarn("cat=deprecation")
    def written(c: Class[_ <: FileSystem]): Long =
      FileSystem.getStatistics("file", c).getBytesWritten
    val (nio, raw) = (written(classOf[NioRawLocalFileSystem]),
      written(classOf[RawLocalFileSystem]))
    apply(root, genDiff(rnd, 10L), 1L)
    val v = VersionedTable.current(root).get.version
    val bytes = walk(Paths.get(root, s"v=$v")).filter(Files.isRegularFile(_))
      .map(Files.size).sum
    assert(written(classOf[NioRawLocalFileSystem]) - nio >= bytes)
    assert(written(classOf[RawLocalFileSystem]) == raw)
  }
}
