package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{DataType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** Connected components (large-star/small-star + driver union-find
  * under the byte cap) — the dedup-cluster labeling step. Each case
  * runs on both branches: `maxBytes` 0 takes the star loop and
  * `Long.MaxValue` the union-find. */
class ComponentsSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private val Branches = Seq(0L, Long.MaxValue)

  private def components(edges: Seq[(Long, Long)], maxBytes: Long)
  : DataFrame = Components.connectedComponents(
    edges.toDF("a", "b"), "a", "b", maxBytes = maxBytes)

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The union-find's answer is a local relation; the star loop's reads
    * its checkpoints. */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.collectFirst { case l: LocalRelation => l }
      .nonEmpty

  /** Labels from the branch `maxBytes` pins: the star loop at 0, the
    * union-find otherwise. */
  private def labelsOf(edges: Seq[(Long, Long)], maxBytes: Long)
  : Map[Long, Long] = {
    val df = components(edges, maxBytes)
    assert(isLocal(df) == (maxBytes > 0), s"maxBytes=$maxBytes")
    labels(df)
  }

  test("chain collapses to its minimum (both paths)") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    for (lim <- Branches) {
      val m = labelsOf(chain, lim)
      assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    }
  }

  test("two components, duplicate + self + reversed edges tolerated") {
    val e = Seq((2L, 1L), (1L, 2L), (2L, 2L), (7L, 9L), (9L, 8L), (7L, 9L))
    for (lim <- Branches) {
      val m = labelsOf(e, lim)
      assert(m == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
    }
  }

  test("a node whose ONLY edge is a self-loop still gets a label " +
    "(both paths)") {
    val e = Seq((7L, 7L), (1L, 2L))
    for (lim <- Branches) {
      val m = labelsOf(e, lim)
      assert(m == Map(1L -> 1L, 2L -> 1L, 7L -> 7L),
        s"self-loop-only node dropped (lim=$lim): $m")
    }
  }

  test("distributed path agrees with driver union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    // 120 nodes, sparse random edges -> a mix of small components
    val edges = Seq.fill(90)(
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2)
    val driver = labelsOf(edges, Long.MaxValue)
    val dist = labelsOf(edges, 0L)
    assert(dist == driver)
  }

  test("star + deep chain both converge within the iteration bound") {
    val star = (2L to 40L).map(i => (1L, i))
    val chain = (100L until 163L).map(i => (i, i + 1))
    for (lim <- Branches) {
      val m = labelsOf(star ++ chain, lim)
      assert((2L to 40L).forall(m(_) == 1L), s"lim=$lim")
      assert((100L to 163L).forall(m(_) == 100L), s"lim=$lim")
    }
  }

  test("both paths agree with a BFS reference over many random graphs") {
    // independent oracle: plain BFS flood-fill, no union-find, no stars
    def bfsLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val label = scala.collection.mutable.HashMap[Long, Long]()
      nodes.sorted.foreach { n =>
        if (!label.contains(n)) {
          var frontier = Set(n); val seen = scala.collection.mutable.Set(n)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
              .filterNot(seen)
            seen ++= frontier
          }
          seen.foreach(label(_) = seen.min)
        }
      }
      label.toMap
    }
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(60)
      val edges = Seq.fill(n)(
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter(p => p._1 != p._2)
      val ref = bfsLabels(edges)
      assert(labelsOf(edges, Long.MaxValue) == ref, s"driver path, seed $seed")
      assert(labelsOf(edges, 0L) == ref, s"distributed path, seed $seed")
    }
  }

  test("byte-derived edge budget: arithmetic and the fallback boundary") {
    // a canonical edge is two non-null longs: a 24-byte UnsafeRow (an
    // 8-byte null bitset and two 8-byte words), so the 32 MiB cap holds
    // 1,398,101 of them
    val edge = UnsafeProjection.create(Array[DataType](LongType, LongType))
      .apply(InternalRow(2L, 1L))
    assert(edge.getSizeInBytes == 24)
    assert(BitmapSemi.MaxBytes / edge.getSizeInBytes == 1398101)

    // a graph under the default cap is held and labeled on the driver
    // (a local relation); with the cap at 0 it takes the star loop —
    // and both label identically (the contract the cap relies on)
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L))
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 5L -> 5L)
    val held = Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
    val capped = components(edges, 0L)
    assert(isLocal(held))
    assert(!isLocal(capped))
    assert(labels(held) == expect)
    assert(labels(capped) == expect)
  }

  test("the held branch decides and collects in 3 Spark jobs") {
    // the dedup's shuffle, the cache over it and the one collect: no
    // probe ahead of the collect
    val rnd = new scala.util.Random(3)
    val edges = Seq.fill(500)(
      (rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
    val (jobs, out) = graft.SparkJobs.jobsIn(spark) {
      components(edges, BitmapSemi.MaxBytes)
    }
    assert(isLocal(out))
    assert(jobs == 3, s"the held branch started $jobs jobs")
  }
}
