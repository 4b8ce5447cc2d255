package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Connected components (large-star/small-star + adaptive driver
  * union-find) — the dedup-cluster labeling step. */
class ComponentsSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private def labelsOf(edges: Seq[(Long, Long)], driverLimit: Long)
  : Map[Long, Long] =
    Components.connectedComponents(
        edges.toDF("a", "b"), "a", "b", driverEdgeLimit = driverLimit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain collapses to its minimum (both paths)") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    for (lim <- Seq(0L, 1000000L)) {
      val m = labelsOf(chain, lim)
      assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    }
  }

  test("two components, duplicate + self + reversed edges tolerated") {
    val e = Seq((2L, 1L), (1L, 2L), (2L, 2L), (7L, 9L), (9L, 8L), (7L, 9L))
    for (lim <- Seq(0L, 1000000L)) {
      val m = labelsOf(e, lim)
      assert(m == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
    }
  }

  test("a node whose ONLY edge is a self-loop still gets a label " +
    "(both paths)") {
    val e = Seq((7L, 7L), (1L, 2L))
    for (lim <- Seq(0L, 1000000L)) {
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
    val driver = labelsOf(edges, 1000000L)
    val dist = labelsOf(edges, 0L)
    assert(dist == driver)
  }

  test("star + deep chain both converge within the iteration bound") {
    val star = (2L to 40L).map(i => (1L, i))
    val chain = (100L until 163L).map(i => (i, i + 1))
    val m = labelsOf(star ++ chain, 0L)
    assert((2L to 40L).forall(m(_) == 1L))
    assert((100L to 163L).forall(m(_) == 100L))
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
      assert(labelsOf(edges, 1000000L) == ref, s"driver path, seed $seed")
      assert(labelsOf(edges, 0L) == ref, s"distributed path, seed $seed")
    }
  }

  test("byte-derived edge budget: arithmetic and the fallback boundary") {
    import graft.ops.DriverBudget
    // 2 GiB heap at 5% / 128 B per collected row -> 838,860 rows
    assert(DriverBudget.edgeRowBudget(2L * 1024 * 1024 * 1024) == 838860L)
    // 16 GiB -> ~6.7M: same order as the old flat 4M, but heap-aware
    assert(DriverBudget.edgeRowBudget(16L * 1024 * 1024 * 1024)
      == 6710886L)
    // degenerate heap -> budget 0 -> adaptive collect disabled entirely
    assert(DriverBudget.edgeRowBudget(0L) == 0L)

    // boundary pin: canonical distinct edge count is 3; a limit of
    // exactly 3 takes the driver path, 2 falls back to distributed —
    // and both label identically (the contract the budget swap relies
    // on)
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L)
    assert(labelsOf(edges, 3L) == expect)  // == limit: driver union-find
    assert(labelsOf(edges, 2L) == expect)  // > limit: distributed loop
  }
}
