package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Transitive-closure fixpoint (J5) — adaptive driver/distributed
  * dispatch, including the seed-side budget gate. */
class ClosureSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private def reach(seeds: Seq[Long], edges: Seq[(Long, Long)],
                    limit: Long): Set[Long] =
    Closure.reachable(seeds.toDF("id"), edges.toDF("c", "p"), "c", "p",
        driverEdgeLimit = limit)
      .collect().map(_.getLong(0)).toSet

  private val diamond =
    Seq((1L, 10L), (1L, 11L), (10L, 20L), (11L, 20L), (20L, 30L),
      (5L, 6L)) // disconnected branch: must stay unreached from 1

  test("driver and distributed paths agree on a nested closure") {
    for (lim <- Seq(0L, 1000000L)) {
      assert(reach(Seq(1L), diamond, lim) ==
        Set(1L, 10L, 11L, 20L, 30L), s"limit=$lim")
      assert(reach(Seq(5L, 30L), diamond, lim) == Set(5L, 6L, 30L),
        s"limit=$lim")
    }
  }

  test("a huge seed set forces the distributed path even with tiny edges") {
    // planet shape: edges far under the budget, seeds far over it. The
    // driver path must NOT collect the seeds — the budget gates BOTH
    // sides, so this dispatches to the distributed loop (which must
    // still produce the right closure).
    val seeds = (1L to 500L).toDF("id")
    val edges = Seq((1L, 1000L), (1000L, 2000L)).toDF("c", "p")
    val out = Closure.reachable(seeds, edges, "c", "p",
        driverEdgeLimit = 100L) // edges=2 <= 100, seeds=500 > 100
      .collect().map(_.getLong(0)).toSet
    assert(out == (1L to 500L).toSet + 1000L + 2000L)
  }

  test("seed set at the budget boundary still takes the driver path") {
    // exactly-at-limit stays driver-side (<=, not <) — same closure
    val out = reach((1L to 10L).toList, Seq((1L, 99L)), 10L)
    assert(out == (1L to 10L).toSet + 99L)
  }

  test("primitive driver BFS agrees with the distributed loop on " +
    "random multigraphs") {
    // pins the r16 CSR rewrite: duplicate edges, self-loops, fan-in,
    // seeds absent from the edge list, sparse 64-bit ids
    val rnd = new scala.util.Random(1316)
    for (trial <- 1 to 5) {
      val nodes = (1 to 40).map(_ => rnd.nextLong().abs % 100000L + 1L)
      val edges = (1 to 120).map { _ =>
        (nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size)))
      }
      val seeds = (1 to 5).map(_ => nodes(rnd.nextInt(nodes.size))) ++
        Seq(999999999L) // seed with no edges at all
      val driver = reach(seeds, edges, 1000000L)
      val dist = reach(seeds, edges, 0L)
      assert(driver == dist, s"trial=$trial")
      assert(seeds.toSet.subsetOf(driver), s"trial=$trial seeds kept")
    }
  }
}
