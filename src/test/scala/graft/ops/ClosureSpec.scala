package graft.ops

import graft.functions.IdBitmapImpl
import graft.ops.BitmapSemi.{Bitmap, Frame, IdSet}
import graft.osm.{ExtractBitmapSpec, Ingest}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Transitive-closure fixpoint (J5) over id sets: a driver-held bitmap
  * and a distributed frame (bitmap cap 0) run the same loop and agree
  * with a BFS written here; the cap decides the representation. */
class ClosureSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private def seedSet(seeds: Seq[Long], maxBytes: Int): IdSet =
    BitmapSemi.idSets(seeds.toDF("id"), Seq($"id"), maxBytes).head

  private def idsOf(s: IdSet): Set[Long] = {
    val rows = s.ids(spark).collect()
    assert(rows.forall(!_.isNullAt(0)), "a null id in the closure")
    rows.map(_.getLong(0)).toSet
  }

  /** The closure with every set capped at `maxBytes`, and its ids. */
  private def reach(seeds: Seq[Long], edges: DataFrame,
                    maxBytes: Int): (IdSet, Set[Long]) = {
    val out = Closure.reachable(seedSet(seeds, maxBytes), edges, "c", "p",
      maxBytes)
    (out, idsOf(out))
  }

  private def bitmapBytes(ids: Iterable[Long]): Int = {
    val b = new IdBitmapImpl.Buffer
    ids.foreach(b.add)
    b.serialize.length
  }

  /** Both representations: uncapped bitmaps and cap-0 frames. */
  private val caps = Seq(BitmapSemi.MaxBytes, 0)

  private def assertKind(s: IdSet, maxBytes: Int, clue: String): Unit =
    if (maxBytes == 0) assert(s.isInstanceOf[Frame], clue)
    else assert(s.isInstanceOf[Bitmap], clue)

  private val diamond =
    Seq((1L, 10L), (1L, 11L), (10L, 20L), (11L, 20L), (20L, 30L),
      (5L, 6L)) // disconnected branch: must stay unreached from 1

  test("driver and distributed paths agree on a nested closure") {
    val edges = diamond.toDF("c", "p")
    for (cap <- caps) {
      val (a, aIds) = reach(Seq(1L), edges, cap)
      assertKind(a, cap, s"cap=$cap")
      assert(aIds == Set(1L, 10L, 11L, 20L, 30L), s"cap=$cap")
      val (b, bIds) = reach(Seq(5L, 30L), edges, cap)
      assertKind(b, cap, s"cap=$cap")
      assert(bIds == Set(5L, 6L, 30L), s"cap=$cap")
    }
  }

  test("a huge seed set forces the distributed path even with tiny edges") {
    // planet shape: two edges, a seed set over the bitmap cap. The seeds
    // and the closure stay distributed frames, and the closure is right.
    val seeds = 1L to 500L
    val cap = bitmapBytes(seeds) - 1
    assert(seedSet(seeds, cap).isInstanceOf[Frame])
    val (out, ids) = reach(seeds, Seq((1L, 1000L), (1000L, 2000L))
      .toDF("c", "p"), cap)
    assert(out.isInstanceOf[Frame])
    assert(ids == seeds.toSet + 1000L + 2000L)
  }

  test("seed set at the budget boundary still takes the driver path") {
    // a bitmap of exactly maxBytes bytes stays a bitmap (<=, not <):
    // the seeds built by idSets, and the closure grown by union
    val seeds = 1L to 10L
    val edges = Seq((1L, 99L)).toDF("c", "p")
    val want = seeds.toSet + 99L
    assert(seedSet(seeds, bitmapBytes(seeds)).isInstanceOf[Bitmap])
    assert(seedSet(seeds, bitmapBytes(seeds) - 1).isInstanceOf[Frame])
    assert(reach(seeds, edges, bitmapBytes(seeds))._2 == want)
    val (at, atIds) = reach(seeds, edges, bitmapBytes(want))
    assert(at.isInstanceOf[Bitmap] && atIds == want)
    val (over, overIds) = reach(seeds, edges, bitmapBytes(want) - 1)
    assert(over.isInstanceOf[Frame] && overIds == want)
  }

  test("primitive driver BFS agrees with the distributed loop on " +
    "random multigraphs") {
    // duplicate edges, self-loops, fan-in, seeds absent from the edge
    // list, sparse 64-bit ids; both representations against a BFS
    def oracle(seeds: Seq[Long], edges: Seq[(Long, Long)]): Set[Long] = {
      val parents = edges.groupBy(_._1).map { case (c, es) =>
        c -> es.map(_._2) }
      var seen = seeds.toSet
      var frontier = seen
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(parents.getOrElse(_, Nil)) -- seen
        seen ++= frontier
      }
      seen
    }
    val rnd = new scala.util.Random(1316)
    for (trial <- 1 to 5) {
      val nodes = (1 to 40).map(_ => rnd.nextLong().abs % 100000L + 1L)
      val edges = (1 to 120).map { _ =>
        (nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size)))
      }
      val seeds = (1 to 5).map(_ => nodes(rnd.nextInt(nodes.size))) ++
        Seq(999999999L) // seed with no edges at all
      val want = oracle(seeds, edges)
      assert(seeds.toSet.subsetOf(want))
      for (cap <- caps)
        assert(reach(seeds, edges.toDF("c", "p"), cap)._2 == want,
          s"trial=$trial cap=$cap")
    }
  }

  test("a null child or parent is not an id, on both representations") {
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (null, 3L), (2L, null), (2L, 4L), (null, null), (4L, null))
      .toDF("c", "p")
    for (cap <- caps)
      assert(reach(Seq(1L), edges, cap)._2 == Set(1L, 2L, 4L), s"cap=$cap")
  }

  test("a bitmap-seeded closure starts one job per round, none to read " +
    "its seeds or return its result") {
    // a depth-d chain of relations, member i of relation i + 1, in an
    // 8-bucket store: rounds 1..d each find one relation, round d + 1
    // finds none
    val d = 4
    val (nodes, ways, rels) = ExtractBitmapSpec.world(spark)
    val chain = (2 to d + 1).map(i => (i.toLong, 1, 1600000000L + i, 77L,
      42L, "u", Map("type" -> "route"),
      Seq(((i - 1).toLong, "relation", "sub")))).toDF(rels.columns: _*)
    val xml = Files.createTempDirectory("graft-closure-xml").toString
    Seq("node" -> nodes, "way" -> ways, "relation" -> chain).foreach {
      case (entity, df) => df.coalesce(1).write.format("osmxml")
        .option("entity", entity).mode("overwrite").save(xml)
    }
    val root = Files.createTempDirectory("graft-closure-db").toString
    Ingest.expandBucketed(spark, xml, root, nBuckets = 8)
    val edges = Ingest.readTables(spark, root).relationRelation
    val seeds = Bitmap({
      val b = new IdBitmapImpl.Buffer; b.add(1L); b.serialize })
    val (jobs, out) = graft.SparkJobs.jobsIn(spark) {
      Closure.reachable(seeds, edges, "member_id", "parent_id")
    }
    assert(out.isInstanceOf[Bitmap])
    assert(idsOf(out) == (1L to d + 1L).toSet)
    assert(jobs == d + 1, s"a depth-$d closure started $jobs jobs")
  }
}
