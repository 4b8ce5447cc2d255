package graft

import graft.functions.{IdBitmapImpl, IdBitmapProbe}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The Roaring-style ID-set bitmap (SURVEY §2.9 / A1,
  * `src/extract.cpp:149-151`): kernel properties plus the Spark
  * aggregate + probe round trip and the BitmapSemi plan shape. */
class BitmapSpec extends AnyFunSuite with TestSession {
  import spark.implicits._

  test("buffer round-trips arbitrary long sets incl. container switch") {
    val rnd = new Random(7)
    // mixed density: one hot chunk (forces array->bitmap conversion at
    // 4096), sparse far chunks, negative ids, u64-extreme bit patterns
    val ids = (
      (1 to 6000).map(_ => (rnd.nextInt(30000) + 100000).toLong) ++
        (1 to 500).map(_ => rnd.nextLong()) ++
        Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 65535L, 65536L)
      ).distinct
    val buf = new IdBitmapImpl.Buffer
    ids.foreach(buf.add)
    ids.foreach(buf.add) // idempotent re-adds
    val probe = new IdBitmapProbe(buf.serialize)
    assert(probe.cardinality == ids.size)
    ids.foreach(id => assert(probe.contains(id), s"missing $id"))
    val inSet = ids.toSet
    (1 to 5000).foreach { _ =>
      val x = rnd.nextLong()
      if (!inSet(x)) assert(!probe.contains(x))
    }
  }

  test("serialization is canonical regardless of build/merge order") {
    val rnd = new Random(8)
    val ids = (1 to 3000).map(_ => rnd.nextLong() % 1000000L)
    val a = new IdBitmapImpl.Buffer
    ids.foreach(a.add)
    val b1 = new IdBitmapImpl.Buffer
    val b2 = new IdBitmapImpl.Buffer
    ids.zipWithIndex.foreach { case (id, i) =>
      (if (i % 2 == 0) b1 else b2).add(id)
    }
    b2.mergeFrom(b1) // reversed merge order vs insertion order
    assert(java.util.Arrays.equals(a.serialize, b2.serialize))
    // serialize -> deserialize -> serialize is identity
    assert(java.util.Arrays.equals(a.serialize,
      IdBitmapImpl.deserialize(a.serialize).serialize))
  }

  test("bitmap_agg/bitmap_contains equal an IN-subquery on Spark") {
    val rnd = new Random(9)
    val big = (1L to 20000L).toDF("id").repartition(4)
    val small = (1 to 700).map(_ => (rnd.nextInt(25000) + 1).toLong)
      .toDF("k")
    val viaBitmap = graft.ops.BitmapSemi
      .filterIn(big, col("id"), small, "k")
      .select("id").as[Long].collect().sorted.toSeq
    val viaJoin = big.join(small.distinct(), $"id" === $"k", "left_semi")
      .select("id").as[Long].collect().sorted.toSeq
    assert(viaBitmap == viaJoin)
    val card = small.agg(
        call_function("bitmap_cardinality",
          call_function("bitmap_agg", $"k")))
      .head().getLong(0)
    assert(card == small.as[Long].collect().toSet.size)
  }

  test("bitmap path is a map-side filter (no join), and the size gate " +
    "falls back to left_semi") {
    // Range (not LocalRelation) so ConvertToLocalRelation can't fold
    // the filter away before we inspect the plan
    val big = spark.range(1, 1001).toDF("id")
    val small = (1L to 50L).toDF("k")
    val bitmapPlan = graft.ops.BitmapSemi
      .filterIn(big, col("id"), small, "k")
      .queryExecution.executedPlan.toString
    assert(bitmapPlan.contains("bitmap_contains"))
    assert(!bitmapPlan.toLowerCase.contains("join"))
    val fallbackPlan = graft.ops.BitmapSemi
      .filterIn(big, col("id"), small, "k", maxBytes = 0)
      .queryExecution.executedPlan.toString
    assert(fallbackPlan.toLowerCase.contains("join"))
    assert(!fallbackPlan.contains("bitmap_contains"))
  }

  test("filterNot: Bitmap, Frame and a plain left_anti keep the same " +
    "rows, null keys included; the empty set keeps every row") {
    import graft.ops.BitmapSemi
    val big = Seq[(java.lang.Long, Int)]((1L, 0), (2L, 1), (3L, 2),
      (null, 3), (5L, 4), (2L, 5), (null, 6), (100000L, 7), (-1L, 8))
      .toDF("k", "v")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    for (ids <- Seq(Seq(2L, 5L, 100000L, -1L), Seq(42L), Seq.empty[Long])) {
      val idsDf = ids.toDF("id")
      val want = rows(big.join(idsDf, $"k" === $"id", "left_anti"))
      assert(want.count(_.startsWith("[null,")) == 2, s"ids=$ids")
      if (ids.isEmpty) assert(want == rows(big))
      val bitmap = BitmapSemi.idSets(idsDf, Seq($"id")).head
      assert(bitmap.isInstanceOf[BitmapSemi.Bitmap], s"ids=$ids")
      assert(bitmap.isEmpty == ids.isEmpty, s"ids=$ids")
      assert(rows(bitmap.filterNot(big, $"k")) == want, s"bitmap ids=$ids")
      assert(rows(BitmapSemi.Frame(idsDf).filterNot(big, $"k")) == want,
        s"frame ids=$ids")
    }
  }
}
