package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKImpl

/** The bounded top-k aggregate must be BIT-IDENTICAL to the rank
  * window it replaced (`row_number().over(partitionBy(g).orderBy(
  * score DESC, id ASC)) <= k`) — the q92/q119/q151/q160 oracles pin
  * the exact edge set, so any ordering or tie divergence is a
  * correctness failure, not a perf trade. */
class TopKSpec extends AnyFunSuite with graft.TestSession {
  test("buffer: ordering, capacity, tie-to-smallest-id") {
    val b = new TopKImpl.Buffer(3)
    b.add(10L, 0.5); b.add(11L, 0.9); b.add(12L, 0.1); b.add(13L, 0.9)
    // 0.9 tie: id 11 before 13; 0.1 evicted by nothing yet (size 3
    // after 4 adds drops the worst = 12)
    assert(b.size == 3)
    assert(b.ids.take(3).toSeq == Seq(11L, 13L, 10L))
    assert(b.scores.take(3).toSeq == Seq(0.9, 0.9, 0.5))
    // a worse row never enters; an equal-score larger id never enters
    b.add(99L, 0.4)
    b.add(99L, 0.5) // ties with current worst (10, 0.5), larger id
    assert(b.ids.take(3).toSeq == Seq(11L, 13L, 10L))
    // an equal-score SMALLER id displaces the worst
    b.add(5L, 0.5)
    assert(b.ids.take(3).toSeq == Seq(11L, 13L, 5L))
  }

  test("buffer: serialize/deserialize roundtrip and merge == bulk add") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((rnd.nextInt(50).toLong,
      math.rint(rnd.nextDouble() * 20) / 20.0))
    val (l, r) = rows.splitAt(97)
    val a = new TopKImpl.Buffer(5); l.foreach { case (i, s) => a.add(i, s) }
    val b = new TopKImpl.Buffer(5); r.foreach { case (i, s) => b.add(i, s) }
    val merged = TopKImpl.deserialize(a.serialize)
    merged.mergeFrom(TopKImpl.deserialize(b.serialize))
    val bulk = new TopKImpl.Buffer(5)
    rows.foreach { case (i, s) => bulk.add(i, s) }
    assert(merged.size == bulk.size)
    assert(merged.ids.take(merged.size).toSeq ==
      bulk.ids.take(bulk.size).toSeq)
    assert(merged.scores.take(merged.size).toSeq ==
      bulk.scores.take(bulk.size).toSeq)
  }

  test("aggregate == rank window, heavy ties, groups above the hash fallback") {
    import spark.implicits._
    // 300 groups (> the 128-key ObjectHashAggregate fallback default
    // knnEdges bumps), quantized scores so ties are everywhere
    val rnd = new scala.util.Random(42)
    val rows = (1 to 30000).map { _ =>
      (rnd.nextInt(300).toLong, rnd.nextInt(5000).toLong,
        math.rint(rnd.nextDouble() * 50) / 50.0)
    }
    val df = rows.toDF("g", "id", "score")
      .groupBy("g", "id").agg(max("score").as("score")) // unique (g,id)
    val k = 7
    import org.apache.spark.sql.expressions.Window
    val win = df.withColumn("rank", row_number().over(Window
        .partitionBy($"g").orderBy($"score".desc, $"id".asc)))
      .where($"rank" <= k)
      .select($"g", $"id", $"score", $"rank".cast("long").as("rank"))
    val agg = df.groupBy($"g")
      .agg(call_function("topk_by_score", $"id", $"score", lit(k))
        .as("tk"))
      .select($"g", posexplode($"tk"))
      .select($"g", $"col.id".as("id"), $"col.score".as("score"),
        ($"pos" + 1).cast("long").as("rank"))
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty,
      "aggregate and window disagree")
    assert(agg.count() == win.count())
  }

  test("ivfKnnEdges: no window/sort of scored rows, and high recall vs exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // clustered vectors so IVF cells are meaningful
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0L until 2000L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => x + rnd.nextGaussian() * 0.2).toSeq)
    }
    val emb = rows.toDF("vec_id", "v")
    val exact = Similarity.knnEdges(emb, 3)
    val approx = Similarity.ivfKnnEdges(emb, 3, every = 100, nprobe = 3)
    // plan shape: the scale claim — no Window, no Sort over the scored
    // stream (the final orderBy lives in callers, not the build)
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "IVF build must not rank via window")
    val exactSet = exact.select("src", "dst")
      .as[(Long, Long)].collect().toSet
    val approxSet = approx.select("src", "dst")
      .as[(Long, Long)].collect().toSet
    // approximate-by-design, but on clustered data nprobe=3/8 cells
    // must catch the vast majority of true neighbors
    val recall = approxSet.count(exactSet) .toDouble / exactSet.size
    assert(recall >= 0.8, s"IVF recall $recall vs exact edges")
    // every approx edge is a REAL scored pair with the exact score
    val exactScores = exact.select("src", "dst", "score")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, sc) => (a, b) -> sc }.toMap
    approx.select("src", "dst", "score").as[(Long, Long, Double)]
      .collect().foreach { case (a, b, sc) =>
        exactScores.get((a, b)).foreach(es => assert(es == sc,
          s"score drift on ($a,$b): exact $es vs ivf $sc"))
      }
  }

  test("ivfKnnEdgesAuto: codebook scales ~sqrt(n), plan window-free, " +
    "agrees with fixed-codebook scores on shared edges") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0L until 2000L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => x + rnd.nextGaussian() * 0.2).toSeq)
    }
    val emb = rows.toDF("vec_id", "v")
    val auto = Similarity.ivfKnnEdgesAuto(emb, 3)
    val plan = auto.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "auto IVF build must not rank via window")
    // n=2000 -> nlist=45 -> every=44 -> 46 centroids: recall against
    // the exact edges stays high on clustered data even with the
    // bigger codebook (probe fraction 4/46 vs fixed 4/20)
    assert(Similarity.autoNlist(2000L) == 45)
    val exact = Similarity.knnEdges(emb, 3)
    val exactSet = exact.select("src", "dst")
      .as[(Long, Long)].collect().toSet
    val autoEdges = auto.select("src", "dst", "score")
      .as[(Long, Long, Double)].collect()
    val recall = autoEdges.map(e => (e._1, e._2)).toSet
      .count(exactSet).toDouble / exactSet.size
    assert(recall >= 0.8, s"auto-IVF recall $recall vs exact edges")
    // any edge shared with the exact build carries the exact score
    val exactScores = exact.select("src", "dst", "score")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, sc) => (a, b) -> sc }.toMap
    autoEdges.foreach { case (a, b, sc) =>
      exactScores.get((a, b)).foreach(es => assert(es == sc,
        s"score drift on ($a,$b): exact $es vs auto-ivf $sc"))
    }
  }

  test("NaN scores are skipped (documented divergence from the window, " +
    "which ranks NaN first under desc)") {
    import spark.implicits._
    val df = Seq((1L, 10L, 1.0), (1L, 11L, Double.NaN), (1L, 12L, 0.5))
      .toDF("g", "id", "score")
    val agg = df.groupBy($"g")
      .agg(call_function("topk_by_score", $"id", $"score", lit(2))
        .as("tk"))
      .select(posexplode($"tk")).select($"col.id", $"col.score")
      .as[(Long, Double)].collect().toSeq
    assert(agg == Seq((10L, 1.0), (12L, 0.5)),
      "NaN must never enter a top-k buffer")
    // pin the divergence the doc states: the rank window puts the NaN
    // row FIRST under score DESC
    import org.apache.spark.sql.expressions.Window
    val win = df.withColumn("rank", row_number().over(Window
        .partitionBy($"g").orderBy($"score".desc, $"id".asc)))
      .where($"rank" <= 2).select($"id")
      .as[Long].collect().toSeq
    assert(win == Seq(11L, 10L), "window NaN-first premise changed")
  }

  test("fewer rows than k, and null inputs are skipped") {
    import spark.implicits._
    val df = Seq((1L, Some(10L), Some(1.0)), (1L, Some(11L), Some(0.5)),
      (1L, None, Some(9.9)), (1L, Some(12L), None))
      .toDF("g", "id", "score")
    val out = df.groupBy($"g")
      .agg(call_function("topk_by_score", $"id", $"score", lit(5))
        .as("tk"))
      .select(posexplode($"tk")).select($"col.id", $"col.score")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((10L, 1.0), (11L, 0.5)))
  }
}
