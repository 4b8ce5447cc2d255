package graft

import graft.functions.{CmsImpl, CmsProbe}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The count-min-sketch family (`cms_agg`/`cms_estimate`): the
  * overcount-only guarantee (estimates never below true counts — what
  * makes the q110 prefilter exact), canonical elementwise-add merge,
  * the Spark aggregate round trip, the q110 plan shape, and exactness
  * of heavy-hitter output under a deliberately tiny (collision-heavy)
  * sketch. */
class CmsSpec extends AnyFunSuite with TestSession {
  import spark.implicits._

  test("kernel: estimate >= true count for every key, exact when wide") {
    val rnd = new Random(21)
    val keys = Array.fill(400)(rnd.nextLong() % 100)
    val truth = keys.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong
    }
    val buf = new CmsImpl.Buffer(4, 1 << 14, new Array[Long](4 << 14))
    keys.foreach(buf.add)
    val probe = new CmsProbe(buf.serialize)
    truth.foreach { case (k, n) =>
      assert(probe.estimate(k) >= n, s"undercount for $k")
    }
    // 100ish distinct keys in a 16k-wide 4-row sketch: no collisions,
    // estimates are exact
    truth.foreach { case (k, n) => assert(probe.estimate(k) == n) }
  }

  test("kernel: overcount-only survives heavy collisions (width 16)") {
    val rnd = new Random(22)
    val keys = Array.fill(3000)(rnd.nextLong() % 500)
    val truth = keys.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong
    }
    val buf = new CmsImpl.Buffer(4, 16, new Array[Long](64))
    keys.foreach(buf.add)
    val probe = new CmsProbe(buf.serialize)
    truth.foreach { case (k, n) => assert(probe.estimate(k) >= n) }
  }

  test("kernel: merge is elementwise add — split equals whole") {
    val rnd = new Random(23)
    val keys = Array.fill(2000)(rnd.nextLong() % 300)
    val whole = new CmsImpl.Buffer(3, 256, new Array[Long](768))
    keys.foreach(whole.add)
    val p1 = new CmsImpl.Buffer(3, 256, new Array[Long](768))
    val p2 = new CmsImpl.Buffer(3, 256, new Array[Long](768))
    keys.zipWithIndex.foreach { case (k, i) =>
      (if (i % 2 == 0) p1 else p2).add(k)
    }
    p2.mergeFrom(p1)
    assert(java.util.Arrays.equals(whole.serialize, p2.serialize))
    assert(java.util.Arrays.equals(whole.serialize,
      CmsImpl.deserialize(whole.serialize).serialize))
  }

  test("cms_agg over partitions estimates every key's count exactly " +
    "when wide, and never under when narrow") {
    val rnd = new Random(24)
    val keys = (1 to 3000).map(_ => rnd.nextLong() % 200)
    val df = keys.toDF("h").repartition(4)
    val truth = keys.groupBy(identity).map { case (k, v) => k -> v.length }
    val wide = df.agg(call_function("cms_agg", $"h", lit(1 << 14), lit(4)))
      .head().getAs[Array[Byte]](0)
    val est = df.distinct()
      .select($"h", call_function("cms_estimate", lit(wide), $"h")
        .as("est"))
      .as[(Long, Long)].collect().toMap
    truth.foreach { case (k, n) => assert(est(k) == n.toLong) }
  }

  test("q110 shape: estimate filter sits below the exact count's " +
    "exchange") {
    val out = graft.SparkEntry.queries("q110_heavy_hitters")(
      spark, "/root/testdata/sf0.001")
    val plan = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      => a.inputPlan
      case p => p
    }
    val cmsFilters = plan.collect {
      case f: FilterExec if f.condition.toString.contains("cms_estimate")
      => f
    }
    assert(cmsFilters.nonEmpty, "cms_estimate filter missing from plan")
    cmsFilters.foreach { f =>
      assert(f.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "cms prefilter must sit below every exchange")
    }
  }

  test("heavy-hitter output is exact even with a collision-heavy " +
    "width-16 sketch") {
    val docs = ((1 to 40).map(i => (i.toLong, "the quick brown fox")) ++
      (41 to 44).map(i => (i.toLong, s"rare words only here $i")))
      .toDF("doc_id", "text")
    val viaCms = graft.llm.Curate.heavyHitterNgrams(docs, "text",
        n = 3, minCount = 10L, width = 16, depth = 2)
      .as[(String, Long)].collect().toSet
    assert(viaCms == Set(("the quick brown", 40L), ("quick brown fox", 40L)))
  }
}
