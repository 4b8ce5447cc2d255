package graft

import graft.functions.{BloomImpl, BloomProbe}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The Bloom-filter prefilter family (`bloom_agg`/`bloom_contains`):
  * kernel guarantees (zero false negatives, bounded false-positive
  * rate, canonical OR-merge), the Spark aggregate round trip, the
  * q108 plan shape (probe filter BELOW the verify join's exchange),
  * and the exactness guarantee under a deliberately undersized filter
  * (false positives MUST be killed by the verify join). */
class BloomSpec extends AnyFunSuite with TestSession {
  import spark.implicits._

  test("kernel: no false negatives; FP rate near theoretical at 10 b/key") {
    val rnd = new Random(11)
    val keys = Array.fill(10000)(rnd.nextLong()).distinct
    val bits = BloomImpl.suggestBits(keys.length) // 131072 = 13.1 b/key
    val buf = new BloomImpl.Buffer(7, new Array[Long](bits / 64))
    keys.foreach(buf.add)
    val probe = new BloomProbe(buf.serialize)
    keys.foreach(k => assert(probe.contains(k), s"false negative $k"))
    val inSet = keys.toSet
    var fp = 0; var n = 0
    while (n < 20000) {
      val x = rnd.nextLong()
      if (!inSet(x)) { if (probe.contains(x)) fp += 1; n += 1 }
    }
    // theory ~0.2% at 13.1 bits/key k=7; generous 2% ceiling
    assert(fp < 400, s"false-positive rate ${fp / 200.0}% too high")
  }

  test("kernel: OR-merge is canonical regardless of split/order") {
    val rnd = new Random(12)
    val keys = Array.fill(5000)(rnd.nextLong())
    val whole = new BloomImpl.Buffer(5, new Array[Long](8192 / 64))
    keys.foreach(whole.add)
    val p1 = new BloomImpl.Buffer(5, new Array[Long](8192 / 64))
    val p2 = new BloomImpl.Buffer(5, new Array[Long](8192 / 64))
    keys.zipWithIndex.foreach { case (k, i) =>
      (if (i % 2 == 0) p1 else p2).add(k)
    }
    p2.mergeFrom(p1)
    assert(java.util.Arrays.equals(whole.serialize, p2.serialize))
    assert(java.util.Arrays.equals(whole.serialize,
      BloomImpl.deserialize(whole.serialize).serialize))
  }

  test("bloom_agg over partitions + bloom_contains finds every member") {
    val rnd = new Random(13)
    val keys = (1 to 4000).map(_ => rnd.nextLong()).distinct
    val df = keys.toDF("h").repartition(4)
    val bytes = df.agg(call_function("bloom_agg", $"h",
        lit(1 << 16), lit(7)))
      .head().getAs[Array[Byte]](0)
    val hits = df.where(call_function("bloom_contains", lit(bytes), $"h"))
      .count()
    assert(hits == keys.length) // no false negatives through Spark
  }

  test("q108 shape: probe filter sits below the verify join's exchange") {
    val docs = graft.SparkEntry.queries("q108_bloom_decontaminate")(
      spark, "/root/testdata/sf0.001")
    // unwrap AQE: collect() does not traverse into AdaptiveSparkPlanExec
    val plan = docs.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      => a.inputPlan
      case p => p
    }
    val bloomFilters = plan.collect {
      case f: FilterExec if f.condition.toString.contains("bloom_contains")
      => f
    }
    assert(bloomFilters.nonEmpty, "bloom_contains filter missing from plan")
    // map-side: no shuffle anywhere beneath the probe filter
    bloomFilters.foreach { f =>
      assert(f.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "bloom probe filter must sit below every exchange")
    }
  }

  test("exactness survives a deliberately undersized (FP-heavy) filter") {
    val mk = (ids: Seq[Long]) =>
      ids.map(i => (i, s"alpha beta gamma delta epsilon zeta token$i end"))
        .toDF("doc_id", "text")
    val train = mk(1L to 80L)
    val bench = mk(Seq(200L, 201L)) // shares the common phrase shingles
    // 64-bit filter: almost everything collides -> heavy false positives
    val viaBloom = graft.llm.Curate.contaminationHitsBloom(
        train, bench, "text", "doc_id", ngram = 3, forceBits = Some(64))
      .orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val exact = graft.llm.Curate.contaminationScores(
        train, bench, "text", "doc_id", ngram = 3)
      .where($"n_shared" >= 1)
      .withColumn("contaminated", $"contam_frac" >= 0.5)
      .select($"doc_id", $"n_sh", $"n_shared", $"contaminated")
      .orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(viaBloom == exact)
  }
}
