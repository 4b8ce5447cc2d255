package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The region-rewrite optimizer rule: exact `st_within_region` filters
  * gain a covering-range prune, without changing results. */
class RegionRewriteSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private lazy val points = {
    val rnd = new scala.util.Random(9)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-rr").toString
    // parquet-backed so the Filter survives into the optimized plan
    // (a LocalRelation gets constant-folded away)
    (0 until 20000).map { i =>
      (i.toLong, rnd.nextDouble() * 170 - 85, rnd.nextDouble() * 360 - 180)
    }.toDF("id", "lat", "lng").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("bbox predicate is rewritten to cell ranges + residual, same rows") {
    val filtered = points.where(
      expr("st_within_region(lat, lng, '40.0,-75.0,42.0,-70.0', 'bbox')"))
    val opt = filtered.queryExecution.optimizedPlan.toString
    assert(opt.contains("cell_in_ranges"),
      s"rewrite did not inject pruning:\n$opt")
    assert(opt.contains("st_within_region"), "exact residual missing")

    val expected = points.where(
      $"lat".between(40.0, 42.0) && $"lng".between(-75.0, -70.0))
      .select($"id").as[Long].collect().toSet
    val got = filtered.select($"id").as[Long].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty, "empty test region — weak test")
  }

  test("geojson polygon-with-hole predicate agrees with driver-side contains") {
    val json =
      """{"type":"Polygon","coordinates":[
        |[[-80.0,35.0],[-80.0,45.0],[-65.0,45.0],[-65.0,35.0],[-80.0,35.0]],
        |[[-75.0,38.0],[-75.0,42.0],[-70.0,42.0],[-70.0,38.0],[-75.0,38.0]]]}"""
        .stripMargin.replace("\n", " ")
    val filtered = points.where(
      expr(s"st_within_region(lat, lng, '$json', 'geojson')"))
    val got = filtered.select($"id").as[Long].collect().toSet

    val region = graft.spatial.Region(json, "geojson")
    val expected = points.select($"id", $"lat", $"lng")
      .as[(Long, Double, Double)].collect()
      .filter { case (_, la, ln) => region.contains(la, ln) }
      .map(_._1).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // hole is excluded
    val inHole = points.where(
      $"lat".between(38.5, 41.5) && $"lng".between(-74.5, -70.5))
      .select($"id").as[Long].collect().toSet
    assert(got.intersect(inHole).isEmpty)
  }

  test("rewrite is idempotent (marker prevents re-expansion)") {
    val filtered = points.where(
      expr("st_within_region(lat, lng, '0,0,1,1', 'bbox')"))
    val opt = filtered.queryExecution.optimizedPlan.toString
    val n = "cell_in_ranges".r.findAllIn(opt).length
    assert(n == 1, s"expected exactly one injected prune, got $n:\n$opt")
  }
}
