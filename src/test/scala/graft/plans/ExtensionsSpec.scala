package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end test of the DEPLOYMENT wiring: a session built by
  * [[graft.GraftSession]], the bootstrap every graft main uses, injects
  * `.withExtensions(new GraftExtensions)` (the code path behind
  * `spark.sql.extensions=graft.functions.GraftExtensions`) and must
  * resolve every custom function from pure SQL — scalar AND
  * aggregate — and run the region-rewrite optimizer rule, with NO
  * explicit `GraftFunctions.register` call. This is how a cluster
  * operator wires the library for SQL-only consumers; every other
  * suite exercises the per-session `register` path instead. */
class ExtensionsSpec extends AnyFunSuite {

  /** A session NEWLY built by GraftSession, stopped afterwards. Other
    * suites' (finished) shared sessions must not satisfy getOrCreate —
    * extensions and master only apply to a newly created session.
    * SAFETY: stopping the active session is only safe because
    * build.sbt runs test suites SEQUENTIALLY in one forked JVM
    * (Test / fork := true, no forked-parallel setting); if parallel
    * forked tests are ever enabled, this must move to an isolated
    * helper that builds its own session without touching the shared
    * one. */
  private def withFreshSession(body: SparkSession => Unit): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.GraftSession("graft-extensions-spec")
    try body(s)
    finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("withExtensions registers functions and the region-rewrite " +
    "rule without register()") {
    withFreshSession { s =>
      // scalar expression + TypedImperativeAggregate from pure SQL
      val r = s.sql(
        """SELECT s2_cell_id(CAST(1.0 AS DOUBLE),
          |                  CAST(2.0 AS DOUBLE), 16) AS c,
          |       bitmap_cardinality(bitmap_agg(x)) AS n
          |FROM VALUES (CAST(1 AS BIGINT)), (2L), (2L) AS t(x)"""
          .stripMargin).head()
      assert(r.getLong(1) == 2L, "bitmap aggregate wrong cardinality")
      assert(r.getLong(0) ==
        graft.spatial.S2.latLngToCellId(1.0, 2.0, 16),
        "s2_cell_id disagrees with the library call")

      // optimizer rule injected: an exact region predicate over a
      // parquet scan gains the covering-range prune + exact residual
      import s.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ext").toString
      (0 until 2000).map { i =>
        (i.toLong, (i % 170).toDouble - 85, (i % 360).toDouble - 180)
      }.toDF("id", "lat", "lng").write.mode("overwrite").parquet(dir)
      val opt = s.read.parquet(dir)
        .where(expr(
          "st_within_region(lat, lng, '40.0,-75.0,42.0,-70.0', 'bbox')"))
        .queryExecution.optimizedPlan.toString
      assert(opt.contains("cell_in_ranges"),
        s"region-rewrite rule not active via extensions:\n$opt")
      assert(opt.contains("st_within_region"), "exact residual missing")
    }
  }

  test("GraftSession keeps a submitted master and leaves shuffle " +
    "partitions unpinned") {
    // spark-submit --master passes the master as this system property
    val prev = sys.props.get("spark.master")
    sys.props("spark.master") = "local[1]"
    try withFreshSession { s =>
      assert(s.sparkContext.master == "local[1]")
      assert(!s.sparkContext.getConf.contains("spark.sql.shuffle.partitions"))
      assert(s.conf.get("spark.sql.shuffle.partitions") == "200",
        "the SQL default, not the local core count")
    } finally prev match {
      case Some(m) => sys.props("spark.master") = m
      case None => sys.props -= "spark.master"
    }
  }

  test("GraftSession caches 1024 generated classes, not Spark's 100") {
    withFreshSession { s =>
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
      assert(s.sessionState.conf.codegenCacheMaxEntries == 1024)
    }
  }
}
