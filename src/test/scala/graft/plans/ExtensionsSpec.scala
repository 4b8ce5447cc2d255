package graft.plans

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end test of the DEPLOYMENT wiring: a session built by
  * [[graft.GraftSession]], the bootstrap every graft main uses, injects
  * `.withExtensions(new GraftExtensions)` (the code path behind
  * `spark.sql.extensions=graft.functions.GraftExtensions`) and must
  * resolve every custom function from pure SQL — scalar AND
  * aggregate — and run the region-rewrite optimizer rule, with NO
  * explicit `GraftFunctions.register` call. This is how a cluster
  * operator wires the library for SQL-only consumers, and every other
  * suite runs on such a session ([[graft.TestSession]]). The last test
  * covers the other way in: a plain session built elsewhere (the
  * driver harness, osmbench) relies on the library's own `register`
  * calls. */
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
  private def withFreshSession(body: SparkSession => Unit): Unit =
    withFresh(graft.GraftSession("graft-extensions-spec"))(body)

  private def withFresh(build: => SparkSession)
                       (body: SparkSession => Unit): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = build
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

  /** Spark sizes its generated-class cache once per JVM, from the
    * first session that generates code, so this checks the cache the
    * test JVM really has: 150 distinct projections fit in 1024 entries,
    * and thrash Spark's default 100. */
  test("GraftSession caches 1024 generated classes, not Spark's 100") {
    withFreshSession { s =>
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      def pass(): Long = {
        val before = compiles.getCount
        (1 to 150).foreach(i =>
          s.range(3).selectExpr(s"id * $i + ${i * 7} AS v").collect())
        compiles.getCount - before
      }
      assert(pass() > 0, "the first pass must generate code")
      val again = pass()
      assert(again == 0,
        s"the second pass recompiled $again classes: the cache is too small")
    }
  }

  /** The one session in the suite built without [[graft.GraftSession]]:
    * no extensions and no `register` call here, as the driver harness
    * and osmbench build theirs. The flagship query must still resolve
    * graft's functions through the library's own `register` calls. It
    * runs last so that a JVM starting on this spec sizes its codegen
    * cache from a GraftSession, as the test above needs. */
  test("a plain session runs the flagship extract") {
    withFresh(SparkSession.builder().master("local[4]")
      .appName("graft-plain-session").getOrCreate()) { s =>
      assert(s.sessionState.functionRegistry
        .lookupFunction(FunctionIdentifier("s2_cell_id")).isEmpty,
        "the plain session must start without graft's functions")
      assert(graft.SparkEntry.entry(s).count() > 0)
    }
  }
}
