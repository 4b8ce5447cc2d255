package graft.osm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The driver-local point-read path (r12, BASELINE.md §QD1's stated
  * serving answer): results must be EQUAL to the Spark job path over
  * the same pinned snapshot, and the direct path must schedule ZERO
  * Spark jobs. */
class PointReaderSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  /** A store exercising every decode shape: extra physical column
    * (s2cell), map tags (incl. empty), struct meta (incl. NULL),
    * long-list way nodes (incl. empty), struct-list relation members,
    * multi-row adjacency. 8 buckets so present/absent ids land in
    * different buckets, including never-written ones. */
  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-pointreader").toString
    val locations = (1L to 300L).map(i =>
      (i, i.toInt * 7, -i.toInt * 3, (i % 5).toInt + 1, i * 100))
      .toDF("id", "lon", "lat", "version", "s2cell")
    val nodes = Seq(
      (3L, Map("amenity" -> "cafe", "name" -> "x")),
      (4L, Map.empty[String, String]))
      .toDF("id", "tags")
      .withColumn("meta",
        when(col("id") === 3L, struct(lit(2).as("version"),
          lit(123L).as("timestamp"), lit(9L).as("changeset"),
          lit(1L).as("uid"), lit("u").as("user"))))
    val ways = Seq(
      (10L, Seq(3L, 4L, 3L), Map("highway" -> "path")),
      (11L, Seq.empty[Long], Map.empty[String, String]))
      .toDF("id", "nodes", "tags")
    val relations = Seq(
      (20L, Seq((10L, "way", "outer"), (3L, "node", "")),
        Map("type" -> "multipolygon")))
      .toDF("id", "members", "tags")
      .withColumn("members", transform(col("members"), m =>
        struct(m("_1").as("ref"), m("_2").as("mtype"),
          m("_3").as("role"))))
      .withColumn("meta", struct(lit(4).as("version"),
        lit(456L).as("timestamp"), lit(8L).as("changeset"),
        lit(2L).as("uid"), lit("v").as("user")))
    val nodeWay = Seq((3L, 10L), (3L, 11L), (4L, 10L))
      .toDF("member_id", "parent_id")
    VersionedTable.commitBucketed(r, Map(
      "locations" -> ((locations, "id")),
      "nodes" -> ((nodes, "id")),
      "ways" -> ((ways, "id")),
      "relations" -> ((relations, "id")),
      "node_way" -> ((nodeWay, "member_id"))), nBuckets = 8)
    r
  }

  test("direct point reads equal the Spark job path, present and absent") {
    val directDb = new OsmDb(spark, root, forceJobPath = false)
    val jobDb = new OsmDb(spark, root, forceJobPath = true)
    val probeIds = Seq(1L, 3L, 4L, 10L, 11L, 20L, 299L, 300L,
      0L, 301L, 9999L, -5L) // last four absent everywhere
    for (id <- probeIds) {
      assert(directDb.location(id) == jobDb.location(id), s"location($id)")
      assert(directDb.node(id) == jobDb.node(id), s"node($id)")
      assert(directDb.way(id) == jobDb.way(id), s"way($id)")
      assert(directDb.relation(id) == jobDb.relation(id), s"relation($id)")
      assert(directDb.nodeExists(id) == jobDb.nodeExists(id), s"exists($id)")
      assert(directDb.parents("node_way", id) ==
        jobDb.parents("node_way", id), s"parents($id)")
    }
    // decode spot checks (not just path-vs-path agreement)
    assert(directDb.location(2L).contains((14, -6, 3)))
    assert(directDb.node(3L).contains(
      (Map("amenity" -> "cafe", "name" -> "x"), 2)))
    assert(directDb.node(4L).contains((Map.empty[String, String], 0)),
      "NULL meta must decode as version 0")
    assert(directDb.way(10L).contains(
      (Seq(3L, 4L, 3L), Map("highway" -> "path"))))
    assert(directDb.way(11L).contains(
      (Seq.empty[Long], Map.empty[String, String])))
    assert(directDb.relation(20L).contains(
      (Seq((10L, "way", "outer"), (3L, "node", "")),
        Map("type" -> "multipolygon"))))
    assert(directDb.parents("node_way", 3L) == Seq(10L, 11L))
  }

  test("direct point reads schedule ZERO Spark jobs") {
    val db = new OsmDb(spark, root, forceJobPath = false)
    db.location(1L) // warm the file-listing cache outside the window
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      db.location(3L); db.node(3L); db.way(10L); db.relation(20L)
      db.parents("node_way", 4L); db.nodeExists(0L); db.location(9999L)
      // listener events are async: give the bus a beat to drain (a job
      // start we'd miss here would still fail the assert after it)
      Thread.sleep(300)
      assert(jobs.get() == 0,
        s"direct path scheduled ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("column-projected reads equal full-schema reads, field by field") {
    val pr = new PointReader(root, VersionedTable.current(root).get)
    // every projection of the widest row must agree with the full read
    val full = pr.rows("relations", "id", 20L)
    assert(full.size == 1)
    for (cols <- Seq(Seq("tags"), Seq("members"), Seq("meta"),
        Seq("tags", "meta"), Seq("members", "tags", "meta"))) {
      val proj = pr.rows("relations", "id", 20L, cols)
      assert(proj.size == 1, s"projection $cols")
      for (c <- cols) c match {
        case "tags" => assert(pr.stringMap(proj.head, "tags") ==
          pr.stringMap(full.head, "tags"))
        case "members" => assert(
          pr.groupSeq(proj.head, "members").map(m => pr.long(m, "ref")) ==
          pr.groupSeq(full.head, "members").map(m => pr.long(m, "ref")))
        case "meta" => assert(
          pr.structInt(proj.head, "meta", "version", 0) ==
          pr.structInt(full.head, "meta", "version", 0))
      }
      // the key survives every projection (filter + belt-check need it)
      assert(pr.long(proj.head, "id") == 20L)
    }
    // key-only projection: existence with zero payload pages
    assert(pr.rows("locations", "id", 2L, Nil).size == 1)
    assert(pr.rows("locations", "id", 9999L, Nil).isEmpty)
    // requested field absent from the file schema: tolerated, decode
    // helpers default (schema-evolution / meta-less stores)
    val lax = pr.rows("locations", "id", 2L, Seq("no_such_column"))
    assert(lax.size == 1 &&
      pr.structInt(lax.head, "no_such_column", "x", -7) == -7)
  }

  test("meta-only relation probe agrees across paths, skips members") {
    val directDb = new OsmDb(spark, root, forceJobPath = false)
    val jobDb = new OsmDb(spark, root, forceJobPath = true)
    for (id <- Seq(20L, 21L, 0L, 9999L))
      assert(directDb.relationMeta(id) == jobDb.relationMeta(id),
        s"relationMeta($id)")
    assert(directDb.relationMeta(20L).contains(
      (Map("type" -> "multipolygon"), 4)))
  }

  test("non-bucketed tables fall through to the Spark path") {
    val r = Files.createTempDirectory("graft-pointreader-plain").toString
    VersionedTable.commit(r, Map(
      "locations" -> Seq((1L, 5, 6, 1)).toDF("id", "lon", "lat",
        "version")))
    val db = new OsmDb(spark, r) // plain layout: supports() is false
    assert(db.location(1L).contains((5, 6, 1)))
    assert(db.location(2L).isEmpty)
  }
}
