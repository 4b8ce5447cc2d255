package graft.osm

import graft.ops.{BitmapSemi, Closure}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.nio.file.Files

/** The extract over id bitmaps ([[Extract.complete]], [[Extract.rows]])
  * against the join formulation it replaced, kept here verbatim as the
  * reference (its closure is the join loop: [[Closure]] over a
  * frame, cap 0): the same node, way and relation sets, the same
  * rows written by [[Ingest.writeExtract]] and the same
  * [[Extract.materialize]] output — with bitmaps, and with the bitmap
  * cap forced to 0 so every set takes the `left_semi` fallback. Plus
  * the job count of a CLI extract on an 8-bucket store. */
class ExtractBitmapSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private val SF = "/root/testdata/sf0.001"

  /** The extract as a DAG of shuffle joins and `distinct`s over id
    * frames: `Extract.complete`, `Ingest.writeExtract` and
    * `Extract.materialize` as they were before the bitmaps. */
  private object JoinReference {

    def complete(t: SyntheticOsm.Tables, seedNodeIds: DataFrame)
    : Extract.Selected = {
      val seeds = seedNodeIds
        .select(col(seedNodeIds.columns.head).cast("long").as("id"))
        .distinct()
      val wayIds0 = seeds
        .join(t.nodeWay, seeds("id") === t.nodeWay("member_id"))
        .select(col("parent_id").as("id")).distinct()
      val relFromNodes = seeds
        .join(t.nodeRelation, seeds("id") === t.nodeRelation("member_id"))
        .select(col("parent_id").as("id"))
      val relFromWays = wayIds0
        .join(t.wayRelation, wayIds0("id") === t.wayRelation("member_id"))
        .select(col("parent_id").as("id"))
      val relSeeds = relFromNodes.union(relFromWays).distinct()
      val relationIds = Closure.reachable(BitmapSemi.Frame(relSeeds),
        t.relationRelation, childCol = "member_id", parentCol = "parent_id",
        maxBytes = 0).ids(seeds.sparkSession)
      val mpWayRefs = t.relations
        .join(relationIds, t.relations("id") === relationIds("id"),
          "left_semi")
        .where(element_at(col("tags"), "type") === "multipolygon")
        .select(explode(col("members")).as("m"))
        .where(col("m.mtype") === "way")
        .select(col("m.ref").as("id")).distinct()
        .join(t.ways.select(col("id")), Seq("id"), "left_semi")
      val wayIds = wayIds0.union(mpWayRefs).distinct()
      val wayNodes = t.ways
        .join(wayIds, t.ways("id") === wayIds("id"), "left_semi")
        .select(explode(col("nodes")).as("id"))
      val nodeIds = seeds.union(wayNodes).distinct()
      Extract.Selected(nodeIds, wayIds, relationIds)
    }

    def writeExtract(t: SyntheticOsm.Tables, sel: Extract.Selected,
                     dir: String, includeUserData: Boolean): Unit = {
      val noUser = lit("").as("user")
      val nodesOut = sel.nodeIds
        .join(t.locations, Seq("id"))
        .join(t.nodes.select(col("id"), col("tags"), col("meta")),
          Seq("id"), "left_outer")
        .select(col("id"), col("lon"), col("lat"), col("version"),
          coalesce(col("meta.timestamp"), lit(0L)).as("timestamp"),
          coalesce(if (includeUserData) col("meta.changeset") else lit(0L),
            lit(0L)).as("changeset"),
          coalesce(if (includeUserData) col("meta.uid") else lit(0L),
            lit(0L)).as("uid"),
          (if (includeUserData) coalesce(col("meta.user"), lit(""))
          else noUser).as("user"),
          coalesce(col("tags"),
            map().cast("map<string,string>")).as("tags"))
        .orderBy(col("id"))
      nodesOut.coalesce(1).write.format("osmxml")
        .option("entity", "node").mode("overwrite").save(dir)

      def entityOut(ids: DataFrame, table: DataFrame, extra: String)
      : DataFrame = ids.join(table, Seq("id"))
        .select(Seq(col("id"), col("meta.version").as("version"),
          col("meta.timestamp").as("timestamp"),
          (if (includeUserData) col("meta.changeset") else lit(0L))
            .as("changeset"),
          (if (includeUserData) col("meta.uid") else lit(0L)).as("uid"),
          (if (includeUserData) coalesce(col("meta.user"), lit(""))
          else noUser).as("user"),
          col("tags"), col(extra)): _*)
        .orderBy(col("id"))

      entityOut(sel.wayIds, t.ways, "nodes").coalesce(1)
        .write.format("osmxml").option("entity", "way")
        .mode("overwrite").save(dir)
      entityOut(sel.relationIds, t.relations, "members").coalesce(1)
        .write.format("osmxml").option("entity", "relation")
        .mode("overwrite").save(dir)
    }

    def materialize(t: SyntheticOsm.Tables, sel: Extract.Selected,
                    includeUserData: Boolean): DataFrame = {
      def user: org.apache.spark.sql.Column =
        (if (includeUserData) col("meta.user")
        else lit(null).cast("string")).as("user_s")
      val nodesOut = sel.nodeIds
        .join(t.locations, Seq("id"))
        .join(t.nodes.select(col("id"), col("tags"), col("meta")),
          Seq("id"), "left_outer")
        .select(lit(0).as("trank"), col("id"),
          col("lon"), col("lat"), col("version"),
          col("meta.timestamp").as("ts"),
          when(col("tags").isNotNull, Extract.tagsToString(col("tags")))
            .as("tags_s"),
          lit(null).cast("string").as("refs_s"), user)
      val waysOut = sel.wayIds
        .join(t.ways, Seq("id"))
        .select(lit(1).as("trank"), col("id"),
          lit(null).cast("int").as("lon"), lit(null).cast("int").as("lat"),
          col("meta.version").as("version"),
          col("meta.timestamp").as("ts"),
          Extract.tagsToString(col("tags")).as("tags_s"),
          array_join(transform(col("nodes"), n => n.cast("string")), ",")
            .as("refs_s"), user)
      val relsOut = sel.relationIds
        .join(t.relations, Seq("id"))
        .select(lit(2).as("trank"), col("id"),
          lit(null).cast("int").as("lon"), lit(null).cast("int").as("lat"),
          col("meta.version").as("version"),
          col("meta.timestamp").as("ts"),
          Extract.tagsToString(col("tags")).as("tags_s"),
          array_join(transform(col("members"),
            m => concat_ws(":", m("mtype"), m("ref"), m("role"))), ",")
            .as("refs_s"), user)
      nodesOut.unionByName(waysOut).unionByName(relsOut)
        .orderBy(col("trank"), col("id"))
    }
  }

  private def ids(df: DataFrame): Set[Long] = {
    val xs = df.select(col("id")).as[Long].collect()
    assert(xs.distinct.length == xs.length, "an id frame repeats ids")
    xs.toSet
  }

  private def idSets(sel: Extract.Selected): Seq[Set[Long]] =
    Seq(ids(sel.nodeIds), ids(sel.wayIds), ids(sel.relationIds))

  private def written(dir: String): Seq[Seq[Row]] =
    Seq("node", "way", "relation").map(e =>
      spark.read.format("osmxml").option("entity", e).load(dir)
        .collect().toSeq)

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString

  /** Every seed set: bitmap and cap-0 `complete` equal the join DAG's
    * sets; for the seeds in `writes`, the rows written and materialized
    * (with user data or not, as mapped) match too. */
  private def assertEquivalent(t: SyntheticOsm.Tables,
                               seeds: Seq[(String, DataFrame)],
                               writes: Map[String, Boolean]): Unit =
    seeds.foreach { case (name, s) =>
      val ref = JoinReference.complete(t, s)
      val want = idSets(ref)
      val variants = Seq(
        "bitmap" -> Extract.complete(t, s),
        "cap 0" -> Extract.complete(t, s, maxBytes = 0))
      variants.foreach { case (how, sel) =>
        assert(sel.sets.isDefined, s"$name/$how: no id sets")
        assert(idSets(sel) == want, s"$name/$how: id sets differ")
      }
      writes.get(name).foreach { userData =>
        val refDir = tmp("graft-ref-extract")
        JoinReference.writeExtract(t, ref, refDir, userData)
        val refRows = written(refDir)
        val refMat = JoinReference.materialize(t, ref, userData).collect()
        // a Selected without bitmaps derives them from its frames
        val frames = Extract.Selected(ref.nodeIds, ref.wayIds,
          ref.relationIds)
        (variants :+ ("frames" -> frames)).foreach { case (how, sel) =>
          val dir = tmp("graft-bm-extract")
          Ingest.writeExtract(t, sel, dir, includeUserData = userData)
          assert(written(dir) == refRows, s"$name/$how: written rows differ")
          assert(Extract.materialize(t, sel, userData).collect()
            .sameElements(refMat), s"$name/$how: materialize differs")
        }
      }
    }

  test("bitmap extract equals the join DAG on the hand-built world " +
    "(relation cycle, missing multipolygon way)") {
    val (nodes, ways, rels) = ExtractBitmapSpec.world(spark)
    val xmlDir = tmp("graft-bm-xml")
    nodes.coalesce(1).write.format("osmxml").option("entity", "node")
      .mode("overwrite").save(xmlDir)
    ways.coalesce(1).write.format("osmxml").option("entity", "way")
      .mode("overwrite").save(xmlDir)
    // relations 202 (in 201's closure) and 203 reference each other
    rels.union(Seq(
        (202L, 1, 1600000203L, 77L, 42L, "u", Map("type" -> "route"),
          Seq((201L, "relation", "sub"), (203L, "relation", "sub"))),
        (203L, 1, 1600000204L, 77L, 42L, "u", Map("type" -> "route"),
          Seq((202L, "relation", "sub"))))
      .toDF(rels.columns: _*))
      .coalesce(1).write.format("osmxml").option("entity", "relation")
      .mode("overwrite").save(xmlDir)
    val root = tmp("graft-bm-db")
    Ingest.expand(spark, xmlDir, root, numPartitions = 2)
    val t = Ingest.readTables(spark, root)
    val cluster = t.locations
      .where($"lat".between(99000000, 101000000) &&
        $"lon".between(99000000, 101000000)).select($"id")
    // the pinned closure of OsmXmlSpec's round trip, now over the cycle
    val sel = Extract.complete(t, cluster)
    assert(idSets(sel) == Seq(Set(1L, 2L, 3L, 5L), Set(100L, 102L),
      Set(200L, 201L, 202L, 203L)))
    assertEquivalent(t, Seq(
      "cluster" -> cluster,
      "all" -> t.locations.select($"id"),
      "node 6" -> Seq(6L).toDF("id"),
      "node 4" -> Seq(4L).toDF("id"),
      "unknown node" -> Seq(12345L).toDF("id"),
      "none" -> Seq.empty[Long].toDF("id")),
      writes = Map("cluster" -> true, "node 6" -> false, "none" -> true))
  }

  test("bitmap extract equals the join DAG on the synthetic OSM world") {
    val t = SyntheticOsm.materialized(spark, SF)
    val block = t.locations
      .where($"lat".between(0, 200000000) && $"lon".between(0, 400000000))
      .select($"id")
    assert(block.count() > 0)
    assertEquivalent(t, Seq(
      "block" -> block,
      "every 7th" -> t.locations.where($"id" % 7 === 0).select($"id"),
      "all" -> t.locations.select($"id")),
      writes = Map("block" -> false, "every 7th" -> true))
  }

  test("a CLI extract starts at most 26 jobs; an empty region none " +
    "after its seed scan but the writes") {
    val t0 = SyntheticOsm.materialized(spark, SF)
    val pbf = tmp("graft-bm-pbf")
    Ingest.writeExtract(t0, Extract.Selected(t0.locations.select($"id"),
      t0.ways.select($"id"), t0.relations.select($"id")), pbf,
      shards = 2, format = "osmpbf")
    val root = tmp("graft-bm-store")
    Ingest.expandBucketed(spark, pbf, root, nBuckets = 8)
    def extract(bbox: String): (Int, String) = {
      val out = tmp("graft-bm-cli")
      val (jobs, _) = graft.SparkJobs.jobsIn(spark) {
        Console.withOut(new ByteArrayOutputStream()) {
          graft.Cli.run(spark, IndexedSeq("extract", root, out,
            s"--bbox=$bbox"))
        }
      }
      (jobs, out)
    }
    val (blockJobs, blockOut) = extract("0,0,20,40")
    assert(written(blockOut).head.nonEmpty)
    assert(blockJobs <= 26, s"block extract started $blockJobs jobs")

    val (emptyJobs, emptyOut) = extract("80,0,85,10")
    assert(written(emptyOut).forall(_.isEmpty))
    val t = Ingest.readTables(spark, root)
    val none = BitmapSemi.empty
    val noneIds = none.ids(spark)
    val (writeJobs, _) = graft.SparkJobs.jobsIn(spark) {
      Ingest.writeExtract(t, Extract.Selected(noneIds, noneIds, noneIds,
        Some(Extract.IdSets(none, none, none))), tmp("graft-bm-none"),
        format = "osmpbf")
    }
    assert(emptyJobs == 1 + writeJobs,
      s"empty extract: $emptyJobs jobs, its writes alone $writeJobs")
  }
}

object ExtractBitmapSpec {

  /** Tiny hand-built world:
    * nodes 1-3 in a cluster near (10,10); node 4 far away at (50,50);
    * node 5 untagged at (10.001, 10.001); node 6 isolated at (-20,-20).
    * way 100 = [1,2,5]; way 101 = [4] (outside); way 102 = [3] member of
    * a multipolygon relation. relation 200 (multipolygon) = [way 102,
    * way 999-missing]; relation 201 = [node 6, relation 200]. */
  def world(spark: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val nodes = Seq(
      (1L, 100000000, 100000000, 1, 1600000001L, 77L, 42L, "u",
        Map("amenity" -> "cafe")),
      (2L, 100010000, 100010000, 1, 1600000002L, 77L, 42L, "u",
        Map("name" -> "A & B <\"x\">")),
      (3L, 100020000, 100020000, 2, 1600000003L, 77L, 42L, "u",
        Map.empty[String, String]),
      (4L, 500000000, 500000000, 1, 1600000004L, 77L, 42L, "u",
        Map.empty[String, String]),
      (5L, 100010001, 100010001, 3, 1600000005L, 77L, 42L, "u",
        Map.empty[String, String]),
      (6L, -200000000, -200000000, 1, 1600000006L, 77L, 42L, "u",
        Map("place" -> "island"))
    ).toDF("id", "lon", "lat", "version", "timestamp", "changeset",
      "uid", "user", "tags")
    val ways = Seq(
      (100L, 1, 1600000101L, 77L, 42L, "u",
        Map("highway" -> "path"), Seq(1L, 2L, 5L)),
      (101L, 1, 1600000102L, 77L, 42L, "u",
        Map.empty[String, String], Seq(4L)),
      (102L, 2, 1600000103L, 77L, 42L, "u",
        Map.empty[String, String], Seq(3L))
    ).toDF("id", "version", "timestamp", "changeset", "uid", "user",
      "tags", "nodes")
    val rels = Seq(
      (200L, 1, 1600000201L, 77L, 42L, "u",
        Map("type" -> "multipolygon"),
        Seq((102L, "way", "outer"), (999L, "way", "outer"))),
      (201L, 1, 1600000202L, 77L, 42L, "u",
        Map("type" -> "collection"),
        Seq((6L, "node", "label"), (200L, "relation", "sub")))
    ).toDF("id", "version", "timestamp", "changeset", "uid", "user",
      "tags", "members")
    (nodes, ways, rels)
  }
}
