package graft.osm

import graft.streaming.Replication
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.util.Random

/** Randomized CDC equivalence: arbitrary OsmChange sequences applied
  * three ways must agree (the reference's single-writer in-order
  * semantics, `src/update.cpp:228-291`):
  *
  *   1. an in-memory fold over the ops in sequence order (the spec);
  *   2. [[Changeset]]'s batch delta transforms, one batch at a time
  *      (the q33/q37 path; within a batch the caller keeps the LAST
  *      change per element, which is what in-order application of the
  *      batch's rows produces);
  *   3. [[Replication.catchUp]] end to end — bucketed CoW store,
  *      Structured Streaming file source, copy-on-write manifest
  *      commits. AvailableNow coalesces all diff files into ONE
  *      micro-batch, so this path also pins applyBatch's internal
  *      latest-version-wins dedup (an element created in seq k and
  *      modified in seq k+1 arrives twice in the same batch).
  *
  * Generated adversarial moves: re-creation after delete, repeated
  * same-id changes inside one batch, tagged<->untagged node flips
  * (blob create/delete, `update.cpp:50-60`), node moves, way node-list
  * rewrites, relation member churn across all three member types.
  */
class CdcPropertySpec extends AnyFunSuite with graft.TestSession {
  // ---------- model ----------

  private sealed trait Op {
    def id: Long; def visible: Boolean; def version: Int
  }
  private case class NodeOp(id: Long, visible: Boolean, lon: Int,
                            lat: Int, version: Int,
                            tags: Map[String, String]) extends Op
  private case class WayOp(id: Long, visible: Boolean, nodes: Seq[Long],
                           version: Int) extends Op
  private case class RelOp(id: Long, visible: Boolean,
                           members: Seq[(Long, String, String)],
                           version: Int) extends Op

  /** The spec: plain in-order fold (reference single-writer). */
  private case class World(
      locations: Map[Long, (Int, Int, Int)] = Map.empty,
      nodeTags: Map[Long, Map[String, String]] = Map.empty,
      ways: Map[Long, Seq[Long]] = Map.empty,
      rels: Map[Long, Seq[(Long, String, String)]] = Map.empty) {
    def apply(op: Op): World = op match {
      case NodeOp(id, vis, lon, lat, v, tags) =>
        if (!vis)
          copy(locations = locations - id, nodeTags = nodeTags - id)
        else copy(
          locations = locations + (id -> ((lon, lat, v))),
          // visible + untagged DELETES any existing blob
          nodeTags = if (tags.nonEmpty) nodeTags + (id -> tags)
                     else nodeTags - id)
      case WayOp(id, vis, nodes, _) =>
        copy(ways = if (vis) ways + (id -> nodes) else ways - id)
      case RelOp(id, vis, members, _) =>
        copy(rels = if (vis) rels + (id -> members) else rels - id)
    }
    def nodeWay: Set[(Long, Long)] =
      ways.toSeq.flatMap { case (w, ns) => ns.distinct.map(_ -> w) }.toSet
    def relAdj(mtype: String): Set[(Long, Long)] =
      rels.toSeq.flatMap { case (r, ms) =>
        ms.filter(_._2 == mtype).map(_._1 -> r).distinct
      }.toSet
  }

  // ---------- generator ----------

  private val MTypes = Seq("node", "way", "relation")

  private def genBatch(rnd: Random, verAt: Long => Int,
                       bump: Long => Int): Seq[Op] = {
    val n = 1 + rnd.nextInt(6)
    Seq.fill(n) {
      rnd.nextInt(3) match {
        case 0 =>
          val id = 1L + rnd.nextInt(8)
          val vis = rnd.nextInt(4) > 0 // 25% deletes
          val tags = if (rnd.nextBoolean())
            Map("k" -> s"v${rnd.nextInt(3)}") else Map.empty[String, String]
          NodeOp(id, vis, rnd.nextInt(100), rnd.nextInt(100), bump(id),
            tags)
        case 1 =>
          val id = 100L + rnd.nextInt(4)
          val vis = rnd.nextInt(4) > 0
          val nodes = Seq.fill(1 + rnd.nextInt(4))(1L + rnd.nextInt(8))
          WayOp(id, vis, nodes, bump(id))
        case _ =>
          val id = 200L + rnd.nextInt(2)
          val vis = rnd.nextInt(4) > 0
          val members = Seq.fill(1 + rnd.nextInt(3))(
            (1L + rnd.nextInt(8), MTypes(rnd.nextInt(3)),
              if (rnd.nextBoolean()) "outer" else "inner"))
          RelOp(id, vis, members, bump(id))
      }
    }
  }

  private def genSequence(seed: Int): Seq[Seq[Op]] = {
    val rnd = new Random(seed)
    val vers = scala.collection.mutable.Map[Long, Int]()
    def bump(id: Long): Int = {
      val v = vers.getOrElse(id, 0) + 1; vers(id) = v; v
    }
    Seq.fill(2 + rnd.nextInt(3))(genBatch(rnd, vers.getOrElse(_, 0), bump))
  }

  /** In-order semantics for one batch handed to the set-based batch
    * API: keep only the LAST change per element. */
  private def lastPerId(ops: Seq[Op]): Seq[Op] =
    ops.zipWithIndex.groupBy { case (op, _) => (op.getClass, op.id) }
      .map { case (_, v) => v.maxBy(_._2) }.toSeq
      .sortBy(_._2).map(_._1)

  // ---------- batch-path plumbing ----------

  private val metaT = "struct<version:int,timestamp:bigint," +
    "changeset:bigint,uid:bigint,user:string>"

  private def nodeChangesDf(ops: Seq[Op]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = ops.collect { case o: NodeOp =>
      (o.id, o.visible, o.lon, o.lat, o.version, o.tags)
    }
    rows.toDF("id", "visible", "lon", "lat", "version", "tags")
      .withColumn("meta", lit(null).cast(metaT))
  }

  private def wayChangesDf(ops: Seq[Op]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = ops.collect { case o: WayOp =>
      (o.id, o.visible, o.nodes, Map.empty[String, String])
    }
    rows.toDF("id", "visible", "nodes", "tags")
      .withColumn("meta", lit(null).cast(metaT))
  }

  private def relChangesDf(ops: Seq[Op]): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = StructType.fromDDL("id BIGINT, visible BOOLEAN, " +
      "members ARRAY<STRUCT<ref:BIGINT,mtype:STRING,role:STRING>>, " +
      "tags MAP<STRING,STRING>")
    val rows = ops.collect { case o: RelOp =>
      Row(o.id, o.visible,
        o.members.map(m => Row(m._1, m._2, m._3)),
        Map.empty[String, String])
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .withColumn("meta", lit(null).cast(metaT))
  }

  private def emptyTables: Map[String, DataFrame] = {
    import org.apache.spark.sql.functions._
    def empty(ddl: String): DataFrame =
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[Row], StructType.fromDDL(ddl))
    Map(
      "locations" -> empty("id BIGINT, lon INT, lat INT, version INT"),
      "nodes" -> empty("id BIGINT, tags MAP<STRING,STRING>")
        .withColumn("meta", lit(null).cast(metaT)),
      "ways" -> empty("id BIGINT, nodes ARRAY<BIGINT>, " +
        "tags MAP<STRING,STRING>")
        .withColumn("meta", lit(null).cast(metaT)),
      "relations" -> empty("id BIGINT, " +
        "members ARRAY<STRUCT<ref:BIGINT,mtype:STRING,role:STRING>>, " +
        "tags MAP<STRING,STRING>")
        .withColumn("meta", lit(null).cast(metaT)),
      "node_way" -> empty("member_id BIGINT, parent_id BIGINT"),
      "node_relation" -> empty("member_id BIGINT, parent_id BIGINT"),
      "way_relation" -> empty("member_id BIGINT, parent_id BIGINT"),
      "relation_relation" -> empty("member_id BIGINT, parent_id BIGINT"))
  }

  private def applyBatchOfOps(t: Map[String, DataFrame], ops: Seq[Op])
  : Map[String, DataFrame] = {
    val deduped = lastPerId(ops)
    val (loc, blobs) = Changeset.applyNodeChanges(
      t("locations"), t("nodes"), nodeChangesDf(deduped))
    val (ways, nodeWay) = Changeset.applyWayChanges(
      t("ways"), t("node_way"), wayChangesDf(deduped))
    val (rels, nr, wr, rr) = Changeset.applyRelationChanges(
      t("relations"), t("node_relation"), t("way_relation"),
      t("relation_relation"), relChangesDf(deduped))
    Map("locations" -> loc, "nodes" -> blobs, "ways" -> ways,
      "node_way" -> nodeWay, "relations" -> rels, "node_relation" -> nr,
      "way_relation" -> wr, "relation_relation" -> rr)
  }

  private def assertMatchesWorld(read: String => DataFrame, w: World,
                                 ctx: String): Unit = {
    val loc = read("locations")
      .select("id", "lon", "lat", "version")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(loc == w.locations, s"$ctx locations")
    val blobs = read("nodes").select("id", "tags")
      .collect().map(r => r.getLong(0) ->
        r.getMap[String, String](1).toMap).toMap
    assert(blobs == w.nodeTags, s"$ctx node blobs")
    val ways = read("ways").select("id", "nodes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(ways == w.ways, s"$ctx ways")
    val rels = read("relations").select("id", "members")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Row](1).map(m =>
          (m.getLong(0), m.getString(1), m.getString(2)))).toMap
    assert(rels == w.rels, s"$ctx relations")
    def adj(table: String): Set[(Long, Long)] =
      read(table).select("member_id", "parent_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adj("node_way") == w.nodeWay, s"$ctx node_way")
    assert(adj("node_relation") == w.relAdj("node"), s"$ctx node_relation")
    assert(adj("way_relation") == w.relAdj("way"), s"$ctx way_relation")
    assert(adj("relation_relation") == w.relAdj("relation"),
      s"$ctx relation_relation")
  }

  // ---------- properties ----------

  test("batch CDC == in-memory fold over 100 random sequences") {
    for (seed <- 1 to 100) {
      val batches = genSequence(seed)
      val world = batches.flatten.foldLeft(World())(_.apply(_))
      val finalTables =
        batches.foldLeft(emptyTables)(applyBatchOfOps)
      assertMatchesWorld(finalTables(_), world, s"seed=$seed")
    }
  }

  test("streaming catch-up == batch == fold (coalesced multi-diff batch)") {
    import org.apache.spark.sql.functions._
    // a handful of full end-to-end replays (streaming-query startup
    // dominates, so the wide randomization lives in the batch test;
    // these seeds still cover re-creation, same-id-across-diffs in one
    // micro-batch, and member churn)
    for (seed <- Seq(1, 7, 13, 42)) {
      val batches = genSequence(seed)
      // base snapshot = fold of batch 0; diffs = batches 1..n
      val base = batches.head.foldLeft(World())(_.apply(_))
      val world = batches.flatten.foldLeft(World())(_.apply(_))

      val root = Files.createTempDirectory("graft-cdc-prop").toString
      val baseTables = applyBatchOfOps(emptyTables, batches.head)
      VersionedTable.commitBucketed(root,
        baseTables.map { case (t, df) =>
          t -> ((df, if (t.endsWith("_way") || t.endsWith("_relation"))
            "member_id" else "id"))
        }, nBuckets = 4,
        meta = Map("osmosis_replication_sequence_number" -> "0"))
      assertMatchesWorld(VersionedTable.read(spark, root, _), base,
        s"seed=$seed base")

      val changesDir = Files.createTempDirectory("graft-cdc-osc").toString
      val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
      batches.tail.zipWithIndex.foreach { case (ops, i) =>
        val rows = ops.map {
          case NodeOp(id, vis, lon, lat, v, tags) =>
            Row(id, "node", vis, lon, lat, v, null, null,
              if (tags.isEmpty) null else tags, null, (i + 1).toLong)
          case WayOp(id, vis, nodes, v) =>
            Row(id, "way", vis, null, null, v, nodes, null, null, null,
              (i + 1).toLong)
          case RelOp(id, vis, members, v) =>
            Row(id, "relation", vis, null, null, v, null,
              members.map(m => Row(m._1, m._2, m._3)), null, null,
              (i + 1).toLong)
        }
        spark.createDataFrame(spark.sparkContext.parallelize(rows),
          Replication.changeSchema)
          .coalesce(1).write.mode("append").parquet(changesDir)
      }
      if (batches.tail.nonEmpty) {
        // AvailableNow reads every diff file into ONE micro-batch:
        // cross-diff same-id changes exercise applyBatch's internal
        // latest-version-wins dedup
        Replication.catchUp(spark, changesDir, root, ckpt)
          .awaitTermination()
      }
      assertMatchesWorld(VersionedTable.read(spark, root, _), world,
        s"seed=$seed streamed")
    }
  }
}
