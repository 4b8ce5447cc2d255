package graft.streaming

import graft.osm.VersionedTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.util.Random

/** The buckets [[Replication.applyBatch]] rewrites, against the
  * formulation its two aggregates replaced, kept here as the reference:
  * one [[VersionedTable.bucketsOf]] per id set, with the changed
  * parents' old members read from their bucket-pruned rows. Random
  * diffs (deletes, re-creates, way node-list rewrites, relation member
  * churn across all three member types, an element changed twice in
  * one diff) run through `applyBatch` on an 8-bucket, 8-table store;
  * for each table the buckets the new manifest owns at the new version
  * must be exactly the reference's set. Plus the job count of one such
  * apply, its commit's table writes included. */
class ApplyBucketsSpec extends AnyFunSuite with graft.TestSession {
  private val NBuckets = 8
  private val MTypes = Seq("node", "way", "relation")
  private val metaT = "struct<version:int,timestamp:bigint," +
    "changeset:bigint,uid:bigint,user:string>"

  /** The store's content, as plain collections. */
  private case class World(
      nodes: Map[Long, (Int, Int, Map[String, String])],
      ways: Map[Long, Seq[Long]],
      rels: Map[Long, Seq[(Long, String, String)]])

  private def genWorld(rnd: Random): World = World(
    (1L to 40L).map(id => id -> ((rnd.nextInt(1000), rnd.nextInt(1000),
      if (rnd.nextInt(3) == 0) Map("k" -> "v") else Map.empty[String, String])))
      .toMap,
    (100L to 111L).map(id => id ->
      Seq.fill(1 + rnd.nextInt(5))(1L + rnd.nextInt(45))).toMap,
    (200L to 205L).map(id => id -> genMembers(rnd)).toMap)

  private def genMembers(rnd: Random): Seq[(Long, String, String)] =
    Seq.fill(1 + rnd.nextInt(4)) {
      MTypes(rnd.nextInt(3)) match {
        case "node" => (1L + rnd.nextInt(45), "node", "label")
        case "way" => (100L + rnd.nextInt(14), "way", "outer")
        case _ => (200L + rnd.nextInt(7), "relation", "sub")
      }
    }

  /** One diff: `Row`s in [[Replication.changeSchema]] at seqnum `seq`,
    * on distinct elements drawn across live, deleted and never-seen
    * ids. About one change in ten is preceded by a losing change of the
    * same element at the previous seqnum. */
  private def genDiff(rnd: Random, seq: Long): Seq[Row] = {
    def change(etype: String, id: Long, s: Long): Row = etype match {
      case "node" =>
        val tags = if (rnd.nextBoolean()) Map("k" -> "w") else null
        Row(id, etype, rnd.nextInt(4) > 0, rnd.nextInt(1000),
          rnd.nextInt(1000), 2, null, null, tags, null, s)
      case "way" =>
        Row(id, etype, rnd.nextInt(4) > 0, null, null, 2,
          Seq.fill(1 + rnd.nextInt(5))(1L + rnd.nextInt(45)), null, null,
          null, s)
      case _ =>
        Row(id, etype, rnd.nextInt(4) > 0, null, null, 2, null,
          genMembers(rnd).map(m => Row(m._1, m._2, m._3)), null, null, s)
    }
    val ids = Map("node" -> (1L to 45L), "way" -> (100L to 113L),
      "relation" -> (200L to 206L)).map { case (etype, pool) =>
      etype -> rnd.shuffle(pool.toVector).take(1 + rnd.nextInt(5))
    }
    MTypes.flatMap(etype => ids(etype).flatMap { id =>
      (if (rnd.nextInt(10) == 0) Seq(change(etype, id, seq - 1))
       else Nil) :+ change(etype, id, seq)
    })
  }

  private def commitWorld(root: String, w: World): Unit = {
    def df(ddl: String, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows),
        StructType.fromDDL(ddl))
    def adj(pairs: Iterable[(Long, Long)]): DataFrame =
      df("member_id BIGINT, parent_id BIGINT",
        pairs.toSeq.distinct.map(p => Row(p._1, p._2)))
    def relAdj(mtype: String) = adj(w.rels.toSeq.flatMap { case (r, ms) =>
      ms.filter(_._2 == mtype).map(_._1 -> r) })
    VersionedTable.commitBucketed(root, Map(
      "locations" -> ((df("id BIGINT, lon INT, lat INT, version INT",
        w.nodes.toSeq.map { case (id, (lon, lat, _)) =>
          Row(id, lon, lat, 1) }), "id")),
      "nodes" -> ((df("id BIGINT, tags MAP<STRING,STRING>",
        w.nodes.toSeq.collect { case (id, (_, _, t)) if t.nonEmpty =>
          Row(id, t) }).withColumn("meta", lit(null).cast(metaT)), "id")),
      "ways" -> ((df("id BIGINT, nodes ARRAY<BIGINT>, " +
        "tags MAP<STRING,STRING>",
        w.ways.toSeq.map { case (id, ns) => Row(id, ns, null) })
        .withColumn("meta", lit(null).cast(metaT)), "id")),
      "relations" -> ((df("id BIGINT, " +
        "members ARRAY<STRUCT<ref:BIGINT,mtype:STRING,role:STRING>>, " +
        "tags MAP<STRING,STRING>",
        w.rels.toSeq.map { case (id, ms) =>
          Row(id, ms.map(m => Row(m._1, m._2, m._3)), null) })
        .withColumn("meta", lit(null).cast(metaT)), "id")),
      "node_way" -> ((adj(w.ways.toSeq.flatMap { case (id, ns) =>
        ns.map(_ -> id) }), "member_id")),
      "node_relation" -> ((relAdj("node"), "member_id")),
      "way_relation" -> ((relAdj("way"), "member_id")),
      "relation_relation" -> ((relAdj("relation"), "member_id"))),
      NBuckets, Map("osmosis_replication_sequence_number" -> "0"))
  }

  /** The buckets each table must rewrite, by the formulation
    * `applyBatch` had before its two aggregates: one `bucketsOf` per id
    * set; a changed parent's old members come from its own rows, read
    * from the buckets holding the parent. `winners` is the diff after
    * its latest-change-wins dedup. */
  private def reference(root: String, prev: VersionedTable.Manifest,
                        winners: DataFrame): Map[String, Set[Int]] = {
    def of(keys: DataFrame, table: String): Set[Int] = {
      val spec = prev.buckets(table)
      VersionedTable.bucketsOf(keys, spec.key, spec.nBuckets).toSet
    }
    def ids(etype: String) =
      winners.where(col("etype") === etype).select(col("id")).distinct()
    def oldRows(table: String, ids: DataFrame) =
      VersionedTable.readBuckets(spark, root, table,
        of(ids, table).toSeq.sorted, Some(prev)).join(ids, Seq("id"))
    val visible = winners.where(col("visible"))
    def wayNodes(df: DataFrame) =
      df.select(explode(col("nodes")).as("member_id"))
    def relMembers(df: DataFrame, mtype: String) = df
      .select(explode(col("members")).as("m"))
      .where(col("m.mtype") === mtype)
      .select(col("m.ref").as("member_id"))
    val (nodeIds, wayIds, relIds) =
      (ids("node"), ids("way"), ids("relation"))
    val relOld = oldRows("relations", relIds)
    Map(
      "locations" -> of(nodeIds, "locations"),
      "nodes" -> of(nodeIds, "nodes"),
      "ways" -> of(wayIds, "ways"),
      "relations" -> of(relIds, "relations"),
      "node_way" -> of(wayNodes(oldRows("ways", wayIds)).union(
        wayNodes(visible.where(col("etype") === "way"))), "node_way")) ++
      MTypes.map(mt => s"${mt}_relation" -> of(relMembers(relOld, mt)
        .union(relMembers(visible.where(col("etype") === "relation"), mt)),
        s"${mt}_relation"))
  }

  /** The buckets of each table that `m` owns at its own version. */
  private def rewritten(m: VersionedTable.Manifest): Map[String, Set[Int]] =
    m.buckets.map { case (t, spec) =>
      t -> spec.versions.zipWithIndex
        .collect { case (v, b) if v == m.version => b }.toSet
    }

  private def diffFrame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      Replication.changeSchema)

  /** The diff's winning rows: the highest seqnum per element. */
  private def winners(rows: Seq[Row]): DataFrame =
    diffFrame(rows.groupBy(r => (r.getString(1), r.getLong(0))).values
      .map(_.maxBy(_.getLong(10))).toSeq)

  test("applyBatch rewrites exactly the reference's buckets per table") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val root = Files.createTempDirectory("graft-apply-buckets").toString
      commitWorld(root, genWorld(rnd))
      for (d <- 1 to 4) {
        val rows = genDiff(rnd, d.toLong * 10)
        val prev = VersionedTable.current(root).get
        val want = reference(root, prev, winners(rows))
        assert(Replication.applyBatch(spark, root, diffFrame(rows),
          d.toLong) == Replication.ApplyResult.Applied)
        val m = VersionedTable.current(root).get
        assert(m.version == prev.version + 1)
        val got = rewritten(m)
        for (t <- want.keys.toSeq.sorted)
          assert(got(t) == want(t), s"seed=$seed diff=$d table=$t")
        assert(m.meta("osmosis_replication_sequence_number") ==
          (d * 10).toString)
      }
    }
  }

  test("applyBatch of a random diff stays within its job bound") {
    val rnd = new Random(99)
    val root = Files.createTempDirectory("graft-apply-jobs").toString
    commitWorld(root, genWorld(rnd))
    // warm-up diff: the first apply in a JVM also pays one-off planning
    Replication.applyBatch(spark, root, diffFrame(genDiff(rnd, 10L)), 1L)
    val rows = genDiff(rnd, 20L)
    val (jobs, result) = graft.SparkJobs.jobsIn(spark) {
      Replication.applyBatch(spark, root, diffFrame(rows), 2L)
    }
    assert(result == Replication.ApplyResult.Applied)
    // every job, the commit pool's table writes included: 18 measured
    // with local[4]; the batch-set aggregates and per-table anti-joins
    // the driver-held change set replaced started 49
    assert(jobs <= 18, s"applyBatch started $jobs jobs")
  }
}
