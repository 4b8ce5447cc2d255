package graft.osm

import graft.streaming.Replication
import graft.osm.VersionedTable.Delta
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random

/** [[Replication.applyBatch]]'s two change-set sides against the
  * formulation they replaced, kept here as the reference: one dedup
  * window, two bucket-set aggregates, and a delta that anti-joins each
  * table's old rows with the distinct ids of the batch. Random diff
  * sequences on an 8-bucket, 8-table store must leave the same store,
  * row for row on every table, with the same bucket versions in every
  * manifest, whether applied by the reference, by the driver-held
  * change set, or with the cap at 0 (the persisted frame and its
  * `left_anti` id sets). The diffs repeat ids across seqnums, break
  * malformed ties at equal (seqnum, version) by timestamp, then
  * visible, then content, delete ids never seen, upsert untagged nodes
  * and rewrite way node lists and relation members of all three
  * types. Plus: a batch over the cap whose partitions each fit it
  * still takes the frame side, which holds the change set once while
  * it commits, a second diff compiles (almost) no new
  * classes, and a commit failing in a table write, or after its writes
  * but before its manifest, leaves one transaction. */
class ApplyPathsSpec extends AnyFunSuite with graft.TestSession {
  import ApplyPathsSpec._

  private def fresh(tag: String, w: World): String = {
    val root = Files.createTempDirectory(s"graft-apply-$tag").toString
    commitWorld(spark, root, w)
    root
  }

  private def sameStore(want: String, got: String, clue: String): Unit =
    ApplyPathsSpec.sameStore(spark, want, got, clue)

  test("the driver-held and frame change sets reach the reference's " +
    "store, row for row") {
    for (seed <- 1 to 2) {
      val rnd = new Random(seed)
      val w = genWorld(rnd)
      val (ref, held, frame) =
        (fresh("ref", w), fresh("held", w), fresh("frame", w))
      for (d <- 1 to 4) {
        val rows = genDiff(rnd, d * 10L)
        val clue = s"seed=$seed diff=$d"
        val batch = diffFrame(spark, rows)
        assert(Reference.applyBatch(spark, ref, batch, d) ==
          Replication.ApplyResult.Applied, clue)
        assert(Replication.applyBatch(spark, held, batch, d) ==
          Replication.ApplyResult.Applied, clue)
        assert(Replication.applyBatch(spark, frame, batch, d,
          maxBytes = 0) == Replication.ApplyResult.Applied, clue)
        sameStore(ref, held, s"$clue driver-held:")
        sameStore(ref, frame, s"$clue frame:")
      }
    }
  }

  test("a batch over the cap whose every partition fits it takes the " +
    "frame side and reaches the reference's store") {
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesce)
    // the dedup output keeps its 4 shuffle partitions, as a batch of
    // production size does
    spark.conf.set(coalesce, "false")
    try {
      val rnd = new Random(13)
      val w = genWorld(rnd)
      val rows = genDiff(rnd, 10L) ++ genDiff(rnd, 20L)
      val batch = diffFrame(spark, rows)
      val latest = Replication.latest(batch)
      val schema = latest.schema
      val parts = latest.queryExecution.toRdd.mapPartitions { it =>
        val toUnsafe = UnsafeProjection.create(schema)
        Iterator.single(it.map(r => toUnsafe(r).getSizeInBytes.toLong).sum)
      }.collect()
      assert(parts.count(_ > 0) >= 2, parts.toSeq)
      val cap = (parts.max + (parts.sum - parts.max) / 2).toInt
      info(s"partition bytes ${parts.mkString(",")}; cap $cap")
      for ((maxBytes, extra) <- Seq((cap, 1), (0, 1),
        (graft.ops.BitmapSemi.MaxBytes, 0))) {
        val (ref, got) = (fresh("ref", w), fresh("capped", w))
        assert(Reference.applyBatch(spark, ref, batch, 1L) ==
          Replication.ApplyResult.Applied)
        // the frame side holds the dedup output once for its commit,
        // as the cache built over its dropped checkpoint (the hook runs
        // on the commit pool's threads)
        val before = spark.sparkContext.getPersistentRDDs.size
        val persisted = new ConcurrentLinkedQueue[Int]
        VersionedTable.tableWriteHook = _ =>
          persisted.add(spark.sparkContext.getPersistentRDDs.size - before)
        try assert(Replication.applyBatch(spark, got, batch, 1L,
          maxBytes = maxBytes) == Replication.ApplyResult.Applied)
        finally VersionedTable.tableWriteHook = _ => ()
        assert(persisted.asScala.toSet == Set(extra),
          s"maxBytes=$maxBytes")
        sameStore(ref, got, s"maxBytes=$maxBytes:")
      }
    } finally spark.conf.set(coalesce, prev)
  }

  test("an empty batch is an EmptyDiff on both sides") {
    val root = fresh("empty", genWorld(new Random(5)))
    val empty = diffFrame(spark, Nil)
    for (cap <- Seq(0, graft.ops.BitmapSemi.MaxBytes))
      assert(Replication.applyBatch(spark, root, empty, 1L,
        maxBytes = cap) == Replication.ApplyResult.EmptyDiff(1L))
  }

  test("a second diff of the same size compiles at most 10 classes") {
    val rnd = new Random(7)
    val root = fresh("codegen", genWorld(rnd))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def applied(rows: Seq[Row], id: Long): Long = {
      val before = compiles.getCount
      assert(Replication.applyBatch(spark, root, diffFrame(spark, rows),
        id) == Replication.ApplyResult.Applied)
      compiles.getCount - before
    }
    val first = applied(shapedDiff(0, 10L), 1L)
    val second = applied(shapedDiff(1, 20L), 2L)
    info(s"compiles: first apply $first, second apply $second")
    assert(second <= 10, s"the second apply compiled $second classes")
  }

  test("a table write failing mid-apply leaves the store at v, releases " +
    "the claim, and a replay reaches one clean apply") {
    for (cap <- Seq(graft.ops.BitmapSemi.MaxBytes, 0)) {
      val rnd = new Random(11)
      val w = genWorld(rnd)
      val (failed, clean) = (fresh("failed", w), fresh("clean", w))
      val rows = genDiff(rnd, 10L)
      val v = VersionedTable.current(failed).get.version
      VersionedTable.tableWriteHook = t =>
        if (t == "ways") throw new IllegalStateException("injected")
      val e = try intercept[Exception] {
        Replication.applyBatch(spark, failed, diffFrame(spark, rows), 1L,
          maxBytes = cap)
      } finally VersionedTable.tableWriteHook = _ => ()
      assert(e.getMessage.contains("injected"), s"cap=$cap: $e")
      assert(VersionedTable.current(failed).get.version == v, s"cap=$cap")
      assert(!Files.exists(Paths.get(failed, s"manifest.v=${v + 1}.json")),
        s"cap=$cap: the claim on v=${v + 1} was kept")
      for (root <- Seq(failed, clean))
        assert(Replication.applyBatch(spark, root, diffFrame(spark, rows),
          1L, maxBytes = cap) == Replication.ApplyResult.Applied)
      sameStore(clean, failed, s"cap=$cap replay:")
    }
  }

  test("a commit failing after its table writes, before its manifest, " +
    "leaves the store at v, releases the claim, and a replay reaches " +
    "the reference's store") {
    for ((width, isWide) <- Widths;
         cap <- Seq(graft.ops.BitmapSemi.MaxBytes, 0))
    atWidth(isWide) {
      val clue = s"$width cap=$cap"
      val rnd = new Random(17)
      val w = genWorld(rnd)
      val (failed, ref) = (fresh("unpublished", w), fresh("ref", w))
      val rows = genDiff(rnd, 10L)
      val v = VersionedTable.current(failed).get.version
      val written = new java.util.concurrent.atomic.AtomicBoolean(false)
      VersionedTable.publishHook = () => {
        written.set(Files.exists(Paths.get(failed, s"v=${v + 1}")))
        throw new IllegalStateException("injected at publish")
      }
      val e = try intercept[Exception] {
        Replication.applyBatch(spark, failed, diffFrame(spark, rows), 1L,
          maxBytes = cap)
      } finally VersionedTable.publishHook = () => ()
      assert(e.getMessage.contains("injected at publish"), s"$clue: $e")
      assert(written.get, s"$clue: the hook ran before the table writes")
      assert(VersionedTable.current(failed).get.version == v, clue)
      assert(VersionedTable.manifestAt(failed, v + 1).isEmpty, clue)
      assert(!Files.exists(Paths.get(failed, s"manifest.v=${v + 1}.json")),
        s"$clue: the claim on v=${v + 1} was kept")
      assert(Reference.applyBatch(spark, ref, diffFrame(spark, rows), 1L) ==
        Replication.ApplyResult.Applied, clue)
      assert(Replication.applyBatch(spark, failed, diffFrame(spark, rows),
        1L, maxBytes = cap) == Replication.ApplyResult.Applied, clue)
      sameStore(ref, failed, s"$clue replay:")
    }
  }
}

object ApplyPathsSpec {
  val NBuckets = 8
  private val MTypes = Seq("node", "way", "relation")
  private val metaT = "struct<version:int,timestamp:bigint," +
    "changeset:bigint,uid:bigint,user:string>"

  /** The store's content, as plain collections. */
  final case class World(
      nodes: Map[Long, (Int, Int, Map[String, String])],
      ways: Map[Long, Seq[Long]],
      rels: Map[Long, Seq[(Long, String, String)]])

  /** Nodes 1-40, ways 100-111 and relations 200-205; the diffs also
    * touch ids past these, never seen by the store. */
  def genWorld(rnd: Random): World = World(
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

  /** One change in [[Replication.changeSchema]]. */
  private def change(rnd: Random, etype: String, id: Long, seq: Long,
                     version: Int, ts: Long, visible: Boolean): Row = {
    val meta = Row(version, ts, 7L, 3L, "u")
    etype match {
      case "node" =>
        val tags = rnd.nextInt(3) match {
          case 0 => Map("k" -> s"w${rnd.nextInt(3)}")
          case 1 => Map.empty[String, String]
          case _ => null
        }
        Row(id, etype, visible, rnd.nextInt(1000), rnd.nextInt(1000),
          version, null, null, tags, meta, seq)
      case "way" =>
        Row(id, etype, visible, null, null, version,
          Seq.fill(1 + rnd.nextInt(5))(1L + rnd.nextInt(45)), null, null,
          meta, seq)
      case _ =>
        Row(id, etype, visible, null, null, version, null,
          genMembers(rnd).map(m => Row(m._1, m._2, m._3)),
          Map("type" -> "route"), meta, seq)
    }
  }

  /** One diff at seqnum `seq`, on distinct elements drawn across live,
    * deleted and never-seen ids. Each element gets one change, or a
    * history the dedup must order: earlier seqnums, or a malformed tie
    * at (seq, version) broken by timestamp, by visible, or only by
    * content. Rows are shuffled. */
  def genDiff(rnd: Random, seq: Long): Seq[Row] = {
    val pools = Map("node" -> (1L to 48L), "way" -> (100L to 115L),
      "relation" -> (200L to 208L))
    val rows = MTypes.flatMap { etype =>
      rnd.shuffle(pools(etype).toVector).take(2 + rnd.nextInt(5))
        .flatMap { id =>
          def c(s: Long, v: Int, ts: Long, vis: Boolean) =
            change(rnd, etype, id, s, v, ts, vis)
          val vis = rnd.nextInt(4) > 0
          rnd.nextInt(10) match {
            case 0 => Seq(c(seq - 2, 2, 1L, vis), c(seq - 1, 3, 2L, !vis),
              c(seq, 4, 3L, vis))
            case 1 => Seq(c(seq, 5, 100L, vis), c(seq, 5, 200L, !vis),
              c(seq, 5, 150L, vis))
            case 2 => Seq(c(seq, 5, 100L, true), c(seq, 5, 100L, false))
            case 3 => Seq(c(seq, 5, 100L, true), c(seq, 5, 100L, true))
            case _ => Seq(c(seq, 2, 10L, vis))
          }
        }
    }
    rnd.shuffle(rows)
  }

  /** Four changes per element type on ids that shift with `k`: one
    * delete, one untagged node, ways and relations whose members move
    * with `k` — diffs of the same size and shape on other ids and
    * buckets. */
  def shapedDiff(k: Int, seq: Long): Seq[Row] = {
    def ids(base: Long) = (0 until 4).map(i => base + 4 * k + i)
    val meta = Row(3, 5L, 7L, 3L, "u")
    ids(1L).zipWithIndex.map { case (id, i) =>
      Row(id, "node", i != 3, 10 * i, 20 * i, 3, null, null,
        if (i == 0) Map.empty[String, String] else Map("k" -> s"v$i"),
        meta, seq)
    } ++ ids(100L).zipWithIndex.map { case (id, i) =>
      Row(id, "way", i != 3, null, null, 3,
        Seq(1L + i + k, 20L + i + k, 30L + k), null, null, meta, seq)
    } ++ ids(200L).zipWithIndex.map { case (id, i) =>
      Row(id, "relation", i != 3, null, null, 3, null,
        Seq(Row(1L + i + k, "node", "a"), Row(100L + i + k, "way", "b"),
          Row(200L + (i + k) % 6, "relation", "c")),
        Map("type" -> "route"), meta, seq)
    }
  }

  /** Every table's rows, as a multiset. */
  def content(spark: SparkSession, root: String)
  : Map[String, Map[Row, Int]] = {
    val m = VersionedTable.current(root).get
    m.buckets.keys.map { t =>
      t -> VersionedTable.read(spark, root, t, Some(m)).collect().toSeq
        .groupBy(identity).map { case (r, rs) => r -> rs.size }
    }.toMap
  }

  /** `got` is the store `want` is: the same version, meta and bucket
    * versions, and every table's rows. */
  def sameStore(spark: SparkSession, want: String, got: String,
                clue: String): Unit = {
    import org.scalatest.Assertions._
    val (a, b) = (VersionedTable.current(want).get,
      VersionedTable.current(got).get)
    assert(b.version == a.version, clue)
    assert(b.meta == a.meta, clue)
    assert(b.buckets.keySet == a.buckets.keySet, clue)
    for (t <- a.buckets.keys.toSeq.sorted)
      assert(b.buckets(t).versions == a.buckets(t).versions, s"$clue $t")
    val (ca, cb) = (content(spark, want), content(spark, got))
    for (t <- ca.keys.toSeq.sorted)
      assert(cb(t) == ca(t), s"$clue $t")
  }

  /** Runs `body` with every [[VersionedTable.commitDelta]] rewrite
    * written wide (`isWide`) or in one task, then restores the
    * single-task bound. */
  def atWidth[A](isWide: Boolean)(body: => A): A = {
    val prev = VersionedTable.singleTaskWriteBytesPerBucket
    // a bound below every size estimate, or above every one
    VersionedTable.singleTaskWriteBytesPerBucket =
      if (isWide) -1L else Long.MaxValue
    try body finally VersionedTable.singleTaskWriteBytesPerBucket = prev
  }

  /** The two write widths of a delta commit, by name. */
  val Widths: Seq[(String, Boolean)] =
    Seq("single-task" -> false, "wide" -> true)

  def diffFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      Replication.changeSchema)

  /** The world as an 8-bucket, 8-table store at version 1. */
  def commitWorld(spark: SparkSession, root: String, w: World): Unit = {
    def df(ddl: String, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows),
        StructType.fromDDL(ddl))
    def adj(pairs: Iterable[(Long, Long)]): DataFrame =
      df("member_id BIGINT, parent_id BIGINT",
        pairs.toSeq.distinct.map(p => Row(p._1, p._2)))
    def relAdj(mtype: String) = adj(w.rels.toSeq.flatMap { case (r, ms) =>
      ms.filter(_._2 == mtype).map(_._1 -> r) })
    graft.functions.GraftFunctions.register(spark)
    VersionedTable.commitBucketed(root, Map(
      "locations" -> ((df("id BIGINT, lon INT, lat INT, version INT",
        w.nodes.toSeq.map { case (id, (lon, lat, _)) =>
          Row(id, lon, lat, 1) })
        .withColumn("s2cell", OsmLayout.Locations.derived.head._2), "id")),
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

  /** `applyBatch` before the driver-held change set, verbatim but for
    * its replay and emptiness results, which the specs here do not
    * exercise: the same dedup window, then two bucket-set aggregates,
    * then a delta that anti-joins each table's old rows with the
    * distinct ids of the batch and derives adjacency rows by a
    * `distinct` over all member references. */
  object Reference {
    private val SeqKey = "osmosis_replication_sequence_number"
    private val BatchIdKey = "streaming_batch_id"

    private def delta(t: OsmLayout.Table, changes: DataFrame)
    : DataFrame => DataFrame = old => {
      val upserts = changes.where(col("visible"))
      old.join(changes.select(col("id").as(t.deleteKey)).distinct(),
          Seq(t.deleteKey), "left_anti")
        .unionByName(t match {
          case a: OsmLayout.Adjacency => a.refs(upserts).distinct()
          case e => e.rows(upserts, old.columns.contains)
        })
        .select(old.columns.map(col): _*)
    }

    def applyBatch(spark: SparkSession, root: String, batch: DataFrame,
                   batchId: Long): Replication.ApplyResult = {
      val prev = VersionedTable.current(root).get
      val bk = prev.buckets
      val contentHash = xxhash64(batch.schema.fields.toSeq.map { f =>
        f.dataType match {
          case _: MapType => sort_array(map_entries(col(f.name)))
          case _ => col(f.name)
        }
      }: _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("etype"), col("id"))
        .orderBy(col("seqnum").desc,
          coalesce(col("version"), col("meta.version"), lit(0)).desc,
          coalesce(col("meta.timestamp"), lit(0L)).desc,
          col("visible").asc_nulls_last,
          contentHash.desc)
      val changes = batch
        .withColumn("_rk", row_number().over(w))
        .where(col("_rk") === 1).drop("_rk")
        .persist()
      try {
        def ofType(etype: String) = changes.where(col("etype") === etype)
        val tables = OsmLayout.tables.filter {
          case a: OsmLayout.Adjacency =>
            bk.contains(a.name) && bk.contains(a.parent.name)
          case t => bk.contains(t.name)
        }
        def keyBuckets(t: OsmLayout.Table, rows: DataFrame): DataFrame =
          rows.select(lit(t.name).as("table"),
            VersionedTable.bucketExpr(t.bucketKey, bk(t.name).nBuckets)
              .as("bucket"),
            lit(null).cast("bigint").as("seqnum"))
        def bucketSets(parts: Seq[DataFrame]): Map[String, Row] =
          if (parts.isEmpty) Map.empty
          else parts.reduce(_ unionByName _).groupBy(col("table"))
            .agg(collect_set(col("bucket")), max(col("seqnum"))).collect()
            .map(r => r.getString(0) -> r).toMap
        def buckets(sets: Map[String, Row], table: String): Seq[Int] =
          sets.get(table).fold(Seq.empty[Int])(_.getSeq[Int](1))
        val sets = bucketSets(
          changes.select(lit("").as("table"), lit(null).cast("int")
            .as("bucket"), col("seqnum")) +:
            tables.map {
              case a: OsmLayout.Adjacency =>
                keyBuckets(a, a.refs(ofType(a.etype).where(col("visible"))))
              case t => keyBuckets(t, ofType(t.etype))
            })
        val batchRow = sets("")
        graft.functions.GraftFunctions.register(spark)
        val oldParents = tables.collect { case a: OsmLayout.Adjacency =>
          a.parent }.distinct.filter(p => buckets(sets, p.name).nonEmpty)
          .map { p =>
            p.name -> VersionedTable.readBuckets(spark, root, p.name,
              buckets(sets, p.name), Some(prev))
              .join(ofType(p.etype).select(col("id")), Seq("id"), "left_semi")
          }.toMap
        val oldSets = bucketSets(tables.collect {
          case a: OsmLayout.Adjacency if oldParents.contains(a.parent.name) =>
            keyBuckets(a, a.refs(oldParents(a.parent.name)))
        })
        VersionedTable.commitDelta(spark, root, tables.map { t =>
          t.name -> Delta(buckets(sets, t.name) ++ buckets(oldSets, t.name),
            delta(t, ofType(t.etype)))
        }.toMap, Map(
          SeqKey -> batchRow.getLong(2).toString,
          BatchIdKey -> batchId.toString))
        Replication.ApplyResult.Applied
      } finally { changes.unpersist(blocking = false); () }
    }
  }
}
