package graft.osm

import graft.streaming.Replication
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Opening a pinned snapshot is driver-only work, like the reference's
  * read transaction (`src/cmd.cpp:50`): bucketed reads take their
  * schema from the manifest's recorded DDL and find bucket directories
  * by listing, so no Spark job runs until a query does. The recorded
  * DDL must therefore describe the data files exactly, and manifests
  * without one keep footer inference. */
class SnapshotOpenSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private val tables = Seq("locations", "nodes", "ways", "relations",
    "node_way", "node_relation", "way_relation", "relation_relation")

  /** `t` with every field, element and value nullable — the form every
    * parquet read reports, whatever the writer declared. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), true)
    case o => o
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def jobsIn[A](body: => A): (Int, A) =
    graft.SparkJobs.jobsIn(spark)(body)

  private def change(id: Long, etype: String, visible: Boolean,
                     lonLat: Option[(Int, Int)] = None,
                     nodes: Seq[Long] = null,
                     members: Seq[(Long, String, String)] = null,
                     tags: Map[String, String] = null,
                     version: Int, seq: Long): Row =
    Row(id, etype, visible, lonLat.map(p => Int.box(p._1)).orNull,
      lonLat.map(p => Int.box(p._2)).orNull, version, nodes,
      Option(members).map(_.map(m => Row(m._1, m._2, m._3))).orNull,
      tags, null, seq)

  private def applyDiff(root: String, seq: Long, rows: Row*): Unit = {
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Replication.changeSchema)
    assert(Replication.applyBatch(spark, root, batch, seq) ==
      Replication.ApplyResult.Applied)
  }

  /** A small world expanded into the bucketed layout, then three CDC
    * commits touching every element table, so bucket ownership is
    * spread over four versions. */
  private lazy val store: String = {
    val xmlDir = Files.createTempDirectory("graft-open-xml").toString
    (1 to 8).map(i => (i.toLong, i * 10, i * 10, 1, 1600000000L + i,
      1L, 1L, "u", if (i % 3 == 0) Map("amenity" -> s"a$i")
      else Map.empty[String, String]))
      .toDF("id", "lon", "lat", "version", "timestamp", "changeset",
        "uid", "user", "tags")
      .coalesce(1).write.format("osmxml").option("entity", "node")
      .mode("overwrite").save(xmlDir)
    Seq((100L, 1, 1600000001L, 1L, 1L, "u",
      Map("highway" -> "path"), Seq(1L, 2L, 3L)),
      (101L, 1, 1600000002L, 1L, 1L, "u",
        Map.empty[String, String], Seq(4L, 5L)))
      .toDF("id", "version", "timestamp", "changeset", "uid", "user",
        "tags", "nodes")
      .coalesce(1).write.format("osmxml").option("entity", "way")
      .mode("overwrite").save(xmlDir)
    Seq((200L, 1, 1600000003L, 1L, 1L, "u",
      Map("type" -> "multipolygon"),
      Seq((100L, "way", "outer"), (6L, "node", "label"))),
      (201L, 1, 1600000004L, 1L, 1L, "u",
        Map("type" -> "route"), Seq((200L, "relation", "sub"))))
      .toDF("id", "version", "timestamp", "changeset", "uid", "user",
        "tags", "members")
      .coalesce(1).write.format("osmxml").option("entity", "relation")
      .mode("overwrite").save(xmlDir)
    val root = Files.createTempDirectory("graft-open-db").toString
    Ingest.expandBucketed(spark, xmlDir, root, nBuckets = 4)
    applyDiff(root, 1L,
      change(1L, "node", visible = true, Some((11, 11)),
        tags = Map("shop" -> "x"), version = 2, seq = 1L),
      change(2L, "node", visible = false, version = 2, seq = 1L),
      change(100L, "way", visible = true, nodes = Seq(1L, 3L),
        tags = Map("highway" -> "track"), version = 2, seq = 1L))
    applyDiff(root, 2L,
      change(9L, "node", visible = true, Some((90, 90)),
        tags = Map.empty, version = 1, seq = 2L),
      change(201L, "relation", visible = true,
        members = Seq((200L, "relation", "sub"), (9L, "node", "stop"),
          (101L, "way", "")),
        tags = Map("type" -> "route"), version = 2, seq = 2L))
    applyDiff(root, 3L,
      change(102L, "way", visible = true, nodes = Seq(9L, 8L),
        tags = Map.empty, version = 1, seq = 3L),
      change(200L, "relation", visible = false, version = 2, seq = 3L))
    root
  }

  private def bucketDirs(root: String, spec: VersionedTable.BucketSpec,
                         table: String): Seq[String] =
    spec.versions.indices
      .map(b => s"$root/v=${spec.versions(b)}/$table/__bucket=$b")
      .filter(d => Files.isDirectory(Paths.get(d)))

  test("opening a pinned snapshot starts no Spark job; reads equal " +
    "footer inference over the same directories") {
    val m = VersionedTable.current(store).get
    assert(m.version == 4L)
    assert(tables.forall(t => m.buckets(t).schema.isDefined))
    val (jobs, frames) = jobsIn {
      Ingest.readTables(spark, store, Some(m))
      tables.foreach(t => VersionedTable.readBuckets(spark, store, t,
        Seq(0, 2), Some(m)))
      tables.map(t => t -> VersionedTable.read(spark, store, t, Some(m)))
    }
    assert(jobs == 0, s"opening the snapshot started $jobs Spark job(s)")
    frames.foreach { case (t, df) =>
      val inferred =
        spark.read.parquet(bucketDirs(store, m.buckets(t), t): _*)
      assert(df.schema == nullable(inferred.schema), t)
      assert(rows(df) == rows(inferred), t)
    }
    // the diffs landed: the read is the CDC state, not the expand
    val loc = frames.toMap.apply("locations")
      .select($"id", $"lon").as[(Long, Int)].collect().toMap
    assert(loc(1L) == 11 && !loc.contains(2L) && loc(9L) == 90)
  }

  test("the manifest DDL matches every bucket file after CDC commits") {
    val m = VersionedTable.current(store).get
    assert(m.buckets.values.exists(_.versions.exists(_ > 1L)),
      "the CDC commits must have rewritten some buckets")
    for (t <- tables) {
      val spec = m.buckets(t)
      val ddl = StructType.fromDDL(spec.schema.get)
      val files = bucketDirs(store, spec, t).flatMap { d =>
        val s = Files.list(Paths.get(d))
        try s.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq
        finally s.close()
      }
      assert(files.nonEmpty, t)
      files.foreach { f =>
        val fileSchema = spark.read.parquet(f).schema
        ddl.fields.foreach { field =>
          assert(fileSchema.fieldNames.contains(field.name),
            s"$f lacks ${field.name}")
          assert(fileSchema(field.name).dataType ==
            nullable(field.dataType), s"$f: ${field.name}")
        }
      }
    }
  }

  /** A two-row bucketed table: with 8 buckets most stay empty. */
  private def smallStore(): (String, DataFrame) = {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-open-small").toString
    val df = Seq((3L, Map("k" -> "v")), (4L, Map.empty[String, String]))
      .toDF("id", "tags")
      .withColumn("meta",
        struct(lit(1).as("version"), lit("u").as("user")))
    VersionedTable.commitBucketed(root, Map("t" -> (df, "id")), 8)
    (root, df)
  }

  private def emptyBucket(root: String): Int = {
    val spec = VersionedTable.current(root).get.buckets("t")
    spec.versions.indices.find(b => !Files.exists(
      Paths.get(s"$root/v=${spec.versions(b)}/t/__bucket=$b"))).get
  }

  test("a manifest without a recorded schema reads through inference") {
    val (root, df) = smallStore()
    // rewrite the manifest as one written before schemas were recorded
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val mf = Paths.get(root, "manifest.json")
    val node = mapper.readTree(Files.readString(mf))
    node.get("buckets").get("t")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .remove("schema")
    Files.writeString(mf, mapper.writeValueAsString(node))
    val m = VersionedTable.current(root).get
    assert(m.buckets("t").schema.isEmpty)

    val all = VersionedTable.read(spark, root, "t", Some(m))
    assert(all.schema == nullable(df.schema))
    assert(rows(all) == rows(df))
    // all requested buckets empty: the schema comes from a data file
    val none = VersionedTable.readBuckets(spark, root, "t",
      Seq(emptyBucket(root)), Some(m))
    assert(none.schema == nullable(df.schema))
    assert(none.count() == 0)
  }

  test("all-empty requested buckets read with the recorded DDL and " +
    "never glob v=*") {
    val (root, df) = smallStore()
    // a decoy with another schema where a `v=*` glob would find it
    // first: reading it would show up as the decoy's columns
    Seq((1L, "x")).toDF("decoy", "other").coalesce(1).write
      .parquet(s"$root/v=0/t/__bucket=0")
    val (jobs, none) = jobsIn(VersionedTable.readBuckets(spark, root, "t",
      Seq(emptyBucket(root))))
    assert(jobs == 0)
    assert(none.schema == nullable(df.schema))
    assert(none.count() == 0)
  }
}
