package graft.osm

import graft.model.Model
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Model]] is the engine's canonical schema contract (SURVEY §1.4);
  * every producer of the OSM table bundle must conform to it. Names and
  * types must match exactly (nullability is producer-specific). */
class ModelConformanceSpec extends AnyFunSuite with graft.TestSession {
  private def stripNull(dt: DataType): DataType =
    DataType.fromJson(dt.json.replaceAll(
      "\"nullable\":(true|false)", "\"nullable\":true")
      .replaceAll("\"containsNull\":(true|false)",
        "\"containsNull\":true")
      .replaceAll("\"valueContainsNull\":(true|false)",
        "\"valueContainsNull\":true"))

  private def assertConforms(actual: StructType, expected: StructType,
                             what: String): Unit =
    assert(stripNull(actual) == stripNull(expected),
      s"$what schema diverges from Model:\n actual  $actual\n expected $expected")

  test("SyntheticOsm tables conform to the Model schemas") {
    val t = SyntheticOsm.tables(spark, "/root/testdata/sf0.001")
    assertConforms(t.locations.schema, Model.locationsSchema, "locations")
    assertConforms(t.nodes.schema, Model.nodesSchema, "nodes")
    assertConforms(t.ways.schema, Model.waysSchema, "ways")
    assertConforms(t.relations.schema, Model.relationsSchema, "relations")
    Seq(t.nodeWay, t.nodeRelation, t.wayRelation, t.relationRelation)
      .foreach(adj => assertConforms(adj.schema, Model.adjacencySchema,
        "adjacency"))
  }

  /** Pins Queries.T against testdata re-provisions: the driver has shipped
    * `events.ts` both as TIMESTAMP(NANOS) (read as raw long under the
    * legacy conf) and as timestamp[us] (NTZ). The loader must normalize
    * every encoding to the same TimestampType instants. */
  test("Queries.T loads events.ts identically across parquet encodings") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("events-enc")
      .toFile.getAbsolutePath
    val us = Seq(0L, 946684800000000L, 1700000000000000L, 1700000000123456L)
    // legacy: TIMESTAMP(NANOS), surfaced by Spark as a raw ns long
    us.map(_ * 1000L).toDF("ts")
      .coalesce(1).write.parquet(s"$base/nanos/events.parquet")
    // current: timestamp[us] without timezone (TIMESTAMP_NTZ)
    us.toDF("u").select(timestamp_micros($"u").cast("timestamp_ntz").as("ts"))
      .coalesce(1).write.parquet(s"$base/ntz/events.parquet")
    // instant-typed timestamp[us] (isAdjustedToUTC=true)
    us.toDF("u").select(timestamp_micros($"u").as("ts"))
      .coalesce(1).write.parquet(s"$base/tz/events.parquet")
    val loaded = Seq("nanos", "ntz", "tz").map { enc =>
      val df = graft.Queries.T(spark, s"$base/$enc", "events")
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"$enc: not TimestampType")
      enc -> df.select(unix_micros($"ts")).as[Long].collect().sorted.toSeq
    }
    loaded.foreach { case (enc, got) =>
      assert(got == us.sorted, s"$enc: $got != $us")
    }
  }

  /** The r7 events breakage, generalized: ANY table's timestamp column
    * may re-provision as TIMESTAMP_NTZ. The loader must normalize every
    * NTZ column (here: orders.o_orderdate) to TimestampType. */
  test("Queries.T normalizes NTZ timestamp columns in every table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("orders-enc")
      .toFile.getAbsolutePath
    val us = Seq(0L, 1700000000123456L)
    us.toDF("u")
      .select($"u".as("o_orderkey"),
        timestamp_micros($"u").cast("timestamp_ntz").as("o_orderdate"))
      .coalesce(1).write.parquet(s"$base/orders.parquet")
    val df = graft.Queries.T(spark, base, "orders")
    assert(df.schema("o_orderdate").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(df.select(unix_micros($"o_orderdate")).as[Long].collect()
      .sorted.toSeq == us)
  }

  test("osmxml relation member struct conforms to Model.memberType") {
    assertConforms(
      StructType(Seq(org.apache.spark.sql.types.StructField("m",
        graft.sources.OsmXmlSource.memberType))),
      StructType(Seq(org.apache.spark.sql.types.StructField("m",
        Model.memberType))),
      "member struct")
  }
}
