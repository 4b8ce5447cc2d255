package graft.sources

import graft.osm.{Extract, Ingest}
import graft.sources.OsmXmlCodec.{RawNode, RawRelation, RawWay}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Planet-shaped stress proof: ONE multi-blob `.osm.pbf` (the canonical
  * single-file planet layout, >=10x the unit fixtures) ingested through
  * the blob-range split reader and extracted end-to-end. Asserts the
  * parallelism shape (many partitions from one file; driver holds only
  * the <=1024-cell covering) and exact counts. */
class PlanetStressSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private val NumNodes = 50000
  private val NumWays = 5000 // way j -> nodes [10j+1, 10j+10]
  private val NumRels = 100  // relation k -> ways [10k, 10k+9]

  // deterministic coords: 0.1-degree lon steps, 0.1-degree lat steps
  private def lonE7(i: Int): Int = (i % 3600 - 1800) * 1000000
  private def latE7(i: Int): Int = (i % 1700 - 850) * 1000000

  private def writePlanet(): String = {
    val dir = Files.createTempDirectory("graft-planet").toString
    val f = new java.io.File(dir, "planet.osm.pbf")
    val nodes = (1 to NumNodes).iterator.map(i =>
      RawNode(i.toLong, lonE7(i), latE7(i), 1, 1600000000L + i, 1L, 1L,
        "u", if (i % 10 == 0) Seq("n" -> i.toString) else Seq.empty))
    val ways = (0 until NumWays).iterator.map(j =>
      RawWay(1000000L + j, 1, 1600000000L, 1L, 1L, "u",
        Seq("w" -> j.toString),
        (10 * j + 1 to 10 * j + 10).map(_.toLong)))
    val rels = (0 until NumRels).iterator.map(k =>
      RawRelation(2000000L + k, 1, 1600000000L, 1L, 1L, "u",
        Seq("type" -> "multipolygon"),
        (10 * k until 10 * k + 10).map(j =>
          (1000000L + j, "way", "outer"))))
    val out = new java.io.FileOutputStream(f)
    try OsmPbfCodec.write(out, nodes, ways, rels, chunk = 2000)
    finally out.close()
    f.toString
  }

  test("PBF partition writer streams blocks: buffered memory stays " +
    "under one chunk for a 25k-row partition") {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("lon", IntegerType),
      StructField("lat", IntegerType), StructField("version", IntegerType),
      StructField("timestamp", LongType), StructField("changeset", LongType),
      StructField("uid", LongType), StructField("user", StringType),
      StructField("tags", MapType(StringType, StringType))))
    val toCat = CatalystTypeConverters.createToCatalystConverter(schema)
    val idx = schema.fieldNames.zipWithIndex.toMap
    val dir = Files.createTempDirectory("graft-stream-writer").toString
    val chunk = 2000
    val n = 25000
    val w = new OsmPbfDataWriter("node", dir, idx, partitionId = 0,
      taskId = 0L, chunk = chunk)
    var maxBuffered = 0
    (1 to n).foreach { i =>
      w.write(toCat(Row(i.toLong, lonE7(i), latE7(i), 1,
        1600000000L + i, 1L, 1L, "u", Map("k" -> i.toString)))
        .asInstanceOf[InternalRow])
      maxBuffered = math.max(maxBuffered, w.bufferedElements)
    }
    assert(maxBuffered <= chunk,
      s"writer buffered $maxBuffered elements (> chunk $chunk)")
    // publish the attempt-staged file the way BatchWrite.commit does
    val msg = w.commit().asInstanceOf[OsmXmlCommit]; w.close()
    val tmpP = new org.apache.hadoop.fs.Path(msg.tmp)
    tmpP.getFileSystem(new org.apache.hadoop.conf.Configuration())
      .rename(tmpP, new org.apache.hadoop.fs.Path(msg.path))
    // the streamed file round-trips: all rows, correct values, many blobs
    val back = Ingest.readOsm(spark, s"$dir/part-node-00000.osm.pbf",
      "node", Map("pbf.split.bytes" -> "1"))
    assert(back.rdd.getNumPartitions >= (n / chunk) / 2,
      "streamed file must contain many independently-split blobs")
    assert(back.count() == n)
    assert(back.where($"id" === 7L).select($"lon").as[Int].head() ==
      lonE7(7))
  }

  test("single-file planet PBF: split ingest + extract end-to-end") {
    val planet = writePlanet()
    // 50k nodes / 2000-per-blob = 25 node blobs + 3 way + 1 rel blobs
    val splitOpts = Map("pbf.split.bytes" -> "1") // 1 blob = 1 split
    val nodesDf = Ingest.readOsm(spark, planet, "node", splitOpts)
    assert(nodesDf.rdd.getNumPartitions >= 8,
      s"one planet file must split, got ${nodesDf.rdd.getNumPartitions}")
    assert(nodesDf.count() == NumNodes)

    // full expand through the split reader into the versioned store
    val root = Files.createTempDirectory("graft-planet-db").toString
    Ingest.expand(spark, planet, root, numPartitions = 8,
      readerOptions = splitOpts)
    val t = Ingest.readTables(spark, root)
    assert(t.locations.count() == NumNodes)
    assert(t.ways.count() == NumWays)
    assert(t.relations.count() == NumRels)
    assert(t.nodeWay.count() == NumWays * 10L) // refs are distinct

    // covering-pruned extract: bbox lat [0,20], lon [0,40] degrees.
    // The driver holds ONLY the covering (<=1024 cells by construction,
    // Coverer.covering maxCells); everything else stays distributed.
    val region = new graft.spatial.Region(Seq(
      graft.spatial.BboxRegion(0.0, 0.0, 20.0, 40.0)))
    val ranges = graft.spatial.Coverer.coveringRanges(region)
    assert(ranges.size <= 1024)
    val cell = graft.spatial.SpatialScan.s2CellOfFixed($"lat", $"lon")
    val seeds = t.locations
      .where(graft.spatial.SpatialScan.cellInRanges(cell, ranges))
      .where($"lat".between(0, 200000000) &&
        $"lon".between(0, 400000000))
      .select($"id")
    val sel = Extract.complete(t, seeds)

    // expected straight from the deterministic coord formulas
    val expectedSeeds = (1 to NumNodes).count(i =>
      latE7(i) >= 0 && latE7(i) <= 200000000 &&
        lonE7(i) >= 0 && lonE7(i) <= 400000000)
    assert(seeds.count() == expectedSeeds && expectedSeeds > 500)
    // way completion pulls every way touching a seed, then all their
    // nodes; relation completion pulls multipolygon member ways
    val wayCount = sel.wayIds.count()
    assert(wayCount > 0 && wayCount <= NumWays)
    val nodeCount = sel.nodeIds.count()
    assert(nodeCount >= expectedSeeds) // seeds + way-completed nodes
    // spot-check: extracted ways' nodes are all in the node set
    val dangling = sel.wayIds
      .join(t.ways, Seq("id"))
      .select(explode($"nodes").as("nid"))
      .join(sel.nodeIds.withColumnRenamed("id", "nid"), Seq("nid"),
        "left_anti")
    assert(dangling.count() == 0, "way-node completion left gaps")

    // write the extract back to a sharded PBF dir and re-read
    val outDir = Files.createTempDirectory("graft-planet-out").toString
    Ingest.writeExtract(t, sel, outDir, shards = 4, format = "osmpbf",
      headerOpts = Ingest.pbfHeaderOptions(Some(region), Some(42L)))
    val back = spark.read.format("osmxml").option("entity", "node")
      .load(outDir)
    assert(back.count() == nodeCount)
  }
}
