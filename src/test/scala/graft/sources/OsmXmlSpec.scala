package graft.sources

import graft.osm.{Extract, Ingest, SyntheticOsm, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** S1/S2 DataSource + expand/extract round trip (the SURVEY §5 property:
  * extract(expand(x)) is topology-complete and re-expandable). */
class OsmXmlSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private def metaRow(v: Int) =
    (v, 1600000000L + v, 77L, 42L, s"user$v")

  /** The hand-built world of [[graft.osm.ExtractBitmapSpec.world]]. */
  private def world(): (DataFrame, DataFrame, DataFrame) =
    graft.osm.ExtractBitmapSpec.world(spark)

  test("osmxml write -> read round-trips all three entities exactly") {
    val (nodes, ways, rels) = world()
    val dir = Files.createTempDirectory("graft-xml").toString
    nodes.coalesce(1).write.format("osmxml").option("entity", "node")
      .mode("overwrite").save(dir)
    ways.coalesce(1).write.format("osmxml").option("entity", "way")
      .mode("overwrite").save(dir)
    rels.coalesce(1).write.format("osmxml").option("entity", "relation")
      .mode("overwrite").save(dir)

    val nodesBack = spark.read.format("osmxml").option("entity", "node")
      .load(dir)
    assert(nodesBack.count() == 6)
    val n2 = nodesBack.where($"id" === 2L)
      .select($"lon", $"lat", $"tags").head()
    assert(n2.getInt(0) == 100010000 && n2.getInt(1) == 100010000)
    assert(n2.getMap[String, String](2) == Map("name" -> "A & B <\"x\">"))

    val waysBack = spark.read.format("osmxml").option("entity", "way")
      .load(dir)
    val w100 = waysBack.where($"id" === 100L)
      .select($"nodes", $"timestamp").head()
    assert(w100.getSeq[Long](0) == Seq(1L, 2L, 5L)) // order preserved
    assert(w100.getLong(1) == 1600000101L)          // ISO ts round trip

    val relsBack = spark.read.format("osmxml")
      .option("entity", "relation").load(dir)
    val r200 = relsBack.where($"id" === 200L).select($"members").head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(r200.map(m => (m.getLong(0), m.getString(1), m.getString(2)))
      == Seq((102L, "way", "outer"), (999L, "way", "outer")))

    // column pruning reaches the scan
    val pruned = nodesBack.select($"id", $"lat")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("osmxml"), "DSv2 scan missing from plan")
    assert(pruned.as[(Long, Int)].collect().toSet.map((t: (Long, Int)) => t._1)
      == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("tag values with newlines/tabs survive the XML round trip " +
    "(attribute-value normalization)") {
    // XML 1.0 parsers normalize literal tab/CR/LF in attribute values
    // to spaces — the writer must emit character references or the
    // value silently changes shape on read-back
    val dir = Files.createTempDirectory("graft-xml-ws").toString
    val v = "line1\nline2\tend"
    Seq((1L, 5, 5, 1, 1600000000L, 7L, 42L, "u", Map("note" -> v)))
      .toDF("id", "lon", "lat", "version", "timestamp", "changeset",
        "uid", "user", "tags")
      .coalesce(1).write.format("osmxml").option("entity", "node")
      .mode("overwrite").save(dir)
    val back = spark.read.format("osmxml").option("entity", "node")
      .load(dir).select($"tags").head().getMap[String, String](0)
    assert(back("note") == v, s"whitespace corrupted: ${back("note")}")
  }

  test("speculative attempts never clobber: per-attempt staging, " +
    "abort only removes its own file") {
    // two attempts of partition 0 (taskIds 1 and 2) write concurrently;
    // the winner publishes, the loser aborts AFTER the publish — the
    // committed file must survive and read back complete
    val (nodes, _, _) = world()
    val dir = Files.createTempDirectory("graft-xml-spec").toString
    val schema = nodes.schema
    val idx = schema.fieldNames.zipWithIndex.toMap
    val rows = nodes.queryExecution.toRdd.collect() // InternalRows
    val f = new OsmXmlWriterFactory("node", dir, idx, pbf = false)
    val attempt1 = f.createWriter(0, 1L)
    val attempt2 = f.createWriter(0, 2L)
    rows.foreach(attempt1.write)
    rows.foreach(attempt2.write)
    val win = attempt1.commit().asInstanceOf[OsmXmlCommit]
    // driver-side publish of the winner
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    assert(fs.rename(new org.apache.hadoop.fs.Path(win.tmp),
      new org.apache.hadoop.fs.Path(win.path)))
    attempt2.abort() // the KILLED speculative attempt
    val back = spark.read.format("osmxml").option("entity", "node")
      .load(dir)
    assert(back.count() == nodes.count(),
      "losing attempt's abort damaged the committed output")
  }

  test("osmpbf binary round-trips and agrees with the XML path") {
    val (nodes, ways, rels) = world()
    val pbfDir = Files.createTempDirectory("graft-pbf").toString
    val xmlDir = Files.createTempDirectory("graft-pbf-xml").toString
    for ((df, e) <- Seq((nodes, "node"), (ways, "way"),
      (rels, "relation"))) {
      df.coalesce(1).write.format("osmpbf").option("entity", e)
        .mode("overwrite").save(pbfDir)
      df.coalesce(1).write.format("osmxml").option("entity", e)
        .mode("overwrite").save(xmlDir)
    }
    // binary files, reasonably compact
    val files = new java.io.File(pbfDir).listFiles()
      .filter(_.getName.endsWith(".osm.pbf"))
    assert(files.length == 3)

    for (e <- Seq("node", "way", "relation")) {
      def comparable(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("tags_s",
          graft.osm.Extract.tagsToString(col("tags"))).drop("tags")
      val viaPbf = comparable(spark.read.format("osmpbf")
        .option("entity", e).load(pbfDir))
      val viaXml = comparable(spark.read.format("osmxml")
        .option("entity", e).load(xmlDir))
      // identical row sets through two independent codecs
      assert(viaPbf.count() == viaXml.count())
      assert(viaPbf.exceptAll(viaXml).isEmpty &&
        viaXml.exceptAll(viaPbf).isEmpty,
        s"$e diverged between pbf and xml codecs")
    }
    // order-significant fields survive (way refs, member order)
    val w100 = spark.read.format("osmpbf").option("entity", "way")
      .load(pbfDir).where($"id" === 100L).select($"nodes").head()
    assert(w100.getSeq[Long](0) == Seq(1L, 2L, 5L))
    // expand works straight off the PBF directory
    val root = Files.createTempDirectory("graft-pbf-db").toString
    Ingest.expand(spark, pbfDir, root, numPartitions = 2)
    val t = Ingest.readTables(spark, root)
    assert(t.locations.count() == 6)
    assert(t.relations.count() == 2)
  }

  test("osc change scan (S3) feeds Changeset (U1) correctly") {
    import OsmXmlCodec._
    // hand-built .osc: create node 10, modify node 1, delete node 2
    val osc = Seq(
      changeHeader,
      renderAction("create", renderNode(RawNode(10L, 50, 60, 1,
        1700000000L, 9L, 9L, "u", Seq("k" -> "v")))),
      renderAction("modify", renderNode(RawNode(1L, 11, 11, 2,
        1700000001L, 9L, 9L, "u", Seq.empty))),
      renderAction("delete", renderNode(RawNode(2L, 0, 0, 2,
        1700000002L, 9L, 9L, "u", Seq.empty))),
      changeFooter).mkString("\n")
    val dir = Files.createTempDirectory("graft-osc").toString
    Files.write(java.nio.file.Paths.get(dir, "diff.osc.xml"),
      osc.getBytes("UTF-8"))

    val changes = spark.read.format("osmxml")
      .option("entity", "node").option("changes", "true").load(dir)
    assert(changes.count() == 3)
    val acts = changes.select($"id", $"action")
      .as[(Long, String)].collect().toMap
    assert(acts == Map(10L -> "create", 1L -> "modify", 2L -> "delete"))

    // apply: start from nodes 1,2,3
    val loc = Seq((1L, 10, 10, 1), (2L, 20, 20, 1), (3L, 30, 30, 1))
      .toDF("id", "lon", "lat", "version")
    val nodes = Seq((1L, Map("a" -> "b")))
      .toDF("id", "tags")
      .select($"id", $"tags", struct(lit(1).as("version"),
        lit(0L).as("timestamp"), lit(0L).as("changeset"),
        lit(0L).as("uid"), lit("x").as("user")).as("meta"))
    val ch = changes.select($"id",
      ($"action" =!= "delete").as("visible"),
      $"lon", $"lat", $"version", $"tags",
      struct($"version", $"timestamp", $"changeset", $"uid", $"user")
        .as("meta"))
    val (loc2, nodes2) = graft.osm.Changeset.applyNodeChanges(
      loc, nodes, ch)
    assert(loc2.select($"id", $"lon", $"lat", $"version")
      .as[(Long, Int, Int, Int)].collect().toSet ==
      Set((1L, 11, 11, 2), (3L, 30, 30, 1), (10L, 50, 60, 1)))
    // node 1 became untagged (modify with no tags deletes the blob);
    // node 10 gained a blob
    assert(nodes2.select($"id").as[Long].collect().toSet == Set(10L))
  }

  test("gzip and bzip2 XML inputs inflate transparently (magic sniff)") {
    import OsmXmlCodec._
    val (nodes, _, _) = world()
    val dir = Files.createTempDirectory("graft-gz").toString
    nodes.coalesce(1).write.format("osmxml").option("entity", "node")
      .mode("overwrite").save(dir)
    val plain = new java.io.File(dir).listFiles()
      .filter(_.getName.matches("part-node-\\d+\\.osm")).head
    val bytes = Files.readAllBytes(plain.toPath)

    // same document three ways: plain, .gz, .bz2 — one file per dir so
    // each read exercises exactly one decode path
    val gzDir = Files.createTempDirectory("graft-gz-in")
    val gz = gzDir.resolve("data.osm.gz")
    val go = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(gz))
    try go.write(bytes) finally go.close()

    val bzDir = Files.createTempDirectory("graft-bz-in")
    val bz = bzDir.resolve("data.osm.bz2")
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(new org.apache.hadoop.conf.Configuration())
    val bo = codec.createOutputStream(Files.newOutputStream(bz))
    try bo.write(bytes) finally bo.close()

    def tagged(d: DataFrame) = d.withColumn("tags_s",
      graft.osm.Extract.tagsToString(col("tags"))).drop("tags")
    val viaPlain = tagged(spark.read.format("osmxml")
      .option("entity", "node").load(dir))
    for ((cd, label) <- Seq((gzDir, "gz"), (bzDir, "bz2"))) {
      val back = tagged(spark.read.format("osmxml")
        .option("entity", "node").load(cd.toString))
      assert(back.count() == 6, s"$label count")
      assert(back.exceptAll(viaPlain).isEmpty &&
        viaPlain.exceptAll(back).isEmpty, s"$label diverged from plain")
    }

    // .osc.gz change feed (the reference's replication wire format,
    // update.cpp:272-276): actions survive the inflate
    val osc = Seq(changeHeader,
      renderAction("create", renderNode(RawNode(10L, 50, 60, 1,
        1700000000L, 9L, 9L, "u", Seq("k" -> "v")))),
      renderAction("delete", renderNode(RawNode(2L, 0, 0, 2,
        1700000002L, 9L, 9L, "u", Seq.empty))),
      changeFooter).mkString("\n")
    val oscDir = Files.createTempDirectory("graft-oscgz")
    val og = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(oscDir.resolve("diff.osc.gz")))
    try og.write(osc.getBytes("UTF-8")) finally og.close()
    val changes = spark.read.format("osmxml").option("entity", "node")
      .option("changes", "true").load(oscDir.toString)
    assert(changes.select($"id", $"action").as[(Long, String)]
      .collect().toMap == Map(10L -> "create", 2L -> "delete"))

    // a MISLABELLED gzip (plain .osm name, gzip bytes) still decodes:
    // the sniff is on magic bytes, not the extension
    val lieDir = Files.createTempDirectory("graft-gz-lie")
    val lie = lieDir.resolve("data.osm")
    val lo = new java.util.zip.GZIPOutputStream(Files.newOutputStream(lie))
    try lo.write(bytes) finally lo.close()
    assert(spark.read.format("osmxml").option("entity", "node")
      .load(lieDir.toString).count() == 6)
  }

  test("PBF OSMHeader round-trips bbox/generator/replication fields") {
    import graft.spatial.{BboxRegion, PolyRegion, Region}
    val (nodes, _, _) = world()
    val dir = Files.createTempDirectory("graft-hdr").toString
    val region = new Region(Seq(BboxRegion(10.0, 20.0, 30.0, 50.0)))
    val opts = Ingest.pbfHeaderOptions(Some(region),
      replicationTs = Some(1700000123L), seqnum = Some(4397511L))
    nodes.coalesce(1).write.format("osmpbf").option("entity", "node")
      .options(opts).mode("overwrite").save(dir)

    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".osm.pbf")).head
    val in = new java.io.FileInputStream(f)
    val h = try OsmPbfCodec.readHeader(in).get finally in.close()
    // bbox = (left,right,top,bottom) nanodeg of the lng/lat bounds
    assert(h.bbox.contains((20000000000L, 50000000000L,
      30000000000L, 10000000000L)), s"got ${h.bbox}")
    assert(h.writingProgram == "graft")
    assert(h.replicationTimestamp.contains(1700000123L))
    assert(h.replicationSeqnum.contains(4397511L))
    // the data still reads fine past the richer header
    assert(spark.read.format("osmpbf").option("entity", "node")
      .load(dir).count() == 6)

    // antimeridian-crossing region: bbox omitted (extract.cpp:292-294)
    val cross = new Region(Seq(PolyRegion(Seq(Array(
      (170.0, -10.0), (-170.0, -10.0), (-170.0, 10.0), (170.0, 10.0),
      (170.0, -10.0))))))
    assert(cross.crossesAntimeridian)
    val opts2 = Ingest.pbfHeaderOptions(Some(cross), Some(1L))
    assert(!opts2.contains("header.bbox"))
    assert(opts2("header.timestamp") == "1")
  }

  test("a single multi-blob .osm.pbf splits into blob-range partitions") {
    import OsmXmlCodec._
    // one FILE, many blobs (chunk=50 over 1000 nodes -> 20 data blobs):
    // the canonical planet.osm.pbf shape
    val nodes = (1 to 1000).map(i => RawNode(i.toLong, i * 1000, -i * 500,
      1, 1600000000L + i, 7L, 9L, s"u${i % 13}",
      if (i % 3 == 0) Seq("k" -> s"v$i") else Seq.empty))
    val dir = Files.createTempDirectory("graft-split").toString
    val f = new java.io.File(dir, "planet.osm.pbf")
    val out = new java.io.FileOutputStream(f)
    try OsmPbfCodec.write(out, nodes.iterator, Iterator.empty,
      Iterator.empty, chunk = 50)
    finally out.close()

    // blob index sees 1 header + 20 data blobs
    val blobs = {
      val in = new java.io.FileInputStream(f)
      try OsmPbfCodec.scanBlobs(in) finally in.close()
    }
    assert(blobs.count(_.blobType == "OSMData") == 20)
    assert(blobs.head.blobType == "OSMHeader")
    // byte ranges tile the file exactly
    assert(blobs.map(_.length).sum == f.length())

    // a small split target => many partitions from ONE file
    val df = spark.read.format("osmxml").option("entity", "node")
      .option("pbf.split.bytes", "1").load(f.toString)
    assert(df.rdd.getNumPartitions == 20,
      s"expected 20 blob partitions, got ${df.rdd.getNumPartitions}")
    assert(df.count() == 1000)
    // rows identical to the default (single-partition-range) read
    val dfWide = spark.read.format("osmxml").option("entity", "node")
      .load(f.toString)
    assert(dfWide.rdd.getNumPartitions == 1)
    def cmp(d: DataFrame) = d.withColumn("tags_s",
      graft.osm.Extract.tagsToString(col("tags"))).drop("tags")
    assert(cmp(df).exceptAll(cmp(dfWide)).isEmpty &&
      cmp(dfWide).exceptAll(cmp(df)).isEmpty)
    // ids survive exactly
    assert(df.agg(sum($"id")).head().getLong(0) == 500500L)
  }

  test("XML element iterator streams incrementally (constant memory)") {
    import OsmXmlCodec._
    val body = (1 to 5000).map(i => renderNode(RawNode(i.toLong, i, i, 1,
      1600000000L, 7L, 9L, "u", Seq("name" -> ("x" * 50)))))
    val doc = (header +: body :+ footer).mkString("\n")
    val bytes = doc.getBytes("UTF-8")
    assert(bytes.length > 400000) // big enough that buffering would show
    var maxRead = 0
    val counting = new java.io.ByteArrayInputStream(bytes) {
      private var n = 0
      override def read(): Int = { n += 1; maxRead = math.max(maxRead, n); super.read() }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val r = super.read(b, off, len)
        if (r > 0) { n += r; maxRead = math.max(maxRead, n) }
        r
      }
    }
    val it = new OsmElementIterator(counting)
    // pulling the first 10 elements must NOT read the whole document
    val first10 = it.take(10).toList
    assert(first10.size == 10)
    assert(maxRead < bytes.length / 4,
      s"reader consumed $maxRead of ${bytes.length} bytes for 10 of " +
        "5000 elements — not streaming")
    it.close()
  }

  test("expand -> extract -> re-expand: topology-complete round trip") {
    val (nodes, ways, rels) = world()
    val xmlDir = Files.createTempDirectory("graft-xml2").toString
    nodes.coalesce(1).write.format("osmxml").option("entity", "node")
      .mode("overwrite").save(xmlDir)
    ways.coalesce(1).write.format("osmxml").option("entity", "way")
      .mode("overwrite").save(xmlDir)
    rels.coalesce(1).write.format("osmxml").option("entity", "relation")
      .mode("overwrite").save(xmlDir)

    // expand into the versioned store
    val root = Files.createTempDirectory("graft-db").toString
    val v = Ingest.expand(spark, xmlDir, root, numPartitions = 2)
    assert(v == 1L)
    assert(VersionedTable.metadata(root, "import_filename")
      .contains(xmlDir))
    val t = Ingest.readTables(spark, root)

    // untagged nodes live only in locations (`src/expand.cpp:156`)
    assert(t.locations.count() == 6)
    assert(t.nodes.as[(Long, Map[String, String],
      (Int, Long, Long, Long, String))].collect().map(_._1).toSet
      == Set(1L, 2L, 6L))
    // locations carry the s2cell index column, sorted
    val locV = VersionedTable.read(spark, root, "locations")
    assert(locV.columns.contains("s2cell"))

    // extract seeded from the (10,10) cluster: bbox around it
    val seeds = t.locations
      .where($"lat".between(99000000, 101000000) &&
        $"lon".between(99000000, 101000000))
      .select($"id")
    val sel = Extract.complete(t, seeds)

    val nodeIds = sel.nodeIds.as[Long].collect().toSet
    val wayIds = sel.wayIds.as[Long].collect().toSet
    val relIds = sel.relationIds.as[Long].collect().toSet
    // seeds 1,2,3,5 -> ways 100,102 -> relation 200 (via way 102)
    //   -> relation 201 (closure over relation_relation)
    //   -> multipolygon adds way 102 only (999 missing)
    //   -> way completion keeps nodes 1,2,3,5 (way 101/node 4 excluded)
    assert(wayIds == Set(100L, 102L), s"ways: $wayIds")
    assert(relIds == Set(200L, 201L), s"relations: $relIds")
    assert(nodeIds == Set(1L, 2L, 3L, 5L), s"nodes: $nodeIds")

    // write the extract as XML, re-expand it, and the element sets match
    val outDir = Files.createTempDirectory("graft-extract").toString
    Ingest.writeExtract(t, sel, outDir)
    val root2 = Files.createTempDirectory("graft-db2").toString
    Ingest.expand(spark, outDir, root2, numPartitions = 2)
    val t2 = Ingest.readTables(spark, root2)
    assert(t2.locations.select("id").as[Long].collect().toSet == nodeIds)
    assert(t2.ways.select("id").as[Long].collect().toSet == wayIds)
    assert(t2.relations.select("id").as[Long].collect().toSet == relIds)
    // way node order survives the round trip
    assert(t2.ways.where($"id" === 100L).select($"nodes")
      .as[Seq[Long]].head() == Seq(1L, 2L, 5L))
    // --noUserData strips changeset/uid/user
    val gdprDir = Files.createTempDirectory("graft-gdpr").toString
    Ingest.writeExtract(t, sel, gdprDir, includeUserData = false)
    val gdprNodes = spark.read.format("osmxml").option("entity", "node")
      .load(gdprDir)
    assert(gdprNodes.agg(max($"changeset"), max($"uid")).head()
      == org.apache.spark.sql.Row(0L, 0L))

    // the `osmx query` verb over the ingested store (P1-P6)
    val db = new graft.osm.OsmDb(spark, root)
    assert(db.location(5L).contains((100010001, 100010001, 3)))
    assert(db.node(5L).isEmpty) // untagged: coords only
    assert(db.node(1L).map(_._1).contains(Map("amenity" -> "cafe")))
    assert(db.way(100L).map(_._1).contains(Seq(1L, 2L, 5L)))
    assert(db.relation(201L).map(_._1.map(_._1)).contains(Seq(6L, 200L)))
    assert(db.nodeExists(4L) && !db.nodeExists(999L))
    assert(db.parents("node_way", 1L) == Seq(100L))
    assert(db.parents("relation_relation", 200L) == Seq(201L))
    assert(db.stats()("locations") == 6L)
    assert(db.metadata("import_filename").contains(xmlDir))
  }
}
