package graft.streaming

import graft.osm.VersionedTable
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** U5: replication catch-up via Structured Streaming with exactly-once
  * manifest commits. */
class StreamingSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  private def writeChanges(dir: String, name: String,
                           rows: Seq[Row]): Unit = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Replication.changeSchema)
    df.coalesce(1).write.mode("append").parquet(dir)
    // (append into the watched dir; each call lands as >=1 new file)
  }

  private def chg(id: Long, visible: Boolean, lon: Int, lat: Int,
                  version: Int, seq: Long): Row =
    Row(id, "node", visible, lon, lat, version, null, null, null, null,
      seq)

  private def wayChg(id: Long, visible: Boolean, nodes: Seq[Long],
                     seq: Long): Row =
    Row(id, "way", visible, null, null, null, nodes, null, null, null,
      seq)

  private def relChg(id: Long, visible: Boolean,
                     members: Seq[(Long, String, String)], seq: Long)
  : Row =
    Row(id, "relation", visible, null, null, null, null,
      members.map(m => Row(m._1, m._2, m._3)), null, null, seq)

  private val metaT = "struct<version:int,timestamp:bigint," +
    "changeset:bigint,uid:bigint,user:string>"

  test("watermarked tumbling-window aggregation over a file stream") {
    import org.apache.spark.sql.functions._
    val inDir = Files.createTempDirectory("graft-evt").toString
    val ckpt = Files.createTempDirectory("graft-evt-ckpt").toString
    val outDir = Files.createTempDirectory("graft-evt-out").toString

    // two batches of (ts, v) events across two hours
    Seq(("2024-01-01 10:05:00", 1.0), ("2024-01-01 10:55:00", 2.0),
      ("2024-01-01 11:10:00", 4.0))
      .toDF("ts_s", "v").withColumn("ts", to_timestamp($"ts_s"))
      .select("ts", "v").write.mode("append").parquet(inDir)

    val q = spark.readStream
      .schema("ts TIMESTAMP, v DOUBLE").parquet(inDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      .select(date_format($"w.start", "HH:mm").as("h"), $"n", $"sv")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", outDir)
      .start()
    q.awaitTermination()
    // append mode emits only watermark-closed windows; push the
    // watermark past 11:00 with a late-ish second batch and rerun
    Seq(("2024-01-01 12:30:00", 8.0))
      .toDF("ts_s", "v").withColumn("ts", to_timestamp($"ts_s"))
      .select("ts", "v").write.mode("append").parquet(inDir)
    val q2 = spark.readStream
      .schema("ts TIMESTAMP, v DOUBLE").parquet(inDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      .select(date_format($"w.start", "HH:mm").as("h"), $"n", $"sv")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", outDir)
      .start()
    q2.awaitTermination()

    val got = spark.read.parquet(outDir)
      .as[(String, Long, Double)].collect()
      .map { case (h, n, sv) => h -> ((n, sv)) }.toMap
    // the 10:00 and 11:00 windows are closed once the watermark passed
    assert(got.get("10:00").contains((2L, 3.0)), s"got $got")
    assert(got.get("11:00").contains((1L, 4.0)), s"got $got")
  }

  test("catch-up applies ordered diffs and advances seqnum atomically") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-repl").toString
    val changesDir = Files.createTempDirectory("graft-osc").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    // base snapshot: 3 nodes, in the bucketed copy-on-write layout
    VersionedTable.commitBucketed(root, Map(
      "locations" -> (Seq((1L, 10, 10, 1), (2L, 20, 20, 1),
        (3L, 30, 30, 1)).toDF("id", "lon", "lat", "version"), "id"),
      "nodes" -> (Seq((1L, Map("a" -> "b"))).toDF("id", "tags")
        .withColumn("meta", lit(null).cast(metaT)), "id")),
      nBuckets = 4,
      meta = Map("osmosis_replication_sequence_number" -> "0"))

    // diff 1: move node 1, delete node 2; diff 2: create node 4
    writeChanges(changesDir, "b1", Seq(
      chg(1L, visible = true, 11, 11, 2, 1L),
      chg(2L, visible = false, 0, 0, 2, 1L)))
    writeChanges(changesDir, "b2", Seq(
      chg(4L, visible = true, 40, 40, 1, 2L)))

    val q = Replication.catchUp(spark, changesDir, root, ckpt)
    q.awaitTermination()

    val loc = VersionedTable.read(spark, root, "locations")
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(loc == Set((1L, 11, 11, 2), (3L, 30, 30, 1), (4L, 40, 40, 1)),
      s"got $loc")
    assert(VersionedTable.metadata(root,
      "osmosis_replication_sequence_number").contains("2"))
    // node 1's blob died with the untagged modify
    assert(VersionedTable.read(spark, root, "nodes").count() == 0)
    val committed = VersionedTable.current(root).get.version

    // exactly-once: rerunning with the same checkpoint applies nothing
    val q2 = Replication.catchUp(spark, changesDir, root, ckpt)
    q2.awaitTermination()
    assert(VersionedTable.current(root).get.version == committed)

    // at-least-once replay guard: re-delivering the LAST batch id (the
    // crash-between-manifest-swap-and-checkpoint case) is a no-op
    val replay = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        chg(4L, visible = true, 40, 40, 1, 2L))),
      Replication.changeSchema)
    val lastBatchId = VersionedTable.current(root).get
      .meta("streaming_batch_id").toLong
    Replication.applyBatch(spark, root, replay, lastBatchId)
    assert(VersionedTable.current(root).get.version == committed)
  }

  test("the dedup content hash takes every map column, not just tags") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-repl-maps").toString
    VersionedTable.commitBucketed(root, Map(
      "locations" -> (Seq((1L, 10, 10, 1), (2L, 20, 20, 1))
        .toDF("id", "lon", "lat", "version"), "id")),
      nBuckets = 4,
      meta = Map("osmosis_replication_sequence_number" -> "0"))
    // two changes of node 1 that tie on (seqnum, version, timestamp,
    // visible), so only the content hash orders them; the batch carries
    // a second map column beside tags
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        chg(1L, visible = true, 11, 11, 2, 1L),
        chg(1L, visible = true, 12, 12, 2, 1L))),
      Replication.changeSchema)
      .withColumn("extra", map(lit("lon"), col("lon").cast("string")))
    assert(Replication.applyBatch(spark, root, batch, 1L) ==
      Replication.ApplyResult.Applied)
    val loc = VersionedTable.read(spark, root, "locations")
      .select($"id", $"lon", $"lat").as[(Long, Int, Int)].collect()
    assert(loc.count(_._1 == 1L) == 1, s"got ${loc.toSeq}")
    assert(Set((1L, 11, 11), (1L, 12, 12)).exists(loc.contains))
    assert(loc.contains((2L, 20, 20)))
  }

  test("a change batch with no seqnum fails naming it, before any claim") {
    val root = Files.createTempDirectory("graft-repl-noseq").toString
    VersionedTable.commitBucketed(root, Map(
      "locations" -> (Seq((1L, 10, 10, 1), (2L, 20, 20, 1))
        .toDF("id", "lon", "lat", "version"), "id")),
      nBuckets = 4,
      meta = Map("osmosis_replication_sequence_number" -> "0"))
    val before = VersionedTable.current(root).get.version
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "node", true, 11, 11, 2, null, null, null, null, null),
        Row(2L, "node", false, 0, 0, 2, null, null, null, null, null))),
      Replication.changeSchema)
    val e = intercept[IllegalArgumentException](
      Replication.applyBatch(spark, root, batch, 5L))
    assert(e.getMessage.contains("seqnum") &&
      e.getMessage.contains("batch 5") && e.getMessage.contains(root),
      e.getMessage)
    assert(VersionedTable.current(root).get.version == before)
    assert(!Files.exists(
      java.nio.file.Paths.get(root, s"manifest.v=${before + 1}.json")))
  }

  test("file ingest -> bucketed store -> streaming catch-up, end to end") {
    import org.apache.spark.sql.functions._
    import graft.osm.Ingest
    // a small world as OSM XML files (the wire format), expanded into
    // the bucketed CoW layout, then caught up with a mixed diff — the
    // full `osmx expand` + `osmx-update` pipeline
    val xmlDir = Files.createTempDirectory("graft-e2e-xml").toString
    (1 to 6).map(i => (i.toLong, i * 10, i * 10, 1, 1600000000L + i,
      1L, 1L, "u", if (i == 1) Map("a" -> "b")
      else Map.empty[String, String]))
      .toDF("id", "lon", "lat", "version", "timestamp", "changeset",
        "uid", "user", "tags")
      .coalesce(1).write.format("osmxml").option("entity", "node")
      .mode("overwrite").save(xmlDir)
    Seq((100L, 1, 1600000001L, 1L, 1L, "u",
      Map.empty[String, String], Seq(1L, 2L)),
      (101L, 1, 1600000002L, 1L, 1L, "u",
        Map.empty[String, String], Seq(3L)))
      .toDF("id", "version", "timestamp", "changeset", "uid", "user",
        "tags", "nodes")
      .coalesce(1).write.format("osmxml").option("entity", "way")
      .mode("overwrite").save(xmlDir)
    Seq((200L, 1, 1600000003L, 1L, 1L, "u",
      Map.empty[String, String], Seq((100L, "way", "outer"))))
      .toDF("id", "version", "timestamp", "changeset", "uid", "user",
        "tags", "members")
      .coalesce(1).write.format("osmxml").option("entity", "relation")
      .mode("overwrite").save(xmlDir)

    val root = Files.createTempDirectory("graft-e2e-db").toString
    Ingest.expandBucketed(spark, xmlDir, root, nBuckets = 4)
    val m1 = VersionedTable.current(root).get
    assert(m1.buckets.keySet == Set("locations", "nodes", "ways",
      "relations", "node_way", "node_relation", "way_relation",
      "relation_relation"))
    assert(VersionedTable.read(spark, root, "locations").count() == 6)

    // mixed diff: move node 1, delete node 2, rewrite way 100 to [1,4]
    val changesDir = Files.createTempDirectory("graft-e2e-osc").toString
    val ckpt = Files.createTempDirectory("graft-e2e-ckpt").toString
    writeChanges(changesDir, "b1", Seq(
      chg(1L, visible = true, 11, 11, 2, 7L),
      chg(2L, visible = false, 0, 0, 2, 7L),
      wayChg(100L, visible = true, Seq(1L, 4L), 7L)))
    Replication.catchUp(spark, changesDir, root, ckpt)
      .awaitTermination()

    val loc = VersionedTable.read(spark, root, "locations")
      .select($"id", $"lon", $"lat").as[(Long, Int, Int)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(loc(1L) == ((11, 11)) && !loc.contains(2L) && loc.size == 5)
    assert(VersionedTable.read(spark, root, "node_way")
      .select($"member_id", $"parent_id").as[(Long, Long)]
      .collect().toSet == Set((1L, 100L), (4L, 100L), (3L, 101L)))
    assert(VersionedTable.metadata(root,
      "osmosis_replication_sequence_number").contains("7"))
    // import metadata survived the streaming commit
    assert(VersionedTable.metadata(root, "import_filename")
      .contains(xmlDir))
  }

  test("mixed node+way+relation diff applies U1/U2/U3 copy-on-write") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-repl-full").toString
    val changesDir = Files.createTempDirectory("graft-osc-full").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-full").toString

    // full 8-table base: 6 nodes, 2 ways, 2 relations (201 nests 200)
    val rels = Seq(
      (200L, Seq((100L, "way", "outer"))),
      (201L, Seq((5L, "node", "label"), (200L, "relation", "sub"))))
      .toDF("id", "members")
      .withColumn("members", expr("transform(members, m -> " +
        "named_struct('ref', m._1, 'mtype', m._2, 'role', m._3))"))
      .withColumn("tags", lit(null).cast("map<string,string>"))
      .withColumn("meta", lit(null).cast(metaT))
    VersionedTable.commitBucketed(root, Map(
      "locations" -> ((1 to 6).map(i =>
        (i.toLong, i * 10, i * 10, 1)).toDF("id", "lon", "lat", "version"),
        "id"),
      "nodes" -> (Seq((1L, Map("a" -> "b"))).toDF("id", "tags")
        .withColumn("meta", lit(null).cast(metaT)), "id"),
      "ways" -> (Seq((100L, Seq(1L, 2L)), (101L, Seq(3L)))
        .toDF("id", "nodes")
        .withColumn("tags", lit(null).cast("map<string,string>"))
        .withColumn("meta", lit(null).cast(metaT)), "id"),
      "relations" -> (rels, "id"),
      "node_way" -> (Seq((1L, 100L), (2L, 100L), (3L, 101L))
        .toDF("member_id", "parent_id"), "member_id"),
      "node_relation" -> (Seq((5L, 201L)).toDF("member_id", "parent_id"),
        "member_id"),
      "way_relation" -> (Seq((100L, 200L)).toDF("member_id", "parent_id"),
        "member_id"),
      "relation_relation" -> (Seq((200L, 201L))
        .toDF("member_id", "parent_id"), "member_id")),
      nBuckets = 4,
      meta = Map("osmosis_replication_sequence_number" -> "0"))

    // one batch: move node 1 (blob dies), delete node 2, rewrite way
    // 100 to [1,4], rewrite relation 200 to [way 101, node 6], delete
    // relation 201
    writeChanges(changesDir, "b1", Seq(
      chg(1L, visible = true, 11, 11, 2, 1L),
      chg(2L, visible = false, 0, 0, 2, 1L),
      wayChg(100L, visible = true, Seq(1L, 4L), 1L),
      relChg(200L, visible = true,
        Seq((101L, "way", "outer"), (6L, "node", "label")), 1L),
      relChg(201L, visible = false, Seq.empty, 1L)))

    val q = Replication.catchUp(spark, changesDir, root, ckpt)
    q.awaitTermination()

    def pairs(t: String): Set[(Long, Long)] =
      VersionedTable.read(spark, root, t)
        .select($"member_id", $"parent_id")
        .as[(Long, Long)].collect().toSet
    val loc = VersionedTable.read(spark, root, "locations")
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(loc == Set((1L, 11, 11, 2), (3L, 30, 30, 1), (4L, 40, 40, 1),
      (5L, 50, 50, 1), (6L, 60, 60, 1)), s"got $loc")
    assert(VersionedTable.read(spark, root, "ways")
      .where($"id" === 100L).select($"nodes").as[Seq[Long]].head()
      == Seq(1L, 4L))
    assert(pairs("node_way") == Set((1L, 100L), (4L, 100L), (3L, 101L)))
    assert(pairs("node_relation") == Set((6L, 200L)))
    assert(pairs("way_relation") == Set((101L, 200L)))
    assert(pairs("relation_relation") == Set.empty)
    assert(VersionedTable.read(spark, root, "relations")
      .select($"id").as[Long].collect().toSet == Set(200L))
    assert(VersionedTable.metadata(root,
      "osmosis_replication_sequence_number").contains("1"))
    // single atomic version advance for the whole mixed batch
    assert(VersionedTable.current(root).get.version == 2L)
  }

  test("streaming exact dedup keeps first-seen fingerprint across batches") {
    import org.apache.spark.sql.functions._
    val inDir = Files.createTempDirectory("graft-sdd-in").toString
    val ckpt = Files.createTempDirectory("graft-sdd-ckpt").toString

    // batch 1: 2 is a normalized duplicate of 1 (same fingerprint)
    Seq((1L, "hello world"), (2L, "  Hello   WORLD "), (3L, "other"))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir)
    val q = StreamingDedup.keepers(stream, "text", "doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_keepers")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()

    // batch 2: 4 duplicates batch-1 content (cross-batch state hit);
    // 5 is genuinely new
    Seq((4L, "hello world"), (5L, "fresh content"))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)
    q.processAllAvailable()
    q.stop()

    val kept = spark.table("dedup_keepers")
      .select($"keep_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L)) // 1 beat 2 in-batch; 4 hit state
  }

  test("streaming HLL sketch state merges across batches and counts " +
    "distinct content exactly at small cardinality") {
    import org.apache.spark.sql.functions._
    val inDir = Files.createTempDirectory("graft-shll-in").toString
    val ckpt = Files.createTempDirectory("graft-shll-ckpt").toString

    // batch 1: src-a has 2 distinct contents (doc 2 duplicates doc 1
    // after normalization), src-b has 1
    Seq((1L, "a", "hello world"), (2L, "a", " Hello  WORLD "),
        (3L, "a", "other"), (4L, "b", "bee"))
      .toDF("doc_id", "source", "text").write.mode("append")
      .parquet(inDir)
    val stream = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING").parquet(inDir)
    val q = StreamingSketch.distinctBySource(stream, "text", "source")
      .writeStream.outputMode("append").format("memory")
      .queryName("hll_ests")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()

    // batch 2: doc 5 duplicates batch-1 content (must be an HLL no-op
    // against the CHECKPOINTED registers), doc 6 is new
    Seq((5L, "a", "hello world"), (6L, "a", "fresh"))
      .toDF("doc_id", "source", "text").write.mode("append")
      .parquet(inDir)
    q.processAllAvailable()
    q.stop()

    val last = spark.table("hll_ests")
      .groupBy($"source").agg(max(struct($"n_seen", $"estimate"))
        .as("m"))
      .select($"source", $"m.n_seen", $"m.estimate")
      .as[(String, Long, Double)].collect()
      .map { case (k, n, e) => k -> ((n, math.rint(e).toLong)) }.toMap
    // at cardinality <= 3 the sketch is in exact (coupon) mode:
    // estimates are integer-exact, so cross-batch dup suppression is
    // directly observable
    assert(last("a") == ((5L, 3L))) // 5 rows seen, 3 distinct contents
    assert(last("b") == ((1L, 1L)))
  }

  test("streaming LSH surfaces near-dup pairs against the full history") {
    import org.apache.spark.sql.functions._
    val inDir = Files.createTempDirectory("graft-slsh-in").toString
    val ckpt = Files.createTempDirectory("graft-slsh-ckpt").toString

    val same = "the quick brown fox jumps over the lazy dog again"
    // batch 1: 10 and 11 share identical content (all bands collide);
    // 12 is unrelated
    Seq((10L, same), (11L, same),
      (12L, "completely different words entirely unrelated text"))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir)
    val q = StreamingNearDup.candidatePairs(stream, "text", "doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("slsh_pairs")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()

    val b1 = spark.table("slsh_pairs")
      .select($"a", $"b").distinct().as[(Long, Long)].collect().toSet
    assert(b1 == Set((10L, 11L))) // 12 collides with nobody

    // batch 2: 13 duplicates the batch-1 content -> pairs against BOTH
    // earlier members, without rescanning them
    Seq((13L, same)).toDF("doc_id", "text")
      .write.mode("append").parquet(inDir)
    q.processAllAvailable()
    q.stop()

    val all = spark.table("slsh_pairs")
      .select($"a", $"b").distinct().as[(Long, Long)].collect().toSet
    assert(all == Set((10L, 11L), (10L, 13L), (11L, 13L)))
  }

  test("LSH maxBucket: id-ordered streaming prefix-cap equals the batch " +
    "smallest-id truncation; arrival-order feeds diverge by design") {
    import org.apache.spark.sql.functions._
    val inDir = Files.createTempDirectory("graft-slshcap-in").toString
    val ckpt = Files.createTempDirectory("graft-slshcap-ckpt").toString

    // five identical docs -> every band has one 5-member bucket;
    // maxBucket=3 forces the cap in both engines
    val same = "the quick brown fox jumps over the lazy dog again"
    Seq((1L, same), (2L, same), (3L, same), (4L, same))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir)
    val q = StreamingNearDup
      .candidatePairs(stream, "text", "doc_id", maxBucket = 3)
      .writeStream.outputMode("append").format("memory")
      .queryName("slsh_cap")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    // a later batch can't re-enter the full bucket either
    Seq((5L, same)).toDF("doc_id", "text")
      .write.mode("append").parquet(inDir)
    q.processAllAvailable()
    q.stop()

    // streaming: the first maxBucket members (id-ordered arrival) are
    // admitted and pair among themselves; 4 and 5 arrive after the cap
    // and emit NOTHING
    val streamed = spark.table("slsh_cap")
      .select($"a", $"b").distinct().as[(Long, Long)].collect().toSet
    assert(streamed == Set((1L, 2L), (1L, 3L), (2L, 3L)))

    // batch on the same 5-doc corpus: the oversized bucket is truncated
    // to its 3 SMALLEST ids — the same member set the id-ordered
    // streaming feed admitted, so capped batch == capped streaming here
    // (the equivalence the q105 oracle rests on)
    val docs = Seq((1L, same), (2L, same), (3L, same), (4L, same),
      (5L, same)).toDF("doc_id", "text")
    val batch = graft.llm.Dedup
      .minhashCandidatePairs(docs, "text", "doc_id", maxBucket = 3)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(batch == streamed)

    // with the cap clear of the bucket size nothing is truncated
    val batchUncapped = graft.llm.Dedup
      .minhashCandidatePairs(docs, "text", "doc_id", maxBucket = 5)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(batchUncapped ==
      (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)).toSet)

    // NOT-id-ordered arrival: 4 and 5 arrive first and occupy the
    // bucket with 1 — prefix-cap is ARRIVAL order, so streaming admits
    // {4,5,1} where batch truncation admits {1,2,3}. The documented
    // divergence for out-of-order feeds (q105's replay is id-ordered
    // exactly so this cannot bite its oracle).
    val inDir2 = Files.createTempDirectory("graft-slshcap2-in").toString
    val ckpt2 = Files.createTempDirectory("graft-slshcap2-ckpt").toString
    Seq((4L, same), (5L, same))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir2)
    val stream2 = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(inDir2)
    val q2 = StreamingNearDup
      .candidatePairs(stream2, "text", "doc_id", maxBucket = 3)
      .writeStream.outputMode("append").format("memory")
      .queryName("slsh_cap2")
      .option("checkpointLocation", ckpt2).start()
    q2.processAllAvailable()
    Seq((1L, same), (2L, same), (3L, same))
      .toDF("doc_id", "text").write.mode("append").parquet(inDir2)
    q2.processAllAvailable()
    q2.stop()
    val streamed2 = spark.table("slsh_cap2")
      .select($"a", $"b").distinct().as[(Long, Long)].collect().toSet
    assert(streamed2 == Set((4L, 5L), (1L, 4L), (1L, 5L)))
  }

  test("watermarked window: late rows drop iff window closed (q114 rule)") {
    import org.apache.spark.sql.functions.{lit, timestamp_seconds,
      unix_timestamp}
    // 10 s tumbling windows, 15 s watermark delay. Late filtering uses
    // the PREVIOUS batch's watermark, eviction the current one
    // (SPARK-40925) — so a drop needs the closing batch to be two
    // batches back. Replay order (wm_k = watermark DURING batch k):
    //   batch 1: t=5 (a), t=12 (a)            wm_1 = 0
    //   batch 2: t=47 (b)                     wm_2 = 0 (12-15 < 0)
    //   batch 3: t=25 (lk1), t=38 (lk2)       wm_3 = 32; late filter
    //     uses wm_2 = 0 -> both KEPT (one batch behind survives)
    //   batch 4: t=8 (ld) late filter wm_3 = 32 >= window end 10:
    //     DROPPED; t=39 (lk2) end 40 > 32: KEPT, merges into the
    //     still-live [30,40) state with t=38 -> n=2, emitted ONCE
    //   batch 5: t=100 sentinel -> final watermark 85 closes all real
    //     windows; its own window [100,110) stays open, never emitted
    def b(rows: (Long, String)*) = rows.toSeq
      .toDF("t", "event_type")
      .select(timestamp_seconds($"t").as("ts"), $"event_type",
        lit(1.0).as("value"))
    val feed = FeedStage.stageBatches(Seq(
      b((5L, "a"), (12L, "a")), b((47L, "b")),
      b((25L, "lk1"), (38L, "lk2")),
      b((8L, "ld"), (39L, "lk2")),
      b((100L, "sentinel"))))
    val out = StreamingWindow.windowedAgg(spark, feed, 10L, 15L)
      .select(unix_timestamp($"win_start").as("w"), $"event_type",
        $"n", $"sum_value")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(out == Set(
      (0L, "a", 1L, 1.0),    // t=5
      (10L, "a", 1L, 1.0),   // t=12
      (20L, "lk1", 1L, 1.0), // t=25, one batch behind: kept
      (30L, "lk2", 2L, 2.0), // t=38 + late t=39 merged, single row
      (40L, "b", 1L, 1.0)))  // t=47; no ld, no sentinel
  }

  test("streaming sessions merge across batches (q115 rule)") {
    import org.apache.spark.sql.functions.{lit, timestamp_seconds,
      unix_timestamp}
    // gap 10 s, delay 5 s, time-ordered replay:
    //   batch 1: user 1 at t=0, t=8        open session [0, 18)
    //   batch 2: user 1 at t=15 -> within gap of t=8, must merge with
    //     the batch-1 state -> [0, 25); user 2 at t=16
    //   batch 3: user 1 at t=40 -> 40-15 >= gap: NEW session [40, 50)
    //   batch 4: sentinel user -1 at t=200 -> watermark 195 closes all
    //     real sessions; its own stays open, never emitted
    def b(rows: (Long, Long)*) = rows.toSeq.toDF("u", "t")
      .select(timestamp_seconds($"t").as("ts"), $"u".as("user_id"),
        lit(1.0).as("value"))
    val feed = FeedStage.stageBatches(Seq(
      b((1L, 0L), (1L, 8L)), b((1L, 15L), (2L, 16L)),
      b((1L, 40L)), b((-1L, 200L))))
    val out = StreamingWindow.sessionAgg(spark, feed, 10L, 5L)
      .select($"user_id", unix_timestamp($"session_start").as("ss"),
        unix_timestamp($"session_end").as("se"), $"n_events",
        $"sum_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(out == Set(
      (1L, 0L, 25L, 3L, 3.0),  // cross-batch merge: 0,8 + 15
      (1L, 40L, 50L, 1L, 1.0), // past the gap: separate session
      (2L, 16L, 26L, 1L, 1.0)))
  }
}
