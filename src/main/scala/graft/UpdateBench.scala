package graft

import graft.osm.{Extract, Ingest, SyntheticOsm}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Replication apply-throughput headline: OsmChange elements/second
  * through `Replication.applyBatch` against the bucketed
  * copy-on-write store — the operational loop of the reference
  * (`utils/osmx-update`: fetch minutely diff, apply, advance seqnum;
  * its LMDB design is O(changes) puts, `src/update.cpp:228-291`).
  * The reference publishes no update-rate figure, so this is an
  * engineering headline, not a comparison: what matters at scale is
  * (a) the per-batch fixed floor (manifest + bucket commit) and
  * (b) that cost grows with CHANGED BUCKETS, not with the table.
  *
  * Setup (NOT timed): synthetic bundle -> sharded PBF ->
  * `expandBucketed` store (64 buckets). Timed region: one
  * `applyBatch` per change fraction (0.1%, 1%, 10% of elements —
  * node moves/deletes + way/relation rewrites), each a full CoW
  * commit: latest-version-wins dedup, element upserts, 3-way reverse
  * adjacency diff, CAS manifest publish.
  *
  * Prints ONE JSON line. Env: SPARK_GRAFT_SF_DIR (default
  * /tmp/graft_sf1), SPARK_GRAFT_CPUS, SPARK_GRAFT_UPDATE_MODS
  * (comma-separated id moduli; default "1000,100,10").
  */
object UpdateBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val mods = sys.env.getOrElse("SPARK_GRAFT_UPDATE_MODS", "1000,100,10")
      .split(",").map(_.trim.toLong).toSeq
    val spark = GraftSession("graft-update-bench")
    val cores = spark.sparkContext.defaultParallelism
    import spark.implicits._

    val t = SyntheticOsm.materialized(spark, sfDir)
    val all = Extract.Selected(
      t.locations.select(col("id")), t.ways.select(col("id")),
      t.relations.select(col("id")))
    val pbfDir = graft.TempDirs.create("graft-updatebench-pbf")
    Ingest.writeExtract(t, all, pbfDir, shards = cores,
      format = "osmpbf",
      headerOpts = Ingest.pbfHeaderOptions(None,
        replicationTs = Some(1600000000L), seqnum = Some(42L)))
    val root = graft.TempDirs.create("graft-updatebench-db")
    Ingest.expandBucketed(spark, pbfDir, root, nBuckets = 64)

    val metaT = "struct<version:int,timestamp:bigint,changeset:bigint," +
      "uid:bigint,user:string>"
    val noNodes = lit(null).cast("array<bigint>").as("nodes")
    val noMembers = lit(null)
      .cast("array<struct<ref:bigint,mtype:string,role:string>>")
      .as("members")

    /** One diff batch touching ~1/m of each element type: node moves
      * (~9% of them deletes), way node-list rewrites, relation member
      * rewrites — the full U1/U2/U3 surface. */
    def batch(m: Long, seq: Long): DataFrame = {
      val nodeCh = t.locations.where($"id" % m === 0).select(
        $"id", lit("node").as("etype"),
        ($"id" % 11 =!= 0).as("visible"),
        ($"lon" + 1).cast("int").as("lon"),
        ($"lat" + 1).cast("int").as("lat"),
        ($"version" + 1).cast("int").as("version"),
        noNodes, noMembers,
        map(lit("touched"), lit("y")).as("tags"),
        struct(($"version" + 1).cast("int").as("version"),
          lit(1700000000L).as("timestamp"),
          ($"id" % 1000).as("changeset"), ($"id" % 100).as("uid"),
          lit("bench").as("user")).cast(metaT).as("meta"),
        lit(seq).as("seqnum"))
      val wayCh = t.ways.where($"id" % m === 0).select(
        $"id", lit("way").as("etype"), lit(true).as("visible"),
        lit(null).cast("int").as("lon"), lit(null).cast("int").as("lat"),
        ($"meta.version" + 1).cast("int").as("version"),
        reverse($"nodes").as("nodes"), noMembers, $"tags",
        struct(($"meta.version" + 1).cast("int").as("version"),
          $"meta.timestamp", $"meta.changeset", $"meta.uid",
          $"meta.user").cast(metaT).as("meta"),
        lit(seq).as("seqnum"))
      val relCh = t.relations.where($"id" % m === 0).select(
        $"id", lit("relation").as("etype"), lit(true).as("visible"),
        lit(null).cast("int").as("lon"), lit(null).cast("int").as("lat"),
        ($"meta.version" + 1).cast("int").as("version"),
        noNodes, reverse($"members").as("members"), $"tags",
        struct(($"meta.version" + 1).cast("int").as("version"),
          $"meta.timestamp", $"meta.changeset", $"meta.uid",
          $"meta.user").cast(metaT).as("meta"),
        lit(seq).as("seqnum"))
      nodeCh.unionByName(wayCh).unionByName(relCh)
    }

    def timed(b0: DataFrame, batchId: Long): (Long, Double) = {
      val b = b0.persist()
      val n = b.count() // materialize OUTSIDE the timed region
      val t0 = System.nanoTime()
      graft.streaming.Replication.applyBatch(spark, root, b, batchId)
      val secs = (System.nanoTime() - t0) / 1e9
      b.unpersist()
      (n, secs)
    }

    val rows = mods.zipWithIndex.map { case (m, i) =>
      val (n, secs) = timed(batch(m, i + 1L), i.toLong)
      f"""{"modulus":$m,"changes":$n,"seconds":${secs}%.1f,""" +
        f""""changes_per_s":${n / secs}%.0f}"""
    }
    // CoW proportionality probe: the same node-change density but
    // confined to 4 of the 64 hash buckets — apply cost must track
    // CHANGED BUCKETS, not table size (the per-bucket CoW contract;
    // hash buckets mean a real spread-out diff touches all of them,
    // so this is the isolating measurement, not the typical case)
    val clustered = batch(100, mods.size + 1L)
      .where(col("etype") === "node" &&
        graft.osm.VersionedTable.bucketExpr("id", 64) < 4)
    val (cn, cs) = timed(clustered, mods.size.toLong)
    println(s"""{"metric":"cdc_apply","cores":$cores,"sf":"$sfDir",""" +
      s""""batches":[${rows.mkString(",")}],""" +
      f""""clustered_4of64":{"changes":$cn,"seconds":${cs}%.1f}}""")
    spark.stop()
  }
}
