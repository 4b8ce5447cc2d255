package graft

import graft.osm.{Extract, Ingest, SyntheticOsm}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingest-throughput headline: PBF bytes/second through the full
  * `expand` path (blob-split parallel decode -> model derivation ->
  * external-sorted committed store), the operation the reference's only
  * published end-to-end figure describes (planet expand: 47 GB PBF in
  * 5-10 h single-machine, `README.md:44` — ~1.3-2.6 MB/s).
  *
  * Setup (NOT timed): build the synthetic OSM bundle from the star
  * schema, optionally union `SPARK_GRAFT_INGEST_COPIES` id-shifted
  * copies to scale the element count, write it as a sharded .osm.pbf.
  * Timed region: `Ingest.expand` of that PBF into a fresh committed
  * store — decode, derive, sort, write, manifest publish, end to end.
  *
  * Prints ONE JSON line: input MB, elements, seconds, MB/s total and
  * per core. Env: SPARK_GRAFT_SF_DIR (default /tmp/graft_sf10),
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_INGEST_COPIES.
  */
object IngestBench {

  /** One id-shifted copy of the PBF-relevant tables: every element id
    * and every member/node ref moves by `off`, so unioned copies stay
    * referentially consistent and globally id-unique. */
  private def shifted(t: SyntheticOsm.Tables, off: Long)
  : SyntheticOsm.Tables = {
    def ids(df: DataFrame) = df.withColumn("id", col("id") + off)
    val ways = ids(t.ways).withColumn("nodes",
      transform(col("nodes"), x => x + off))
    val rels = ids(t.relations).withColumn("members",
      transform(col("members"), m => struct(
        (m("ref") + off).as("ref"), m("mtype").as("mtype"),
        m("role").as("role"))))
    t.copy(locations = ids(t.locations), nodes = ids(t.nodes),
      ways = ways, relations = rels)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf10")
    val copies = sys.env.getOrElse("SPARK_GRAFT_INGEST_COPIES", "1").toInt
    val spark = GraftSession("graft-ingest-bench")
    val cores = spark.sparkContext.defaultParallelism

    val base = SyntheticOsm.materialized(spark, sfDir)
    // id offset: far above any base id, one stride per copy
    val stride = 1L << 40
    val t =
      if (copies <= 1) base
      else (1 until copies).map(k => shifted(base, k * stride))
        .foldLeft(base) { (acc, c) =>
          acc.copy(
            locations = acc.locations.unionByName(c.locations),
            nodes = acc.nodes.unionByName(c.nodes),
            ways = acc.ways.unionByName(c.ways),
            relations = acc.relations.unionByName(c.relations))
        }
    val all = Extract.Selected(
      t.locations.select(col("id")), t.ways.select(col("id")),
      t.relations.select(col("id")))
    val pbfDir = graft.TempDirs.create("graft-ingestbench-pbf")
    Ingest.writeExtract(t, all, pbfDir, shards = cores,
      format = "osmpbf",
      headerOpts = Ingest.pbfHeaderOptions(None,
        replicationTs = Some(1600000000L), seqnum = Some(42L)))

    val pbfFiles = new java.io.File(pbfDir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
    val bytes = pbfFiles.map(_.length()).sum
    val elements = t.locations.count() + t.ways.count() +
      t.relations.count()

    val root = graft.TempDirs.create("graft-ingestbench-db")
    val t0 = System.nanoTime()
    Ingest.expand(spark, pbfDir, root)
    val secs = (System.nanoTime() - t0) / 1e9
    val mb = bytes / 1e6
    val json =
      f"""{"metric":"ingest_expand","input_mb":${mb}%.1f,""" +
        f""""elements":$elements,"seconds":${secs}%.1f,""" +
        f""""mb_per_s":${mb / secs}%.2f,""" +
        f""""mb_per_s_per_core":${mb / secs / cores}%.3f,""" +
        f""""cores":$cores,"copies":$copies,"sf":"$sfDir"}"""
    println(json)
    spark.stop()
  }
}
