package graft

import graft.osm.{Extract, Ingest, OsmDb, SyntheticOsm}
import org.apache.spark.sql.functions._

/** Point-lookup latency headline: the reference's core design
  * predictor is I/O latency at queue depth 1 (`docs/MANUAL.md:86` —
  * "the strongest performance predictor is IOPS at QD1"; its B-tree
  * descent is `src/storage.cpp:70-77`). graft's analog is the
  * bucket-pruned single-key probe ([[OsmDb.keyed]]): the driver hashes
  * the key to ONE bucket directory of the copy-on-write store, and the
  * parquet point predicate prunes row groups inside that one file.
  *
  * What to expect (and what the numbers must SHOW): per-lookup wall on
  * the Spark JOB path (`*_job` rows) is dominated by Spark's fixed
  * job-scheduling floor (tens of ms on local mode), NOT by data size —
  * so p50 must stay FLAT as the store grows a decade (the pruned probe
  * reads one bucket regardless). A rising p50 across SFs means pruning
  * broke. Since r12 the PUBLIC single-id API (unsuffixed rows) routes
  * through [[graft.osm.PointReader]] — a driver-local parquet read of
  * the same one pruned bucket, no Spark job — which removes that floor
  * (target: warm p50 < 10 ms, the r11 verdict's QD1 prescription;
  * result equality vs the job path is pinned by PointReaderSpec). Scan
  * and extract queries still go through Spark against the same files.
  *
  * Setup (NOT timed): synthetic bundle -> sharded PBF ->
  * `expandBucketed` store (64 buckets). Timed: `lookups` single-id
  * probes per table (node location / tagged node / way / relation),
  * ids sampled deterministically across the id range. Pass 1 = "cold"
  * — SPARK-METADATA-cold ONLY (first touch of each bucket file pays
  * FileIndex listing + footer read, but the store was just written and
  * scanned by this same JVM/host, so the OS page cache is WARM; true
  * device-cold latency would be higher). Pass 2 = warm (same ids,
  * everything hot) — per-pass p50/p99 reported; the JSON carries the
  * caveat in a "cold_is" field.
  *
  * Prints ONE JSON line. Env: SPARK_GRAFT_SF_DIR (default
  * /tmp/graft_sf1), SPARK_GRAFT_CPUS, SPARK_GRAFT_LOOKUPS (default 64
  * per table), SPARK_GRAFT_LOOKUP_DB (reuse an existing bucketed store
  * instead of building one — for cross-SF A/B on prebuilt stores),
  * SPARK_GRAFT_LOOKUP_BUILD_DB (build the store at this persistent
  * path instead of an auto-deleted temp dir — pair with LOOKUP_DB in a
  * SECOND JVM to separate reader latency from ingest-JVM aging: the
  * build run's probes execute in a heap that just churned through the
  * whole ingest, the reuse run's in a quiet one).
  */
object LookupBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val nLookups = sys.env.getOrElse("SPARK_GRAFT_LOOKUPS", "64").toInt
    val spark = GraftSession("graft-lookup-bench")

    // ---- setup, untimed: build (or reuse) the bucketed store ----
    val root = sys.env.get("SPARK_GRAFT_LOOKUP_DB").getOrElse {
      val t = SyntheticOsm.materialized(spark, sfDir)
      val all = Extract.Selected(
        t.locations.select(col("id")), t.ways.select(col("id")),
        t.relations.select(col("id")))
      val pbfDir = TempDirs.create("graft-lookupbench-pbf")
      Ingest.writeExtract(t, all, pbfDir, shards = spark.sparkContext.defaultParallelism,
        format = "osmpbf")
      val r = sys.env.get("SPARK_GRAFT_LOOKUP_BUILD_DB")
        .getOrElse(TempDirs.create("graft-lookupbench-db"))
      Ingest.expandBucketed(spark, pbfDir, r, nBuckets = 64)
      r
    }
    // r12: two probe paths over the SAME store — the public API now
    // routes single-id probes through the driver-local PointReader
    // (direct; no Spark job, PointReaderSpec pins result equality) and
    // the Spark job path stays measurable via forceJobPath for the QD1
    // floor comparison.
    val db = new OsmDb(spark, root, forceJobPath = false)
    val jobDb = new OsmDb(spark, root, forceJobPath = true)

    // deterministic id sample: k-th percentile ids of each table via a
    // single ordered probe per table (untimed; ntile keeps it one scan)
    def sampleIds(table: String, keyCol: String): Seq[Long] = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(keyCol))
      graft.osm.VersionedTable.read(spark, root, table,
          Some(db.snapshot))
        .select(col(keyCol)).distinct()
        .withColumn("nt", ntile(nLookups).over(w))
        .groupBy(col("nt")).agg(min(col(keyCol)).as("k"))
        .orderBy(col("nt"))
        .collect().map(_.getAs[Long]("k")).toSeq
    }
    def probeSet(d: graft.osm.OsmDb, suffix: String)
    : Seq[(String, Seq[Long], Long => Unit)] = Seq(
      (s"location$suffix", sampleIds("locations", "id"),
        (id: Long) => { d.location(id); () }),
      (s"node$suffix", sampleIds("nodes", "id"),
        (id: Long) => { d.node(id); () }),
      (s"way$suffix", sampleIds("ways", "id"),
        (id: Long) => { d.way(id); () }),
      (s"relation$suffix", sampleIds("relations", "id"),
        (id: Long) => { d.relation(id); () }),
      // r13: meta-only relation probe — projection drops the member
      // arrays (~230 KB/row at sf10), the r12 verdict's Next #4 target
      // (warm p50 < 10 ms at sf10 for tags/meta callers)
      (s"relation_meta$suffix", sampleIds("relations", "id"),
        (id: Long) => { d.relationMeta(id); () }),
      (s"parents$suffix", sampleIds("node_way", "member_id"),
        (id: Long) => { d.parents("node_way", id); () }))
    // direct (the public API path) first, then the Spark job path
    val probes = probeSet(db, "") ++ probeSet(jobDb, "_job")

    def pct(sorted: Array[Double], p: Double): Double =
      sorted(math.min(sorted.length - 1,
        math.max(0, math.ceil(p * sorted.length).toInt - 1)))

    def pass(label: String): Seq[(String, Double, Double, Double)] =
      probes.map { case (name, ids, probe) =>
        val times = (0 until nLookups).map { i =>
          val id = ids(i % ids.size)
          val t0 = System.nanoTime()
          probe(id)
          (System.nanoTime() - t0) / 1e6 // ms
        }.toArray.sorted
        (s"${name}_$label", pct(times, 0.50), pct(times, 0.99),
          times.sum / times.length)
      }

    val cold = pass("cold")
    val warm = pass("warm")

    def d1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    def j(rows: Seq[(String, Double, Double, Double)]): String =
      rows.map { case (k, p50, p99, mean) =>
        s""""$k":{"p50_ms":${d1(p50)},"p99_ms":${d1(p99)},""" +
          s""""mean_ms":${d1(mean)}}"""
      }.mkString(",")
    val nElems = db.stats().values.sum
    println(
      s"""{"metric":"lookup_p50_ms","value":${d1(warm.map(_._2).min)},""" +
        s""""unit":"ms","lookups_per_table":$nLookups,""" +
        s""""store_rows":$nElems,"tables":{${j(cold)},${j(warm)}},""" +
        s""""cold_is":"spark-metadata-cold (same-JVM setup; page cache warm)",""" +
        s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
