package graft.osm

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `expand` — bulk-load OSM element files into the engine's versioned
  * 6-table layout (`src/expand.cpp:244-295`, SURVEY §3.3):
  *
  *   - `locations` carries a materialized level-16 `s2cell` column and
  *     is RANGE-PARTITIONED AND SORTED BY IT — the role of the
  *     reference's `cell_node` index: covering range scans become
  *     parquet row-group min/max pruning instead of B-tree seeks;
  *   - entity tables sort by id (point-lookup row-group pruning);
  *   - adjacency tables sort by member_id (reverse-join locality);
  *   - the whole load commits as ONE manifest version with replication
  *     metadata (`src/expand.cpp:276-287`).
  *
  * The reference's 98-line external merge sort + MDB_APPEND bulk load
  * (A4, `src/expand.cpp:24-121`) is exactly `repartitionByRange +
  * sortWithinPartitions` — Spark's shuffle spill IS the run-file
  * machinery.
  */
object Ingest {

  /** Read one entity DataFrame from OSM XML/PBF via the osmxml
    * DataSource. `readerOptions` passes through scan options like
    * `pbf.split.bytes` (blob-range split sizing for single-file
    * planet inputs). */
  def readOsm(spark: SparkSession, path: String, entity: String,
              readerOptions: Map[String, String] = Map.empty)
  : DataFrame =
    spark.read.format("osmxml").option("entity", entity)
      .options(readerOptions).load(path)

  private def metaCol = struct(col("version"), col("timestamp"),
    col("changeset"), col("uid"), col("user"))

  /** The 8 derived tables of one import ([[OsmLayout]]), shared by both
    * commit layouts. Caller must run inside [[withRaws]] so each input
    * file parses once. Sorted, each table is range-partitioned and
    * sorted by its bucket key, then its delete key; `locations` by its
    * `s2cell` index column instead, so covering scans become row-group
    * pruning. */
  private def derive(nodesRaw: DataFrame, waysRaw: DataFrame,
                     relsRaw: DataFrame, numPartitions: Int,
                     sorted: Boolean)
  : Seq[(OsmLayout.Table, DataFrame)] = {
    val elements = Map("node" -> nodesRaw, "way" -> waysRaw,
      "relation" -> relsRaw)
    OsmLayout.tables.map { t =>
      val rows = t.rows(elements(t.etype).withColumn("meta", metaCol))
      val order =
        if (t == OsmLayout.Locations) Seq("s2cell", "id")
        else Seq(t.bucketKey, t.deleteKey).distinct
      t -> (if (!sorted) rows
      else rows.repartitionByRange(numPartitions, col(order.head))
        .sortWithinPartitions(order.map(col): _*))
    }
  }

  /** Read + persist the three raw entity frames for the duration of
    * `body`: every frame is referenced by several downstream writes
    * (nodes: locations + tagged + max-ts; ways: way table + node_way,
    * each with a range-sampling pass; relations: table + 3 adjacency
    * indexes), so each input file must parse ONCE. */
  private def withRaws[T](spark: SparkSession, path: String,
                          readerOptions: Map[String, String])
                         (body: (DataFrame, DataFrame, DataFrame) => T)
  : T = {
    GraftFunctions.register(spark)
    val nodesRaw = readOsm(spark, path, "node", readerOptions).persist()
    val waysRaw = readOsm(spark, path, "way", readerOptions).persist()
    val relsRaw = readOsm(spark, path, "relation", readerOptions)
      .persist()
    try body(nodesRaw, waysRaw, relsRaw)
    finally {
      nodesRaw.unpersist(blocking = false)
      waysRaw.unpersist(blocking = false)
      relsRaw.unpersist(blocking = false)
    }
  }

  private def importMeta(path: String, nodesRaw: DataFrame,
                         waysRaw: DataFrame, relsRaw: DataFrame)
  : Map[String, String] = {
    // the replication timestamp is the max over ALL entity kinds: a
    // regional extract whose freshest edit retags a way (no node
    // touched) must not underreport its recency — this value flows
    // into every extract's PBF header and any timestamp->seqnum
    // catch-up. Empty input (zero elements) => null max, default 0.
    val maxTsRow = nodesRaw.select(col("timestamp"))
      .unionByName(waysRaw.select(col("timestamp")))
      .unionByName(relsRaw.select(col("timestamp")))
      .agg(max("timestamp")).head()
    val maxTs = if (maxTsRow.isNullAt(0)) 0L else maxTsRow.getLong(0)
    Map("import_filename" -> path,
      "osmosis_replication_timestamp" -> maxTs.toString)
  }

  /** Full expand: XML/PBF path -> committed version in `root`
    * (analytic layout: range-sorted tables, full rewrite per commit).
    * `numPartitions <= 0` (the default) scales the sorted write to the
    * cluster (`defaultParallelism`): the external-sort commit is eight
    * sequential per-table jobs, and a fixed partition count leaves a
    * 1000-executor cluster (or local[32]) mostly idle — the r9 sf10
    * decade measured expand as q52's dominant stage for exactly this
    * reason. CAVEAT: the default therefore makes the committed FILE
    * LAYOUT machine-dependent (file count and row-group pruning
    * granularity track defaultParallelism; row CONTENT is
    * deterministic either way). Pass an explicit count wherever the
    * layout itself is compared (tests, byte-identical re-commits) or
    * consumed by layout-sensitive maintenance (vacuum/GC accounting
    * of per-version file sets). The CLI inherits the scaled default. */
  def expand(spark: SparkSession, xmlPath: String, root: String,
             numPartitions: Int = -1, dryRun: Boolean = false,
             readerOptions: Map[String, String] = Map.empty): Long =
    withRaws(spark, xmlPath, readerOptions) { (n, w, r) =>
      val np = if (numPartitions > 0) numPartitions
               else adaptivePartitions(xmlPath,
                 fallback = spark.sparkContext.defaultParallelism)
      VersionedTable.commit(root,
        derive(n, w, r, np, sorted = true)
          .map { case (t, df) => t.name -> df }.toMap,
        importMeta(xmlPath, n, w, r), dryRun = dryRun)
    }

  /** Sorted-layout partition count derived from INPUT SIZE rather than
    * cluster width (optimization-guide §2 "make partitioning
    * scale-adaptive", §6 output sizing): one range partition per
    * ~64 MB of source bytes, floor 1. The old `defaultParallelism`
    * default sized the layout to the MACHINE — local[32] turned a
    * 1 MB extract into 8 x 32 near-empty sorted files and paid 32-task
    * range-sample + shuffle + write overhead per table, while a small
    * core count under-split a planet file. Input bytes track output
    * bytes within a small factor for both OSM XML (~10:1 vs parquet)
    * and PBF (~1:2), keeping committed files inside the 10s-of-MB to
    * ~1 GB band at any scale. Layout remains explicitly
    * machine-independent only when `numPartitions` is passed (same
    * caveat as before — row CONTENT is deterministic either way). */
  private[osm] def adaptivePartitions(path: String,
                                      bytesPerPartition: Long = 64L << 20,
                                      fallback: Int = 1)
  : Int = {
    def sizeOf(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    val bytes = sizeOf(new java.io.File(path))
    // a non-local path (or empty dir) measures 0 bytes — fall back to
    // the caller's cluster-width default instead of a 1-partition sort.
    // NOTE: only bare local paths are measurable this way; a file:/
    // hdfs:/ s3a: URI also reads 0 and takes the fallback (documented
    // r15 advisor).
    if (bytes <= 0L) math.max(1, fallback)
    else {
      val target = (bytes + bytesPerPartition - 1) / bytesPerPartition
      // parallelism floor (r16, verdict #2): the r15 floor of 1
      // serialized each sub-64MB table's range-sample + sort + write
      // onto one core. Floor at one partition per 16 MB of source,
      // capped by cluster width (`fallback` = defaultParallelism from
      // expand) — data-derived below the cap, never wider than the
      // machine, and the §6 file-size band still holds (a 16 MB-source
      // partition writes a several-MB parquet file at worst).
      val floor = math.min(fallback.toLong,
        (bytes + (16L << 20) - 1) / (16L << 20))
      math.max(target, math.max(1L, floor)).min(1 << 24).toInt
    }
  }

  /** Expand into the BUCKETED copy-on-write layout — the store
    * [[graft.streaming.Replication.catchUp]] consumes: subsequent
    * OsmChange commits rewrite only the buckets containing changed
    * keys (the reference's O(changes) LMDB update). Each table buckets
    * on its [[OsmLayout]] bucket key (`id`, or `member_id` for
    * adjacency); rows sort by the bucket key within each bucket
    * (point-lookup row-group pruning). The s2cell column is retained
    * for spatial residual filters; a latency-critical spatial serving
    * path should extract into the analytic layout instead. */
  def expandBucketed(spark: SparkSession, xmlPath: String, root: String,
                     nBuckets: Int = 64, dryRun: Boolean = false,
                     readerOptions: Map[String, String] = Map.empty)
  : Long =
    withRaws(spark, xmlPath, readerOptions) { (n, w, r) =>
      VersionedTable.commitBucketed(root,
        derive(n, w, r, numPartitions = nBuckets, sorted = false)
          .map { case (t, df) => t.name -> ((df, t.bucketKey)) }.toMap,
        nBuckets, importMeta(xmlPath, n, w, r), dryRun = dryRun)
    }

  /** Load the table bundle back from a committed version. */
  def readTables(spark: SparkSession, root: String,
                 pinned: Option[VersionedTable.Manifest] = None)
  : SyntheticOsm.Tables = {
    def t(name: String) = VersionedTable.read(spark, root, name, pinned)
    SyntheticOsm.Tables(
      t("locations").drop("s2cell"), t("nodes"), t("ways"), t("relations"),
      t("node_way"), t("node_relation"), t("way_relation"),
      t("relation_relation"))
  }

  /** PBF OSMHeader options for an extract over `region`
    * (`src/extract.cpp:280-299`): generator + replication timestamp,
    * and the region's bbox in nanodegrees — omitted when the region
    * crosses the antimeridian, where a flat min/max box is
    * meaningless (`src/extract.cpp:292-294`). */
  def pbfHeaderOptions(region: Option[graft.spatial.Region],
                       replicationTs: Option[Long] = None,
                       seqnum: Option[Long] = None)
  : Map[String, String] = {
    def nano(deg: Double): Long = Math.round(deg * 1e9)
    val bbox = region.filterNot(_.crossesAntimeridian).map { rg =>
      val (latLo, latHi, lngLo, lngHi) = rg.bounds
      s"${nano(lngLo)},${nano(lngHi)},${nano(latHi)},${nano(latLo)}"
    }
    Map("header.generator" -> "graft") ++
      bbox.map("header.bbox" -> _) ++
      replicationTs.map(t => "header.timestamp" -> t.toString) ++
      seqnum.map(s => "header.seqnum" -> s.toString)
  }

  /** Write an extract back out as OSM XML or binary PBF (S2): one
    * document per entity, elements in reference order, rows selected
    * map-side by the extract's id bitmaps ([[Extract.rows]]).
    * `includeUserData = false` is `--noUserData`
    * (`src/extract.cpp:324-328`); `format`
    * is the DataSource name ("osmxml" or "osmpbf" — the reference's
    * extract emits PBF, `src/extract.cpp:295`); `headerOpts` (PBF only)
    * from [[pbfHeaderOptions]]. */
  def writeExtract(t: SyntheticOsm.Tables, sel: Extract.Selected,
                   dir: String, includeUserData: Boolean = true,
                   shards: Int = 1, format: String = "osmxml",
                   headerOpts: Map[String, String] = Map.empty)
  : Unit = {
    val noUser = lit("").as("user")
    val rows = Extract.rows(t, sel)
    // elements in ascending id order; one shard needs no global sort: a
    // single-partition exchange and a local sort skip the range-sampling
    // job
    def write(df: DataFrame, entity: String): Unit =
      (if (shards == 1) df.repartition(1).sortWithinPartitions(col("id"))
      else df.orderBy(col("id")).coalesce(shards))
        .write.format(format).option("entity", entity).options(headerOpts)
        .mode("overwrite").save(dir)

    write(rows.nodes
      .select(col("id"), col("lon"), col("lat"), col("version"),
        coalesce(col("meta.timestamp"), lit(0L)).as("timestamp"),
        coalesce(if (includeUserData) col("meta.changeset") else lit(0L),
          lit(0L)).as("changeset"),
        coalesce(if (includeUserData) col("meta.uid") else lit(0L),
          lit(0L)).as("uid"),
        (if (includeUserData) coalesce(col("meta.user"), lit(""))
        else noUser).as("user"),
        coalesce(col("tags"),
          map().cast("map<string,string>")).as("tags")), "node")

    def entityOut(table: DataFrame, extra: String): DataFrame = table
      .select(Seq(col("id"), col("meta.version").as("version"),
        col("meta.timestamp").as("timestamp"),
        (if (includeUserData) col("meta.changeset") else lit(0L))
          .as("changeset"),
        (if (includeUserData) col("meta.uid") else lit(0L)).as("uid"),
        (if (includeUserData) coalesce(col("meta.user"), lit(""))
        else noUser).as("user"),
        col("tags"), col(extra)): _*)

    write(entityOut(rows.ways, "nodes"), "way")
    write(entityOut(rows.relations, "members"), "relation")
  }
}
