package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `osmx query` verb (`src/cmd.cpp:44-112`) as a typed facade over a
  * committed [[VersionedTable]] root: point lookups by id, existence
  * tests, table statistics, and metadata — all backed by id-sorted
  * parquet, so a point predicate prunes to one row group (the engine's
  * analog of the reference's B-tree descent, `src/storage.cpp:70-77`).
  *
  * Every method pins the manifest version captured at construction:
  * one [[OsmDb]] = one LMDB read transaction (`src/cmd.cpp:50`).
  */
final class OsmDb(spark: SparkSession, root: String,
                  forceJobPath: Boolean = false) {

  /** The pinned snapshot (readers are stable across later commits). */
  val snapshot: VersionedTable.Manifest =
    VersionedTable.current(root).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))

  private def table(name: String): DataFrame =
    VersionedTable.read(spark, root, name, Some(snapshot))

  /** Resolved single-bucket relations, memoized per (table, bucket):
    * every probe of a bucket pays file listing + parquet footer/schema
    * resolution only ONCE per OsmDb — repeat probes reuse the analyzed
    * relation and pay just the point-filter job. Safe to cache because
    * the snapshot is pinned at construction (one OsmDb = one read txn):
    * a later commit never mutates the files a pinned `v=N/` references. */
  private val bucketFrames =
    scala.collection.concurrent.TrieMap[(String, Int), DataFrame]()

  /** Driver-local point reader over the same pinned snapshot: single-id
    * probes on a bucketed store skip the Spark scheduler entirely (the
    * ~50 ms/job floor BASELINE.md §QD1 documents) and read the one
    * pruned bucket file directly via parquet-mr — results pinned equal
    * to the job path by PointReaderSpec. `forceJobPath` sends every
    * probe through the Spark job path (the spec's reference path). */
  private val direct = new PointReader(root, snapshot)
  private val forceJob = forceJobPath
  @volatile private var directWarned = false

  /** Route a single-key probe: driver-local direct read when the table
    * is bucketed by the probed column (and not overridden), Spark job
    * otherwise. A direct-path failure falls back to the job path LOUDLY
    * (once) — a silent fallback would hide a 50x latency regression.
    * `columns` projects the direct decode to keyCol + those fields
    * (None = full row) — each accessor passes exactly what it returns,
    * so a meta probe never pays a member-array decode. */
  private def point[T](table: String, keyCol: String, key: Long,
                       columns: Option[Seq[String]] = None)
                      (decode: org.apache.parquet.example.data.Group => T)
                      (viaJob: => Seq[T]): Seq[T] =
    if (!forceJob && direct.supports(table, keyCol)) {
      try columns.fold(direct.rows(table, keyCol, key))(cs =>
        direct.rows(table, keyCol, key, cs)).map(decode)
      catch { case e: Throwable =>
        if (!directWarned) {
          directWarned = true
          System.err.println(s"[osmdb] WARN direct point read failed " +
            s"($table.$keyCol=$key), falling back to Spark job path: " +
            s"${e.getClass.getName}: ${e.getMessage}")
        }
        viaJob
      }
    } else viaJob

  /** Key-pruned scan: on a bucketed (copy-on-write) store the lookup
    * reads ONE bucket directory (the driver computes the key's bucket
    * with the same hash the layout used); on the analytic layout it's
    * the plain id-sorted scan with row-group pruning. Package-visible
    * so ManifestSpec pins THIS method's physical plan (one path, not a
    * reconstruction of it) and LookupBench reports what it measures. */
  private[osm] def keyed(name: String, keyCol: String, key: Long)
  : DataFrame =
    (snapshot.buckets.get(name) match {
      // bucket-prune ONLY when the table is bucketed by the probed
      // column (the manifest records the layout key): a lookup on any
      // other column must scan the whole table — routing it to one
      // hash bucket would silently return None for rows that exist
      case Some(spec) if spec.key == keyCol =>
        val b = VersionedTable.bucketOfValue(key, spec.nBuckets)
        bucketFrames.getOrElseUpdate((name, b),
          VersionedTable.readBuckets(spark, root, name, Seq(b),
            Some(snapshot)))
      case _ => table(name)
    }).where(col(keyCol) === key)

  /** P1: location lookup — (lon, lat, version) or None (a node's coords
    * exist even when its tags don't, `src/cmd.cpp:53-60`). */
  def location(id: Long): Option[(Int, Int, Int)] =
    point("locations", "id", id, Some(Seq("lon", "lat", "version")))(g =>
      (direct.int(g, "lon"), direct.int(g, "lat"),
        direct.int(g, "version"))) {
      keyed("locations", "id", id)
        .select(col("lon"), col("lat"), col("version"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
        .toSeq
    }.headOption

  /** P2/P3: tagged-node lookup (tags + metadata). CDC-upserted blobs
    * carry null meta (OsmModel's documented shape) — version 0 then,
    * like the reference's metadata-stripped stores. */
  def node(id: Long): Option[(Map[String, String], Int)] =
    point("nodes", "id", id, Some(Seq("tags", "meta")))(g =>
      (direct.stringMap(g, "tags"),
        direct.structInt(g, "meta", "version", 0))) {
      keyed("nodes", "id", id)
        .select(col("tags"), col("meta.version"))
        .collect()
        .map(r => (r.getMap[String, String](0).toMap,
          if (r.isNullAt(1)) 0 else r.getInt(1))).toSeq
    }.headOption

  /** P3: way lookup — ordered node refs + tags. */
  def way(id: Long): Option[(Seq[Long], Map[String, String])] =
    point("ways", "id", id, Some(Seq("nodes", "tags")))(g =>
      (direct.longSeq(g, "nodes"), direct.stringMap(g, "tags"))) {
      keyed("ways", "id", id)
        .select(col("nodes"), col("tags"))
        .collect()
        .map(r => (r.getSeq[Long](0),
          r.getMap[String, String](1).toMap)).toSeq
    }.headOption

  /** P3: relation lookup — members + tags. */
  def relation(id: Long)
  : Option[(Seq[(Long, String, String)], Map[String, String])] =
    point("relations", "id", id, Some(Seq("members", "tags")))(g =>
      (direct.groupSeq(g, "members").map(m =>
        (direct.long(m, "ref"), m.getString("mtype", 0),
          m.getString("role", 0))),
        direct.stringMap(g, "tags"))) {
      keyed("relations", "id", id)
        .select(col("members"), col("tags"))
        .collect()
        .map(r => (r.getSeq[org.apache.spark.sql.Row](0)
          .map(m => (m.getLong(0), m.getString(1), m.getString(2))),
          r.getMap[String, String](1).toMap)).toSeq
    }.headOption

  /** P3 meta-only relation probe: tags + version WITHOUT decoding the
    * member arrays — in wide stores relations carry hundreds of KB of
    * members per row (~29 ms of decode at sf10, the r12 micro-note),
    * which a caller wanting tags/meta never needed. Same pruning
    * ladder; the projection drops the member column's pages. */
  def relationMeta(id: Long): Option[(Map[String, String], Int)] =
    point("relations", "id", id, Some(Seq("tags", "meta")))(g =>
      (direct.stringMap(g, "tags"),
        direct.structInt(g, "meta", "version", 0))) {
      keyed("relations", "id", id)
        .select(col("tags"), col("meta.version"))
        .collect()
        .map(r => (r.getMap[String, String](0).toMap,
          if (r.isNullAt(1)) 0 else r.getInt(1))).toSeq
    }.headOption

  /** P2: existence tests (key-only projection: zero payload pages). */
  def nodeExists(id: Long): Boolean =
    point("locations", "id", id, Some(Nil))(_ => ()) {
      if (keyed("locations", "id", id).isEmpty) Seq.empty else Seq(())
    }.nonEmpty
  def wayExists(id: Long): Boolean =
    point("ways", "id", id, Some(Nil))(_ => ()) {
      if (keyed("ways", "id", id).isEmpty) Seq.empty else Seq(())
    }.nonEmpty
  def relationExists(id: Long): Boolean =
    point("relations", "id", id, Some(Nil))(_ => ()) {
      if (keyed("relations", "id", id).isEmpty) Seq.empty else Seq(())
    }.nonEmpty

  /** P4: reverse-index lookup (`python/osmx/osmx.py:41-46`). */
  def parents(adjTable: String, memberId: Long): Seq[Long] =
    point(adjTable, "member_id", memberId,
      Some(Seq("parent_id")))(g =>
      direct.long(g, "parent_id")) {
      keyed(adjTable, "member_id", memberId)
        .select(col("parent_id"))
        .collect().map(_.getLong(0)).toSeq
    }.sorted

  /** P5: per-table row counts + metadata, like `osmx query` with no
    * args (`src/cmd.cpp:96-109`). */
  def stats(): Map[String, Long] =
    snapshot.tables.map(t => t -> table(t).count()).toMap

  /** P6: metadata KV. */
  def metadata(key: String): Option[String] = snapshot.meta.get(key)

  // ---- typed Dataset accessors (S6 decode via encoders, not rows) ----

  /** Whole-table typed scans at the pinned snapshot. Projections
    * select the model columns explicitly, so stores carrying extra
    * physical columns (s2cell index, `__bucket`) decode fine. */
  def locationsTyped: org.apache.spark.sql.Dataset[OsmModel.Location] = {
    import spark.implicits._
    table("locations").select(col("id"), col("lon"), col("lat"),
      col("version")).as[OsmModel.Location]
  }

  def nodesTyped: org.apache.spark.sql.Dataset[OsmModel.Node] = {
    import spark.implicits._
    table("nodes").select(col("id"), col("tags"), col("meta"))
      .as[OsmModel.Node]
  }

  def waysTyped: org.apache.spark.sql.Dataset[OsmModel.Way] = {
    import spark.implicits._
    table("ways").select(col("id"), col("nodes"), col("tags"),
      col("meta")).as[OsmModel.Way]
  }

  def relationsTyped: org.apache.spark.sql.Dataset[OsmModel.Relation] = {
    import spark.implicits._
    table("relations").select(col("id"), col("members"), col("tags"),
      col("meta")).as[OsmModel.Relation]
  }
}
