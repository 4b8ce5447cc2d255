package graft.osm

import graft.Q
import org.apache.spark.sql.functions._

/** Oracle-backed queries over the OSM-shaped tables ([[SyntheticOsm]]).
  * [[dOsmCtes]] mirrors every table derivation in DuckDB SQL so the
  * oracle rebuilds byte-identical inputs from the same parquet. */
object OsmQueries {

  /** DuckDB CTE prelude rebuilding the [[SyntheticOsm.tables]] model.
    * Tag maps are rendered directly as sorted "k=v;…" strings (the same
    * projection [[Extract.tagsToString]] computes from the MapType
    * columns). */
  val dOsmCtes: String =
    """locations AS (
      |  SELECT o_orderkey AS id,
      |    CAST((o_orderkey * 2147483629) % 3600000000 - 1800000000
      |         AS INTEGER) AS lon,
      |    CAST((o_orderkey * 981451653) % 1200000000 - 600000000
      |         AS INTEGER) AS lat,
      |    CAST(o_orderkey % 7 + 1 AS INTEGER) AS version
      |  FROM orders),
      |onodes AS (
      |  SELECT o_orderkey AS id,
      |    'prio=' || o_orderpriority || ';status=' || o_orderstatus
      |      AS tags_s,
      |    CAST(epoch(o_orderdate) AS BIGINT) AS ts,
      |    'user' || (o_custkey % 100) AS user_s
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |oways AS (
      |  SELECT c_custkey + 1000000 AS id,
      |    list(o_orderkey ORDER BY o_orderkey) AS nodes,
      |    'segment=' || c_mktsegment AS tags_s,
      |    CAST(c_custkey % 5 + 1 AS INTEGER) AS version,
      |    'user' || (c_custkey % 100) AS user_s
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_custkey, c_mktsegment),
      |nat_members AS (
      |  SELECT c_nationkey AS nk, c_custkey + 1000000 AS ref,
      |         'way' AS mtype, 'outer' AS role, c_custkey AS ord
      |  FROM customer
      |  UNION ALL
      |  SELECT c_nationkey, o_orderkey, 'node', 'label',
      |         o_orderkey + 10000000
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE o_orderkey % 97 = 0),
      |nat_rel_members AS (
      |  SELECT nk, list(struct_pack(ref := ref, mtype := mtype,
      |                              role := role) ORDER BY ord)
      |           AS members
      |  FROM nat_members GROUP BY nk),
      |nat_rels AS (
      |  SELECT n_nationkey + 2000000 AS id, m.members,
      |    CASE WHEN n_nationkey % 2 = 0 THEN 'multipolygon'
      |         ELSE 'boundary' END AS rtype,
      |    'name=' || n_name || ';type=' ||
      |      (CASE WHEN n_nationkey % 2 = 0 THEN 'multipolygon'
      |            ELSE 'boundary' END) AS tags_s,
      |    CAST(n_nationkey % 3 + 1 AS INTEGER) AS version,
      |    CAST(1600000000 AS BIGINT) AS ts,
      |    'user' || n_nationkey AS user_s
      |  FROM nation JOIN nat_rel_members m ON m.nk = n_nationkey),
      |reg_members AS (
      |  SELECT n_regionkey AS rk,
      |    list(struct_pack(ref := n_nationkey + 2000000,
      |                     mtype := 'relation', role := 'subarea')
      |         ORDER BY n_nationkey) AS members
      |  FROM nation GROUP BY n_regionkey),
      |reg_rels AS (
      |  SELECT r_regionkey + 3000000 AS id, m.members,
      |    'boundary' AS rtype,
      |    'name=' || r_name || ';type=boundary' AS tags_s,
      |    CAST(r_regionkey % 3 + 1 AS INTEGER) AS version,
      |    CAST(1700000000 AS BIGINT) AS ts,
      |    'user' || r_regionkey AS user_s
      |  FROM region JOIN reg_members m ON m.rk = r_regionkey),
      |orelations AS (
      |  SELECT id, members, rtype, tags_s, version, ts, user_s
      |  FROM nat_rels
      |  UNION ALL
      |  SELECT id, members, rtype, tags_s, version, ts, user_s
      |  FROM reg_rels),
      |node_way AS (
      |  SELECT DISTINCT unnest(nodes) AS member_id, id AS parent_id
      |  FROM oways),
      |rel_members AS (
      |  SELECT id AS parent_id, unnest(members) AS m FROM orelations),
      |node_relation AS (
      |  SELECT DISTINCT m.ref AS member_id, parent_id FROM rel_members
      |  WHERE m.mtype = 'node'),
      |way_relation AS (
      |  SELECT DISTINCT m.ref AS member_id, parent_id FROM rel_members
      |  WHERE m.mtype = 'way'),
      |relation_relation AS (
      |  SELECT DISTINCT m.ref AS member_id, parent_id FROM rel_members
      |  WHERE m.mtype = 'relation')""".stripMargin

  /** Fixed-point bbox of the extract region: lat [10,30], lon [20,50]
    * degrees, exact integer comparisons on the 1e7 fixed-point coords. */
  private val (latLoE7, latHiE7, lonLoE7, lonHiE7) =
    (100000000L, 300000000L, 200000000L, 500000000L)

  /** q32's pure-SQL extract derivation, shared by q32 (full user data)
    * and q53 (`--noUserData`: user columns nulled, extract.cpp:324-328).
    * `user(col)` renders the user_s projection for a source alias. */
  private def extractCompleteOracle(user: String => String): String =
    s"""WITH RECURSIVE $dOsmCtes,
       |seeds AS (
       |  SELECT id FROM locations
       |  WHERE lat >= $latLoE7 AND lat <= $latHiE7
       |    AND lon >= $lonLoE7 AND lon <= $lonHiE7),
       |wids0 AS (
       |  SELECT DISTINCT parent_id AS id
       |  FROM node_way JOIN seeds ON member_id = seeds.id),
       |rel0 AS (
       |  -- NOTE: inside WITH RECURSIVE, DuckDB does not dedup a
       |  -- plain a-UNION-b CTE across branches; dedup explicitly
       |  SELECT DISTINCT id FROM (
       |    SELECT parent_id AS id
       |    FROM node_relation JOIN seeds ON member_id = seeds.id
       |    UNION ALL
       |    SELECT parent_id
       |    FROM way_relation JOIN wids0 ON member_id = wids0.id)
       |    u),
       |rclo AS (
       |  SELECT id FROM rel0
       |  UNION
       |  SELECT rr.parent_id
       |  FROM rclo JOIN relation_relation rr
       |    ON rr.member_id = rclo.id),
       |mpw AS (
       |  SELECT DISTINCT m.ref AS id
       |  FROM rel_members rm
       |  JOIN rclo ON rclo.id = rm.parent_id
       |  JOIN orelations r ON r.id = rm.parent_id
       |  WHERE r.rtype = 'multipolygon' AND rm.m.mtype = 'way'
       |    AND rm.m.ref IN (SELECT id FROM oways)),
       |wids AS (SELECT DISTINCT id FROM (
       |  SELECT id FROM wids0 UNION ALL SELECT id FROM mpw) u),
       |wnodes AS (
       |  SELECT DISTINCT unnest(w.nodes) AS id
       |  FROM oways w JOIN wids ON w.id = wids.id),
       |nids AS (SELECT DISTINCT id FROM (
       |  SELECT id FROM seeds UNION ALL SELECT id FROM wnodes) u),
       |nodes_out AS (
       |  SELECT 0 AS trank, l.id, l.lon, l.lat, l.version,
       |         n.ts, n.tags_s, CAST(NULL AS VARCHAR) AS refs_s,
       |         ${user("n.user_s")} AS user_s
       |  FROM nids JOIN locations l ON l.id = nids.id
       |  LEFT JOIN onodes n ON n.id = l.id),
       |ways_out AS (
       |  SELECT 1, w.id, CAST(NULL AS INTEGER),
       |         CAST(NULL AS INTEGER), w.version,
       |         CAST(1500000000 AS BIGINT), w.tags_s,
       |         array_to_string(list_transform(w.nodes,
       |           x -> CAST(x AS VARCHAR)), ','), ${user("w.user_s")}
       |  FROM wids JOIN oways w ON w.id = wids.id),
       |rels_out AS (
       |  SELECT 2, r.id, CAST(NULL AS INTEGER),
       |         CAST(NULL AS INTEGER), r.version, r.ts, r.tags_s,
       |         array_to_string(list_transform(r.members,
       |           m -> m.mtype || ':' || m.ref || ':' || m.role),
       |           ','), ${user("r.user_s")}
       |  FROM rclo JOIN orelations r ON r.id = rclo.id)
       |SELECT * FROM (
       |  SELECT * FROM nodes_out
       |  UNION ALL SELECT * FROM ways_out
       |  UNION ALL SELECT * FROM rels_out)
       |ORDER BY trank, id""".stripMargin

  /** Shared Spark side of q32/q53: covering-pruned seed scan + full
    * completion, materialized with or without user data. */
  private def extractComplete(s: org.apache.spark.sql.SparkSession,
                              d: String, includeUserData: Boolean)
  : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val t = SyntheticOsm.materialized(s, d)
    val region = new graft.spatial.Region(Seq(
      graft.spatial.BboxRegion(latLoE7 / 1e7, lonLoE7 / 1e7,
        latHiE7 / 1e7, lonHiE7 / 1e7)))
    val ranges = graft.spatial.Coverer.coveringRanges(region)
    val cell = graft.spatial.SpatialScan.s2CellOfFixed($"lat", $"lon")
    val seeds = t.locations
      .where(graft.spatial.SpatialScan.cellInRanges(cell, ranges))
      .where($"lat" >= latLoE7 && $"lat" <= latHiE7 &&
        $"lon" >= lonLoE7 && $"lon" <= lonHiE7)
      .select($"id")
    val sel = Extract.complete(t, seeds)
    Extract.materialize(t, sel, includeUserData)
  }

  val all: Seq[Q] = Seq(

    // ---- q32: the flagship extract verb end-to-end (G9 seed scan +
    // J2-J8 + A7). Spark runs covering-pruned scan + residual; the
    // oracle is pure SQL joins — any covering or join bug diverges. ----
    Q("q32_extract_complete",
      (s, d) => extractComplete(s, d, includeUserData = true),
      Some(extractCompleteOracle(identity)),
      bench = true),

    // ---- q53: the same extract with `--noUserData` GDPR stripping
    // (extract.cpp:324-328) — user columns nulled, everything else
    // byte-identical to q32 ----
    Q("q53_nouserdata_extract",
      (s, d) => extractComplete(s, d, includeUserData = false),
      Some(extractCompleteOracle(_ => "CAST(NULL AS VARCHAR)"))),

    // ---- q33: CDC batch apply (U1) — node deletes + upserts with
    // tagged/untagged transitions; output is the full post-state of
    // locations LEFT OUTER the node blobs ----
    Q("q33_cdc_apply",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val metaT = "struct<version:int,timestamp:bigint," +
          "changeset:bigint,uid:bigint,user:string>"
        val changes = t.locations.where($"id" % 17 <= 1).select(
          $"id", ($"id" % 17 === 1).as("visible"),
          ($"lon" + 1000).cast("int").as("lon"),
          ($"lat" + 1000).cast("int").as("lat"),
          ($"version" + 100).cast("int").as("version"),
          when($"id" % 2 === 0,
            map(lit("status"), lit("X"), lit("urgent"), lit("1")))
            .otherwise(map().cast("map<string,string>")).as("tags"),
          lit(null).cast(metaT).as("meta"))
        val (loc2, nodes2) =
          Changeset.applyNodeChanges(t.locations, t.nodes, changes)
        loc2.join(nodes2.select($"id",
            Extract.tagsToString($"tags").as("tags_s")),
          Seq("id"), "left_outer")
          .select($"id", $"lon", $"lat", $"version", $"tags_s")
          .orderBy($"id")
      },
      Some(s"""WITH $dOsmCtes,
              |locations2 AS (
              |  SELECT id, lon, lat, version FROM locations
              |  WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, CAST(lon + 1000 AS INTEGER),
              |         CAST(lat + 1000 AS INTEGER),
              |         CAST(version + 100 AS INTEGER)
              |  FROM locations WHERE id % 17 = 1),
              |nodes2 AS (
              |  SELECT id, tags_s FROM onodes WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, 'status=X;urgent=1' FROM locations
              |  WHERE id % 17 = 1 AND id % 2 = 0)
              |SELECT l.id, l.lon, l.lat, l.version, n.tags_s
              |FROM locations2 l LEFT JOIN nodes2 n ON n.id = l.id
              |ORDER BY l.id""".stripMargin)),

    // ---- q36: GeoJSON Feature assembly (F4, J9 order-preserving
    // geometry join) — LineString per way, built with deterministic
    // printf formatting on both engines ----
    Q("q36_geojson",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val w = t.ways.where($"id" < SyntheticOsm.WayBase + 200)
        val pts = w.select($"id", posexplode($"nodes"))
          .join(t.locations.select($"id".as("nid"), $"lon", $"lat"),
            $"col" === $"nid")
          .select($"id", $"pos",
            format_string("[%.7f,%.7f]", $"lon" / 1e7, $"lat" / 1e7)
              .as("pt"))
        val geo = pts.groupBy($"id")
          .agg(array_join(transform(
            array_sort(collect_list(struct($"pos", $"pt"))),
            e => e("pt")), ",").as("coords"))
        w.join(geo, "id").select($"id",
          concat(lit("{\"type\":\"Feature\",\"id\":"), $"id",
            lit(",\"geometry\":{\"type\":\"LineString\",\"coordinates\":["),
            $"coords",
            lit("]},\"properties\":{\"segment\":\""),
            element_at($"tags", "segment"),
            lit("\"}}")).as("feature"))
          .orderBy($"id")
      },
      Some(s"""WITH $dOsmCtes,
              |pts AS (
              |  SELECT id, unnest(nodes) AS nid,
              |         generate_subscripts(nodes, 1) AS pos
              |  FROM oways WHERE id < 1000200),
              |geo AS (
              |  SELECT p.id,
              |    string_agg(printf('[%.7f,%.7f]', l.lon/1e7, l.lat/1e7),
              |               ',' ORDER BY p.pos) AS coords
              |  FROM pts p JOIN locations l ON l.id = p.nid GROUP BY p.id)
              |SELECT w.id,
              |  '{"type":"Feature","id":' || w.id ||
              |  ',"geometry":{"type":"LineString","coordinates":[' ||
              |  g.coords || ']},"properties":{"segment":"' ||
              |  replace(w.tags_s, 'segment=', '') || '"}}' AS feature
              |FROM oways w JOIN geo g ON g.id = w.id
              |WHERE w.id < 1000200 ORDER BY w.id""".stripMargin)),

    // ---- q37: CDC way/relation apply (U2/U3) — membership rewrites
    // with delete-then-insert adjacency recompute; output is the full
    // post-state of the three member->parent indexes ----
    Q("q37_cdc_adjacency",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val wayCh = t.ways
          .where(($"id" - SyntheticOsm.WayBase) % 13 === 0)
          .select($"id", lit(true).as("visible"),
            reverse(filter($"nodes", x => x % 5 =!= 0)).as("nodes"),
            $"tags", $"meta")
        val (_, nodeWay2) =
          Changeset.applyWayChanges(t.ways, t.nodeWay, wayCh)
        val relCh = t.relations
          .where($"id" >= SyntheticOsm.RelBase &&
            $"id" < SyntheticOsm.SuperRelBase &&
            ($"id" - SyntheticOsm.RelBase) % 5 === 0)
          .select($"id", lit(true).as("visible"),
            filter($"members", m => m("mtype") =!= "node").as("members"),
            $"tags", $"meta")
        val (_, nodeRel2, wayRel2, _) = Changeset.applyRelationChanges(
          t.relations, t.nodeRelation, t.wayRelation,
          t.relationRelation, relCh)
        nodeWay2.select(lit("node_way").as("kind"), $"member_id",
            $"parent_id")
          .unionByName(nodeRel2.select(lit("node_relation").as("kind"),
            $"member_id", $"parent_id"))
          .unionByName(wayRel2.select(lit("way_relation").as("kind"),
            $"member_id", $"parent_id"))
          .orderBy($"kind", $"member_id", $"parent_id")
      },
      Some(s"""WITH $dOsmCtes,
              |way_ch AS (
              |  SELECT id,
              |    list_reverse(list_filter(nodes, x -> x % 5 != 0))
              |      AS nodes
              |  FROM oways WHERE (id - 1000000) % 13 = 0),
              |node_way2 AS (
              |  SELECT member_id, parent_id FROM node_way
              |  WHERE (parent_id - 1000000) % 13 != 0
              |  UNION ALL
              |  SELECT DISTINCT unnest(nodes), id FROM way_ch),
              |rel_ch AS (
              |  SELECT id,
              |    list_filter(members, m -> m.mtype != 'node') AS members
              |  FROM orelations
              |  WHERE id >= 2000000 AND id < 3000000
              |    AND (id - 2000000) % 5 = 0),
              |rel_ch_members AS (
              |  SELECT id AS parent_id, unnest(members) AS m FROM rel_ch),
              |changed_rel AS (SELECT id FROM rel_ch),
              |node_relation2 AS (
              |  SELECT member_id, parent_id FROM node_relation
              |  WHERE parent_id NOT IN (SELECT id FROM changed_rel)
              |  UNION ALL
              |  SELECT DISTINCT m.ref, parent_id FROM rel_ch_members
              |  WHERE m.mtype = 'node'),
              |way_relation2 AS (
              |  SELECT member_id, parent_id FROM way_relation
              |  WHERE parent_id NOT IN (SELECT id FROM changed_rel)
              |  UNION ALL
              |  SELECT DISTINCT m.ref, parent_id FROM rel_ch_members
              |  WHERE m.mtype = 'way')
              |SELECT * FROM (
              |  SELECT 'node_way' AS kind, member_id, parent_id
              |  FROM node_way2
              |  UNION ALL
              |  SELECT 'node_relation', member_id, parent_id
              |  FROM node_relation2
              |  UNION ALL
              |  SELECT 'way_relation', member_id, parent_id
              |  FROM way_relation2)
              |ORDER BY kind, member_id, parent_id""".stripMargin)),

    // ---- q38: the FULL ingest round trip — synthetic tables -> OSM XML
    // (S2 sink) -> osmxml DataSource read (S1) -> sorted versioned
    // expand (A4/S4) -> read back. The oracle never leaves SQL: any
    // divergence in the codec, DataSource, or sorted write shows up as
    // a mismatch against the direct derivation ----
    Q("q38_ingest_roundtrip",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val all = Extract.Selected(
          t.locations.select($"id"), t.ways.select($"id"),
          t.relations.select($"id"))
        val xmlDir = graft.TempDirs.create("graft-q38-xml")
        Ingest.writeExtract(t, all, xmlDir, shards = 8)
        val root = graft.TempDirs.create("graft-q38-db")
        Ingest.expand(s, xmlDir, root)
        Ingest.readTables(s, root).locations
          .select($"id", $"lon", $"lat", $"version")
          .orderBy($"id")
      },
      Some(s"""WITH $dOsmCtes
              |SELECT id, lon, lat, version FROM locations
              |ORDER BY id""".stripMargin)),

    // ---- q52: the BINARY PBF interop round trip — the reference's
    // extract emits .osm.pbf (extract.cpp:280-299); this gates that
    // sink end-to-end: all three entities -> binary PBF (S2, streamed
    // blocks) -> blob-range SPLIT read (S1) -> versioned expand (A4) ->
    // full materialize. The oracle derives the same flat output in
    // pure SQL: any codec/varint/stringtable/member-enum bug, or any
    // loss in the split reader, diverges ----
    Q("q52_pbf_roundtrip",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val all = Extract.Selected(
          t.locations.select($"id"), t.ways.select($"id"),
          t.relations.select($"id"))
        val pbfDir = graft.TempDirs.create("graft-q52-pbf")
        Ingest.writeExtract(t, all, pbfDir, shards = 4,
          format = "osmpbf",
          headerOpts = Ingest.pbfHeaderOptions(None,
            replicationTs = Some(1600000000L), seqnum = Some(42L)))
        val root = graft.TempDirs.create("graft-q52-db")
        // one partition per blob: the split reader, not a monolith scan
        Ingest.expand(s, pbfDir, root,
          readerOptions = Map("pbf.split.bytes" -> "1"))
        val t2 = Ingest.readTables(s, root)
        val all2 = Extract.Selected(
          t2.locations.select($"id"), t2.ways.select($"id"),
          t2.relations.select($"id"))
        Extract.materialize(t2, all2)
      },
      Some(s"""WITH $dOsmCtes,
              |nodes_out AS (
              |  SELECT 0 AS trank, l.id, l.lon, l.lat, l.version,
              |         n.ts, n.tags_s, CAST(NULL AS VARCHAR) AS refs_s,
              |         n.user_s
              |  FROM locations l LEFT JOIN onodes n ON n.id = l.id),
              |ways_out AS (
              |  SELECT 1, w.id, CAST(NULL AS INTEGER),
              |         CAST(NULL AS INTEGER), w.version,
              |         CAST(1500000000 AS BIGINT), w.tags_s,
              |         array_to_string(list_transform(w.nodes,
              |           x -> CAST(x AS VARCHAR)), ','), w.user_s
              |  FROM oways w),
              |rels_out AS (
              |  SELECT 2, r.id, CAST(NULL AS INTEGER),
              |         CAST(NULL AS INTEGER), r.version, r.ts, r.tags_s,
              |         array_to_string(list_transform(r.members,
              |           m -> m.mtype || ':' || m.ref || ':' || m.role),
              |           ','), r.user_s
              |  FROM orelations r)
              |SELECT * FROM (
              |  SELECT * FROM nodes_out
              |  UNION ALL SELECT * FROM ways_out
              |  UNION ALL SELECT * FROM rels_out)
              |ORDER BY trank, id""".stripMargin),
      bench = true),

    // ---- q39: way WKT (F3/J9) — the reference's flagship example
    // (`examples/way_wkt.cpp`, README's Empire State Building demo):
    // ordered node coords formatted "%.7f %.7f" ----
    Q("q39_way_wkt",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val w = t.ways.where($"id" < SyntheticOsm.WayBase + 100)
        val pts = w.select($"id", posexplode($"nodes"))
          .join(t.locations.select($"id".as("nid"), $"lon", $"lat"),
            $"col" === $"nid")
          .select($"id", $"pos",
            format_string("%.7f %.7f", $"lon" / 1e7, $"lat" / 1e7)
              .as("pt"))
        pts.groupBy($"id")
          .agg(concat(lit("LINESTRING ("),
            array_join(transform(
              array_sort(collect_list(struct($"pos", $"pt"))),
              e => e("pt")), ", "),
            lit(")")).as("wkt"))
          .orderBy($"id")
      },
      Some(s"""WITH $dOsmCtes,
              |pts AS (
              |  SELECT id, unnest(nodes) AS nid,
              |         generate_subscripts(nodes, 1) AS pos
              |  FROM oways WHERE id < 1000100),
              |j AS (
              |  SELECT p.id,
              |    string_agg(printf('%.7f %.7f', l.lon/1e7, l.lat/1e7),
              |               ', ' ORDER BY p.pos) AS body
              |  FROM pts p JOIN locations l ON l.id = p.nid GROUP BY p.id)
              |SELECT id, 'LINESTRING (' || body || ')' AS wkt
              |FROM j ORDER BY id""".stripMargin)),

    // ---- q40: augmented diff (J10) — parents affected by a changeset
    // but not themselves changed (leftanti `not in actions`) ----
    Q("q40_augmented_diff",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val chNodes = t.locations.where($"id" % 17 <= 1).select($"id")
        val chWays = t.ways
          .where(($"id" - SyntheticOsm.WayBase) % 13 === 0).select($"id")
        val chRels = t.relations
          .where($"id" >= SyntheticOsm.RelBase &&
            $"id" < SyntheticOsm.SuperRelBase &&
            ($"id" - SyntheticOsm.RelBase) % 5 === 0).select($"id")
        AugmentedDiff.affectedParents(t, chNodes, chWays, chRels)
      },
      Some(s"""WITH $dOsmCtes,
              |ch_nodes AS (SELECT id FROM locations WHERE id % 17 <= 1),
              |ch_ways AS (SELECT id FROM oways
              |            WHERE (id - 1000000) % 13 = 0),
              |ch_rels AS (SELECT id FROM orelations
              |            WHERE id >= 2000000 AND id < 3000000
              |              AND (id - 2000000) % 5 = 0),
              |aff_ways AS (
              |  SELECT DISTINCT parent_id AS id
              |  FROM node_way JOIN ch_nodes ON member_id = ch_nodes.id
              |  WHERE parent_id NOT IN (SELECT id FROM ch_ways)),
              |touching AS (
              |  SELECT id FROM ch_ways UNION SELECT id FROM aff_ways),
              |aff_rels AS (
              |  SELECT DISTINCT id FROM (
              |    SELECT parent_id AS id FROM node_relation
              |    JOIN ch_nodes ON member_id = ch_nodes.id
              |    UNION ALL
              |    SELECT parent_id FROM way_relation
              |    JOIN touching ON member_id = touching.id) u
              |  WHERE id NOT IN (SELECT id FROM ch_rels))
              |SELECT * FROM (
              |  SELECT 'way' AS etype, id FROM aff_ways
              |  UNION ALL
              |  SELECT 'relation', id FROM aff_rels)
              |ORDER BY etype, id""".stripMargin)),

    // ---- q50: the BUCKETED copy-on-write store, oracle-gated: hash-
    // bucketed commit (with the s2cell index column) -> CoW DELTA
    // commit (the q33 change set through the streaming batch path —
    // only changed buckets rewritten, s2cell recomputed on upsert) ->
    // read back. The oracle is q33's post-state SQL: any divergence in
    // bucketing, manifest linking, or the delta path shows up. (The
    // file-format round trip is q38's job; the expand->catch-up
    // pipeline over files is StreamingSpec's.) ----
    Q("q50_bucketed_roundtrip",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val t = SyntheticOsm.materialized(s, d)
        val root = graft.TempDirs.create("graft-q50-db")
        VersionedTable.commitBucketed(root, Map(
          "locations" -> ((t.locations.withColumn("s2cell",
            graft.spatial.SpatialScan.s2CellOfFixed($"lat", $"lon")),
            "id")),
          "nodes" -> ((t.nodes, "id"))), nBuckets = 16)
        val loc = VersionedTable.read(s, root, "locations")
        val metaT = "struct<version:int,timestamp:bigint," +
          "changeset:bigint,uid:bigint,user:string>"
        val changes = loc.where($"id" % 17 <= 1).select(
          $"id", lit("node").as("etype"), ($"id" % 17 === 1).as("visible"),
          ($"lon" + 1000).cast("int").as("lon"),
          ($"lat" + 1000).cast("int").as("lat"),
          ($"version" + 100).cast("int").as("version"),
          lit(null).cast("array<bigint>").as("nodes"),
          lit(null).cast(
            "array<struct<ref:bigint,mtype:string,role:string>>")
            .as("members"),
          when($"id" % 2 === 0,
            map(lit("status"), lit("X"), lit("urgent"), lit("1")))
            .otherwise(map().cast("map<string,string>")).as("tags"),
          lit(null).cast(metaT).as("meta"), lit(1L).as("seqnum"))
        graft.streaming.Replication.applyBatch(s, root, changes,
          batchId = 0L)
        VersionedTable.read(s, root, "locations")
          .join(VersionedTable.read(s, root, "nodes").select($"id",
            Extract.tagsToString($"tags").as("tags_s")),
            Seq("id"), "left_outer")
          .select($"id", $"lon", $"lat", $"version", $"tags_s")
          .orderBy($"id")
      },
      Some(s"""WITH $dOsmCtes,
              |locations2 AS (
              |  SELECT id, lon, lat, version FROM locations
              |  WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, CAST(lon + 1000 AS INTEGER),
              |         CAST(lat + 1000 AS INTEGER),
              |         CAST(version + 100 AS INTEGER)
              |  FROM locations WHERE id % 17 = 1),
              |nodes2 AS (
              |  SELECT id, tags_s FROM onodes WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, 'status=X;urgent=1' FROM locations
              |  WHERE id % 17 = 1 AND id % 2 = 0)
              |SELECT l.id, l.lon, l.lat, l.version, n.tags_s
              |FROM locations2 l LEFT JOIN nodes2 n ON n.id = l.id
              |ORDER BY l.id""".stripMargin)),

    // ---- q46: the S3 .osc round trip, oracle-gated — the SAME change
    // set as q33 but routed through a real OsmChange document: change
    // rows -> .osc sink (action blocks) -> .osc DataSource scan ->
    // U1 apply. Any divergence in the osc encode/parse or the action
    // mapping shows up against q33's pure-SQL oracle ----
    Q("q46_osc_roundtrip",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val metaT = "struct<version:int,timestamp:bigint," +
          "changeset:bigint,uid:bigint,user:string>"
        val changeDoc = t.locations.where($"id" % 17 <= 1).select(
          $"id",
          when($"id" % 17 === 0, "delete").otherwise("modify")
            .as("action"),
          ($"lon" + 1000).cast("int").as("lon"),
          ($"lat" + 1000).cast("int").as("lat"),
          ($"version" + 100).cast("int").as("version"),
          lit(0L).as("timestamp"), lit(0L).as("changeset"),
          lit(0L).as("uid"), lit("u").as("user"),
          when($"id" % 2 === 0,
            map(lit("status"), lit("X"), lit("urgent"), lit("1")))
            .otherwise(map().cast("map<string,string>")).as("tags"))
        val dir = graft.TempDirs.create("graft-q46-osc")
        changeDoc.coalesce(1).write.format("osmxml")
          .option("entity", "node").mode("overwrite").save(dir)
        val parsed = s.read.format("osmxml").option("entity", "node")
          .option("changes", "true").load(dir)
        val ch = parsed.select($"id",
          ($"action" =!= "delete").as("visible"),
          $"lon", $"lat", $"version", $"tags",
          lit(null).cast(metaT).as("meta"))
        val (loc2, nodes2) =
          Changeset.applyNodeChanges(t.locations, t.nodes, ch)
        loc2.join(nodes2.select($"id",
            Extract.tagsToString($"tags").as("tags_s")),
          Seq("id"), "left_outer")
          .select($"id", $"lon", $"lat", $"version", $"tags_s")
          .orderBy($"id")
      },
      Some(s"""WITH $dOsmCtes,
              |locations2 AS (
              |  SELECT id, lon, lat, version FROM locations
              |  WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, CAST(lon + 1000 AS INTEGER),
              |         CAST(lat + 1000 AS INTEGER),
              |         CAST(version + 100 AS INTEGER)
              |  FROM locations WHERE id % 17 = 1),
              |nodes2 AS (
              |  SELECT id, tags_s FROM onodes WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, 'status=X;urgent=1' FROM locations
              |  WHERE id % 17 = 1 AND id % 2 = 0)
              |SELECT l.id, l.lon, l.lat, l.version, n.tags_s
              |FROM locations2 l LEFT JOIN nodes2 n ON n.id = l.id
              |ORDER BY l.id""".stripMargin)),

    // ---- q103: q46 through a GZIP'd OsmChange feed — real replication
    // diffs ship as `.osc.gz` (the reference inflates natively,
    // `src/update.cpp:272-276`). Same change set and the SAME oracle as
    // q46: write .osc -> gzip each shard in place -> scan the `.osc
    // .xml.gz` files through the magic-byte inflate path -> U1 apply.
    // Any divergence in the decompression wrapper shows up ----
    Q("q103_oscgz_roundtrip",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val metaT = "struct<version:int,timestamp:bigint," +
          "changeset:bigint,uid:bigint,user:string>"
        val changeDoc = t.locations.where($"id" % 17 <= 1).select(
          $"id",
          when($"id" % 17 === 0, "delete").otherwise("modify")
            .as("action"),
          ($"lon" + 1000).cast("int").as("lon"),
          ($"lat" + 1000).cast("int").as("lat"),
          ($"version" + 100).cast("int").as("version"),
          lit(0L).as("timestamp"), lit(0L).as("changeset"),
          lit(0L).as("uid"), lit("u").as("user"),
          when($"id" % 2 === 0,
            map(lit("status"), lit("X"), lit("urgent"), lit("1")))
            .otherwise(map().cast("map<string,string>")).as("tags"))
        val dir = graft.TempDirs.create("graft-q103-oscgz")
        changeDoc.coalesce(1).write.format("osmxml")
          .option("entity", "node").mode("overwrite").save(dir)
        // gzip each shard in place (driver-side: the point is the
        // source's inflate path, the files are one temp change doc)
        val lst = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try {
          lst.iterator().forEachRemaining { p =>
            if (p.getFileName.toString
              .matches("part-node-\\d+\\.osc\\.xml")) {
              val gz = p.resolveSibling(p.getFileName.toString + ".gz")
              val out = new java.util.zip.GZIPOutputStream(
                java.nio.file.Files.newOutputStream(gz))
              try java.nio.file.Files.copy(p, out) finally out.close()
              java.nio.file.Files.delete(p)
            }
          }
        } finally lst.close()
        val parsed = s.read.format("osmxml").option("entity", "node")
          .option("changes", "true").load(dir)
        val ch = parsed.select($"id",
          ($"action" =!= "delete").as("visible"),
          $"lon", $"lat", $"version", $"tags",
          lit(null).cast(metaT).as("meta"))
        val (loc2, nodes2) =
          Changeset.applyNodeChanges(t.locations, t.nodes, ch)
        loc2.join(nodes2.select($"id",
            Extract.tagsToString($"tags").as("tags_s")),
          Seq("id"), "left_outer")
          .select($"id", $"lon", $"lat", $"version", $"tags_s")
          .orderBy($"id")
      },
      Some(s"""WITH $dOsmCtes,
              |locations2 AS (
              |  SELECT id, lon, lat, version FROM locations
              |  WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, CAST(lon + 1000 AS INTEGER),
              |         CAST(lat + 1000 AS INTEGER),
              |         CAST(version + 100 AS INTEGER)
              |  FROM locations WHERE id % 17 = 1),
              |nodes2 AS (
              |  SELECT id, tags_s FROM onodes WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, 'status=X;urgent=1' FROM locations
              |  WHERE id % 17 = 1 AND id % 2 = 0)
              |SELECT l.id, l.lon, l.lat, l.version, n.tags_s
              |FROM locations2 l LEFT JOIN nodes2 n ON n.id = l.id
              |ORDER BY l.id""".stripMargin)),

    // ---- q47: buffered covering (G8, `--expand` / extract.cpp:138-143)
    // end-to-end — the q32 extract with the covering EXPANDED one
    // neighbor ring before the scan. The oracle is the unbuffered pure
    // SQL: the exact residual filter makes the expansion invisible in
    // the output, so this passes iff the buffered covering is still a
    // superset of the region (conservativeness) and the range scan
    // machinery handles the larger disjunct set ----
    Q("q47_buffered_extract",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val t = SyntheticOsm.materialized(s, d)
        val region = new graft.spatial.Region(Seq(
          graft.spatial.BboxRegion(latLoE7 / 1e7, lonLoE7 / 1e7,
            latHiE7 / 1e7, lonHiE7 / 1e7)))
        val cells = graft.spatial.Coverer.covering(region)
        val buffered = graft.spatial.Coverer
          .expandCovering(cells, expandLevel = 12)
        val ranges = graft.spatial.Coverer.cellRanges(buffered)
        val cell = graft.spatial.SpatialScan
          .s2CellOfFixed($"lat", $"lon")
        val seeds = t.locations
          .where(graft.spatial.SpatialScan.cellInRanges(cell, ranges))
          .where($"lat" >= latLoE7 && $"lat" <= latHiE7 &&
            $"lon" >= lonLoE7 && $"lon" <= lonHiE7)
          .select($"id")
        val sel = Extract.complete(t, seeds)
        Extract.materialize(t, sel)
      },
      Some(s"""WITH RECURSIVE $dOsmCtes,
              |seeds AS (
              |  SELECT id FROM locations
              |  WHERE lat >= $latLoE7 AND lat <= $latHiE7
              |    AND lon >= $lonLoE7 AND lon <= $lonHiE7),
              |wids0 AS (
              |  SELECT DISTINCT parent_id AS id
              |  FROM node_way JOIN seeds ON member_id = seeds.id),
              |rel0 AS (
              |  SELECT DISTINCT id FROM (
              |    SELECT parent_id AS id
              |    FROM node_relation JOIN seeds ON member_id = seeds.id
              |    UNION ALL
              |    SELECT parent_id
              |    FROM way_relation JOIN wids0 ON member_id = wids0.id)
              |    u),
              |rclo AS (
              |  SELECT id FROM rel0
              |  UNION
              |  SELECT rr.parent_id
              |  FROM rclo JOIN relation_relation rr
              |    ON rr.member_id = rclo.id),
              |mpw AS (
              |  SELECT DISTINCT m.ref AS id
              |  FROM rel_members rm
              |  JOIN rclo ON rclo.id = rm.parent_id
              |  JOIN orelations r ON r.id = rm.parent_id
              |  WHERE r.rtype = 'multipolygon' AND rm.m.mtype = 'way'
              |    AND rm.m.ref IN (SELECT id FROM oways)),
              |wids AS (SELECT DISTINCT id FROM (
              |  SELECT id FROM wids0 UNION ALL SELECT id FROM mpw) u),
              |wnodes AS (
              |  SELECT DISTINCT unnest(w.nodes) AS id
              |  FROM oways w JOIN wids ON w.id = wids.id),
              |nids AS (SELECT DISTINCT id FROM (
              |  SELECT id FROM seeds UNION ALL SELECT id FROM wnodes) u),
              |nodes_out AS (
              |  SELECT 0 AS trank, l.id, l.lon, l.lat, l.version,
              |         n.ts, n.tags_s, CAST(NULL AS VARCHAR) AS refs_s,
              |         n.user_s
              |  FROM nids JOIN locations l ON l.id = nids.id
              |  LEFT JOIN onodes n ON n.id = l.id),
              |ways_out AS (
              |  SELECT 1, w.id, CAST(NULL AS INTEGER),
              |         CAST(NULL AS INTEGER), w.version,
              |         CAST(1500000000 AS BIGINT), w.tags_s,
              |         array_to_string(list_transform(w.nodes,
              |           x -> CAST(x AS VARCHAR)), ','), w.user_s
              |  FROM wids JOIN oways w ON w.id = wids.id),
              |rels_out AS (
              |  SELECT 2, r.id, CAST(NULL AS INTEGER),
              |         CAST(NULL AS INTEGER), r.version, r.ts, r.tags_s,
              |         array_to_string(list_transform(r.members,
              |           m -> m.mtype || ':' || m.ref || ':' || m.role),
              |           ','), r.user_s
              |  FROM rclo JOIN orelations r ON r.id = rclo.id)
              |SELECT * FROM (
              |  SELECT * FROM nodes_out
              |  UNION ALL SELECT * FROM ways_out
              |  UNION ALL SELECT * FROM rels_out)
              |ORDER BY trank, id""".stripMargin)),

    // ---- q48: recursive relation geometry (web_server.py:50-68) —
    // every relation rendered as a GeoJSON Feature whose geometry is
    // the GeometryCollection of its members in DEPTH-FIRST member
    // order: node members -> Point, way members -> LineString (with
    // the J6 existence guard for dangling refs), relation members ->
    // recurse. The recursion is a bounded iterative expansion (the J5
    // shape) with zero-padded member-index paths carrying the
    // depth-first order through the shuffle ----
    Q("q48_relation_geometry",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val relm = t.relations
          .select($"id".as("parent"), posexplode($"members"))
          .select($"parent", format_string("%05d", $"pos").as("pstr"),
            $"col.ref".as("mref"), $"col.mtype".as("mmtype"))
        // iterative expansion with drain detection (the J5 novelty
        // pattern): each round is eagerly checkpointed, so the
        // emptiness probe is a cheap cached-partition scan, lineage
        // stays flat, and the loop runs exactly nesting-depth joins —
        // the hard guard only protects against member cycles (which
        // would hang the reference's unbounded recursion too)
        var frontier = relm.select($"parent".as("root"),
          $"pstr".as("path"), $"mref", $"mmtype")
          .localCheckpoint(eager = true)
        var leaves: org.apache.spark.sql.DataFrame = null
        var depth = 0
        while (depth < 8 && !frontier.isEmpty) {
          val l = frontier.where($"mmtype" =!= "relation")
          leaves = if (leaves == null) l else leaves.unionByName(l)
          frontier = frontier.where($"mmtype" === "relation").as("f")
            .join(relm.as("r"), col("f.mref") === col("r.parent"))
            .select(col("f.root").as("root"),
              concat(col("f.path"), lit("."), col("r.pstr")).as("path"),
              col("r.mref").as("mref"), col("r.mmtype").as("mmtype"))
            .localCheckpoint(eager = true)
          depth += 1
        }
        val ptLeaves = leaves.where($"mmtype" === "node")
          .join(t.locations.select($"id".as("nid"), $"lon", $"lat"),
            $"mref" === $"nid")
          .select($"root", $"path", format_string(
            "{\"type\":\"Point\",\"coordinates\":[%.7f,%.7f]}",
            $"lon" / 1e7, $"lat" / 1e7).as("g"))
        val wayPts = leaves.where($"mmtype" === "way")
          .join(t.ways.select($"id".as("wid"), $"nodes"),
            $"mref" === $"wid")
          .select($"root", $"path", posexplode($"nodes"))
          .join(t.locations.select($"id".as("nid"), $"lon", $"lat"),
            $"col" === $"nid")
          .select($"root", $"path", $"pos",
            format_string("[%.7f,%.7f]", $"lon" / 1e7, $"lat" / 1e7)
              .as("pt"))
        val wayLeaves = wayPts.groupBy($"root", $"path")
          .agg(concat(
            lit("{\"type\":\"LineString\",\"coordinates\":["),
            array_join(transform(
              array_sort(collect_list(struct($"pos", $"pt"))),
              e => e("pt")), ","),
            lit("]}")).as("g"))
        val geo = ptLeaves.unionByName(wayLeaves)
          .groupBy($"root")
          .agg(array_join(transform(
            array_sort(collect_list(struct($"path", $"g"))),
            e => e("g")), ",").as("geoms"))
        t.relations.join(geo, $"id" === $"root", "left_outer")
          .select($"id",
            concat(lit("{\"type\":\"Feature\",\"id\":"), $"id",
              lit(",\"properties\":{\"name\":\""),
              element_at($"tags", "name"),
              lit("\"},\"geometry\":{\"type\":\"GeometryCollection\"," +
                "\"geometries\":["),
              coalesce($"geoms", lit("")),
              lit("]}}")).as("feature"))
          .orderBy($"id")
      },
      Some(s"""WITH RECURSIVE $dOsmCtes,
              |relm AS (
              |  SELECT id AS parent, unnest(members) AS m,
              |         generate_subscripts(members, 1) AS pos
              |  FROM orelations),
              |exp AS (
              |  SELECT parent AS root, printf('%05d', pos) AS path,
              |         m.ref AS ref, m.mtype AS mtype
              |  FROM relm
              |  UNION ALL
              |  SELECT e.root, e.path || '.' || printf('%05d', rm.pos),
              |         rm.m.ref, rm.m.mtype
              |  FROM exp e JOIN relm rm ON rm.parent = e.ref
              |  WHERE e.mtype = 'relation'),
              |pt_leaves AS (
              |  SELECT e.root, e.path,
              |    printf('{"type":"Point","coordinates":[%.7f,%.7f]}',
              |           l.lon/1e7, l.lat/1e7) AS g
              |  FROM exp e JOIN locations l ON l.id = e.ref
              |  WHERE e.mtype = 'node'),
              |way_nodes AS (
              |  SELECT id AS wid, unnest(nodes) AS nid,
              |         generate_subscripts(nodes, 1) AS npos
              |  FROM oways),
              |way_pts AS (
              |  SELECT e.root, e.path, wn.npos,
              |    printf('[%.7f,%.7f]', l.lon/1e7, l.lat/1e7) AS pt
              |  FROM exp e
              |  JOIN way_nodes wn ON wn.wid = e.ref
              |  JOIN locations l ON l.id = wn.nid
              |  WHERE e.mtype = 'way'),
              |way_leaves AS (
              |  SELECT root, path,
              |    '{"type":"LineString","coordinates":[' ||
              |    string_agg(pt, ',' ORDER BY npos) || ']}' AS g
              |  FROM way_pts GROUP BY root, path),
              |leaves AS (
              |  SELECT * FROM pt_leaves
              |  UNION ALL SELECT * FROM way_leaves),
              |geo AS (
              |  SELECT root, string_agg(g, ',' ORDER BY path) AS geoms
              |  FROM leaves GROUP BY root)
              |SELECT CAST(r.id AS BIGINT) AS id,
              |  '{"type":"Feature","id":' || r.id ||
              |  ',"properties":{"name":"' ||
              |  regexp_extract(r.tags_s, 'name=([^;]*)', 1) ||
              |  '"},"geometry":{"type":"GeometryCollection",' ||
              |  '"geometries":[' || coalesce(g.geoms, '') || ']}}'
              |  AS feature
              |FROM orelations r LEFT JOIN geo g ON g.root = r.id
              |ORDER BY r.id""".stripMargin)),

    // ---- q35: tag-map operators (P7 MapType predicate, P8/F5 sorted
    // entries projection) over the relations table ----
    Q("q35_tag_filter",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        t.relations
          .where(element_at($"tags", "type") === "multipolygon")
          .select($"id", Extract.tagsToString($"tags").as("tags_s"),
            size($"members").cast("long").as("n_members"),
            element_at($"tags", "name").as("name"))
          .orderBy($"id")
      },
      Some(s"""WITH $dOsmCtes
              |SELECT CAST(id AS BIGINT) AS id, tags_s,
              |       len(members) AS n_members,
              |       regexp_extract(tags_s, 'name=([^;]*)', 1) AS name
              |FROM orelations WHERE rtype = 'multipolygon'
              |ORDER BY id""".stripMargin)),

    // ---- q68: way polyline length (the geo-analytic over J9's
    // ordered geometry join). Planar length in degrees: only *, + and
    // sqrt — all correctly-rounded IEEE, so both engines agree
    // bit-for-bit (haversine's sin/cos are libm-dependent and would
    // drift). Per-segment doubles route through an exact DECIMAL sum:
    // float sums are partition-order-dependent (the q29 rule) ----
    Q("q68_way_length",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val pts = t.ways.select($"id", posexplode($"nodes"))
          .join(t.locations.select($"id".as("nid"), $"lon", $"lat"),
            $"col" === $"nid")
          .select($"id", $"pos", ($"lon" / 1e7).as("x"),
            ($"lat" / 1e7).as("y"))
        // consecutive points via lag over (id, pos): ONE shuffle, vs a
        // self-join on (id, pos+1) shuffling the exploded set twice
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"id").orderBy($"pos")
        val segs = pts
          .withColumn("px", lag($"x", 1).over(w))
          .withColumn("py", lag($"y", 1).over(w))
          .where($"px".isNotNull)
          .select($"id",
            sqrt(($"x" - $"px") * ($"x" - $"px") +
              ($"y" - $"py") * ($"y" - $"py")).as("seg"))
        segs.groupBy($"id")
          .agg(count(lit(1)).as("n_segs"),
            round(sum($"seg".cast("decimal(25,12)")).cast("double"), 6)
              .as("len_deg"))
          .orderBy($"id")
      },
      Some(s"""WITH $dOsmCtes,
              |pts AS (
              |  SELECT id, generate_subscripts(nodes, 1) AS pos,
              |         unnest(nodes) AS nid
              |  FROM oways),
              |c AS (
              |  SELECT p.id, p.pos, l.lon/1e7 AS x, l.lat/1e7 AS y
              |  FROM pts p JOIN locations l ON l.id = p.nid),
              |seg AS (
              |  SELECT a.id,
              |    sqrt((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y)) AS s
              |  FROM c a JOIN c b ON b.id = a.id AND b.pos = a.pos + 1)
              |SELECT id, count(*) AS n_segs,
              |  round(CAST(sum(CAST(s AS DECIMAL(25,12))) AS DOUBLE), 6)
              |    AS len_deg
              |FROM seg GROUP BY id ORDER BY id""".stripMargin)),

    // ---- q69: tile-grid density (the heatmap aggregation): nodes
    // bucketed into 0.5-degree tiles, ONE map-side-combined hash-agg
    // shuffle. floor() on identical IEEE doubles — engine-identical ----
    Q("q69_tile_density",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        t.locations
          .select(floor($"lon" / 1e7 / 0.5).cast("long").as("tx"),
            floor($"lat" / 1e7 / 0.5).cast("long").as("ty"))
          .groupBy($"tx", $"ty")
          .agg(count(lit(1)).as("n_nodes"))
          .orderBy($"tx", $"ty")
      },
      Some(s"""WITH $dOsmCtes
              |SELECT CAST(floor(lon/1e7/0.5) AS BIGINT) AS tx,
              |       CAST(floor(lat/1e7/0.5) AS BIGINT) AS ty,
              |       count(*) AS n_nodes
              |FROM locations GROUP BY tx, ty
              |ORDER BY tx, ty""".stripMargin)),

    // ---- q83: MVCC time travel. Commit v1, pin its manifest, apply a
    // CDC batch (-> v2), then read BOTH snapshots: the pinned read must
    // be byte-stable after the commit (copy-on-write never rewrites v1's
    // bucket files), the current read must see the changes. Output =
    // per-snapshot count + coordinate/version checksums; the oracle
    // reconstructs each state in pure SQL. Exact integer sums ----
    Q("q83_time_travel",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val t = SyntheticOsm.materialized(s, d)
        val root = graft.TempDirs.create("graft-q83-db")
        VersionedTable.commitBucketed(root, Map(
          "locations" -> ((t.locations.withColumn("s2cell",
            graft.spatial.SpatialScan.s2CellOfFixed($"lat", $"lon")),
            "id"))), nBuckets = 16)
        val v1 = VersionedTable.current(root).get // pinned snapshot
        val metaT = "struct<version:int,timestamp:bigint," +
          "changeset:bigint,uid:bigint,user:string>"
        val changes = VersionedTable.read(s, root, "locations")
          .where($"id" % 17 <= 1).select(
            $"id", lit("node").as("etype"),
            ($"id" % 17 === 1).as("visible"),
            ($"lon" + 1000).cast("int").as("lon"),
            ($"lat" + 1000).cast("int").as("lat"),
            ($"version" + 100).cast("int").as("version"),
            lit(null).cast("array<bigint>").as("nodes"),
            lit(null).cast(
              "array<struct<ref:bigint,mtype:string,role:string>>")
              .as("members"),
            map().cast("map<string,string>").as("tags"),
            lit(null).cast(metaT).as("meta"), lit(1L).as("seqnum"))
        graft.streaming.Replication.applyBatch(s, root, changes,
          batchId = 0L)
        def snap(tag: Long, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n"),
              sum($"lon").cast("long").as("sum_lon"),
              sum($"lat").cast("long").as("sum_lat"),
              sum($"version").cast("long").as("sum_version"))
            .select(lit(tag).as("snapshot"), $"n", $"sum_lon",
              $"sum_lat", $"sum_version")
        snap(1L, VersionedTable.read(s, root, "locations", Some(v1)))
          .unionAll(snap(2L, VersionedTable.read(s, root, "locations")))
          .orderBy($"snapshot")
      },
      Some(s"""WITH $dOsmCtes,
              |locations2 AS (
              |  SELECT id, lon, lat, version FROM locations
              |  WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, CAST(lon + 1000 AS INTEGER),
              |         CAST(lat + 1000 AS INTEGER),
              |         CAST(version + 100 AS INTEGER)
              |  FROM locations WHERE id % 17 = 1)
              |SELECT CAST(1 AS BIGINT) AS snapshot, count(*) AS n,
              |  CAST(sum(lon) AS BIGINT) AS sum_lon,
              |  CAST(sum(lat) AS BIGINT) AS sum_lat,
              |  CAST(sum(version) AS BIGINT) AS sum_version
              |FROM locations
              |UNION ALL
              |SELECT CAST(2 AS BIGINT), count(*),
              |  CAST(sum(lon) AS BIGINT), CAST(sum(lat) AS BIGINT),
              |  CAST(sum(version) AS BIGINT)
              |FROM locations2
              |ORDER BY snapshot""".stripMargin)),

    // ---- q197: DISK-BACKED version history (round 10). Three
    // committed versions (bucketed base + two CDC deltas through the
    // streaming batch path), a retention vacuum (retainVersions=3)
    // BETWEEN the commits and the reads, then every snapshot read back
    // via manifestAt — the per-version history manifests on disk, not
    // in-memory pins (q83's variant). Gates the round-10 contract in
    // the data plane: the CAS'd per-version manifests are complete and
    // readable, and a retention-window vacuum deletes NOTHING a
    // retained snapshot needs. The oracle reconstructs all three
    // states in pure SQL. Exact integer sums ----
    Q("q197_version_history",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val t = SyntheticOsm.materialized(s, d)
        val root = graft.TempDirs.create("graft-q197-db")
        VersionedTable.commitBucketed(root, Map(
          "locations" -> ((t.locations.withColumn("s2cell",
            graft.spatial.SpatialScan.s2CellOfFixed($"lat", $"lon")),
            "id"))), nBuckets = 16)
        val metaT = "struct<version:int,timestamp:bigint," +
          "changeset:bigint,uid:bigint,user:string>"
        def changeSet(m: Int, dLon: Int, dVer: Int, seq: Long) =
          t.locations.where($"id" % m <= 1).select(
            $"id", lit("node").as("etype"),
            ($"id" % m === 1).as("visible"),
            ($"lon" + dLon).cast("int").as("lon"),
            ($"lat" + dLon).cast("int").as("lat"),
            ($"version" + dVer).cast("int").as("version"),
            lit(null).cast("array<bigint>").as("nodes"),
            lit(null).cast(
              "array<struct<ref:bigint,mtype:string,role:string>>")
              .as("members"),
            map().cast("map<string,string>").as("tags"),
            lit(null).cast(metaT).as("meta"), lit(seq).as("seqnum"))
        graft.streaming.Replication.applyBatch(s, root,
          changeSet(17, 1000, 100, 1L), batchId = 0L) // -> v2
        graft.streaming.Replication.applyBatch(s, root,
          changeSet(23, 2000, 200, 2L), batchId = 1L) // -> v3
        // retention vacuum: all three snapshots stay fully readable
        VersionedTable.vacuum(root, retainVersions = 3)
        def snap(v: Long) = {
          val m = VersionedTable.manifestAt(root, v).getOrElse(
            throw new IllegalStateException(s"history manifest v=$v gone"))
          VersionedTable.read(s, root, "locations", Some(m))
            .agg(count(lit(1)).as("n"),
              sum($"lon").cast("long").as("sum_lon"),
              sum($"lat").cast("long").as("sum_lat"),
              sum($"version").cast("long").as("sum_version"))
            .select(lit(v).as("snapshot"), $"n", $"sum_lon",
              $"sum_lat", $"sum_version")
        }
        snap(1L).unionAll(snap(2L)).unionAll(snap(3L))
          .orderBy($"snapshot")
      },
      Some(s"""WITH $dOsmCtes,
              |locations2 AS (
              |  SELECT id, lon, lat, version FROM locations
              |  WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, CAST(lon + 1000 AS INTEGER),
              |         CAST(lat + 1000 AS INTEGER),
              |         CAST(version + 100 AS INTEGER)
              |  FROM locations WHERE id % 17 = 1),
              |locations3 AS (
              |  SELECT * FROM locations2 WHERE id % 23 > 1
              |  UNION ALL
              |  SELECT id, CAST(lon + 2000 AS INTEGER),
              |         CAST(lat + 2000 AS INTEGER),
              |         CAST(version + 200 AS INTEGER)
              |  FROM locations WHERE id % 23 = 1),
              |s AS (
              |  SELECT 1 AS snapshot, count(*) AS n, sum(lon) AS sum_lon,
              |         sum(lat) AS sum_lat, sum(version) AS sum_version
              |  FROM locations
              |  UNION ALL
              |  SELECT 2, count(*), sum(lon), sum(lat), sum(version)
              |  FROM locations2
              |  UNION ALL
              |  SELECT 3, count(*), sum(lon), sum(lat), sum(version)
              |  FROM locations3)
              |SELECT CAST(snapshot AS BIGINT) AS snapshot, n,
              |  CAST(sum_lon AS BIGINT) AS sum_lon,
              |  CAST(sum_lat AS BIGINT) AS sum_lat,
              |  CAST(sum_version AS BIGINT) AS sum_version
              |FROM s ORDER BY snapshot""".stripMargin)),

    // ---- q84: incremental view maintenance. A per-tag-key node count
    // is kept up to date from a CDC batch WITHOUT recomputing over the
    // table: old contributions of the changed ids are fetched via the
    // bucket-pruned readBuckets path (O(changes) data, not O(table)),
    // negated, and merged with the new rows' contributions — base agg
    // +/- delta. The oracle recomputes the post-change state from
    // scratch; equality proves incremental == full ----
    Q("q84_incremental_tags",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val t = SyntheticOsm.materialized(s, d)
        val root = graft.TempDirs.create("graft-q84-db")
        VersionedTable.commitBucketed(root,
          Map("nodes" -> ((t.nodes, "id"))), nBuckets = 16)
        val changes = t.locations.where($"id" % 17 <= 1).select(
          $"id", ($"id" % 17 === 1).as("visible"),
          when($"id" % 2 === 0,
            map(lit("status"), lit("X"), lit("urgent"), lit("1")))
            .otherwise(map().cast("map<string,string>")).as("tags"))
        // base aggregate (in production: the stored materialized view)
        val base = VersionedTable.read(s, root, "nodes")
          .select(explode(map_keys($"tags")).as("key"))
          .groupBy($"key").agg(count(lit(1)).as("delta"))
        // old contributions of changed ids: bucket-pruned fetch
        val ids = changes.select($"id")
        val buckets = VersionedTable.bucketsOf(ids, "id", 16)
        val oldRows = VersionedTable.readBuckets(s, root, "nodes", buckets)
          .join(ids, Seq("id"), "left_semi")
        val minus = oldRows
          .select(explode(map_keys($"tags")).as("key"))
          .groupBy($"key").agg((-count(lit(1))).as("delta"))
        val plus = changes
          .where($"visible" && OsmLayout.tagged)
          .select(explode(map_keys($"tags")).as("key"))
          .groupBy($"key").agg(count(lit(1)).as("delta"))
        base.unionAll(minus).unionAll(plus)
          .groupBy($"key").agg(sum($"delta").as("n"))
          .where($"n" > 0)
          .orderBy($"key")
      },
      Some(s"""WITH $dOsmCtes,
              |nodes2 AS (
              |  SELECT id, tags_s FROM onodes WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, 'status=X;urgent=1' FROM locations
              |  WHERE id % 17 = 1 AND id % 2 = 0),
              |k AS (SELECT unnest(list_transform(
              |        string_split(tags_s, ';'),
              |        x -> string_split(x, '=')[1])) AS key
              |      FROM nodes2)
              |SELECT key, count(*) AS n FROM k
              |GROUP BY key ORDER BY key""".stripMargin)),

    // ---- q93: compaction round trip. commitBucketed -> a real
    // commitDelta (anti-join removals + upserts on the changed buckets
    // only) -> compact (every bucket re-owned at one fresh version,
    // identity data) -> vacuum (superseded dirs actually deleted) ->
    // read. The oracle reconstructs the post-change state in pure SQL,
    // so any data loss in the compact/vacuum path shows up as a
    // mismatch ----
    Q("q93_compact_roundtrip",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val t = SyntheticOsm.materialized(s, d)
        val root = graft.TempDirs.create("graft-q93-db")
        VersionedTable.commitBucketed(root,
          Map("nodes" -> ((t.nodes, "id"))), nBuckets = 16)
        val metaT = "struct<version:int,timestamp:bigint," +
          "changeset:bigint,uid:bigint,user:string>"
        val ids = t.locations.where($"id" % 17 <= 1).select($"id")
        val added = t.locations
          .where($"id" % 17 === 1 && $"id" % 2 === 0)
          .select($"id",
            map(lit("status"), lit("X"), lit("urgent"), lit("1"))
              .as("tags"),
            lit(null).cast(metaT).as("meta"))
        val buckets = VersionedTable.bucketsOf(ids, "id", 16)
        val delta = VersionedTable.Delta(buckets, old =>
          old.join(ids, Seq("id"), "left_anti").unionByName(added))
        VersionedTable.commitDelta(s, root, Map("nodes" -> delta))
        VersionedTable.compact(s, root, "nodes")
        VersionedTable.vacuum(root)
        VersionedTable.read(s, root, "nodes")
          .select($"id", explode(map_keys($"tags")).as("key"))
          .groupBy($"key")
          .agg(count(lit(1)).as("n"), sum($"id").as("id_sum"))
          .orderBy($"key")
      },
      Some(s"""WITH $dOsmCtes,
              |nodes2 AS (
              |  SELECT id, tags_s FROM onodes WHERE id % 17 > 1
              |  UNION ALL
              |  SELECT id, 'status=X;urgent=1' FROM locations
              |  WHERE id % 17 = 1 AND id % 2 = 0),
              |k AS (SELECT id, unnest(list_transform(
              |        string_split(tags_s, ';'),
              |        x -> string_split(x, '=')[1])) AS key
              |      FROM nodes2)
              |SELECT key, count(*) AS n,
              |  CAST(sum(id) AS BIGINT) AS id_sum
              |FROM k GROUP BY key ORDER BY key""".stripMargin)),

    // ---- q95: referential-integrity audit (the `osmium check-refs`
    // QA pass): dangling way->node refs and relation->member refs per
    // member type. Each check is one explode + LEFT ANTI join against
    // the referenced table's key set — all equi-joins, no driver-side
    // sets; the audit over a planet is four co-keyed shuffles. The
    // synthetic model is fully consistent, so the audit runs against a
    // deliberately DAMAGED store (a modular slice of each target table
    // dropped) — every check must count real dangling refs, not
    // trivially zero ----
    Q("q95_integrity_audit",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        val locIds = t.locations.where($"id" % 101 =!= 0).select($"id")
        val wayIds = t.ways.where($"id" % 7 =!= 0).select($"id")
        val relIds = t.relations.where($"id" % 5 =!= 0).select($"id")
        def audit(kind: String, refs: org.apache.spark.sql.DataFrame,
                  target: org.apache.spark.sql.DataFrame) =
          refs.join(target, Seq("id"), "left_anti")
            .agg(coalesce(count(lit(1)), lit(0L)).as("n_dangling"),
              coalesce(countDistinct($"parent"), lit(0L))
                .as("n_parents"))
            .select(lit(kind).as("kind"), $"n_dangling", $"n_parents")
        def refs(adj: OsmLayout.Adjacency,
                 parents: org.apache.spark.sql.DataFrame) =
          adj.refs(parents)
            .select($"parent_id".as("parent"), $"member_id".as("id"))
        import OsmLayout._
        audit("way_node", refs(NodeWay, t.ways), locIds)
          .unionAll(audit("rel_node", refs(NodeRelation, t.relations), locIds))
          .unionAll(audit("rel_way", refs(WayRelation, t.relations), wayIds))
          .unionAll(audit("rel_relation",
            refs(RelationRelation, t.relations), relIds))
          .orderBy($"kind")
      },
      Some(s"""WITH $dOsmCtes,
              |wn AS (SELECT w.id AS parent, unnest(w.nodes) AS ref
              |       FROM oways w),
              |checks AS (
              |  SELECT 'way_node' AS kind, parent, ref FROM wn
              |  WHERE ref NOT IN (SELECT id FROM locations
              |                    WHERE id % 101 != 0)
              |  UNION ALL
              |  SELECT 'rel_node', parent_id, m.ref FROM rel_members
              |  WHERE m.mtype = 'node'
              |    AND m.ref NOT IN (SELECT id FROM locations
              |                      WHERE id % 101 != 0)
              |  UNION ALL
              |  SELECT 'rel_way', parent_id, m.ref FROM rel_members
              |  WHERE m.mtype = 'way'
              |    AND m.ref NOT IN (SELECT id FROM oways
              |                      WHERE id % 7 != 0)
              |  UNION ALL
              |  SELECT 'rel_relation', parent_id, m.ref FROM rel_members
              |  WHERE m.mtype = 'relation'
              |    AND m.ref NOT IN (SELECT id FROM orelations
              |                      WHERE id % 5 != 0)),
              |kinds AS (SELECT unnest(['way_node', 'rel_node',
              |                         'rel_way', 'rel_relation'])
              |            AS kind)
              |SELECT k.kind,
              |  CAST(coalesce(count(c.ref), 0) AS BIGINT)
              |    AS n_dangling,
              |  CAST(coalesce(count(DISTINCT c.parent), 0) AS BIGINT)
              |    AS n_parents
              |FROM kinds k LEFT JOIN checks c ON c.kind = k.kind
              |GROUP BY k.kind ORDER BY k.kind""".stripMargin)),

    // ---- q106: F7/F8 data-plane — replication path formatting and
    // timestamp->seqnum as-of resolution over a synthetic state-file
    // table (one state file per distinct event time, seqnums ascending
    // with time and striding all three path segments). The %09d pad +
    // 3/3/3 split is the SAME arithmetic as `Replication.url`
    // (`utils/server.py:153-172`'s `%03i/%03i/%03i`), and the per-target
    // max-seqnum-with-ts<=target (lo-clamped for pre-horizon targets) is
    // `Replication.timestampToSeqnum`'s contract — both parities pinned
    // in ManifestSpec. State files are metadata-scale (one per diff
    // interval, bounded here at 5000), so the single-partition
    // row_number window and the broadcast non-equi join are the honest
    // shapes, not scale hazards. ----
    Q("q106_replication_seq",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val ev = graft.Queries.T(s, d, "events")
        val state = ev.select($"ts").distinct()
          .select($"ts",
            row_number().over(Window.orderBy($"ts")).cast("long").as("rn"))
          .where($"rn" <= 5000L)
          .select($"ts", ($"rn" * 199999L).as("seqnum"))
        val targets = ev.where($"event_id" % 97 === 0)
          .select($"event_id".cast("long").as("target_id"),
            $"ts".as("target_ts"))
          .unionByName(ev.agg(
            (min($"ts") - expr("interval 1 second")).as("target_ts"))
            .select(lit(-1L).as("target_id"), $"target_ts"))
        val lo = state.agg(min($"seqnum").as("lo"))
        val asof = targets
          .join(state.select($"ts", $"seqnum"),
            state("ts") <= targets("target_ts"), "left_outer")
          .groupBy($"target_id").agg(max($"seqnum").as("m"))
          .crossJoin(broadcast(lo))
          .select($"target_id", coalesce($"m", $"lo").as("seqnum"))
        val padded = format_string("%09d", $"seqnum")
        asof.select($"target_id", $"seqnum",
          concat_ws("/", substring(padded, 1, 3), substring(padded, 4, 3),
            substring(padded, 7, 3)).as("repl_path"))
          .orderBy($"target_id")
      },
      Some("""WITH st0 AS (
             |  SELECT ts, row_number() OVER (ORDER BY ts) AS rn
             |  FROM (SELECT DISTINCT ts FROM events)),
             |state AS (
             |  SELECT ts, rn * 199999 AS seqnum FROM st0 WHERE rn <= 5000),
             |targets AS (
             |  SELECT CAST(event_id AS BIGINT) AS target_id,
             |         ts AS target_ts
             |  FROM events WHERE event_id % 97 = 0
             |  UNION ALL
             |  SELECT -1, min(ts) - INTERVAL 1 SECOND FROM events),
             |resolved AS (
             |  SELECT t.target_id,
             |    coalesce(max(s.seqnum),
             |             (SELECT min(seqnum) FROM state)) AS seqnum
             |  FROM targets t LEFT JOIN state s ON s.ts <= t.target_ts
             |  GROUP BY t.target_id)
             |SELECT target_id, CAST(seqnum AS BIGINT) AS seqnum,
             |  printf('%03d/%03d/%03d', seqnum // 1000000,
             |         (seqnum // 1000) % 1000, seqnum % 1000) AS repl_path
             |FROM resolved ORDER BY target_id""".stripMargin)),

    // ---- q143: taginfo-style tag statistics — the OSM ecosystem's
    // standard corpus report (taginfo.openstreetmap.org): per tag KEY,
    // how many elements use it and how many distinct values it takes,
    // across nodes + ways + relations. The open-schema MapType makes
    // this one explode + one hash-agg; the reference leaves tags
    // uninterpreted (docs/MANUAL.md:55), so this is the consumer-side
    // report its users run. The oracle re-parses the mirrored
    // 'k=v;k=v' tag strings ----
    Q("q143_taginfo",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        def kv(df: org.apache.spark.sql.DataFrame) =
          df.select(explode($"tags")).toDF("k", "v")
        kv(t.nodes).unionAll(kv(t.ways)).unionAll(kv(t.relations))
          .groupBy($"k")
          .agg(count(lit(1)).as("n_uses"),
            countDistinct($"v").as("n_values"))
          .orderBy($"n_uses".desc, $"k")
      },
      Some(s"""WITH $dOsmCtes,
              |kvs AS (
              |  SELECT split_part(x, '=', 1) AS k,
              |         split_part(x, '=', 2) AS v
              |  FROM (SELECT unnest(string_split(tags_s, ';')) AS x
              |        FROM onodes
              |        UNION ALL
              |        SELECT unnest(string_split(tags_s, ';'))
              |        FROM oways
              |        UNION ALL
              |        SELECT unnest(string_split(tags_s, ';'))
              |        FROM orelations)
              |  WHERE x != '')
              |SELECT k, CAST(count(*) AS BIGINT) AS n_uses,
              |  CAST(count(DISTINCT v) AS BIGINT) AS n_values
              |FROM kvs GROUP BY k ORDER BY n_uses DESC, k"""
        .stripMargin)),

    // ---- tag-KEY co-occurrence over the open-schema MapType — which
    // tag keys appear together on the same element (taginfo's
    // "combinations" page; the schema-inference signal for an
    // untyped tag soup). Keys explode per element with a type-
    // prefixed element id (node/way/relation id spaces overlap at
    // scale), pairs form within-element only (bounded by keys per
    // element, not corpus), one hash-agg ----
    Q("q178_tag_cooccurrence",
      (s, d) => {
        import s.implicits._
        val t = SyntheticOsm.materialized(s, d)
        def keys(df: org.apache.spark.sql.DataFrame, p: String) =
          df.select(concat(lit(p), lit(":"), $"id").as("eid"),
            explode(map_keys($"tags")).as("k"))
        val ks = keys(t.nodes, "n").unionAll(keys(t.ways, "w"))
          .unionAll(keys(t.relations, "r"))
        ks.as("x").join(ks.as("y"),
            col("x.eid") === col("y.eid") && col("x.k") < col("y.k"))
          .groupBy(col("x.k").as("k1"), col("y.k").as("k2"))
          .agg(count(lit(1)).as("n_elements"))
          .orderBy($"n_elements".desc, $"k1", $"k2")
      },
      Some(s"""WITH $dOsmCtes,
              |kvs AS (
              |  SELECT eid, split_part(x, '=', 1) AS k
              |  FROM (SELECT 'n:' || CAST(id AS VARCHAR) AS eid,
              |          unnest(string_split(tags_s, ';')) AS x
              |        FROM onodes
              |        UNION ALL
              |        SELECT 'w:' || CAST(id AS VARCHAR),
              |          unnest(string_split(tags_s, ';'))
              |        FROM oways
              |        UNION ALL
              |        SELECT 'r:' || CAST(id AS VARCHAR),
              |          unnest(string_split(tags_s, ';'))
              |        FROM orelations)
              |  WHERE x != '')
              |SELECT x.k AS k1, y.k AS k2,
              |  CAST(count(*) AS BIGINT) AS n_elements
              |FROM kvs x JOIN kvs y
              |  ON x.eid = y.eid AND x.k < y.k
              |GROUP BY x.k, y.k
              |ORDER BY n_elements DESC, k1, k2""".stripMargin))
  )
}
