package graft.osm

import graft.Queries.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's OSM-shaped logical model (SURVEY §1.4: locations / nodes
  * / ways / relations + 4 reverse-adjacency tables), instantiated
  * synthetically from the deterministic testdata star schema so every
  * OSM operator has oracle-checkable inputs:
  *
  *   - node  = order        (id = o_orderkey; fixed-point coords derived
  *                           from the key; tagged iff o_orderkey % 3 = 0)
  *   - way   = customer     (id = c_custkey + 1e6; ordered node list =
  *                           that customer's orders — order-significant
  *                           like Way.nodes)
  *   - relation = nation    (id = n_nationkey + 2e6; members = the
  *                           nation's customer-ways + every 97th order as
  *                           a node member; even nations are tagged
  *                           type=multipolygon)
  *   - super-relation = region (id = r_regionkey + 3e6; members = the
  *                           region's nation-relations -> nesting for the
  *                           transitive closure)
  *
  * Untagged nodes exist ONLY in `locations` (`src/expand.cpp:156`,
  * `docs/MANUAL.md:118`); dangling way-member refs (customers without
  * orders never materialize as ways) exercise the existence guard of
  * multipolygon completion (`src/extract.cpp:254-255`).
  *
  * Every derivation is mirrored verbatim by [[OsmQueries.dOsmCtes]] so
  * DuckDB rebuilds identical tables for the oracle compare.
  */
object SyntheticOsm {

  final case class Tables(locations: DataFrame, nodes: DataFrame,
                          ways: DataFrame, relations: DataFrame,
                          nodeWay: DataFrame, nodeRelation: DataFrame,
                          wayRelation: DataFrame,
                          relationRelation: DataFrame) {
    private def all = Seq(locations, nodes, ways, relations, nodeWay,
      nodeRelation, wayRelation, relationRelation)

    /** Persist every table (MEMORY_AND_DISK). The derived tables here
      * cost a shuffle each to build; pipelines like extract reference
      * ways/relations/adjacency several times, so caching trades one
      * materialization for N recomputes — on a real deployment these
      * are parquet tables and this is moot. */
    def cache(): Tables = { all.foreach(_.persist()); this }
    def uncache(): Tables = {
      all.foreach(_.unpersist(blocking = false)); this
    }
  }

  val WayBase = 1000000L
  val RelBase = 2000000L
  val SuperRelBase = 3000000L

  private val materializedDirs =
    scala.collection.concurrent.TrieMap[String, String]()

  /** The table bundle persisted to parquet ONCE per JVM per source dir,
    * then read back — the shape real deployments have (the reference's
    * queries run against an already-built .osmx database, not against
    * the raw import). Composite queries reference ways/relations/
    * adjacency several times inside one plan; without this each
    * reference re-derives the table from the star schema (in-memory
    * columnar caching of the map/array columns measured SLOWER than
    * recompute — parquet materialization wins). Content is identical
    * to [[tables]]: every derivation is deterministic.
    *
    * Env `SPARK_GRAFT_OSM_MAT_DIR=<root>` shares ONE materialization
    * across JVMs (the segmented bench forks a fresh JVM per query
    * segment — without sharing, every OSM-containing segment would
    * rebuild the bundle in its untimed warmup). The bundle is keyed by
    * the sanitized source-dir path PLUS a [[graft.SourceToken]] over
    * the source files (r13 advisor: path-only keying served a stale
    * bundle if the data was regenerated at the same path while the
    * shared root persisted). Publication is race-safe: each builder
    * writes into its own staging dir (marker written LAST, inside it)
    * and atomically renames into place; a loser of the rename race
    * adopts the winner's bundle — two concurrent cold JVMs can no
    * longer interleave writes into one directory. Unset (the default,
    * and all correctness paths), behavior is unchanged: per-JVM temp
    * dir, shutdown-reclaimed. */
  def materialized(s: SparkSession, dir: String): Tables = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = materializedDirs.getOrElseUpdate(dir, {
      val shared = sys.env.get("SPARK_GRAFT_OSM_MAT_DIR").map { root =>
        val token = graft.SourceToken.ofDir(dir)
        s"$root/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}_$token"
      }
      def done(p: String): Boolean =
        Files.exists(Paths.get(p, "_GRAFT_BUNDLE_DONE"))
      def rmTree(p: String): Unit =
        try org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(p))
        catch { case _: Throwable => () }
      if (shared.exists(done)) {
        // adopting a published bundle: sweep orphan *_stage_* siblings
        // a crashed builder left behind (disk leaked forever
        // otherwise — r14 advisor). Age-gated so a LIVE concurrent
        // builder's staging dir is never yanked mid-write; no bundle
        // build approaches an hour.
        val pub = Paths.get(shared.get)
        try {
          val prefix = pub.getFileName.toString + "_stage_"
          val cutoff = System.currentTimeMillis - 60L * 60 * 1000
          val st = Files.list(pub.getParent)
          try st.forEach { p =>
            if (p.getFileName.toString.startsWith(prefix) &&
              Files.getLastModifiedTime(p).toMillis < cutoff)
              rmTree(p.toString)
          } finally st.close()
        } catch { case _: Throwable => () }
        shared.get
      } else {
        // build in a private staging dir (unique per JVM), marker last
        val tmp = shared.map(p => s"${p}_stage_${ProcessHandle.current.pid}")
          .getOrElse(graft.TempDirs.create("graft-osm-mat"))
        // a crashed predecessor whose pid the OS recycled may have
        // left this exact staging dir — possibly marker-complete, in
        // which case createFile below would throw
        // FileAlreadyExistsException and fail THIS JVM's
        // materialization (r14 advisor). Start from a clean dir; no
        // live process can share our pid.
        if (shared.isDefined) rmTree(tmp)
        val t = tables(s, dir)
        Seq("locations" -> t.locations, "nodes" -> t.nodes,
          "ways" -> t.ways, "relations" -> t.relations,
          "node_way" -> t.nodeWay, "node_relation" -> t.nodeRelation,
          "way_relation" -> t.wayRelation,
          "relation_relation" -> t.relationRelation)
          .foreach { case (n, df) =>
            df.write.mode("overwrite").parquet(s"$tmp/$n")
          }
        shared match {
          case None => tmp // per-JVM temp dir IS the bundle
          case Some(pub) =>
            Files.createFile(Paths.get(tmp, "_GRAFT_BUNDLE_DONE"))
            try {
              Files.move(Paths.get(tmp), Paths.get(pub),
                StandardCopyOption.ATOMIC_MOVE)
              pub
            } catch { case _: Throwable =>
              // another JVM published first (or the rename failed):
              // adopt the winner if complete, else keep our staging
              if (done(pub)) {
                try org.apache.commons.io.FileUtils
                  .deleteDirectory(new java.io.File(tmp))
                catch { case _: Throwable => () }
                pub
              } else tmp
            }
        }
      }
    })
    def r(n: String) = s.read.parquet(s"$base/$n")
    Tables(r("locations"), r("nodes"), r("ways"), r("relations"),
      r("node_way"), r("node_relation"), r("way_relation"),
      r("relation_relation"))
  }

  def tables(s: SparkSession, dir: String): Tables = {
    import s.implicits._
    val orders = T(s, dir, "orders")
    val customer = T(s, dir, "customer")
    val nation = T(s, dir, "nation")
    val region = T(s, dir, "region")

    val locations = orders.select(
      $"o_orderkey".as("id"),
      ((($"o_orderkey" * 2147483629L) % 3600000000L) - 1800000000L)
        .cast("int").as("lon"),
      ((($"o_orderkey" * 981451653L) % 1200000000L) - 600000000L)
        .cast("int").as("lat"),
      ($"o_orderkey" % 7 + 1).cast("int").as("version"))

    val nodes = orders.where($"o_orderkey" % 3 === 0).select(
      $"o_orderkey".as("id"),
      map(lit("status"), $"o_orderstatus",
        lit("prio"), $"o_orderpriority").as("tags"),
      struct(($"o_orderkey" % 7 + 1).cast("int").as("version"),
        unix_timestamp($"o_orderdate").as("timestamp"),
        $"o_custkey".as("changeset"),
        ($"o_custkey" % 1000).as("uid"),
        concat(lit("user"), $"o_custkey" % 100).as("user")).as("meta"))

    val ways = orders.groupBy($"o_custkey")
      .agg(sort_array(collect_list($"o_orderkey")).as("nodes"))
      .join(customer, $"o_custkey" === $"c_custkey")
      .select(($"c_custkey" + WayBase).as("id"), $"nodes",
        map(lit("segment"), $"c_mktsegment").as("tags"),
        struct(($"c_custkey" % 5 + 1).cast("int").as("version"),
          lit(1500000000L).as("timestamp"),
          $"c_nationkey".cast("long").as("changeset"),
          ($"c_custkey" % 1000).as("uid"),
          concat(lit("user"), $"c_custkey" % 100).as("user")).as("meta"))

    // nation relations: way members (all customers of the nation, also
    // ones with no orders -> dangling refs) + every 97th order as a node
    // member; member order = (ways by custkey, then nodes by orderkey)
    val wayMembers = customer.select($"c_nationkey".as("nk"),
      struct(($"c_custkey" + WayBase).as("ref"), lit("way").as("mtype"),
        lit("outer").as("role")).as("m"),
      $"c_custkey".as("ord"))
    val nodeMembers = orders
      .join(customer, $"o_custkey" === $"c_custkey")
      .where($"o_orderkey" % 97 === 0)
      .select($"c_nationkey".as("nk"),
        struct($"o_orderkey".as("ref"), lit("node").as("mtype"),
          lit("label").as("role")).as("m"),
        ($"o_orderkey" + 10000000L).as("ord"))
    val natRel = wayMembers.unionByName(nodeMembers)
      .groupBy($"nk")
      .agg(transform(array_sort(collect_list(struct($"ord", $"m"))),
        e => e("m")).as("members"))
      .join(nation, $"nk" === $"n_nationkey")
      .select(($"n_nationkey" + RelBase).as("id"), $"members",
        map(lit("type"),
          when($"n_nationkey" % 2 === 0, "multipolygon")
            .otherwise("boundary"),
          lit("name"), $"n_name").as("tags"),
        struct(($"n_nationkey" % 3 + 1).cast("int").as("version"),
          lit(1600000000L).as("timestamp"),
          $"n_regionkey".cast("long").as("changeset"),
          $"n_nationkey".cast("long").as("uid"),
          concat(lit("user"), $"n_nationkey").as("user")).as("meta"))

    val regRel = nation
      .select($"n_regionkey".as("rk"),
        struct(($"n_nationkey" + RelBase).as("ref"),
          lit("relation").as("mtype"), lit("subarea").as("role")).as("m"),
        $"n_nationkey".as("ord"))
      .groupBy($"rk")
      .agg(transform(array_sort(collect_list(struct($"ord", $"m"))),
        e => e("m")).as("members"))
      .join(region, $"rk" === $"r_regionkey")
      .select(($"r_regionkey" + SuperRelBase).as("id"), $"members",
        map(lit("type"), lit("boundary"), lit("name"), $"r_name")
          .as("tags"),
        struct(($"r_regionkey" % 3 + 1).cast("int").as("version"),
          lit(1700000000L).as("timestamp"),
          $"r_regionkey".cast("long").as("changeset"),
          $"r_regionkey".cast("long").as("uid"),
          concat(lit("user"), $"r_regionkey").as("user")).as("meta"))

    val relations = natRel.unionByName(regRel)

    Tables(locations, nodes, ways, relations,
      OsmLayout.NodeWay.rows(ways), OsmLayout.NodeRelation.rows(relations),
      OsmLayout.WayRelation.rows(relations),
      OsmLayout.RelationRelation.rows(relations))
  }
}
