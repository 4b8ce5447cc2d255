package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** One verifiable query: the Spark plan and (when SQL-expressible) the
  * equivalent DuckDB oracle SQL over the same parquet tables.
  *
  * Determinism rules (the driver hash-compares row values):
  *   - every query's output is fully ordered by a unique key;
  *   - double aggregates that are order-sensitive (sums of non-integral
  *     doubles) are computed exactly via DECIMAL and cast back to double —
  *     note a double can never be an exact decimal tie at scale >= 1, so
  *     HALF_UP (Spark) vs round-to-even (C) never diverges there;
  *   - column names are aliased identically on both sides.
  */
final case class Q(name: String,
                   fn: (SparkSession, String) => DataFrame,
                   oracle: Option[String],
                   /** headline queries run in Bench */
                   bench: Boolean = false)

object Queries {
  /** Load one testdata table. Plain parquet scan: filters/projections above
    * this are pushed down by Catalyst into the scan.
    *
    * `events.ts` has shipped in two encodings across testdata generations:
    * TIMESTAMP(NANOS) (which Spark only reads as a raw long under the
    * legacy conf; ns -> us via integer division — the epoch-ns magnitude
    * ~1.7e18 exceeds double's 2^53 exact range, so float division would
    * corrupt it) and plain timestamp[us] (TIMESTAMP_NTZ / TIMESTAMP, no
    * conversion needed). Branch on the ACTUAL loaded type so a testdata
    * re-provision can't break every events query at analysis time. */
  def T(s: SparkSession, dir: String, name: String): DataFrame = {
    graft.functions.GraftFunctions.register(s) // idempotent, cheap
    val loaded = if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = s.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType => // legacy TIMESTAMP(NANOS) surfaced as raw ns long
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ => df // NTZ/instant: normalized below like any column
      }
    } else s.read.parquet(s"$dir/$name.parquet")
    // Generalized r7 lesson: ANY timestamp column may re-provision as
    // TIMESTAMP_NTZ (events.ts did). Normalize every NTZ column to the
    // session-local TimestampType the suite (and the DuckDB oracle,
    // which reads parquet as naive-UTC; session tz is pinned UTC)
    // expects — so o_orderdate/l_shipdate can't repeat the events
    // breakage.
    loaded.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(loaded)((df, f) =>
        df.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  /** Exact money arithmetic: double -> DECIMAL(18,4) per row (tie-free,
    * see header), summed exactly, surfaced as double. */
  private def moneySum(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** 2h gaps-and-islands sessionization: adds `sid` to rows carrying
    * (user_id, tus, event_id). ONE definition of the session-break
    * rule (`tus >= prev + 7200000000`, ties kept in-session) shared
    * by q146 (itemsets) and q169 (journey paths) — and mirrored by
    * [[dSessionCtes]] — so the gap constant and tie semantics cannot
    * drift between consumers. */
  private def sessionize(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    ev.withColumn("prev", lag(col("tus"), 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("tus") >= col("prev") + 7200000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev", "brk")
  }

  /** DuckDB twin of [[sessionize]]: CTEs ev/l/m/s, where `s` has
    * (user_id, event_type, tus, event_id, sid) over `events`. */
  private val dSessionCtes: String =
    """ev AS (SELECT user_id, event_type,
      |  epoch_us(ts) AS tus, event_id FROM events),
      |l AS (SELECT user_id, event_type, tus, event_id,
      |  lag(tus) OVER (PARTITION BY user_id
      |    ORDER BY tus, event_id) AS prev
      |  FROM ev),
      |m AS (SELECT user_id, event_type, tus, event_id,
      |  CASE WHEN prev IS NULL OR tus >= prev + 7200000000
      |       THEN 1 ELSE 0 END AS brk
      |  FROM l),
      |s AS (SELECT user_id, event_type, tus, event_id,
      |  sum(brk) OVER (PARTITION BY user_id
      |    ORDER BY tus, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS sid
      |  FROM m)""".stripMargin

  /** Equal time slices of `ev` (epoch-µs column `us`): returns
    * (loUs, span, slice) where slice(k) is rows in
    * [lo + k*span, lo + (k+1)*span). Shared by the streaming replay
    * queries so the slicing arithmetic (and its empty-table guard)
    * exists once. */
  private def timeSlices(ev: DataFrame, nb: Int)
  : (Long, Long, Int => DataFrame) = {
    val r = ev.agg(min(col("us")), max(col("us"))).head()
    require(!r.isNullAt(0), "timeSlices: empty events table")
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val span = (hi - lo) / nb + 1L
    (lo, span, (k: Int) => ev.where(col("us") >= lo + k * span &&
      col("us") < lo + (k + 1) * span))
  }

  // =====================================================================
  // Relational core: SURVEY §2.2 (lookups/filters/projections),
  // §2.4 (joins), §2.5 (aggregations/sorts/set ops), §2.6 (functions)
  // =====================================================================

  val relational: Seq[Q] = Seq(

    // ---- A4/A6 aggregation with exact money sums (TPC-H Q1 shape) ----
    Q("q01_pricing_summary",
      (s, d) => {
        import s.implicits._
        T(s, d, "lineitem")
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum($"l_quantity").cast("double").as("sum_qty"),
            moneySum($"l_extendedprice").as("sum_base_price"),
            moneySum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
              .as("sum_disc_price"),
            count(lit(1)).as("n_rows"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
             |       AS DOUBLE) AS sum_base_price,
             |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
             |                AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
             |  count(*) AS n_rows
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      bench = true),

    // ---- P1/P2/P3 point lookup with pushed-down predicate ----
    Q("q02_point_lookup",
      (s, d) => {
        import s.implicits._
        T(s, d, "lineitem")
          .where($"l_orderkey" === 1L)
          .select($"l_orderkey", $"l_linenumber", $"l_partkey",
            $"l_suppkey", $"l_quantity")
          .orderBy($"l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |       l_quantity
             |FROM lineitem WHERE l_orderkey = 1
             |ORDER BY l_linenumber""".stripMargin)),

    // ---- J1-J4 join chain + group agg (TPC-H Q5 shape). Only the
    // BOUNDED dim (nation, 25 rows) carries a broadcast hint; customer
    // is corpus-proportional, so its join strategy is left to AQE —
    // an unconditional hint there would OOM executors at 100 TB ----
    Q("q03_revenue_by_nation",
      (s, d) => {
        import s.implicits._
        val li = T(s, d, "lineitem"); val o = T(s, d, "orders")
        val c = T(s, d, "customer"); val n = T(s, d, "nation")
        li.join(o, $"l_orderkey" === $"o_orderkey")
          .join(c, $"o_custkey" === $"c_custkey")
          .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .agg(moneySum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy($"n_name")
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
             |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin),
      bench = true),

    // ---- EXISTS == left_semi (the reference's bitmap-accumulate idiom) ----
    Q("q04_exists_semijoin",
      (s, d) => {
        import s.implicits._
        val c = T(s, d, "customer")
        val big = T(s, d, "orders").where($"o_totalprice" > 100000.0)
        c.join(big, $"c_custkey" === $"o_custkey", "left_semi")
          .select($"c_custkey", $"c_name")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey
             |                AND o_totalprice > 100000.0)
             |ORDER BY c_custkey""".stripMargin)),

    // ---- NOT EXISTS == left_anti (`addChecked` novelty idiom, J5/J10) ----
    Q("q05_not_exists_antijoin",
      (s, d) => {
        import s.implicits._
        val c = T(s, d, "customer")
        val big = T(s, d, "orders").where($"o_totalprice" > 200000.0)
        c.join(big, $"c_custkey" === $"o_custkey", "left_anti")
          .select($"c_custkey", $"c_name")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_totalprice > 200000.0)
             |ORDER BY c_custkey""".stripMargin)),

    // ---- A1 distinct / EXCEPT set algebra on ID sets ----
    Q("q06_idset_algebra",
      (s, d) => {
        import s.implicits._
        val inLi = T(s, d, "lineitem").select($"l_suppkey".as("suppkey"))
          .distinct()
        val rich = T(s, d, "supplier").where($"s_acctbal" > 5000.0)
          .select($"s_suppkey".as("suppkey"))
        inLi.except(rich).orderBy($"suppkey")
      },
      Some("""SELECT DISTINCT l_suppkey AS suppkey FROM lineitem
             |EXCEPT
             |SELECT s_suppkey AS suppkey FROM supplier
             |WHERE s_acctbal > 5000.0
             |ORDER BY suppkey""".stripMargin)),

    // ---- A8 latest-version-wins dedup (window row_number) ----
    Q("q07_latest_event_per_user",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id")
          .orderBy($"ts".desc, $"event_id".desc)
        T(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .where($"rn" === 1)
          .select($"user_id", $"event_id", $"event_type")
          .orderBy($"user_id")
      },
      Some("""SELECT user_id, event_id, event_type FROM (
             |  SELECT user_id, event_id, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |                       ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin),
      bench = true),

    // ---- A7 ordering + deterministic top-k ----
    Q("q08_top_orders",
      (s, d) => {
        import s.implicits._
        T(s, d, "orders")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
          .select($"o_orderkey", $"o_totalprice")
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- J9 order-preserving explode + reassembly (way-geometry shape) ----
    Q("q09_ordered_reassembly",
      (s, d) => {
        import s.implicits._
        T(s, d, "embeddings")
          .where($"vec_id" < 32)
          .select($"vec_id",
            concat_ws(" ",
              transform(slice($"embedding", 1, 8),
                x => format_string("%.7f", x))).as("head8"))
          .orderBy($"vec_id")
      },
      Some("""SELECT vec_id,
             |  array_to_string(
             |    list_transform(embedding[1:8], x -> printf('%.7f', x)),
             |    ' ') AS head8
             |FROM embeddings WHERE vec_id < 32
             |ORDER BY vec_id""".stripMargin)),

    // ---- G11/A6 min-max bounds aggregation ----
    Q("q10_bounds_by_type",
      (s, d) => {
        import s.implicits._
        T(s, d, "events")
          .groupBy($"event_type")
          .agg(min($"value").as("vmin"), max($"value").as("vmax"),
            count(lit(1)).as("n"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, min(value) AS vmin, max(value) AS vmax,
             |       count(*) AS n
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ---- P5 table statistics (`osmx query` stats surface) ----
    Q("q11_table_stats",
      (s, d) => {
        val names = Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
        names.map(n => T(s, d, n)
            .agg(count(lit(1)).as("n_rows"))
            .select(lit(n).as("table_name"), col("n_rows")))
          .reduce(_ unionAll _)
          .orderBy("table_name")
      },
      Some(Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
        .map(n => s"SELECT '$n' AS table_name, count(*) AS n_rows FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY table_name"))),

    // ---- G9 disjunct range scan (cell-covering range predicate shape) ----
    Q("q12_range_disjuncts",
      (s, d) => {
        import s.implicits._
        val ranges = Seq((0L, 20L), (50L, 60L), (120L, 150L), (180L, 190L))
        val pred = ranges.map { case (lo, hi) =>
          $"l_partkey" >= lo && $"l_partkey" < hi
        }.reduce(_ || _)
        T(s, d, "lineitem").where(pred)
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum($"l_quantity").cast("double").as("qty"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |       CAST(sum(l_quantity) AS DOUBLE) AS qty
             |FROM lineitem
             |WHERE (l_partkey >= 0 AND l_partkey < 20)
             |   OR (l_partkey >= 50 AND l_partkey < 60)
             |   OR (l_partkey >= 120 AND l_partkey < 150)
             |   OR (l_partkey >= 180 AND l_partkey < 190)
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- F1 fixed-point encode/decode (coords are int32 * 1e-7) ----
    Q("q13_fixed_point",
      (s, d) => {
        import s.implicits._
        T(s, d, "orders")
          .select($"o_orderkey",
            round($"o_totalprice" * 100.0, 0).cast("long").as("cents"))
          .withColumn("dollars",
            ($"cents".cast("double") / 100.0))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS cents,
             |  CAST(round(o_totalprice * 100.0, 0) AS BIGINT) / 100.0
             |    AS dollars
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- F2 epoch seconds <-> ISO8601 ----
    Q("q14_datetime_roundtrip",
      (s, d) => {
        import s.implicits._
        T(s, d, "orders")
          .select($"o_orderkey",
            unix_timestamp($"o_orderdate").as("epoch_s"),
            date_format($"o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'")
              .as("iso"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
             |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS iso
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- F3/J9 WKT-style ordered formatting (7 decimal places) ----
    Q("q15_wkt_linestring",
      (s, d) => {
        import s.implicits._
        T(s, d, "lineitem")
          .where($"l_orderkey" <= 50)
          .select($"l_orderkey", $"l_linenumber",
            format_string("%.7f %.7f", $"l_quantity", $"l_discount")
              .as("pt"))
          .groupBy($"l_orderkey")
          .agg(concat(lit("LINESTRING ("),
            array_join(transform(
              array_sort(collect_list(struct($"l_linenumber", $"pt"))),
              e => e("pt")), ", "),
            lit(")")).as("wkt"))
          .orderBy($"l_orderkey")
      },
      Some("""SELECT l_orderkey,
             |  'LINESTRING (' ||
             |  string_agg(printf('%.7f %.7f', l_quantity, l_discount),
             |             ', ' ORDER BY l_linenumber,
             |             printf('%.7f %.7f', l_quantity, l_discount))
             |  || ')' AS wkt
             |FROM lineitem WHERE l_orderkey <= 50
             |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),

    // ---- F6 enum <-> string mapping ----
    Q("q16_enum_mapping",
      (s, d) => {
        import s.implicits._
        T(s, d, "orders")
          .select($"o_orderkey",
            when($"o_orderstatus" === "O", "open")
              .when($"o_orderstatus" === "F", "finished")
              .when($"o_orderstatus" === "P", "pending")
              .otherwise("unknown").as("status_name"))
          .groupBy($"status_name").agg(count(lit(1)).as("n"))
          .orderBy($"status_name")
      },
      Some("""SELECT CASE o_orderstatus WHEN 'O' THEN 'open'
             |         WHEN 'F' THEN 'finished' WHEN 'P' THEN 'pending'
             |         ELSE 'unknown' END AS status_name,
             |       count(*) AS n
             |FROM orders GROUP BY 1 ORDER BY status_name""".stripMargin)),

    // ---- J5 transitive closure fixpoint (extract's relation_relation) ----
    Q("q17_transitive_closure",
      (s, d) => {
        import s.implicits._
        val edges = T(s, d, "lineitem")
          .select(($"l_partkey" % 97).as("child"),
            ($"l_orderkey" % 97).as("parent"))
          .distinct()
        val Seq(seeds) = graft.ops.BitmapSemi.idSets(
          s.range(1, 4).select($"id"), Seq($"id")) // ids 1,2,3
        graft.ops.Closure.reachable(seeds, edges,
          childCol = "child", parentCol = "parent")
          .ids(s).orderBy($"id")
      },
      Some("""WITH RECURSIVE
             |edges AS (SELECT DISTINCT l_partkey % 97 AS child,
             |                 l_orderkey % 97 AS parent FROM lineitem),
             |r AS (
             |  SELECT CAST(x AS BIGINT) AS id FROM (VALUES (1),(2),(3)) t(x)
             |  UNION
             |  SELECT e.parent AS id FROM r JOIN edges e ON e.child = r.id
             |)
             |SELECT id FROM r ORDER BY id""".stripMargin),
      bench = true),

    // ---- J1/J2 reverse-index expansion (nodes->ways shape) ----
    Q("q18_reverse_index",
      (s, d) => {
        import s.implicits._
        val li = T(s, d, "lineitem")
        val memberParts = li.where($"l_orderkey" === 1L)
          .select($"l_partkey").distinct()
        li.join(memberParts, Seq("l_partkey"), "left_semi")
          .select($"l_orderkey".as("order_id")).distinct()
          .orderBy($"order_id")
      },
      Some("""SELECT DISTINCT l_orderkey AS order_id FROM lineitem
             |WHERE l_partkey IN
             |  (SELECT l_partkey FROM lineitem WHERE l_orderkey = 1)
             |ORDER BY order_id""".stripMargin)),

    // ---- G1-G9 spatial covering scan: region -> coverer -> pruned scan
    // -> exact residual. The oracle knows nothing about S2: it filters by
    // pure point-in-region SQL, so any covering cell the coverer DROPS
    // wrongly shows up as missing rows here (a real end-to-end guarantee
    // of covering conservativeness). Locations are synthesized from
    // orders numerics with engine-portable integer arithmetic. ----
    Q("q31_spatial_covering",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val loc = T(s, d, "orders").select(
          $"o_orderkey".as("node_id"),
          ((($"o_orderkey" * 981451653L) % 1200000000L - 600000000L) /
            lit(1e7)).as("lat"),
          ((($"o_orderkey" * 2147483629L) % 3600000000L - 1800000000L) /
            lit(1e7)).as("lng"))
        val region = new graft.spatial.Region(Seq(
          graft.spatial.BboxRegion(10, 20, 30, 50),
          graft.spatial.DiscRegion(-30, -100, 15.0)))
        val ranges = graft.spatial.Coverer.coveringRanges(region)
        val cell = graft.functions.GraftFunctions
          .s2CellId($"lat", $"lng", 16)
        val pruned = loc.where(
          graft.spatial.SpatialScan.cellInRanges(cell, ranges))
        // exact residual, formula mirrored verbatim in the oracle
        val inBbox = $"lat" >= 10 && $"lat" <= 30 &&
          $"lng" >= 20 && $"lng" <= 50
        val inDisc = degrees(acos(least(lit(1.0), greatest(lit(-1.0),
          sin(radians(lit(-30.0))) * sin(radians($"lat")) +
            cos(radians(lit(-30.0))) * cos(radians($"lat")) *
              cos(radians($"lng" - lit(-100.0))))))) <= 15.0
        pruned.where(inBbox || inDisc)
          .select($"node_id", $"lat", $"lng")
          .orderBy($"node_id")
      },
      Some("""WITH loc AS (
             |  SELECT o_orderkey AS node_id,
             |    ((o_orderkey * 981451653) % 1200000000 - 600000000) / 1e7
             |      AS lat,
             |    ((o_orderkey * 2147483629) % 3600000000 - 1800000000) / 1e7
             |      AS lng
             |  FROM orders)
             |SELECT node_id, lat, lng FROM loc
             |WHERE (lat >= 10 AND lat <= 30 AND lng >= 20 AND lng <= 50)
             |   OR degrees(acos(least(1.0, greatest(-1.0,
             |        sin(radians(-30.0))*sin(radians(lat)) +
             |        cos(radians(-30.0))*cos(radians(lat))
             |          *cos(radians(lng - (-100.0))))))) <= 15.0
             |ORDER BY node_id""".stripMargin),
      bench = true),

    // ---- declarative exact region predicate: the RegionRewrite
    // optimizer rule injects the covering prune in front of the exact
    // st_within_region residual (plan-time spatial pruning as a
    // Rule[LogicalPlan]); the oracle is plain bbox SQL ----
    Q("q43_region_rewrite",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        T(s, d, "orders").select(
          $"o_orderkey".as("node_id"),
          ((($"o_orderkey" * 981451653L) % 1200000000L - 600000000L) /
            lit(1e7)).as("lat"),
          ((($"o_orderkey" * 2147483629L) % 3600000000L - 1800000000L) /
            lit(1e7)).as("lng"))
          .where(expr(
            "st_within_region(lat, lng, '-35.0,100.0,-15.0,150.0', 'bbox')"))
          .orderBy($"node_id")
      },
      Some("""WITH loc AS (
             |  SELECT o_orderkey AS node_id,
             |    ((o_orderkey * 981451653) % 1200000000 - 600000000) / 1e7
             |      AS lat,
             |    ((o_orderkey * 2147483629) % 3600000000 - 1800000000) / 1e7
             |      AS lng
             |  FROM orders)
             |SELECT node_id, lat, lng FROM loc
             |WHERE lat >= -35.0 AND lat <= -15.0
             |  AND lng >= 100.0 AND lng <= 150.0
             |ORDER BY node_id""".stripMargin)),

    // ---- spatial k-nearest-neighbors: top-20 points nearest a query
    // point. The Spark plan NEVER ranks the planet: a disc covering
    // prunes the scan to candidate cells (the 15-degree disc provably
    // holds >= k points at every test SF), the exact great-circle
    // distance runs map-side on the survivors, and orderBy+limit
    // executes as TakeOrdered (per-partition top-k, driver merge of
    // k rows per partition — no global sort shuffle). The oracle is
    // prune-blind: full-scan ORDER BY distance LIMIT k, so a covering
    // that wrongly dropped a true neighbor fails the row compare ----
    Q("q78_spatial_knn",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val (qLat, qLng, k) = (25.0, 10.0, 20)
        val loc = T(s, d, "orders").select(
          $"o_orderkey".as("node_id"),
          ((($"o_orderkey" * 981451653L) % 1200000000L - 600000000L) /
            lit(1e7)).as("lat"),
          ((($"o_orderkey" * 2147483629L) % 3600000000L - 1800000000L) /
            lit(1e7)).as("lng"))
        val region = new graft.spatial.Region(Seq(
          graft.spatial.DiscRegion(qLat, qLng, 15.0)))
        val ranges = graft.spatial.Coverer.coveringRanges(region)
        val cell = graft.functions.GraftFunctions
          .s2CellId($"lat", $"lng", 16)
        val dist = degrees(acos(least(lit(1.0), greatest(lit(-1.0),
          sin(radians(lit(qLat))) * sin(radians($"lat")) +
            cos(radians(lit(qLat))) * cos(radians($"lat")) *
              cos(radians($"lng" - lit(qLng)))))))
        loc.where(graft.spatial.SpatialScan.cellInRanges(cell, ranges))
          .withColumn("dist", dist)
          .orderBy($"dist".asc, $"node_id".asc)
          .limit(k)
          .select($"node_id", $"lat", $"lng",
            round($"dist", 6).as("dist_deg"))
      },
      Some("""WITH loc AS (
             |  SELECT o_orderkey AS node_id,
             |    ((o_orderkey * 981451653) % 1200000000 - 600000000) / 1e7
             |      AS lat,
             |    ((o_orderkey * 2147483629) % 3600000000 - 1800000000) / 1e7
             |      AS lng
             |  FROM orders),
             |dd AS (SELECT node_id, lat, lng,
             |  degrees(acos(least(1.0, greatest(-1.0,
             |    sin(radians(25.0))*sin(radians(lat)) +
             |    cos(radians(25.0))*cos(radians(lat))
             |      *cos(radians(lng - 10.0)))))) AS dist
             |  FROM loc)
             |SELECT node_id, lat, lng, round(dist, 6) AS dist_deg
             |FROM dd ORDER BY dist ASC, node_id ASC LIMIT 20"""
        .stripMargin)),

    // ---- G4+G6+G7 osmosis .poly region end to end: two independent
    // outer loops (each an OR-region, `src/region.cpp:47-70,85-100`),
    // parsed by Region, covering-pruned by RegionRewrite, exact JTS
    // even-odd residual. The oracle is S2-blind AND JTS-blind: a pure
    // SQL ray cast (per-loop even-odd crossing parity), so BOTH the
    // covering's conservativeness for polygons and the point-in-polygon
    // semantics are verified against an independent implementation. ----
    Q("q54_poly_region",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val polyText =
          """test_region
            |loop_a
            |   12.41   18.37
            |   48.93   21.06
            |   52.17   44.52
            |   9.28    39.64
            |   12.41   18.37
            |END
            |loop_b
            |   -97.35  -41.22
            |   -61.48  -37.91
            |   -73.26  -12.57
            |END
            |END""".stripMargin
        T(s, d, "orders").select(
          $"o_orderkey".as("node_id"),
          ((($"o_orderkey" * 981451653L) % 1200000000L - 600000000L) /
            lit(1e7)).as("lat"),
          ((($"o_orderkey" * 2147483629L) % 3600000000L - 1800000000L) /
            lit(1e7)).as("lng"))
          .where(call_function("st_within_region",
            $"lat", $"lng", lit(polyText), lit("poly")))
          .orderBy($"node_id")
      },
      Some("""WITH loc AS (
             |  SELECT o_orderkey AS node_id,
             |    ((o_orderkey * 981451653) % 1200000000 - 600000000) / 1e7
             |      AS lat,
             |    ((o_orderkey * 2147483629) % 3600000000 - 1800000000) / 1e7
             |      AS lng
             |  FROM orders),
             |edges(lp, x1, y1, x2, y2) AS (VALUES
             |  (1, 12.41, 18.37, 48.93, 21.06),
             |  (1, 48.93, 21.06, 52.17, 44.52),
             |  (1, 52.17, 44.52, 9.28, 39.64),
             |  (1, 9.28, 39.64, 12.41, 18.37),
             |  (2, -97.35, -41.22, -61.48, -37.91),
             |  (2, -61.48, -37.91, -73.26, -12.57),
             |  (2, -73.26, -12.57, -97.35, -41.22)),
             |hits AS (
             |  SELECT node_id FROM loc, edges e
             |  WHERE ((e.y1 > loc.lat) <> (e.y2 > loc.lat))
             |    AND loc.lng <
             |      (e.x2 - e.x1) * (loc.lat - e.y1) / (e.y2 - e.y1) + e.x1
             |  GROUP BY node_id, e.lp
             |  HAVING count(*) % 2 = 1)
             |SELECT node_id, lat, lng FROM loc
             |WHERE node_id IN (SELECT node_id FROM hits)
             |ORDER BY node_id""".stripMargin),
      bench = true),

    // ---- G5+G6+G7 GeoJSON polygon WITH A HOLE (Feature wrapper), the
    // reference's loop-normalization case (`src/region.cpp:16-45`,
    // `test/test_region.cpp:52-75`): a point inside the hole is OUTSIDE
    // the region. One even-odd parity over ALL ring edges (outer+hole)
    // in the oracle mirrors PolyRegion's ring-parity semantics. ----
    Q("q55_geojson_hole_region",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val geojson = """{"type":"Feature","properties":{},""" +
          """"geometry":{"type":"Polygon","coordinates":[""" +
          """[[110.23,-35.41],[155.67,-33.18],[152.44,-8.77],""" +
          """[107.19,-12.93],[110.23,-35.41]],""" +
          """[[125.31,-28.64],[140.72,-27.55],[138.06,-16.42],""" +
          """[127.85,-18.71],[125.31,-28.64]]]}}"""
        T(s, d, "orders").select(
          $"o_orderkey".as("node_id"),
          ((($"o_orderkey" * 981451653L) % 1200000000L - 600000000L) /
            lit(1e7)).as("lat"),
          ((($"o_orderkey" * 2147483629L) % 3600000000L - 1800000000L) /
            lit(1e7)).as("lng"))
          .where(call_function("st_within_region",
            $"lat", $"lng", lit(geojson), lit("geojson")))
          .orderBy($"node_id")
      },
      Some("""WITH loc AS (
             |  SELECT o_orderkey AS node_id,
             |    ((o_orderkey * 981451653) % 1200000000 - 600000000) / 1e7
             |      AS lat,
             |    ((o_orderkey * 2147483629) % 3600000000 - 1800000000) / 1e7
             |      AS lng
             |  FROM orders),
             |edges(x1, y1, x2, y2) AS (VALUES
             |  (110.23, -35.41, 155.67, -33.18),
             |  (155.67, -33.18, 152.44, -8.77),
             |  (152.44, -8.77, 107.19, -12.93),
             |  (107.19, -12.93, 110.23, -35.41),
             |  (125.31, -28.64, 140.72, -27.55),
             |  (140.72, -27.55, 138.06, -16.42),
             |  (138.06, -16.42, 127.85, -18.71),
             |  (127.85, -18.71, 125.31, -28.64)),
             |hits AS (
             |  SELECT node_id FROM loc, edges e
             |  WHERE ((e.y1 > loc.lat) <> (e.y2 > loc.lat))
             |    AND loc.lng <
             |      (e.x2 - e.x1) * (loc.lat - e.y1) / (e.y2 - e.y1) + e.x1
             |  GROUP BY node_id
             |  HAVING count(*) % 2 = 1)
             |SELECT node_id, lat, lng FROM loc
             |WHERE node_id IN (SELECT node_id FROM hits)
             |ORDER BY node_id""".stripMargin)),

    // ---- A1 as the reference actually runs it: Roaring-style bitmap
    // ID-set semi-join (`src/extract.cpp:149-151`, SURVEY §2.9). The
    // small side aggregates into one compressed bitmap (bitmap_agg,
    // canonical bytes); the big side filters map-side via the codegen'd
    // bitmap_contains probe — zero shuffle of the big table. Oracle is
    // the plain IN-subquery the construct must equal. ----
    Q("q56_bitmap_semijoin",
      (s, d) => {
        import s.implicits._
        graft.functions.GraftFunctions.register(s)
        val buyers = T(s, d, "customer")
          .where($"c_mktsegment" === "BUILDING")
          .select($"c_custkey")
        graft.ops.BitmapSemi
          .filterIn(T(s, d, "orders"), $"o_custkey", buyers, "c_custkey")
          .select($"o_orderkey".as("order_id"),
            $"o_custkey".as("cust_id"))
          .orderBy($"order_id")
      },
      Some("""SELECT o_orderkey AS order_id, o_custkey AS cust_id
             |FROM orders
             |WHERE o_custkey IN
             |  (SELECT c_custkey FROM customer
             |   WHERE c_mktsegment = 'BUILDING')
             |ORDER BY order_id""".stripMargin)),

    // ---- tumbling event-time window (streaming agg shape, run batch) ----
    Q("q19_tumbling_window",
      (s, d) => {
        import s.implicits._
        T(s, d, "events")
          .groupBy(date_format(date_trunc("hour", $"ts"),
            "yyyy-MM-dd HH:mm:ss").as("hour_start"), $"event_type")
          .agg(count(lit(1)).as("n"),
            moneySum($"value").as("sum_value"))
          .orderBy($"hour_start", $"event_type")
      },
      Some("""SELECT strftime(date_trunc('hour', ts),
             |                '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
             |  count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_value
             |FROM events GROUP BY 1, 2
             |ORDER BY hour_start, event_type""".stripMargin)),

    // ---- gap-based session windows (native session_window — the
    // other streaming agg shape, run batch). A session's end is
    // last-event + gap, and an event landing EXACTLY at the previous
    // end starts a new session (window end is exclusive) — the oracle
    // mirrors that with a `>= INTERVAL` break in the classic
    // gaps-and-islands form. Physical plan: one shuffle on user_id,
    // in-partition session merge; money through exact DECIMAL ----
    Q("q67_session_windows",
      (s, d) => {
        import s.implicits._
        T(s, d, "events")
          .groupBy($"user_id", session_window($"ts", "2 hours"))
          .agg(count(lit(1)).as("n_events"),
            moneySum($"value").as("sum_value"))
          .select($"user_id",
            date_format($"session_window.start", "yyyy-MM-dd HH:mm:ss")
              .as("session_start"),
            date_format($"session_window.end", "yyyy-MM-dd HH:mm:ss")
              .as("session_end"),
            $"n_events", $"sum_value")
          .orderBy($"user_id", $"session_start")
      },
      Some("""WITH e AS (SELECT user_id, event_id, ts, value,
             |  CASE WHEN lag(ts) OVER w IS NULL
             |         OR ts - lag(ts) OVER w >= INTERVAL 2 HOUR
             |       THEN 1 ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |g AS (SELECT user_id, ts, value,
             |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                 ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM e)
             |SELECT user_id,
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  strftime(max(ts) + INTERVAL 2 HOUR,
             |           '%Y-%m-%d %H:%M:%S') AS session_end,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_value
             |FROM g GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // ---- sliding (hopping) windows: 2-hour windows every hour, so each
    // event lands in exactly size/slide = 2 windows. Spark's native
    // `window(ts, size, slide)` expands the assignment map-side (a
    // projection, no join); the oracle mirrors it by unioning the two
    // hour-offset window starts. One shuffle on (window, event_type) ----
    Q("q81_sliding_window",
      (s, d) => {
        import s.implicits._
        T(s, d, "events")
          .groupBy(window($"ts", "2 hours", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n"), moneySum($"value").as("sum_value"))
          .select(
            date_format($"window.start", "yyyy-MM-dd HH:mm:ss")
              .as("win_start"),
            $"event_type", $"n", $"sum_value")
          .orderBy($"win_start", $"event_type")
      },
      Some("""WITH w AS (
             |  SELECT event_type, value,
             |    date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS ws
             |  FROM events, generate_series(0, 1) AS t(k))
             |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
             |  event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_value
             |FROM w GROUP BY 1, 2
             |ORDER BY win_start, event_type""".stripMargin)),

    // ---- q114: WATERMARKED streaming windowed aggregation,
    // oracle-gated — the `withWatermark + window() + Append` shape run
    // over a deterministic 5-batch replay of `events`: time-ordered
    // thirds (batches 1-3), a deliberately LATE batch 4 (the first
    // third's user_id%7==0 rows arriving after everything else), and a
    // far-future sentinel (batch 5) whose watermark advance closes
    // every real window so Append emits them all. The oracle mirrors
    // Spark's exact late-drop rule — late filtering uses the PREVIOUS
    // batch's watermark (SPARK-40925), so a row in batch k is dropped
    // iff its window end <= floor(max_us(batches <= k-2)/1000) ms -
    // delay — in pure integer arithmetic. With delay = 40% of the time
    // range, the late batch's filter watermark sits at lo + 27% of the
    // range: ~80% of the late rows drop, ~20% survive and MERGE into
    // their still-live windows (never evicted below that same
    // watermark, so append emits each key exactly once) — both paths
    // and the merge are exercised value-exactly at any SF. Constants
    // (window size ~1/48 of the range, delay, span cuts) derive from
    // min/max epoch micros by integer division on both sides ----
    Q("q114_streaming_window",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"ts", $"event_type", $"value", $"user_id",
            unix_micros($"ts").as("us"))
        val r = ev.agg(min($"us"), max($"us")).head()
        val (loUs, hiUs) = (r.getLong(0), r.getLong(1))
        val rangeS = hiUs / 1000000L + 1L - loUs / 1000000L
        val wS = math.max(rangeS / 48L, 1L)
        val delayS = math.max(rangeS * 2L / 5L, 1L)
        val span = (hiUs - loUs) / 3L + 1L
        val (cut1, cut2) = (loUs + span, loUs + 2L * span)
        val late = $"user_id" % 7 === 0
        val cols = Seq($"ts", $"event_type", $"value")
        // sentinel ts: watermark lands 2 windows past hi — every real
        // window closes; the sentinel's own window never does (its end
        // is above its own watermark), so Append never emits it
        val sentinel = s.range(1).select(
          timestamp_micros(lit(hiUs + (delayS + 2L * wS) * 1000000L))
            .as("ts"),
          lit("SENTINEL").as("event_type"), lit(0.0).as("value"))
        val feed = graft.streaming.FeedStage.stageBatches(Seq(
          ev.where($"us" < cut1 && !late).select(cols: _*),
          ev.where($"us" >= cut1 && $"us" < cut2).select(cols: _*),
          ev.where($"us" >= cut2).select(cols: _*),
          ev.where($"us" < cut1 && late).select(cols: _*), // late
          sentinel))
        graft.streaming.StreamingWindow.windowedAgg(s, feed, wS, delayS)
          .select(date_format($"win_start", "yyyy-MM-dd HH:mm:ss")
              .as("win_start"),
            $"event_type", $"n", $"sum_value")
          .orderBy($"win_start", $"event_type")
      },
      Some("""WITH b AS (SELECT epoch_us(min(ts)) AS lo,
             |                  epoch_us(max(ts)) AS hi FROM events),
             |c AS (SELECT lo, hi,
             |        greatest((hi // 1000000 + 1 - lo // 1000000) // 48,
             |                 1) AS ws,
             |        greatest((hi // 1000000 + 1 - lo // 1000000) * 2 // 5,
             |                 1) AS dl,
             |        (hi - lo) // 3 + 1 AS span
             |      FROM b),
             |r AS (SELECT epoch_us(ts) AS us, event_type, value,
             |        CASE WHEN epoch_us(ts) < lo + span THEN
             |               CASE WHEN user_id % 7 = 0 THEN 4 ELSE 1 END
             |             WHEN epoch_us(ts) < lo + 2 * span THEN 2
             |             ELSE 3 END AS batch,
             |        ws, dl
             |      FROM events, c),
             |mx AS (SELECT batch, max(us) AS mb FROM r GROUP BY batch),
             |wm AS (SELECT r2.batch, max(mx.mb) AS prevmax
             |       FROM (SELECT DISTINCT batch FROM r) r2
             |       LEFT JOIN mx ON mx.batch < r2.batch - 1
             |       GROUP BY r2.batch),
             |k AS (SELECT r.us, r.event_type, r.value, r.ws
             |      FROM r JOIN wm ON wm.batch = r.batch
             |      WHERE wm.prevmax IS NULL
             |         OR ((r.us // (r.ws * 1000000)) + 1) * r.ws * 1000000
             |            > (wm.prevmax // 1000) * 1000 - r.dl * 1000000)
             |SELECT strftime(make_timestamp(
             |         (us // (ws * 1000000)) * ws * 1000000),
             |         '%Y-%m-%d %H:%M:%S') AS win_start,
             |  event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_value
             |FROM k GROUP BY 1, 2
             |ORDER BY win_start, event_type""".stripMargin)),

    // ---- q115: STREAMING session windows, oracle-gated — q67's
    // native `session_window` run as a real watermarked stream
    // (Append) over a TIME-ORDERED 4-batch replay of `events` plus a
    // far-future sentinel. Ordered replay makes the stream equal batch
    // sessionization EXACTLY (nothing is ever late, and an emitted
    // session is provably unreopenable — see StreamingWindow
    // .sessionAgg), so the oracle is q67's gaps-and-islands SQL
    // verbatim; what the stream adds, and what this gates, is the
    // cross-batch session STATE MERGE (sessions spanning batch
    // boundaries must reassemble from the session state store) and
    // watermark-driven emission (the sentinel pushes the watermark
    // past every real session's end+gap so Append emits them all;
    // the sentinel's own session stays open and is never emitted) ----
    Q("q115_streaming_sessions",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"ts", $"user_id", $"value",
            unix_micros($"ts").as("us"))
        val r = ev.agg(min($"us"), max($"us")).head()
        val (loUs, hiUs) = (r.getLong(0), r.getLong(1))
        val (gapS, delayS) = (7200L, 3600L)
        val qspan = (hiUs - loUs) / 4L + 1L
        val cols = Seq($"ts", $"user_id", $"value")
        val sentinel = s.range(1).select(
          timestamp_micros(lit(hiUs + (delayS + 2L * gapS) * 1000000L))
            .as("ts"),
          lit(-1L).as("user_id"), lit(0.0).as("value"))
        val feed = graft.streaming.FeedStage.stageBatches(
          (0L until 4L).map(k =>
            ev.where($"us" >= loUs + k * qspan &&
              $"us" < loUs + (k + 1) * qspan).select(cols: _*)) :+
            sentinel)
        graft.streaming.StreamingWindow
          .sessionAgg(s, feed, gapS, delayS)
          .where($"user_id" >= 0) // drop the sentinel defensively
          .select($"user_id",
            date_format($"session_start", "yyyy-MM-dd HH:mm:ss")
              .as("session_start"),
            date_format($"session_end", "yyyy-MM-dd HH:mm:ss")
              .as("session_end"),
            $"n_events", $"sum_value")
          .orderBy($"user_id", $"session_start")
      },
      Some("""WITH e AS (SELECT user_id, event_id, ts, value,
             |  CASE WHEN lag(ts) OVER w IS NULL
             |         OR ts - lag(ts) OVER w >= INTERVAL 2 HOUR
             |       THEN 1 ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |g AS (SELECT user_id, ts, value,
             |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                 ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM e)
             |SELECT user_id,
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  strftime(max(ts) + INTERVAL 2 HOUR,
             |           '%Y-%m-%d %H:%M:%S') AS session_end,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_value
             |FROM g GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // ---- as-of (point-in-time) join: each purchase picks up the most
    // recent prior-or-equal click of the same user — the feature-store
    // join Spark has no native operator for. Implemented as the SCALABLE
    // shape: tag both streams, union, ONE shuffle on user_id, and a
    // linear in-partition `last(..., ignoreNulls)` carry — never the
    // naive per-row range join (quadratic in events-per-user). Ties
    // are broken (ts, side, event_id) with clicks first, so an
    // equal-timestamp click IS visible to the purchase — both engines
    // order identically ----
    Q("q86_asof_join",
      (s, d) => {
        import s.implicits._
        val e = T(s, d, "events")
          .where($"event_type".isin("click", "purchase"))
          .select($"event_id", $"user_id", $"ts", $"value",
            when($"event_type" === "click", 0).otherwise(1).as("side"))
        val w = Window.partitionBy($"user_id")
          .orderBy($"ts", $"side", $"event_id")
          .rowsBetween(Window.unboundedPreceding, 0)
        e.withColumn("click_id",
            last(when($"side" === 0, $"event_id"), ignoreNulls = true)
              .over(w))
          .withColumn("click_value",
            last(when($"side" === 0, $"value"), ignoreNulls = true)
              .over(w))
          .where($"side" === 1)
          .select($"event_id", $"user_id",
            date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            $"value", $"click_id", $"click_value")
          .orderBy($"event_id")
      },
      Some("""WITH u AS (
             |  SELECT event_id, user_id, ts, value,
             |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END
             |      AS side
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |w AS (
             |  SELECT event_id, user_id, ts, value, side,
             |    last_value(CASE WHEN side = 0 THEN event_id END
             |               IGNORE NULLS) OVER win AS click_id,
             |    last_value(CASE WHEN side = 0 THEN value END
             |               IGNORE NULLS) OVER win AS click_value
             |  FROM u
             |  WINDOW win AS (PARTITION BY user_id
             |                 ORDER BY ts, side, event_id
             |                 ROWS UNBOUNDED PRECEDING))
             |SELECT event_id, user_id,
             |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             |  value, click_id, click_value
             |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin)),

    // ---- range(-band) join: price bands are a tiny generated dimension,
    // so the non-equi join broadcasts it and the fact side streams
    // map-side (BroadcastNestedLoopJoin over 10 bands = O(10) compares
    // per row, no fact shuffle before the final agg). At a large band
    // count the right plan flips to a binning expression or a
    // range-bucketed sort-merge — the band table here is the
    // demonstrate-the-strategy size ----
    Q("q87_range_band_join",
      (s, d) => {
        import s.implicits._
        val bands = s.range(0, 10).select($"id".as("band"),
          ($"id" * 11000.0).as("lo"), (($"id" + 1) * 11000.0).as("hi"))
        T(s, d, "lineitem")
          .join(broadcast(bands),
            $"l_extendedprice" >= $"lo" && $"l_extendedprice" < $"hi")
          .groupBy($"band")
          .agg(count(lit(1)).as("n"),
            moneySum($"l_extendedprice").as("sum_price"),
            min($"l_extendedprice").as("min_price"),
            max($"l_extendedprice").as("max_price"))
          .orderBy($"band")
      },
      Some("""WITH bands AS (
             |  SELECT b AS band, b * 11000.0 AS lo,
             |         (b + 1) * 11000.0 AS hi
             |  FROM generate_series(0, 9) AS t(b))
             |SELECT band, count(*) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
             |       AS DOUBLE) AS sum_price,
             |  min(l_extendedprice) AS min_price,
             |  max(l_extendedprice) AS max_price
             |FROM lineitem JOIN bands
             |  ON l_extendedprice >= lo AND l_extendedprice < hi
             |GROUP BY band ORDER BY band""".stripMargin)),

    // ---- pivot: per-user event-type counts turned wide (the report
    // shape). Spark's pivot with EXPLICIT values is a single hash-agg
    // shuffle — no second values-discovery job, and codegen keeps the
    // conditional counters fused. Count over no rows pivots to null,
    // so both engines coalesce to 0 ----
    Q("q88_pivot_events",
      (s, d) => {
        import s.implicits._
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = T(s, d, "events")
          .groupBy($"user_id")
          .pivot("event_type", types)
          .agg(count(lit(1)))
        p.select($"user_id" +: types.map(t =>
            coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy($"user_id")
      },
      Some("""SELECT user_id,
             |  count(*) FILTER (event_type = 'click') AS click,
             |  count(*) FILTER (event_type = 'error') AS error,
             |  count(*) FILTER (event_type = 'purchase') AS purchase,
             |  count(*) FILTER (event_type = 'signup') AS signup,
             |  count(*) FILTER (event_type = 'view') AS view
             |FROM events GROUP BY user_id
             |ORDER BY user_id""".stripMargin)),

    // ---- semi-structured JSON extraction: props carries a JSON doc;
    // `from_json` with an EXPLICIT schema is the codegen'd fast path (a
    // schemaless get_json_object re-parses per field; schema inference
    // would cost a discovery job). Malformed docs surface as null —
    // counted, not dropped ----
    Q("q89_json_props",
      (s, d) => {
        import s.implicits._
        T(s, d, "events")
          .select($"event_type",
            from_json($"props", "k BIGINT", Map.empty[String, String])
              .getField("k").as("k"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
            min($"k").as("min_k"), max($"k").as("max_k"),
            count(when($"k".isNull, 1)).as("n_null"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
             |    AS BIGINT) AS sum_k,
             |  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
             |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
             |  count(*) FILTER (json_extract(props, '$.k') IS NULL)
             |    AS n_null
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ---- rollup (the OLAP subtotal cube slice): one pass produces
    // (flag, status), per-flag, and grand-total rows — Spark expands the
    // grouping sets map-side and still runs a single hash-agg shuffle.
    // grouping_id disambiguates rollup-nulls from data nulls ----
    Q("q90_rollup",
      (s, d) => {
        import s.implicits._
        T(s, d, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n"), moneySum($"l_quantity").as("sum_qty"))
          .select($"gid",
            coalesce($"l_returnflag", lit("ALL")).as("flag"),
            coalesce($"l_linestatus", lit("ALL")).as("status"),
            $"n", $"sum_qty")
          .orderBy($"gid", $"flag", $"status")
      },
      Some("""SELECT
             |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
             |    AS gid,
             |  coalesce(l_returnflag, 'ALL') AS flag,
             |  coalesce(l_linestatus, 'ALL') AS status,
             |  count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_qty
             |FROM lineitem
             |GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY gid, flag, status""".stripMargin)),

    // ---- salted skew join: the hot-key mitigation when one join key
    // dominates (AQE's skew-join split handles sort-merge skew, but a
    // pathological SINGLE key still lands in one task without salting).
    // The fact side gets a deterministic salt in [0, 4); the dimension
    // side replicates 4x with every salt value; joining on (key, salt)
    // fans each hot key over 4 tasks. Salt values never reach the
    // output, so the result is byte-identical to the unsalted join —
    // which is exactly what the oracle runs ----
    Q("q91_salted_join",
      (s, d) => {
        import s.implicits._
        val nSalt = 4
        val li = T(s, d, "lineitem").withColumn("salt",
          pmod(hash($"l_linenumber", $"l_partkey"), lit(nSalt)))
        val ord = T(s, d, "orders").withColumn("salt",
          explode(sequence(lit(0), lit(nSalt - 1))))
        li.join(ord, li("l_orderkey") === ord("o_orderkey") &&
            li("salt") === ord("salt"))
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            moneySum($"l_extendedprice").as("revenue"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
             |       AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ---- ordered conversion funnel: signup -> first later click ->
    // first later purchase, per user. Each stage is a conditional min
    // over the PREVIOUS stage's timestamp — three hash-aggs all keyed
    // on user_id, so the three joins are co-partitioned on one shuffle
    // key (no re-shuffle between stages). Output = the funnel counts ----
    Q("q94_funnel",
      (s, d) => {
        import s.implicits._
        val e = T(s, d, "events")
        val su = e.where($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"ts").as("ts_s"))
        val cl = e.where($"event_type" === "click")
          .join(su, "user_id").where($"ts" > $"ts_s")
          .groupBy($"user_id").agg(min($"ts").as("ts_c"))
        val pu = e.where($"event_type" === "purchase")
          .join(cl, "user_id").where($"ts" > $"ts_c")
          .groupBy($"user_id").agg(min($"ts").as("ts_p"))
        su.agg(count(lit(1)).as("n_signup"))
          .crossJoin(cl.agg(count(lit(1)).as("n_click_after")))
          .crossJoin(pu.agg(count(lit(1)).as("n_purchase_after")))
      },
      Some("""WITH su AS (SELECT user_id, min(ts) AS ts_s FROM events
             |  WHERE event_type = 'signup' GROUP BY user_id),
             |cl AS (SELECT e.user_id, min(ts) AS ts_c FROM events e
             |  JOIN su USING (user_id)
             |  WHERE event_type = 'click' AND ts > ts_s
             |  GROUP BY e.user_id),
             |pu AS (SELECT e.user_id, min(ts) AS ts_p FROM events e
             |  JOIN cl USING (user_id)
             |  WHERE event_type = 'purchase' AND ts > ts_c
             |  GROUP BY e.user_id)
             |SELECT (SELECT count(*) FROM su) AS n_signup,
             |  (SELECT count(*) FROM cl) AS n_click_after,
             |  (SELECT count(*) FROM pu) AS n_purchase_after"""
        .stripMargin)),

    // ---- column profiling (the data-quality audit table): per-column
    // row/null/exact-distinct counts and min/max for ALL profiled
    // columns in ONE aggregate over ONE scan (the multiple distinct
    // counts expand via Spark's Expand operator — still a single pass
    // of the fact table), then stack() unpivots the wide row into the
    // per-column report. A union-of-aggregates formulation rescans the
    // table once per column ----
    Q("q96_profile",
      (s, d) => {
        import s.implicits._
        val li = T(s, d, "lineitem")
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
        val aggs = count(lit(1)).as("n") +: cols.zipWithIndex.flatMap {
          case (c, i) => Seq(
            count(when(col(c).isNull, 1)).as(s"nn$i"),
            countDistinct(col(c)).as(s"nd$i"),
            min(col(c)).cast("double").as(s"mn$i"),
            max(col(c)).cast("double").as(s"mx$i"))
        }
        val stackArgs = cols.zipWithIndex
          .map { case (c, i) => s"'$c', nn$i, nd$i, mn$i, mx$i" }
          .mkString(", ")
        li.agg(aggs.head, aggs.tail: _*)
          .select($"n", expr(s"stack(${cols.size}, $stackArgs) AS " +
            "(col_name, n_null, n_distinct, min_v, max_v)"))
          .select($"col_name", $"n", $"n_null", $"n_distinct",
            $"min_v", $"max_v")
          .orderBy($"col_name")
      },
      Some("""SELECT col_name, n, n_null, n_distinct, min_v, max_v
             |FROM (
             |  SELECT 'l_quantity' AS col_name, count(*) AS n,
             |    count(*) FILTER (l_quantity IS NULL) AS n_null,
             |    count(DISTINCT l_quantity) AS n_distinct,
             |    CAST(min(l_quantity) AS DOUBLE) AS min_v,
             |    CAST(max(l_quantity) AS DOUBLE) AS max_v
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_extendedprice', count(*),
             |    count(*) FILTER (l_extendedprice IS NULL),
             |    count(DISTINCT l_extendedprice),
             |    CAST(min(l_extendedprice) AS DOUBLE),
             |    CAST(max(l_extendedprice) AS DOUBLE)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_discount', count(*),
             |    count(*) FILTER (l_discount IS NULL),
             |    count(DISTINCT l_discount),
             |    CAST(min(l_discount) AS DOUBLE),
             |    CAST(max(l_discount) AS DOUBLE)
             |  FROM lineitem)
             |ORDER BY col_name""".stripMargin)),

    // ---- the TPC-H Q5 shape: a 6-table star join with a small-dim
    // region filter. Catalyst's join reorder + AQE pick broadcasts for
    // region/nation/supplier and leave lineitem-orders as the single
    // big co-keyed join — the fact table is never shuffled more than
    // once. The local-supplier condition (customer and supplier in the
    // same nation) rides the join predicates, not a post-filter ----
    Q("q97_local_supplier_volume",
      (s, d) => {
        import s.implicits._
        T(s, d, "lineitem")
          .join(T(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(T(s, d, "customer"), $"o_custkey" === $"c_custkey")
          .join(T(s, d, "supplier"), $"l_suppkey" === $"s_suppkey" &&
            $"c_nationkey" === $"s_nationkey")
          .join(T(s, d, "nation"), $"s_nationkey" === $"n_nationkey")
          .join(T(s, d, "region"), $"n_regionkey" === $"r_regionkey")
          .where($"r_name" === "ASIA")
          .groupBy($"n_name")
          .agg(moneySum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .as("revenue"),
            count(lit(1)).as("n"))
          .orderBy($"revenue".desc, $"n_name")
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
             |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             |  count(*) AS n
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |  AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name
             |ORDER BY revenue DESC, n_name""".stripMargin)),

    // ---- robust outlier stats (median absolute deviation): per event
    // type, med = exact median, mad = median of |v - med|, outliers =
    // |v - med| > 3*mad. Two grouped EXACT percentiles + co-keyed
    // joins, all on the same small grouping key; the threshold compare
    // runs on unrounded doubles (identical on both engines — rounding
    // only touches the reported stats) ----
    Q("q98_mad_outliers",
      (s, d) => {
        import s.implicits._
        val e = T(s, d, "events").select($"event_type", $"value")
        val med = e.groupBy($"event_type")
          .agg(percentile($"value", lit(0.5)).as("med"))
        val dev = e.join(med, "event_type")
          .withColumn("ad", abs($"value" - $"med"))
        val mad = dev.groupBy($"event_type")
          .agg(percentile($"ad", lit(0.5)).as("mad"))
        dev.join(mad, "event_type")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            count(when($"ad" > $"mad" * 3, 1)).as("n_out"),
            round(max($"med"), 6).as("med_v"),
            round(max($"mad"), 6).as("mad_v"))
          .orderBy($"event_type")
      },
      Some("""WITH med AS (SELECT event_type,
             |  quantile_cont(value, 0.5) AS med
             |  FROM events GROUP BY 1),
             |dev AS (SELECT e.event_type, e.value, m.med,
             |  abs(e.value - m.med) AS ad
             |  FROM events e JOIN med m USING (event_type)),
             |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
             |        FROM dev GROUP BY 1)
             |SELECT d.event_type, count(*) AS n,
             |  count(*) FILTER (d.ad > m.mad * 3) AS n_out,
             |  round(max(d.med), 6) AS med_v,
             |  round(max(m.mad), 6) AS mad_v
             |FROM dev d JOIN mad m USING (event_type)
             |GROUP BY d.event_type ORDER BY d.event_type"""
        .stripMargin)),

    // ---- multiset algebra (A1's non-distinct forms): EXCEPT ALL /
    // INTERSECT ALL preserve multiplicities — the shapes audits use to
    // answer "how many occurrences survive", where the distinct forms
    // (q06) lose counts. Both plan as one co-keyed shuffle, no
    // row-explosion. Keys with multiplicity: l_suppkey appears once
    // per lineitem ----
    Q("q101_multiset_ops",
      (s, d) => {
        import s.implicits._
        val li = T(s, d, "lineitem").select($"l_suppkey".as("suppkey"))
        val rich = T(s, d, "supplier").where($"s_acctbal" > 5000.0)
          .select($"s_suppkey".as("suppkey"))
        val ex = li.exceptAll(rich)
          .groupBy($"suppkey").agg(count(lit(1)).as("n"))
        val in = li.intersectAll(rich)
          .groupBy($"suppkey").agg(count(lit(1)).as("n"))
        ex.select(lit("except_all").as("op"), $"suppkey", $"n")
          .unionAll(in.select(lit("intersect_all").as("op"),
            $"suppkey", $"n"))
          .orderBy($"op", $"suppkey")
      },
      Some("""WITH li AS (SELECT l_suppkey AS suppkey FROM lineitem),
             |rich AS (SELECT s_suppkey AS suppkey FROM supplier
             |         WHERE s_acctbal > 5000.0),
             |ex AS (SELECT suppkey FROM li
             |       EXCEPT ALL SELECT suppkey FROM rich),
             |ia AS (SELECT suppkey FROM li
             |       INTERSECT ALL SELECT suppkey FROM rich)
             |SELECT 'except_all' AS op, suppkey, count(*) AS n
             |FROM ex GROUP BY suppkey
             |UNION ALL
             |SELECT 'intersect_all', suppkey, count(*) FROM ia
             |GROUP BY suppkey
             |ORDER BY op, suppkey""".stripMargin)),

    // ---- null-safe equality join (<=> / IS NOT DISTINCT FROM): the
    // dimension-enrichment shape where NULL is a real key ("unknown"
    // bucket) that must match the dimension's NULL row — a plain
    // equi-join silently drops those rows. Still hash-joinable (both
    // engines treat null-safe equality as a join key), one co-keyed
    // shuffle ----
    Q("q102_nullsafe_join",
      (s, d) => {
        import s.implicits._
        val e = T(s, d, "events")
          .select($"event_id",
            when($"value" < 10.0, ($"event_id" % 3).cast("long"))
              .otherwise(lit(null).cast("long")).as("k"))
        val dim = Seq((Some(0L), "alpha"), (Some(1L), "beta"),
            (Some(2L), "gamma"), (None, "unknown"))
          .toDF("k", "label")
        e.join(dim, e("k") <=> dim("k"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n"), min($"event_id").as("first_id"))
          .orderBy($"label")
      },
      Some("""WITH e AS (SELECT event_id,
             |  CASE WHEN value < 10.0 THEN event_id % 3
             |       ELSE NULL END AS k
             |  FROM events),
             |dim AS (SELECT * FROM (VALUES (0, 'alpha'), (1, 'beta'),
             |        (2, 'gamma'), (NULL, 'unknown')) AS t(k, label))
             |SELECT label, count(*) AS n, min(event_id) AS first_id
             |FROM e JOIN dim ON e.k IS NOT DISTINCT FROM dim.k
             |GROUP BY label ORDER BY label""".stripMargin)),

    // ---- cohort retention matrix: users bucketed by first-activity
    // week (the cohort), then distinct-user counts per (cohort,
    // weeks-since-cohort offset) — the canonical product-analytics
    // operator. Weeks are pure integer epoch-µs division (no calendar
    // functions), so both engines bucket identically. Shape: one
    // per-user min agg (co-keyed with the event scan's user join),
    // one distinct-count agg on the small (cohort, offset) key; at
    // 100 TB both shuffles key on user_id/cohort and the second input
    // is already (user, week)-deduplicated, so the wide fact table is
    // scanned once ----
    Q("q125_retention_cohorts",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"user_id",
            expr("unix_micros(ts) div 604800000000").as("week"))
        val cohort = ev.groupBy($"user_id")
          .agg(min($"week").as("cohort_week"))
        ev.join(cohort, "user_id")
          .groupBy($"cohort_week",
            ($"week" - $"cohort_week").as("offset_weeks"))
          .agg(countDistinct($"user_id").as("n_users"))
          .orderBy($"cohort_week", $"offset_weeks")
      },
      Some("""WITH ev AS (SELECT user_id,
             |  epoch_us(ts) // 604800000000 AS week
             |  FROM events),
             |cohort AS (SELECT user_id, min(week) AS cohort_week
             |           FROM ev GROUP BY user_id)
             |SELECT c.cohort_week,
             |  ev.week - c.cohort_week AS offset_weeks,
             |  CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
             |FROM ev JOIN cohort c USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_week, offset_weeks"""
        .stripMargin)),

    // ---- first-touch attribution: each purchase attributes to the
    // user's EARLIEST non-purchase event in the preceding 7 days
    // ('direct' when the lookback is empty) — the conversion-
    // attribution join every product-analytics stack runs. Shape: a
    // co-keyed range join on user_id (purchases x touches, both sides
    // pre-filtered), rank-1 per purchase via WindowGroupLimit, then a
    // 5-key count. Time math is integer epoch-µs so the 7-day band is
    // engine-identical ----
    Q("q134_attribution",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"event_id", $"user_id", $"event_type",
            expr("unix_micros(ts)").as("tus"))
        val pur = ev.where($"event_type" === "purchase")
          .select($"user_id", $"event_id".as("p_id"),
            $"tus".as("p_tus"))
        val touch = ev.where($"event_type" =!= "purchase")
        val ft = pur.join(touch,
            pur("user_id") === touch("user_id") &&
              $"tus" >= $"p_tus" - 604800000000L &&
              $"tus" < $"p_tus")
          .select($"p_id", $"event_type", $"tus", $"event_id")
          .withColumn("rk", row_number().over(Window
            .partitionBy($"p_id").orderBy($"tus", $"event_id")))
          .where($"rk" === 1)
          .select($"p_id", $"event_type".as("ft_type"))
        pur.join(ft, Seq("p_id"), "left")
          .select(coalesce($"ft_type", lit("direct")).as("attributed"))
          .groupBy($"attributed")
          .agg(count(lit(1)).as("n_purchases"))
          .orderBy($"attributed")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type,
             |  epoch_us(ts) AS tus FROM events),
             |pur AS (SELECT user_id, event_id AS p_id, tus AS p_tus
             |        FROM ev WHERE event_type = 'purchase'),
             |ft AS (SELECT p.p_id, e.event_type,
             |    row_number() OVER (PARTITION BY p.p_id
             |      ORDER BY e.tus, e.event_id) AS rk
             |  FROM pur p JOIN ev e ON e.user_id = p.user_id
             |    AND e.event_type != 'purchase'
             |    AND e.tus >= p.p_tus - 604800000000
             |    AND e.tus < p.p_tus),
             |att AS (SELECT p.p_id,
             |    coalesce(f.event_type, 'direct') AS attributed
             |  FROM pur p LEFT JOIN (SELECT p_id, event_type FROM ft
             |                        WHERE rk = 1) f USING (p_id))
             |SELECT attributed, CAST(count(*) AS BIGINT) AS n_purchases
             |FROM att GROUP BY attributed ORDER BY attributed"""
        .stripMargin)),

    // ---- STREAM-STREAM watermarked interval join (see
    // [[graft.streaming.StreamingJoin]]): purchases and clicks read
    // as two watermarked streams off the same time-ordered 4-batch
    // replay, joined on user_id + a 1-hour event-time band. Ordered
    // replay makes the streamed inner join provably equal the batch
    // interval join (rows evict only after their whole match band is
    // watermark-complete), so the oracle is the plain batch join in
    // integer epoch-µs ----
    Q("q136_stream_stream_join",
      (s, d) => {
        import s.implicits._
        // stage only the two joined event types: the filter belongs in
        // the FEED (at 100 TB/day you subscribe to the topics you
        // join, not the whole firehose) — 2/5 of the rows replay
        val ev = T(s, d, "events")
          .where($"event_type".isin("click", "purchase"))
          .select($"event_id", $"user_id", $"event_type", $"ts",
            unix_micros($"ts").as("us"))
        val (_, _, slice) = timeSlices(ev, 4)
        val cols = Seq($"event_id", $"user_id", $"event_type", $"ts")
        val feed = graft.streaming.FeedStage.stageBatches(
          (0 until 4).map(k => slice(k).select(cols: _*)))
        val schema =
          "event_id BIGINT, user_id BIGINT, event_type STRING, " +
            "ts TIMESTAMP"
        def src() = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
        val clicks = src().where($"event_type" === "click")
          .select($"event_id".as("c_id"), $"user_id".as("c_user"),
            $"ts".as("c_ts"))
          .withWatermark("c_ts", "10 minutes")
        val purchases = src().where($"event_type" === "purchase")
          .select($"event_id".as("p_id"), $"user_id".as("p_user"),
            $"ts".as("p_ts"))
          .withWatermark("p_ts", "10 minutes")
        val ckpt = graft.TempDirs.create("graft-q136-ckpt")
        val outDir = graft.TempDirs.create("graft-q136-out")
        val sq = graft.streaming.StatePartitions.sized(s, 8) {
          graft.streaming.StreamingJoin
            .purchaseClickPairs(purchases, clicks)
            .writeStream.outputMode("append").format("parquet")
            .option("checkpointLocation", ckpt)
            .trigger(
              org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(outDir)
        }
        sq.awaitTermination()
        s.read.schema("p_id BIGINT, c_id BIGINT").parquet(outDir)
          .orderBy($"p_id", $"c_id")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type,
             |  epoch_us(ts) AS us FROM events)
             |SELECT p.event_id AS p_id, c.event_id AS c_id
             |FROM ev p JOIN ev c ON c.user_id = p.user_id
             |  AND p.event_type = 'purchase'
             |  AND c.event_type = 'click'
             |  AND c.us >= p.us - 3600000000 AND c.us < p.us
             |ORDER BY p_id, c_id""".stripMargin)),

    // ---- streaming bounded-state dedup (the built-in
    // `dropDuplicatesWithinWatermark`): each micro-batch REDELIVERS
    // the tail 20% of the previous batch — the at-least-once upstream
    // this operator exists to absorb — and the dedup state, bounded by
    // the watermark delay (one batch span, > the overlap), drops every
    // redelivered row, reconstructing the original table exactly.
    // Complements q104's custom-state dedup: there the seen-set is
    // PERMANENT (content dedup forever), here state expires with the
    // watermark — O(rate x delay), the right contract for transport-
    // level dedup at 100 TB/day ----
    Q("q138_streaming_dropdup",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"event_id", $"ts", $"value",
            unix_micros($"ts").as("us"))
        val (loUs, span, slice) = timeSlices(ev, 4)
        val delayS = span / 1000000L + 1L
        val cols = Seq($"event_id", $"ts", $"value")
        val batches = (0 until 4).map { k =>
          val base = slice(k).select(cols: _*)
          if (k == 0) base
          else base.unionAll(ev.where(
            $"us" >= loUs + k * span - span / 5 &&
              $"us" < loUs + k * span).select(cols: _*))
        }
        val feed = graft.streaming.FeedStage.stageBatches(batches)
        val ckpt = graft.TempDirs.create("graft-q138-ckpt")
        val outDir = graft.TempDirs.create("graft-q138-out")
        val sq = graft.streaming.StatePartitions.sized(s, 8) {
          s.readStream
            .schema("event_id BIGINT, ts TIMESTAMP, value DOUBLE")
            .option("maxFilesPerTrigger", "1").parquet(feed)
            .withWatermark("ts", s"$delayS seconds")
            .dropDuplicatesWithinWatermark("event_id")
            .writeStream.outputMode("append").format("parquet")
            .option("checkpointLocation", ckpt)
            .trigger(
              org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(outDir)
        }
        sq.awaitTermination()
        s.read.schema("event_id BIGINT, value DOUBLE").parquet(outDir)
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, value FROM events
             |ORDER BY event_id""".stripMargin)),

    // ---- SCD type-2 history build: collapse each user's event
    // stream into status VALIDITY INTERVALS — a new row only when the
    // status (event_type) actually changes, valid_to = next change's
    // timestamp (NULL while current). The slowly-changing-dimension
    // shape every warehouse maintains; two windows over one co-keyed
    // shuffle on user_id, timestamps kept as exact epoch-µs BIGINTs ----
    Q("q145_scd2_history",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"user_id", $"event_type".as("status"),
            unix_micros($"ts").as("tus"), $"event_id")
        val w = Window.partitionBy($"user_id")
          .orderBy($"tus", $"event_id")
        val changes = ev
          .withColumn("prev", lag($"status", 1).over(w))
          .where($"prev".isNull || $"prev" =!= $"status")
        val wc = Window.partitionBy($"user_id")
          .orderBy($"tus", $"event_id")
        changes
          .withColumn("seq", row_number().over(wc).cast("long"))
          .withColumn("valid_to", lead($"tus", 1).over(wc))
          .select($"user_id", $"seq", $"status",
            $"tus".as("valid_from"), $"valid_to")
          .orderBy($"user_id", $"seq")
      },
      Some("""WITH ev AS (SELECT user_id, event_type AS status,
             |  epoch_us(ts) AS tus, event_id FROM events),
             |ch AS (SELECT user_id, status, tus, event_id,
             |  lag(status) OVER (PARTITION BY user_id
             |    ORDER BY tus, event_id) AS prev
             |  FROM ev),
             |c2 AS (SELECT user_id, status, tus, event_id FROM ch
             |       WHERE prev IS NULL OR prev != status)
             |SELECT user_id,
             |  CAST(row_number() OVER (PARTITION BY user_id
             |    ORDER BY tus, event_id) AS BIGINT) AS seq,
             |  status, tus AS valid_from,
             |  lead(tus) OVER (PARTITION BY user_id
             |    ORDER BY tus, event_id) AS valid_to
             |FROM c2 ORDER BY user_id, seq""".stripMargin)),

    // ---- frequent itemset mining (the A-priori pair pass) over
    // sessionized behavior: which event-type PAIRS co-occur in the
    // same session, with support = co-sessions / all sessions. The
    // market-basket operator: sessionize (2h gaps-and-islands),
    // distinct (session, type), within-session a<b self-join (at most
    // C(5,2) pairs per session), one count agg. Support ratios are
    // one double division off exact integers ----
    Q("q146_session_itemsets",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"user_id", $"event_type",
            unix_micros($"ts").as("tus"), $"event_id")
        val sess = sessionize(ev)
          .select($"user_id", $"sid", $"event_type").distinct()
        val nSess = sess.select($"user_id", $"sid").distinct()
          .agg(count(lit(1)).as("n_sessions"))
        val a = sess.select($"user_id", $"sid", $"event_type".as("ta"))
        val b = sess.select($"user_id".as("u2"), $"sid".as("s2"),
          $"event_type".as("tb"))
        a.join(b, $"user_id" === $"u2" && $"sid" === $"s2" &&
            $"ta" < $"tb")
          .groupBy($"ta", $"tb").agg(count(lit(1)).as("n_cosess"))
          .crossJoin(broadcast(nSess))
          .select($"ta", $"tb", $"n_cosess",
            round($"n_cosess".cast("double") / $"n_sessions", 6)
              .as("support"))
          .orderBy($"n_cosess".desc, $"ta", $"tb")
      },
      Some(s"""WITH $dSessionCtes,
             |sd AS (SELECT DISTINCT user_id, sid, event_type FROM s),
             |t AS (SELECT count(*) AS n_sessions FROM
             |      (SELECT DISTINCT user_id, sid FROM sd)),
             |p AS (SELECT a.event_type AS ta, b.event_type AS tb,
             |  count(*) AS n_cosess
             |  FROM sd a JOIN sd b ON a.user_id = b.user_id
             |    AND a.sid = b.sid AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT ta, tb, CAST(n_cosess AS BIGINT) AS n_cosess,
             |  round(CAST(n_cosess AS DOUBLE) / t.n_sessions, 6)
             |    AS support
             |FROM p, t ORDER BY n_cosess DESC, ta, tb"""
        .stripMargin)),

    // ---- first-order Markov transition matrix over each user's
    // event stream: count (current -> next) event-type transitions,
    // P(next|current) as an exact-integer ratio — the behavioral
    // sequence model product analytics fits (and the input to
    // next-event prediction baselines). One lead() window on the
    // co-keyed user shuffle, one 25-key agg ----
    Q("q147_markov_transitions",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"user_id", $"event_type",
            unix_micros($"ts").as("tus"), $"event_id")
        val w = Window.partitionBy($"user_id")
          .orderBy($"tus", $"event_id")
        val tr = ev.withColumn("nxt", lead($"event_type", 1).over(w))
          .where($"nxt".isNotNull)
          .groupBy($"event_type".as("cur"), $"nxt")
          .agg(count(lit(1)).as("n"))
        val tot = tr.groupBy($"cur").agg(sum($"n").as("n_cur"))
        tr.join(tot, "cur")
          .select($"cur", $"nxt", $"n",
            round($"n".cast("double") / $"n_cur", 6).as("p"))
          .orderBy($"cur", $"nxt")
      },
      Some("""WITH ev AS (SELECT user_id, event_type,
             |  epoch_us(ts) AS tus, event_id FROM events),
             |l AS (SELECT event_type AS cur,
             |  lead(event_type) OVER (PARTITION BY user_id
             |    ORDER BY tus, event_id) AS nxt
             |  FROM ev),
             |tr AS (SELECT cur, nxt, count(*) AS n FROM l
             |       WHERE nxt IS NOT NULL GROUP BY cur, nxt),
             |tot AS (SELECT cur, sum(n) AS n_cur FROM tr GROUP BY cur)
             |SELECT tr.cur, tr.nxt, CAST(tr.n AS BIGINT) AS n,
             |  round(CAST(tr.n AS DOUBLE) / tot.n_cur, 6) AS p
             |FROM tr JOIN tot USING (cur)
             |ORDER BY cur, nxt""".stripMargin)),

    // ---- rendezvous (highest-random-weight) shard routing: each
    // document's shard is argmax over 16 shards of md5(shard||id) —
    // the consistent-assignment scheme whose property (removing one
    // shard only remaps that shard's keys) is what distributed
    // serving layers rely on. Output is the per-shard balance report
    // plus each shard's id range. Shape: 16-way explode (a literal
    // array), one rank-1 window, one agg — the assignment itself is
    // embarrassingly map-side ----
    Q("q148_rendezvous_shards",
      (s, d) => {
        import s.implicits._
        val docs = T(s, d, "documents").select($"doc_id")
        docs.select($"doc_id", explode(typedlit((0 until 16).toList))
            .as("shard"))
          .withColumn("wgt", md5(concat($"shard".cast("string"),
            lit("|"), $"doc_id".cast("string"))))
          .withColumn("rk", row_number().over(Window
            .partitionBy($"doc_id").orderBy($"wgt".desc, $"shard")))
          .where($"rk" === 1)
          .groupBy($"shard".cast("long").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
          .orderBy($"shard")
      },
      Some("""WITH sh AS (SELECT unnest(generate_series(0, 15))
             |            AS shard),
             |w AS (SELECT d.doc_id, sh.shard,
             |  md5(CAST(sh.shard AS VARCHAR) || '|' ||
             |      CAST(d.doc_id AS VARCHAR)) AS wgt
             |  FROM documents d, sh),
             |a AS (SELECT doc_id, shard FROM (
             |  SELECT doc_id, shard, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY wgt DESC, shard) AS rk
             |  FROM w) WHERE rk = 1)
             |SELECT CAST(shard AS BIGINT) AS shard,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM a GROUP BY shard ORDER BY shard""".stripMargin)),

    // ---- seasonality-adjusted anomaly counting: per (event_type,
    // hour-of-day) baseline mean (DECIMAL-exact sum), then how many
    // events exceed 2x THEIR OWN slot's baseline — the monitoring
    // operator that doesn't false-alarm on daily rhythm. Hour buckets
    // are integer epoch-µs division; the baseline join is co-keyed on
    // the same 120-key grouping as the agg ----
    Q("q149_seasonal_anomaly",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"event_type", $"value",
            (expr("unix_micros(ts) div 3600000000") % 24).as("hr"))
        val base = ev.groupBy($"event_type", $"hr")
          .agg((sum($"value".cast(DecimalType(18, 4))).cast("double") /
            count(lit(1))).as("mean_v"), count(lit(1)).as("n"))
        ev.join(base, Seq("event_type", "hr"))
          .groupBy($"event_type", $"hr")
          .agg(max($"n").as("n"), round(max($"mean_v"), 6).as("mean_v"),
            count(when($"value" > $"mean_v" * 2, 1)).as("n_anom"))
          .orderBy($"event_type", $"hr")
      },
      Some("""WITH ev AS (SELECT event_type, value,
             |  (epoch_us(ts) // 3600000000) % 24 AS hr FROM events),
             |b AS (SELECT event_type, hr,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             |    / count(*) AS mean_v,
             |  count(*) AS n
             |  FROM ev GROUP BY 1, 2)
             |SELECT e.event_type, CAST(e.hr AS BIGINT) AS hr,
             |  CAST(b.n AS BIGINT) AS n,
             |  round(b.mean_v, 6) AS mean_v,
             |  CAST(count(*) FILTER (e.value > b.mean_v * 2)
             |       AS BIGINT) AS n_anom
             |FROM ev e JOIN b USING (event_type, hr)
             |GROUP BY e.event_type, e.hr, b.n, b.mean_v
             |ORDER BY e.event_type, hr""".stripMargin)),

    // ---- Benford first-digit audit: the data-quality screen for
    // fabricated or truncated numeric columns — observed leading-digit
    // share of o_totalprice vs the Benford expectation log10(1+1/d).
    // The digit is extracted through EXACT integer cents (round to
    // cents first, then string head), so no float log/pow boundary
    // can misclassify a 999.999...; one 9-key hash-agg, the log10
    // runs 9 times ----
    Q("q155_benford_audit",
      (s, d) => {
        import s.implicits._
        val o = T(s, d, "orders").select(
          substring(round($"o_totalprice" * 100, 0).cast("long")
            .cast("string"), 1, 1).cast("long").as("digit"))
        val tot = o.agg(count(lit(1)).cast("double").as("nt"))
        o.groupBy($"digit").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot))
          .select($"digit", $"n",
            round($"n" / $"nt", 6).as("share"),
            round(log10(lit(1.0) + lit(1.0) / $"digit"), 6)
              .as("benford"),
            round($"n" / $"nt" -
              log10(lit(1.0) + lit(1.0) / $"digit"), 6).as("excess"))
          .orderBy($"digit")
      },
      Some("""WITH o AS (SELECT CAST(substr(CAST(
             |    CAST(round(o_totalprice * 100) AS BIGINT)
             |    AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders),
             |t AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM o),
             |g AS (SELECT digit, count(*) AS n FROM o GROUP BY digit)
             |SELECT g.digit, CAST(g.n AS BIGINT) AS n,
             |  round(g.n / t.nt, 6) AS share,
             |  round(log10(1.0 + 1.0 / g.digit), 6) AS benford,
             |  round(g.n / t.nt - log10(1.0 + 1.0 / g.digit), 6)
             |    AS excess
             |FROM g, t ORDER BY g.digit""".stripMargin)),

    // ---- join-cardinality estimation WITHOUT running the join — the
    // planner/ops tool that flags a key about to explode a shuffle:
    // |events ⋈ orders on user key| = Σ_k n_e(k)·n_o(k), computed
    // from the two per-key count aggs (each linear, each map-side
    // partial) joined on the key dim — never the row-level join
    // itself. Reports the exact would-be row count, the top-3
    // contributing keys and their share: the skew diagnosis that
    // decides salting (q91) before paying for the join ----
    Q("q156_join_cardinality",
      (s, d) => {
        import s.implicits._
        val ne = T(s, d, "events").groupBy($"user_id".as("k"))
          .agg(count(lit(1)).as("n_e"))
        val no = T(s, d, "orders").groupBy($"o_custkey".as("k"))
          .agg(count(lit(1)).as("n_o"))
        val contrib = ne.join(no, "k")
          .select($"k", ($"n_e" * $"n_o").as("n_pairs"))
        val tot = contrib.agg(sum($"n_pairs").cast("double").as("nt"))
        contrib.crossJoin(broadcast(tot))
          .select($"k", $"n_pairs",
            round($"n_pairs" / $"nt", 6).as("share"))
          .orderBy($"n_pairs".desc, $"k").limit(3)
          .unionAll(contrib.agg(lit(-1L).as("k"),
            sum($"n_pairs").as("n_pairs"), lit(1.0).as("share")))
          .orderBy($"k")
      },
      Some("""WITH ne AS (SELECT user_id AS k, count(*) AS n_e
             |           FROM events GROUP BY user_id),
             |no AS (SELECT o_custkey AS k, count(*) AS n_o
             |       FROM orders GROUP BY o_custkey),
             |c AS (SELECT ne.k, ne.n_e * no.n_o AS n_pairs
             |      FROM ne JOIN no USING (k)),
             |t AS (SELECT CAST(sum(n_pairs) AS DOUBLE) AS nt FROM c),
             |top AS (SELECT k, CAST(n_pairs AS BIGINT) AS n_pairs,
             |    round(n_pairs / t.nt, 6) AS share
             |  FROM c, t ORDER BY n_pairs DESC, k LIMIT 3),
             |alls AS (SELECT CAST(-1 AS BIGINT) AS k,
             |    CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
             |    1.0 AS share FROM c)
             |SELECT * FROM (SELECT * FROM top UNION ALL
             |               SELECT * FROM alls)
             |ORDER BY k""".stripMargin)),

    // ---- STREAM-STATIC enrichment join: the remaining Structured
    // Streaming join family after q136's stream-stream — each events
    // micro-batch joins a STATIC per-customer order profile
    // (broadcast; the static side is planned once per batch, no state
    // store at all — the stateless enrich every ingest topology runs
    // before routing). The profile's money sum goes through DECIMAL
    // (order-independent), so replaying in 4 batches provably equals
    // the batch join, which IS the oracle ----
    Q("q158_stream_static_enrich",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"event_id", $"ts", $"user_id",
            unix_micros($"ts").as("us"))
        val (_, _, slice) = timeSlices(ev, 4)
        val cols = Seq($"event_id", $"ts", $"user_id")
        val feed = graft.streaming.FeedStage.stageBatches(
          (0 until 4).map(k => slice(k).select(cols: _*)))
        val dim = T(s, d, "orders")
          .groupBy($"o_custkey".as("user_id"))
          .agg(count(lit(1)).as("n_orders"),
            sum($"o_totalprice".cast(DecimalType(18, 4)))
              .cast("double").as("spend"))
        val ckpt = graft.TempDirs.create("graft-q158-ckpt")
        val outDir = graft.TempDirs.create("graft-q158-out")
        val sq = s.readStream
          .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT")
          .option("maxFilesPerTrigger", "1").parquet(feed)
          .join(broadcast(dim), Seq("user_id"))
          .select($"event_id", $"user_id", $"n_orders", $"spend")
          .writeStream.outputMode("append").format("parquet")
          .option("checkpointLocation", ckpt)
          .trigger(
            org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(outDir)
        sq.awaitTermination()
        s.read.schema(
            "event_id BIGINT, user_id BIGINT, n_orders BIGINT," +
              " spend DOUBLE").parquet(outDir)
          .orderBy($"event_id")
      },
      Some("""WITH dim AS (SELECT o_custkey AS user_id,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
             |       AS DOUBLE) AS spend
             |  FROM orders GROUP BY o_custkey)
             |SELECT e.event_id, e.user_id, d.n_orders, d.spend
             |FROM events e JOIN dim d USING (user_id)
             |ORDER BY e.event_id""".stripMargin)),

    // ---- cumulative-user growth curve: per integer epoch-day, daily
    // event volume, NEW users (first-ever-seen that day) and the
    // running distinct-user total — the growth-accounting view, with
    // exact distinct math at any scale because "cumulative distinct"
    // is reduced to first-touch attribution (min-day per user, one
    // co-keyed agg) + a prefix sum over the DAY-level aggregate (the
    // only window — bounded by the calendar, never by rows) ----
    Q("q164_cumulative_users",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events").select($"user_id",
          expr("unix_micros(ts) div 86400000000").as("day"))
        val firsts = ev.groupBy($"user_id").agg(min($"day").as("day"))
          .groupBy($"day").agg(count(lit(1)).as("n_new"))
        val daily = ev.groupBy($"day").agg(count(lit(1)).as("n_events"))
        val w = Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily.join(firsts, Seq("day"), "left")
          .withColumn("n_new", coalesce($"n_new", lit(0L)))
          .withColumn("cum_users", sum($"n_new").over(w))
          .select($"day", $"n_events", $"n_new", $"cum_users")
          .orderBy($"day")
      },
      Some("""WITH ev AS (SELECT user_id,
             |  epoch_us(ts) // 86400000000 AS day FROM events),
             |f AS (SELECT user_id, min(day) AS day FROM ev
             |      GROUP BY user_id),
             |fn AS (SELECT day, count(*) AS n_new FROM f
             |       GROUP BY day),
             |dl AS (SELECT day, count(*) AS n_events FROM ev
             |       GROUP BY day)
             |SELECT dl.day, CAST(dl.n_events AS BIGINT) AS n_events,
             |  CAST(coalesce(fn.n_new, 0) AS BIGINT) AS n_new,
             |  CAST(sum(coalesce(fn.n_new, 0)) OVER (ORDER BY dl.day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum_users
             |FROM dl LEFT JOIN fn USING (day)
             |ORDER BY dl.day""".stripMargin)),

    // ---- inter-arrival latency profile: per event type, the exact
    // lower-median and p90 of the gap between a user's consecutive
    // events of that type, in SECONDS. Exact order statistics WITHOUT
    // a per-row rank window: gaps quantize to a second-granularity
    // histogram (the ops-honest unit), and the k-th value is the
    // smallest bucket whose cumulative count reaches k — the windows
    // run over the per-type HISTOGRAM, bounded by the gap domain,
    // never by rows (the q152/q165 rule; contrast q113's GK sketch,
    // which trades exactness for a single pass) ----
    Q("q167_interarrival_profile",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events").select($"user_id", $"event_type",
          unix_micros($"ts").as("tus"), $"event_id")
        val w = Window.partitionBy($"user_id", $"event_type")
          .orderBy($"tus", $"event_id")
        val gaps = ev.withColumn("prev", lag($"tus", 1).over(w))
          .where($"prev".isNotNull)
          .select($"event_type",
            expr("(tus - prev) div 1000000").as("gs"))
        val hist = gaps.groupBy($"event_type", $"gs")
          .agg(count(lit(1)).as("c"))
        val wc = Window.partitionBy($"event_type").orderBy($"gs")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val n = hist.groupBy($"event_type").agg(sum($"c").as("n"))
        hist.withColumn("cum", sum($"c").over(wc))
          .join(broadcast(n), "event_type")
          .groupBy($"event_type")
          .agg(max($"n").as("n_gaps"),
            min(when($"cum" * 2 >= $"n", $"gs")).as("med_gap_s"),
            min(when($"cum" * 10 >= $"n" * 9, $"gs")).as("p90_gap_s"))
          .orderBy($"event_type")
      },
      Some("""WITH ev AS (SELECT user_id, event_type,
             |  epoch_us(ts) AS tus, event_id FROM events),
             |g AS (SELECT event_type,
             |  (tus - lag(tus) OVER (PARTITION BY user_id, event_type
             |    ORDER BY tus, event_id)) // 1000000 AS gs
             |  FROM ev),
             |g2 AS (SELECT event_type, gs FROM g WHERE gs IS NOT NULL),
             |h AS (SELECT event_type, gs, count(*) AS c FROM g2
             |      GROUP BY event_type, gs),
             |n AS (SELECT event_type, sum(c) AS n FROM h
             |      GROUP BY event_type),
             |cu AS (SELECT event_type, gs,
             |  sum(c) OVER (PARTITION BY event_type ORDER BY gs
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cum
             |  FROM h)
             |SELECT cu.event_type, CAST(max(n.n) AS BIGINT) AS n_gaps,
             |  min(CASE WHEN cum * 2 >= n.n THEN gs END) AS med_gap_s,
             |  min(CASE WHEN cum * 10 >= n.n * 9 THEN gs END)
             |    AS p90_gap_s
             |FROM cu JOIN n USING (event_type)
             |GROUP BY cu.event_type ORDER BY cu.event_type"""
        .stripMargin)),

    // ---- column-level data profile of the events table — the
    // data-quality report a pipeline runs before trusting a new feed:
    // per column, row/null/distinct counts and a type-stable min/max
    // rendering (ids and epoch-µs as digit strings; value quantized
    // to exact 1e-6 BIGINTs before stringifying, so no float-repr
    // divergence can flag). Six SEPARATE one-row aggregates unioned,
    // DELIBERATELY not one multi-distinct pass: Spark plans N
    // countDistincts in one Aggregate via Expand (each input row
    // duplicated N+1 times through the shuffle) — measured 3x SLOWER
    // (1.1s -> 3.6s at sf0.1) than six scans that each read ONE
    // pruned column ----
    Q("q168_column_profile",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
        def prof(name: String, c: Column): DataFrame =
          ev.agg(lit(name).as("col_name"),
            count(lit(1)).as("n"),
            (count(lit(1)) - count(c)).as("n_null"),
            countDistinct(c).as("n_distinct"),
            min(c).cast("string").as("min_s"),
            max(c).cast("string").as("max_s"))
        prof("event_id", $"event_id")
          .unionAll(prof("event_type", $"event_type"))
          .unionAll(prof("props", $"props"))
          .unionAll(prof("ts_us", unix_micros($"ts")))
          .unionAll(prof("user_id", $"user_id"))
          .unionAll(prof("value_1e6",
            round($"value" * 1e6, 0).cast("long")))
          .orderBy($"col_name")
      },
      Some("""WITH p1 AS (SELECT 'event_id' AS col_name,
             |  count(*) AS n, count(*) - count(event_id) AS n_null,
             |  count(DISTINCT event_id) AS n_distinct,
             |  CAST(min(event_id) AS VARCHAR) AS min_s,
             |  CAST(max(event_id) AS VARCHAR) AS max_s FROM events),
             |p2 AS (SELECT 'event_type', count(*),
             |  count(*) - count(event_type),
             |  count(DISTINCT event_type),
             |  min(event_type), max(event_type) FROM events),
             |p3 AS (SELECT 'props', count(*),
             |  count(*) - count(props), count(DISTINCT props),
             |  min(props), max(props) FROM events),
             |p4 AS (SELECT 'ts_us', count(*),
             |  count(*) - count(ts), count(DISTINCT epoch_us(ts)),
             |  CAST(min(epoch_us(ts)) AS VARCHAR),
             |  CAST(max(epoch_us(ts)) AS VARCHAR) FROM events),
             |p5 AS (SELECT 'user_id', count(*),
             |  count(*) - count(user_id), count(DISTINCT user_id),
             |  CAST(min(user_id) AS VARCHAR),
             |  CAST(max(user_id) AS VARCHAR) FROM events),
             |p6 AS (SELECT 'value_1e6', count(*),
             |  count(*) - count(value),
             |  count(DISTINCT CAST(round(value * 1e6) AS BIGINT)),
             |  CAST(min(CAST(round(value * 1e6) AS BIGINT))
             |       AS VARCHAR),
             |  CAST(max(CAST(round(value * 1e6) AS BIGINT))
             |       AS VARCHAR) FROM events),
             |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
             |  UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
             |  UNION ALL SELECT * FROM p5 UNION ALL SELECT * FROM p6)
             |SELECT col_name, CAST(n AS BIGINT) AS n,
             |  CAST(n_null AS BIGINT) AS n_null,
             |  CAST(n_distinct AS BIGINT) AS n_distinct, min_s, max_s
             |FROM u ORDER BY col_name""".stripMargin)),

    // ---- q196: ONE-SCAN sketch profile — q168's 100 TB scale path.
    // q168's six pruned-column scans are the right shape at oracle
    // scale (one multi-distinct Aggregate plans an Expand that 7x-es
    // the shuffle, commit cae36b6), but at 100 TB six scans of a wide
    // fact table is 6x the dominant cost. The scale answer: per-column
    // count/null/min/max/HLL-distinct in a SINGLE Aggregate over ONE
    // scan — no countDistinct means no Expand, and the KB-sized HLL
    // partials merge map-side (the q112 mergeability story). The
    // oracle-checked contract is q112's: the EXACT distinct counts
    // (from the six-scan path, which stays as the small-scale/gate
    // side) plus est_ok, |est - exact| <= 5% * exact (lgK=12 gives
    // ~1.6% standard error, so the gate holds at any SF; the estimate
    // itself is engine-internal, never oracle-visible). README
    // "Sketch profiler" note has the measured one-scan-vs-six-scan
    // comparison ----
    Q("q196_sketch_profile",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
        val cols: Seq[(String, Column)] = Seq(
          "event_id" -> $"event_id",
          "event_type" -> $"event_type",
          "props" -> $"props",
          "ts_us" -> unix_micros($"ts"),
          "user_id" -> $"user_id",
          "value_1e6" -> round($"value" * 1e6, 0).cast("long"))
        // one scan, one Aggregate: 6 x (count, min, max, sketch) + n
        val aggs = cols.flatMap { case (nm, c) => Seq(
          count(c).as(s"cnt_$nm"),
          min(c).cast("string").as(s"min_$nm"),
          max(c).cast("string").as(s"max_$nm"),
          hll_sketch_agg(c, lit(12)).as(s"sk_$nm")) }
        val one = ev.agg(count(lit(1)).as("n"), aggs: _*)
        val rows = cols.map { case (nm, _) =>
          struct(lit(nm).as("col_name"), $"n",
            ($"n" - col(s"cnt_$nm")).as("n_null"),
            col(s"min_$nm").as("min_s"), col(s"max_$nm").as("max_s"),
            hll_sketch_estimate(col(s"sk_$nm")).as("est"))
        }
        val sketchSide = one
          .select(explode(array(rows: _*)).as("r")).select($"r.*")
        // exact distincts: the six-scan q168 shape gates the sketch
        def exact(name: String, c: Column): DataFrame =
          ev.agg(lit(name).as("col_name"),
            countDistinct(c).as("n_distinct"))
        val exacts = cols.map { case (nm, c) => exact(nm, c) }
          .reduce(_.unionAll(_))
        sketchSide.join(broadcast(exacts), Seq("col_name"))
          .select($"col_name", $"n", $"n_null", $"n_distinct",
            $"min_s", $"max_s",
            (abs($"est".cast("double") - $"n_distinct".cast("double"))
              <= $"n_distinct".cast("double") * 0.05).as("est_ok"))
          .orderBy($"col_name")
      },
      Some("""WITH p1 AS (SELECT 'event_id' AS col_name,
             |  count(*) AS n, count(*) - count(event_id) AS n_null,
             |  count(DISTINCT event_id) AS n_distinct,
             |  CAST(min(event_id) AS VARCHAR) AS min_s,
             |  CAST(max(event_id) AS VARCHAR) AS max_s FROM events),
             |p2 AS (SELECT 'event_type', count(*),
             |  count(*) - count(event_type),
             |  count(DISTINCT event_type),
             |  min(event_type), max(event_type) FROM events),
             |p3 AS (SELECT 'props', count(*),
             |  count(*) - count(props), count(DISTINCT props),
             |  min(props), max(props) FROM events),
             |p4 AS (SELECT 'ts_us', count(*),
             |  count(*) - count(ts), count(DISTINCT epoch_us(ts)),
             |  CAST(min(epoch_us(ts)) AS VARCHAR),
             |  CAST(max(epoch_us(ts)) AS VARCHAR) FROM events),
             |p5 AS (SELECT 'user_id', count(*),
             |  count(*) - count(user_id), count(DISTINCT user_id),
             |  CAST(min(user_id) AS VARCHAR),
             |  CAST(max(user_id) AS VARCHAR) FROM events),
             |p6 AS (SELECT 'value_1e6', count(*),
             |  count(*) - count(value),
             |  count(DISTINCT CAST(round(value * 1e6) AS BIGINT)),
             |  CAST(min(CAST(round(value * 1e6) AS BIGINT))
             |       AS VARCHAR),
             |  CAST(max(CAST(round(value * 1e6) AS BIGINT))
             |       AS VARCHAR) FROM events),
             |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
             |  UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
             |  UNION ALL SELECT * FROM p5 UNION ALL SELECT * FROM p6)
             |SELECT col_name, CAST(n AS BIGINT) AS n,
             |  CAST(n_null AS BIGINT) AS n_null,
             |  CAST(n_distinct AS BIGINT) AS n_distinct, min_s, max_s,
             |  true AS est_ok
             |FROM u ORDER BY col_name""".stripMargin)),

    // ---- top session journeys: the 10 most common 3-step event-type
    // paths inside a session (2h gaps-and-islands, the q146
    // sessionization) — the ordered complement of q146's unordered
    // itemsets and q147's single-step transitions. Two leads on the
    // already-co-keyed session window, one hash-agg over the path
    // domain (≤ 5^3 keys), TakeOrdered 10 with a total tiebreak ----
    Q("q169_top_paths",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"user_id", $"event_type",
            unix_micros($"ts").as("tus"), $"event_id")
        val sess = sessionize(ev)
        val ws = Window.partitionBy($"user_id", $"sid")
          .orderBy($"tus", $"event_id")
        sess
          .withColumn("p2", lead($"event_type", 1).over(ws))
          .withColumn("p3", lead($"event_type", 2).over(ws))
          .where($"p3".isNotNull)
          .select(concat_ws(">", $"event_type", $"p2", $"p3")
            .as("path"))
          .groupBy($"path").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"path").limit(10)
      },
      Some(s"""WITH $dSessionCtes,
             |p AS (SELECT event_type,
             |  lead(event_type, 1) OVER (PARTITION BY user_id, sid
             |    ORDER BY tus, event_id) AS p2,
             |  lead(event_type, 2) OVER (PARTITION BY user_id, sid
             |    ORDER BY tus, event_id) AS p3
             |  FROM s),
             |pc AS (SELECT event_type || '>' || p2 || '>' || p3
             |         AS path, count(*) AS n
             |       FROM p WHERE p3 IS NOT NULL GROUP BY 1)
             |SELECT path, CAST(n AS BIGINT) AS n FROM pc
             |ORDER BY n DESC, path LIMIT 10""".stripMargin)),

    // ---- out-of-orderness profile: how late does this feed actually
    // deliver? Arrival order is event_id (the transport sequence);
    // an event is LATE if its timestamp precedes the max timestamp
    // already delivered for that user. Reports, per event type, the
    // late fraction and worst lateness — the measurement that SETS
    // the watermark delay the streaming queries (q114/q136/q138)
    // otherwise have to guess. One running-max window on the co-keyed
    // user shuffle; exact integer µs throughout ----
    Q("q173_out_of_order_profile",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events").select($"user_id", $"event_type",
          unix_micros($"ts").as("tus"), $"event_id")
        val w = Window.partitionBy($"user_id").orderBy($"event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        ev.withColumn("prevmax", max($"tus").over(w))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when($"prevmax" > $"tus", 1L).otherwise(0L))
              .as("n_late"),
            coalesce(max(when($"prevmax" > $"tus",
              $"prevmax" - $"tus")), lit(0L)).as("max_late_us"))
          .withColumn("late_share",
            round($"n_late".cast("double") / $"n_events", 6))
          .orderBy($"event_type")
      },
      Some("""WITH ev AS (SELECT user_id, event_type,
             |  epoch_us(ts) AS tus, event_id FROM events),
             |m AS (SELECT event_type, tus,
             |  max(tus) OVER (PARTITION BY user_id ORDER BY event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |    AS prevmax
             |  FROM ev)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(CASE WHEN prevmax > tus THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n_late,
             |  CAST(coalesce(max(CASE WHEN prevmax > tus
             |       THEN prevmax - tus END), 0) AS BIGINT)
             |    AS max_late_us,
             |  round(CAST(sum(CASE WHEN prevmax > tus THEN 1 ELSE 0
             |       END) AS DOUBLE) / count(*), 6) AS late_share
             |FROM m GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ---- point-in-time (bitemporal) join: each order picks up the
    // customer's event-stream STATUS that was valid at order time —
    // q145's SCD2 intervals probed by a foreign fact table (the
    // as-of-validity join every feature store runs to prevent
    // training-serving skew / time travel leakage). Equi on user +
    // interval predicate: co-keyed on the user shuffle, at most one
    // matching interval per probe by construction ----
    Q("q179_point_in_time_join",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .select($"user_id", $"event_type".as("status"),
            unix_micros($"ts").as("tus"), $"event_id")
        val w = Window.partitionBy($"user_id")
          .orderBy($"tus", $"event_id")
        val iv = ev
          .withColumn("prev", lag($"status", 1).over(w))
          .where($"prev".isNull || $"prev" =!= $"status")
          .withColumn("valid_to", lead($"tus", 1).over(
            Window.partitionBy($"user_id").orderBy($"tus", $"event_id")))
          // PIT convention: the user's FIRST status extends backward
          // (valid_from NULL = since beginning), so probes that
          // predate the stream still resolve instead of dropping
          .select($"user_id", $"status",
            when($"prev".isNull, lit(null).cast("long"))
              .otherwise($"tus").as("valid_from"),
            $"valid_to")
        val orders = T(s, d, "orders").select($"o_orderkey",
          $"o_custkey".as("user_id"),
          unix_micros($"o_orderdate").as("ots"))
        orders.join(iv, orders("user_id") === iv("user_id") &&
            ($"valid_from".isNull || $"ots" >= $"valid_from") &&
            ($"valid_to".isNull || $"ots" < $"valid_to"))
          .select($"o_orderkey", orders("user_id"), $"ots", $"status")
          .orderBy($"o_orderkey")
      },
      Some("""WITH ev AS (SELECT user_id, event_type AS status,
             |  epoch_us(ts) AS tus, event_id FROM events),
             |ch AS (SELECT user_id, status, tus, event_id,
             |  lag(status) OVER (PARTITION BY user_id
             |    ORDER BY tus, event_id) AS prev
             |  FROM ev),
             |iv AS (SELECT user_id, status,
             |  CASE WHEN prev IS NULL THEN NULL ELSE tus END
             |    AS valid_from,
             |  lead(tus) OVER (PARTITION BY user_id
             |    ORDER BY tus, event_id) AS valid_to
             |  FROM (SELECT * FROM ch
             |        WHERE prev IS NULL OR prev != status)),
             |o AS (SELECT o_orderkey, o_custkey AS user_id,
             |  epoch_us(o_orderdate) AS ots FROM orders)
             |SELECT o.o_orderkey, o.user_id, o.ots, iv.status
             |FROM o JOIN iv ON iv.user_id = o.user_id
             |  AND (iv.valid_from IS NULL OR o.ots >= iv.valid_from)
             |  AND (iv.valid_to IS NULL OR o.ots < iv.valid_to)
             |ORDER BY o.o_orderkey""".stripMargin)),

    // ---- TPC-H Q3-shape shipping priority: the classic 3-table
    // join + grouped revenue top-10 (customer segment filter, date
    // band, DECIMAL-exact revenue, total-ordered cutoff) — the
    // canonical "join then rank" OLAP probe rounding out the
    // relational suite's TPC-H coverage ----
    Q("q181_shipping_priority",
      (s, d) => {
        import s.implicits._
        val cust = T(s, d, "customer")
          .where($"c_mktsegment" === "BUILDING")
          .select($"c_custkey")
        val orders = T(s, d, "orders")
          .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
        val li = T(s, d, "lineitem")
          .select($"l_orderkey",
            ($"l_extendedprice".cast(DecimalType(18, 4)) *
              (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 4))
                - $"l_discount".cast(DecimalType(18, 4))))
              .as("rev"))
        li.join(orders, $"l_orderkey" === $"o_orderkey")
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .groupBy($"o_orderkey", $"o_orderpriority")
          .agg(sum($"rev").cast("double").as("revenue"))
          .orderBy($"revenue".desc, $"o_orderkey")
          .limit(10)
      },
      Some("""SELECT l.l_orderkey AS o_orderkey, o.o_orderpriority,
             |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
             |    (CAST(1 AS DECIMAL(18,4)) -
             |     CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
             |    AS revenue
             |FROM lineitem l
             |JOIN orders o ON o.o_orderkey = l.l_orderkey
             |JOIN customer c ON c.c_custkey = o.o_custkey
             |WHERE c.c_mktsegment = 'BUILDING'
             |GROUP BY l.l_orderkey, o.o_orderpriority
             |ORDER BY revenue DESC, o_orderkey LIMIT 10"""
        .stripMargin)),

    // ---- week-over-week volume deltas: per event type and integer
    // epoch-week, event count, previous week's count and the exact
    // integer delta (the trend report behind every ops dashboard).
    // One lag window over the (type, week) AGGREGATE — bounded by
    // the calendar times 5 types, never by rows ----
    Q("q182_wow_change",
      (s, d) => {
        import s.implicits._
        val wk = T(s, d, "events").select($"event_type",
          expr("unix_micros(ts) div 604800000000").as("week"))
        val g = wk.groupBy($"event_type", $"week")
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy($"event_type").orderBy($"week")
        g.withColumn("prev_n", lag($"n", 1).over(w))
          .select($"event_type", $"week", $"n", $"prev_n",
            ($"n" - coalesce($"prev_n", lit(0L))).as("delta"))
          .orderBy($"event_type", $"week")
      },
      Some("""WITH wk AS (SELECT event_type,
             |  epoch_us(ts) // 604800000000 AS week FROM events),
             |g AS (SELECT event_type, week, count(*) AS n FROM wk
             |      GROUP BY event_type, week)
             |SELECT event_type, week, CAST(n AS BIGINT) AS n,
             |  CAST(lag(n) OVER (PARTITION BY event_type
             |    ORDER BY week) AS BIGINT) AS prev_n,
             |  CAST(n - coalesce(lag(n) OVER (PARTITION BY event_type
             |    ORDER BY week), 0) AS BIGINT) AS delta
             |FROM g ORDER BY event_type, week""".stripMargin)),

    // ---- A/B experiment readout: users hash-split into two arms
    // (deterministic md5 bucketing — the same mechanism as q58's
    // corpus splits, so assignment is reproducible and orthogonal to
    // any id pattern), conversion = user had >= 1 purchase event;
    // per-arm exact counts and the two-proportion z statistic in one
    // identical double expression. The product-experimentation
    // operator; counts are two tiny per-user aggs ----
    Q("q184_ab_test",
      (s, d) => {
        import s.implicits._
        val users = T(s, d, "events")
          .groupBy($"user_id")
          // success = purchase share above the 1-in-5 expectation —
          // integer compare, non-degenerate at every SF (a has-any-
          // purchase metric saturates to p=1 and zeroes the z-test
          // denominator)
          .agg((sum(when($"event_type" === "purchase", 1L)
            .otherwise(0L)) * 5 > count(lit(1))).cast("long")
            .as("converted"))
          .withColumn("arm",
            (conv(substring(md5(concat(lit("ab"),
              $"user_id".cast("string"))), 1, 8), 16, 10)
              .cast("long") % 2).as("arm"))
        val g = users.groupBy($"arm")
          .agg(count(lit(1)).as("n_users"),
            sum($"converted").as("n_conv"))
        val a = g.where($"arm" === 0).select($"n_users".as("n0"),
          $"n_conv".as("c0"))
        val b = g.where($"arm" === 1).select($"n_users".as("n1"),
          $"n_conv".as("c1"))
        a.crossJoin(b).select(
          $"n0", $"c0", $"n1", $"c1",
          round($"c0".cast("double") / $"n0", 6).as("rate0"),
          round($"c1".cast("double") / $"n1", 6).as("rate1"),
          // pooled rate 0 or 1: z undefined -> NULL on BOTH engines
          // (DuckDB /0 is NULL; without the guard Spark says NaN)
          when($"c0" + $"c1" === 0 ||
            $"c0" + $"c1" === $"n0" + $"n1",
            lit(null).cast("double"))
            .otherwise(round(($"c0".cast("double") / $"n0" -
              $"c1".cast("double") / $"n1") /
              sqrt((($"c0" + $"c1").cast("double") / ($"n0" + $"n1")) *
                (lit(1.0) - ($"c0" + $"c1").cast("double") /
                  ($"n0" + $"n1")) *
                (lit(1.0) / $"n0" + lit(1.0) / $"n1")), 4)).as("z"))
      },
      Some("""WITH u AS (SELECT user_id,
             |  CASE WHEN sum(CASE WHEN event_type = 'purchase'
             |         THEN 1 ELSE 0 END) * 5 > count(*)
             |       THEN 1 ELSE 0 END AS converted
             |  FROM events GROUP BY user_id),
             |arms AS (SELECT
             |  CAST(concat('0x', substr(md5(concat('ab',
             |    CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 2
             |    AS arm, converted
             |  FROM u),
             |g AS (SELECT arm, count(*) AS n, sum(converted) AS c
             |      FROM arms GROUP BY arm),
             |a AS (SELECT n AS n0, c AS c0 FROM g WHERE arm = 0),
             |b AS (SELECT n AS n1, c AS c1 FROM g WHERE arm = 1)
             |SELECT CAST(a.n0 AS BIGINT) AS n0,
             |  CAST(a.c0 AS BIGINT) AS c0,
             |  CAST(b.n1 AS BIGINT) AS n1,
             |  CAST(b.c1 AS BIGINT) AS c1,
             |  round(CAST(a.c0 AS DOUBLE) / a.n0, 6) AS rate0,
             |  round(CAST(b.c1 AS DOUBLE) / b.n1, 6) AS rate1,
             |  round((CAST(a.c0 AS DOUBLE) / a.n0 -
             |    CAST(b.c1 AS DOUBLE) / b.n1) /
             |    sqrt((CAST(a.c0 + b.c1 AS DOUBLE) / (a.n0 + b.n1)) *
             |      (1.0 - CAST(a.c0 + b.c1 AS DOUBLE) /
             |        (a.n0 + b.n1)) *
             |      (1.0 / a.n0 + 1.0 / b.n1)), 4) AS z
             |FROM a, b""".stripMargin)),

    // ---- CSV sink/scan round trip — the interchange format the
    // messy half of the world still ships. The hard part is QUOTING:
    // `props` is JSON (embedded commas, quotes, braces), so a naive
    // writer/parser shears columns; the gate hash-compares every row
    // after write -> read-with-schema, so escaping must be exactly
    // inverse. Timestamps travel as exact epoch-µs BIGINTs (CSV has
    // no timestamp type worth trusting) ----
    Q("q186_csv_roundtrip",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events").select($"event_id",
          unix_micros($"ts").as("tus"), $"user_id", $"event_type",
          $"props")
        val dir = graft.TempDirs.create("graft-q186-csv")
        ev.write.mode("overwrite").option("header", "true")
          .option("escape", "\"").csv(dir)
        s.read.option("header", "true").option("escape", "\"")
          .schema("event_id BIGINT, tus BIGINT, user_id BIGINT," +
            " event_type STRING, props STRING")
          .csv(dir)
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, epoch_us(ts) AS tus, user_id,
             |  event_type, props
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- ORC sink/scan round trip — the second columnar format
    // (predicate pushdown, stripe statistics) a lakehouse speaks.
    // Full typed row fidelity including TIMESTAMP and DOUBLE is the
    // gate: write ORC, read back, aggregate per type with the
    // DECIMAL-exact money rule; equality with the parquet-derived
    // oracle proves the conversion lossless ----
    Q("q187_orc_roundtrip",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events").select($"event_id", $"ts",
          $"event_type", $"value")
        val dir = graft.TempDirs.create("graft-q187-orc")
        ev.write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast(DecimalType(18, 4))).cast("double")
              .as("sum_value"),
            min(unix_micros($"ts")).as("min_tus"),
            max(unix_micros($"ts")).as("max_tus"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_value,
             |  min(epoch_us(ts)) AS min_tus,
             |  max(epoch_us(ts)) AS max_tus
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ---- Hive-style partition pruning: events written
    // partitionBy(event_type), read back with a type filter — the
    // layout that turns a 100 TB scan into a 20 TB scan BEFORE any
    // row is read. PlanSpec pins PartitionFilters actually pruned
    // the directories (not a post-scan filter); the daily rollup on
    // top proves the pruned read is still value-exact ----
    Q("q188_partition_pruning",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events").select($"event_id",
          unix_micros($"ts").as("tus"), $"value", $"event_type")
        val dir = graft.TempDirs.create("graft-q188-part")
        ev.write.mode("overwrite").partitionBy("event_type")
          .parquet(dir)
        s.read.parquet(dir)
          .where($"event_type" === "purchase")
          .groupBy(expr("tus div 86400000000").as("day"))
          .agg(count(lit(1)).as("n"),
            sum($"value".cast(DecimalType(18, 4))).cast("double")
              .as("sum_value"))
          .orderBy($"day")
      },
      Some("""SELECT epoch_us(ts) // 86400000000 AS day,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_value
             |FROM events WHERE event_type = 'purchase'
             |GROUP BY 1 ORDER BY day""".stripMargin)),

    // ---- bucketed co-located join: events and orders both saved
    // bucketed+sorted by user key (8 buckets, external tables) and
    // joined WITHOUT a shuffle — the pre-partitioned layout that
    // makes a daily fact-to-fact join exchange-free at warehouse
    // scale (PlanSpec pins zero Exchange above the bucketed scans).
    // The aggregate on top is the per-user activity-vs-spend
    // correlation table ----
    Q("q189_bucketed_join",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
          .groupBy($"user_id").agg(count(lit(1)).as("n_events"))
        val od = T(s, d, "orders")
          .groupBy($"o_custkey".as("user_id"))
          .agg(count(lit(1)).as("n_orders"),
            sum($"o_totalprice".cast(DecimalType(18, 4)))
              .cast("double").as("spend"))
        val de = graft.TempDirs.create("graft-q189-ev")
        val dod = graft.TempDirs.create("graft-q189-od")
        ev.write.mode("overwrite").bucketBy(8, "user_id")
          .sortBy("user_id").option("path", de)
          .saveAsTable("graft_q189_events")
        od.write.mode("overwrite").bucketBy(8, "user_id")
          .sortBy("user_id").option("path", dod)
          .saveAsTable("graft_q189_orders")
        s.table("graft_q189_events")
          .join(s.table("graft_q189_orders"), "user_id")
          .select($"user_id", $"n_events", $"n_orders", $"spend")
          .orderBy($"user_id")
      },
      Some("""WITH ev AS (SELECT user_id, count(*) AS n_events
             |           FROM events GROUP BY user_id),
             |od AS (SELECT o_custkey AS user_id,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
             |       AS DOUBLE) AS spend
             |  FROM orders GROUP BY o_custkey)
             |SELECT ev.user_id, CAST(ev.n_events AS BIGINT)
             |    AS n_events, od.n_orders, od.spend
             |FROM ev JOIN od USING (user_id)
             |ORDER BY user_id""".stripMargin)),

    // ---- pure-SQL interface: the same engine driven entirely
    // through `spark.sql` over registered temp views — including a
    // GRAFT CUSTOM AGGREGATE (`bitmap_agg`/`bitmap_cardinality`, the
    // Roaring-style ID bitmap) resolved by the SQL parser via
    // GraftFunctions.register. Proves a SQL-only consumer (BI tool,
    // notebook) gets the full surface, not just the DataFrame API ----
    Q("q190_sql_interface",
      (s, d) => {
        T(s, d, "events").createOrReplaceTempView("g_events")
        T(s, d, "customer").createOrReplaceTempView("g_customer")
        s.sql("""
          SELECT c.c_mktsegment AS segment, e.event_type,
                 count(*) AS n,
                 bitmap_cardinality(bitmap_agg(e.user_id)) AS n_users
          FROM g_events e
          JOIN g_customer c ON c.c_custkey = e.user_id
          GROUP BY c.c_mktsegment, e.event_type
          ORDER BY segment, event_type""")
      },
      Some("""SELECT c.c_mktsegment AS segment, e.event_type,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
             |FROM events e JOIN customer c ON c.c_custkey = e.user_id
             |GROUP BY c.c_mktsegment, e.event_type
             |ORDER BY segment, event_type""".stripMargin)),

    // ---- schema-on-read resilience: a deterministic 1-in-97 slice
    // of `props` is corrupted (truncated mid-JSON, the classic
    // producer-crash artifact) and the feed is parsed PERMISSIVE-
    // style — from_json yields NULL for the broken rows instead of
    // failing the job, and the report counts parse health per event
    // type. The dead-letter accounting every ingest front door needs;
    // the oracle repeats the truncation and uses json_valid ----
    Q("q191_malformed_tolerance",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events").select($"event_id", $"event_type",
          when($"event_id" % 97 === 0,
            expr("substring(props, 1, greatest(length(props) - 3, 1))"))
            .otherwise($"props").as("raw"))
        val parsed = ev.withColumn("j",
          from_json($"raw", org.apache.spark.sql.types.MapType(
            StringType, StringType)))
        parsed.groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum(when($"j".isNull, 1L).otherwise(0L))
              .as("n_malformed"),
            countDistinct(when($"j".isNotNull,
              element_at($"j", "k"))).as("n_vals"))
          .orderBy($"event_type")
      },
      Some("""WITH ev AS (SELECT event_id, event_type,
             |  CASE WHEN event_id % 97 = 0
             |       THEN substr(props, 1,
             |              greatest(length(props) - 3, 1))
             |       ELSE props END AS raw
             |  FROM events),
             |p AS (SELECT event_type,
             |  CASE WHEN json_valid(raw) THEN raw END AS j
             |  FROM ev)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN j IS NULL THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n_malformed,
             |  CAST(count(DISTINCT json_extract_string(j, '$.k'))
             |       AS BIGINT) AS n_vals
             |FROM p GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ---- schema evolution round trip: a dataset written by an OLD
    // producer (2 columns) and appended by a NEW one (+user_id),
    // read back with mergeSchema — the widened schema must surface
    // and legacy rows must read as NULLs in the new column (the
    // lakehouse contract that lets producers upgrade without
    // rewriting history). The per-type report pins exact legacy/new
    // row accounting against the source-of-truth oracle ----
    Q("q195_schema_evolution",
      (s, d) => {
        import s.implicits._
        val ev = T(s, d, "events")
        val dir = graft.TempDirs.create("graft-q195-evo")
        ev.where($"event_id" % 2 === 0)
          .select($"event_id", $"event_type")
          .write.mode("overwrite").parquet(dir)
        ev.where($"event_id" % 2 === 1)
          .select($"event_id", $"event_type", $"user_id")
          .write.mode("append").parquet(dir)
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum(when($"user_id".isNull, 1L).otherwise(0L))
              .as("n_legacy"),
            countDistinct($"user_id").as("n_users"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0
             |      END) AS BIGINT) AS n_legacy,
             |  CAST(count(DISTINCT CASE WHEN event_id % 2 = 1
             |      THEN user_id END) AS BIGINT) AS n_users
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ---- daily Pearson correlation between two behavioural series
    // (purchase count vs click count per day) — the metric-coupling
    // readout behind "do these move together" dashboard claims. All
    // five sums are exact BIGINTs over the 30-row day aggregate; r is
    // one identical closed-form double expression on both engines ----
    Q("q192_daily_corr",
      (s, d) => {
        import s.implicits._
        val daily = T(s, d, "events")
          .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(sum(when($"event_type" === "purchase", 1L)
            .otherwise(0L)).as("x"),
            sum(when($"event_type" === "click", 1L).otherwise(0L))
              .as("y"))
        daily.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
            sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
            sum($"y" * $"y").as("syy"), sum($"x" * $"y").as("sxy"))
          // zero-variance series: r undefined -> NULL on BOTH engines
          // (DuckDB /0 is NULL; without the guard Spark says NaN)
          .select($"n", $"sx", $"sy",
            when(($"n" * $"sxx" - $"sx" * $"sx") === 0 ||
              ($"n" * $"syy" - $"sy" * $"sy") === 0,
              lit(null).cast("double"))
              .otherwise(
                round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
                  (sqrt(($"n" * $"sxx" - $"sx" * $"sx")
                    .cast("double")) *
                    sqrt(($"n" * $"syy" - $"sy" * $"sy")
                      .cast("double"))), 6)).as("r"))
      },
      Some("""WITH daily AS (SELECT
             |  epoch_us(ts) // 86400000000 AS day,
             |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             |      END) AS x,
             |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
             |      END) AS y
             |  FROM events GROUP BY 1),
             |a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |  sum(x * x) AS sxx, sum(y * y) AS syy,
             |  sum(x * y) AS sxy FROM daily)
             |SELECT CAST(n AS BIGINT) AS n,
             |  CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
             |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
             |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
             |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS r
             |FROM a""".stripMargin))
  )
}
