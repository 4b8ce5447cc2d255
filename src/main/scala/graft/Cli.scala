package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The four-verb command face of the engine, mirroring the reference's
  * `osmx COMMAND [ARG...]` surface (`src/cmd.cpp:9-14`):
  *
  * {{{
  * graft.Cli expand IN.osm.pbf DB/ [--buckets N] [--analytic] [--dry-run]
  * graft.Cli extract DB/ OUT/ (--bbox S | --disc S | --geojson F |
  *                             --poly F | --region F)
  *                            [--expand LEVEL] [--noUserData] [--xml]
  * graft.Cli update DB/ DIFF.osc[.gz] [SEQNUM [TIMESTAMP]] [--commit]
  * graft.Cli query DB/ [node|way|relation ID | timestamp | seqnum]
  * }}}
  *
  * Semantics follow the reference verb for verb:
  *   - `expand` (`src/expand.cpp`) ingests PBF/XML into a committed
  *     store — default the bucketed copy-on-write layout `update`
  *     consumes; `--analytic` selects the range-sorted full-rewrite
  *     layout (fastest for extract-heavy serving).
  *   - `extract` (`src/extract.cpp:67-143`) takes one region in any of
  *     the four formats (inline text for bbox/disc, a file for
  *     geojson/poly, or `--region=FILE` dispatching on extension),
  *     covering-prunes the seed scan (CELL-APPROXIMATE, the reference's
  *     extract contract — no exact residual), completes the element
  *     closure (J2-J8) and writes a PBF (default) or XML extract with
  *     the header bbox/timestamp/seqnum (`src/extract.cpp:280-299`).
  *     `--expand=LEVEL` buffers the covering one cell ring at LEVEL
  *     (`src/extract.cpp:138-143`); `--noUserData` strips
  *     changeset/uid/user (`src/extract.cpp:324-328`).
  *   - `update` (`src/update.cpp:228-291`) applies an OsmChange file:
  *     DRY-RUN by default (computes all deltas, rolls back); `--commit`
  *     publishes one new manifest version with the seqnum/timestamp
  *     metadata advanced atomically (U4).
  *   - `query` (`src/cmd.cpp:44-112`) prints per-table stats, one
  *     element by id, or the replication timestamp/seqnum.
  *
  * Scale note: the CLI is a thin arg-parse over the library calls the
  * oracle-gated queries already exercise (q38/q50 expand, q32/q47/q53
  * extract, q33/q46/q103 update, q02/q11 query); a cluster deployment
  * spark-submits this same main.
  */
object Cli {

  /** A usage/validation failure: [[main]] prints it and exits 2;
    * [[run]] throws it so tests (and embedders) can intercept. */
  final class CliError(msg: String) extends RuntimeException(msg)

  private def fail(msg: String): Nothing = throw new CliError(msg)

  /** Reject unknown/misspelled flags: a silently ignored `--dryrun` or
    * `--nouserdata` flips semantics (real commit, GDPR data retained)
    * with no error. `allowed` holds bare flag names; `--name=value`
    * forms match on the name. */
  private def checkFlags(cmd: String, flags: Seq[String],
                         allowed: Set[String]): Unit = {
    val bad = flags.map(_.takeWhile(_ != '=')).filterNot(allowed)
    if (bad.nonEmpty)
      fail(s"$cmd: unknown option(s): ${bad.mkString(" ")} " +
        s"(accepted: ${allowed.toSeq.sorted.mkString(" ")})")
  }

  private def intValue(cmd: String, name: String, v: String): Int =
    try v.toInt catch { case _: NumberFormatException =>
      fail(s"$cmd: $name needs an integer value, got '$v'") }

  private def longValue(cmd: String, name: String, v: String): Long =
    try v.toLong catch { case _: NumberFormatException =>
      fail(s"$cmd: $name needs an integer value, got '$v'") }

  private val usage =
    """Usage: graft.Cli COMMAND [ARG...]
      |
      |COMMANDS:
      | expand   Convert an OSM PBF or XML to a committed graft store.
      | extract  Create a regional extract PBF from a graft store.
      | update   Apply an OSM changeset to a graft store.
      | query    Look up objects by ID in a graft store.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    val spark = GraftSession(s"graft-${args.head}")
    try run(spark, args.toIndexedSeq)
    catch { case e: CliError =>
      System.err.println(e.getMessage)
      spark.stop()
      sys.exit(2)
    }
    finally spark.stop()
  }

  /** Testable entry: everything after session setup. */
  def run(spark: SparkSession, args: IndexedSeq[String]): Unit =
    args.head match {
      case "expand"  => cmdExpand(spark, args.tail)
      case "extract" => cmdExtract(spark, args.tail)
      case "update"  => cmdUpdate(spark, args.tail)
      case "query"   => cmdQuery(spark, args.tail)
      case _         => fail(usage)
    }

  // ---- expand ----------------------------------------------------------

  private def cmdExpand(spark: SparkSession, a: IndexedSeq[String]): Unit = {
    val (flags, pos) = a.partition(_.startsWith("--"))
    if (pos.length != 2) fail(
      "Usage: graft.Cli expand INPUT[.osm|.osm.pbf|dir] DB_DIR " +
        "[--buckets=N] [--analytic] [--partitions=N] [--dry-run]\n" +
        "  --analytic sorted-table file count defaults to the session's " +
        "parallelism (layout varies by machine; row content does not) — " +
        "pass --partitions=N to pin a reproducible file layout")
    checkFlags("expand", flags,
      Set("--buckets", "--analytic", "--partitions", "--dry-run"))
    val Seq(in, root) = pos.toSeq
    val dryRun = flags.contains("--dry-run")
    val buckets = flags.collectFirst {
      case f if f.startsWith("--buckets=") =>
        intValue("expand", "--buckets", f.drop(10))
    }.getOrElse(64)
    val partitions = flags.collectFirst {
      case f if f.startsWith("--partitions=") =>
        intValue("expand", "--partitions", f.drop(13))
    }.getOrElse(-1)
    val version =
      if (flags.contains("--analytic"))
        osm.Ingest.expand(spark, in, root, numPartitions = partitions,
          dryRun = dryRun)
      else
        osm.Ingest.expandBucketed(spark, in, root, nBuckets = buckets,
          dryRun = dryRun)
    println(if (dryRun) s"dry-run ok (would commit v$version)"
            else s"committed v$version at $root")
  }

  // ---- extract ---------------------------------------------------------

  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)

  /** `--bbox`/`--disc` take inline text, `--geojson`/`--poly` a file,
    * `--region FILE` dispatches on extension (`src/extract.cpp:114-128`). */
  private def regionOf(opts: Map[String, String]): spatial.Region =
    opts.get("bbox").map(spatial.Region(_, "bbox"))
      .orElse(opts.get("disc").map(spatial.Region(_, "disc")))
      .orElse(opts.get("geojson").map(f =>
        spatial.Region(readFile(f), "geojson")))
      .orElse(opts.get("poly").map(f => spatial.Region(readFile(f), "poly")))
      .orElse(opts.get("region").map { f =>
        val ext = f.split('.').last match {
          case "json" => "geojson"
          case e      => e
        }
        spatial.Region(readFile(f), ext)
      })
      .getOrElse(fail("extract: no region specified " +
        "(--bbox/--disc/--geojson/--poly/--region)"))

  private def cmdExtract(spark: SparkSession, a: IndexedSeq[String]): Unit = {
    val (flagsRaw, pos) = a.partition(_.startsWith("--"))
    if (pos.length != 2) fail(
      "Usage: graft.Cli extract DB_DIR OUT_DIR (--bbox=MIN_LAT,MIN_LON," +
        "MAX_LAT,MAX_LON | --disc=LAT,LON,R_DEG | --geojson=FILE | " +
        "--poly=FILE | --region=FILE) [--expand=LEVEL] [--noUserData] " +
        "[--xml]")
    checkFlags("extract", flagsRaw,
      Set("--bbox", "--disc", "--geojson", "--poly", "--region",
        "--expand", "--noUserData", "--xml"))
    val Seq(root, out) = pos.toSeq
    val opts = flagsRaw.map(_.drop(2).split("=", 2))
      .map(kv => kv(0) -> (if (kv.length > 1) kv(1) else "")).toMap
    val region = regionOf(opts)
    val db = new osm.OsmDb(spark, root)
    val t = osm.Ingest.readTables(spark, root, Some(db.snapshot))

    functions.GraftFunctions.register(spark)
    val cells0 = spatial.Coverer.covering(region)
    val cells = opts.get("expand") match {
      case Some(lvl) => spatial.Coverer.expandCovering(cells0,
        intValue("extract", "--expand", lvl))
      case None      => cells0
    }
    val ranges = spatial.Coverer.cellRanges(cells)
    // seed scan filters the STORED s2cell column (both layouts carry
    // it; CDC upserts maintain it with the same function) — the
    // analytic layout is range-sorted by it, so the covering ranges
    // become parquet row-group min/max pruning; a derived
    // s2CellOfFixed(lat,lon) expression cannot prune anything
    val seeds = osm.VersionedTable
      .read(spark, root, "locations", Some(db.snapshot))
      .where(spatial.SpatialScan.cellInRanges(col("s2cell"), ranges))
      .select(col("id"))
    val sel = osm.Extract.complete(t, seeds)

    val header = osm.Ingest.pbfHeaderOptions(Some(region),
      db.metadata("osmosis_replication_timestamp").map(_.toLong),
      db.metadata("osmosis_replication_sequence_number").map(_.toLong))
    osm.Ingest.writeExtract(t, sel, out,
      includeUserData = !opts.contains("noUserData"),
      format = if (opts.contains("xml")) "osmxml" else "osmpbf",
      headerOpts = header)
    println(s"extract written to $out")
  }

  // ---- update ----------------------------------------------------------

  /** Project one parsed `.osc` entity frame to [[Replication.changeSchema]]
    * rows (null payload columns for the non-applicable entity kinds). */
  private def toChange(df: DataFrame, etype: String, seqnum: Long)
  : DataFrame = {
    val metaCol = struct(col("version"), col("timestamp"), col("changeset"),
      col("uid"), col("user")).as("meta")
    val base = df.select(
      col("id"), lit(etype).as("etype"),
      (coalesce(col("action"), lit("create")) =!= "delete").as("visible"),
      (etype match {
        case "node" => col("lon")
        case _      => lit(null).cast("int")
      }).as("lon"),
      (etype match {
        case "node" => col("lat")
        case _      => lit(null).cast("int")
      }).as("lat"),
      col("version"),
      (etype match {
        case "way" => col("nodes")
        case _     => lit(null).cast("array<bigint>")
      }).as("nodes"),
      (etype match {
        case "relation" => col("members")
        case _ => lit(null)
          .cast("array<struct<ref:bigint,mtype:string,role:string>>")
      }).as("members"),
      col("tags"), metaCol, diffSeqnum(seqnum).as("seqnum"))
    base
  }

  /** The diff's seqnum as a column: a zero-argument function, which
    * generated code holds by reference. A literal is inlined into it,
    * and so is a deterministic function, which the optimizer folds to
    * one; either way each diff would compile its own parse stage. */
  private def diffSeqnum(seqnum: Long): Column =
    udf(() => seqnum).asNondeterministic().apply()

  private def cmdUpdate(spark: SparkSession, a: IndexedSeq[String]): Unit = {
    val (flags, pos) = a.partition(_.startsWith("--"))
    if (pos.length < 2 || pos.length > 4) fail(
      "Usage: graft.Cli update DB_DIR CHANGES.osc[.gz] [SEQNUM " +
        "[TIMESTAMP]] [--commit]")
    checkFlags("update", flags, Set("--commit"))
    val root = pos(0)
    val osc = pos(1)
    val db = new osm.OsmDb(spark, root)
    val seqnum = if (pos.length > 2) longValue("update", "SEQNUM", pos(2))
      else db.metadata("osmosis_replication_sequence_number")
        .map(_.toLong + 1).getOrElse(1L)
    val commit = flags.contains("--commit")

    val change = Seq("node", "way", "relation").map { e =>
      toChange(spark.read.format("osmxml")
        .option("entity", e).option("changes", "true").load(osc),
        e, seqnum)
    }.reduce(_ unionByName _)

    val extra = (if (pos.length > 3)
      Map("osmosis_replication_timestamp" ->
        (try java.time.Instant.parse(pos(3)).getEpochSecond.toString
         catch { case _: java.time.format.DateTimeParseException =>
           fail(s"update: TIMESTAMP must be ISO-8601, got '${pos(3)}'") }))
    else Map.empty[String, String])
    import streaming.Replication.ApplyResult
    streaming.Replication.applyBatch(spark, root, change,
      batchId = seqnum, dryRun = !commit, extraMeta = extra) match {
      case ApplyResult.Applied =>
        println(if (commit) s"committed seqnum $seqnum at $root"
                else s"dry-run ok (pass --commit to publish seqnum " +
                  s"$seqnum)")
      case ApplyResult.EmptyDiff(observedVersion) =>
        // a quiet replication interval is NOT an error: under --commit,
        // record the seqnum/timestamp anyway (the reference commits the
        // metadata txn unconditionally, src/update.cpp:283-287) so the
        // next default seqnum is recorded+1 and an automated catch-up
        // loop advances past the empty interval instead of recomputing
        // the same empty diff forever. expectedVersion pins the record
        // to the manifest applyBatch's replay guard validated — a
        // concurrent committer landing in between fails this commit
        // LOUDLY (ConcurrentCommitException) instead of silently
        // recording a stale or duplicate seqnum (r11 advice).
        if (commit) {
          streaming.Replication.recordReplicationMeta(spark, root,
            seqnum, extra, expectedVersion = Some(observedVersion))
          println(s"no changes in $osc; recorded seqnum $seqnum at $root")
        } else println(s"no changes in $osc (dry-run; pass --commit to " +
          s"record seqnum $seqnum)")
      case ApplyResult.ReplayedBatch =>
        // the loud case: a human explicitly re-requested a seqnum the
        // store already recorded as applied — never report "committed"
        fail(s"update: batch id $seqnum already recorded as applied " +
          s"at $root")
    }
  }

  // ---- query -----------------------------------------------------------

  private def fmtTags(tags: Map[String, String]): String =
    tags.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")

  private def cmdQuery(spark: SparkSession, a: IndexedSeq[String]): Unit = {
    if (a.isEmpty) fail(
      "Usage: graft.Cli query DB_DIR [node|way|relation ID | timestamp " +
        "| seqnum]")
    val db = new osm.OsmDb(spark, a.head)
    a.drop(1).toSeq match {
      case Seq() => // table statistics, like `osmx query planet.osmx`
        db.stats().toSeq.sortBy(_._1).foreach { case (t, n) =>
          println(s"$t: $n")
        }
        println("Timestamp: " +
          db.metadata("osmosis_replication_timestamp").getOrElse(""))
        println("Sequence #: " +
          db.metadata("osmosis_replication_sequence_number").getOrElse(""))
      case Seq("timestamp") =>
        println(db.metadata("osmosis_replication_timestamp").getOrElse(""))
      case Seq("seqnum") =>
        println(db.metadata("osmosis_replication_sequence_number")
          .getOrElse(""))
      case Seq("node", id) =>
        db.location(id.toLong) match {
          case None => println("not found")
          case Some((lon, lat, _)) =>
            println(s"$lon,$lat") // fixed 1e-7 degrees, like the store
            db.node(id.toLong).foreach { case (tags, _) =>
              tags.toSeq.sortBy(_._1)
                .foreach { case (k, v) => println(s"$k=$v") }
            }
        }
      case Seq("way", id) =>
        db.way(id.toLong) match {
          case None => println("not found")
          case Some((nodes, tags)) =>
            println(nodes.mkString(" "))
            println(fmtTags(tags))
        }
      case Seq("relation", id) =>
        db.relation(id.toLong) match {
          case None => println("not found")
          case Some((members, tags)) =>
            println(fmtTags(tags))
            members.foreach { case (ref, mtype, role) =>
              println(s"$ref $mtype $role")
            }
        }
      case other => fail(s"query: unrecognized arguments: " +
        other.mkString(" "))
    }
  }
}
