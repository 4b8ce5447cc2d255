package graft

import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.nio.file.Files

/** Drives all four CLI verbs end-to-end on sf0.001 fixtures: a PBF is
  * expanded into a bucketed store, queried, extracted by bbox, and
  * updated (dry-run, then committed) with an OsmChange doc — the same
  * lifecycle as the reference's `osmx expand/extract/update/query`
  * (`src/cmd.cpp:9-14`). */
class CliSpec extends AnyFunSuite with TestSession {
  private val SF = "/root/testdata/sf0.001"

  import spark.implicits._

  private def captured(args: String*): String = {
    val bos = new ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      Cli.run(spark, args.toIndexedSeq)
    }
    bos.toString("UTF-8")
  }

  // one PBF fixture + one DB shared by the verb tests, in declared order
  private lazy val pbfDir: String = {
    val t = osm.SyntheticOsm.materialized(spark, SF)
    val all = osm.Extract.Selected(
      t.locations.select($"id"), t.ways.select($"id"),
      t.relations.select($"id"))
    val dir = Files.createTempDirectory("graft-cli-pbf").toString
    osm.Ingest.writeExtract(t, all, dir, shards = 2, format = "osmpbf")
    dir
  }
  private lazy val dbRoot: String =
    Files.createTempDirectory("graft-cli-db").toString

  test("expand ingests a PBF into a bucketed committed store") {
    val out = captured("expand", pbfDir, dbRoot)
    assert(out.contains("committed v1"))
    val db = new osm.OsmDb(spark, dbRoot)
    assert(db.snapshot.buckets.nonEmpty) // the update-ready layout
    assert(db.stats()("locations") ==
      osm.SyntheticOsm.materialized(spark, SF).locations.count())
  }

  test("query prints stats, elements by id, and replication metadata") {
    captured("expand", pbfDir, dbRoot) // idempotent re-commit is fine
    val stats = captured("query", dbRoot)
    assert(stats.contains("locations: "))
    assert(stats.contains("Timestamp: "))
    assert(stats.contains("Sequence #: "))

    val db = new osm.OsmDb(spark, dbRoot)
    val nid = db.locationsTyped.head().id
    val nodeOut = captured("query", dbRoot, "node", nid.toString)
    assert(nodeOut.trim.nonEmpty && !nodeOut.contains("not found"))

    val way = db.waysTyped.head()
    val wayOut = captured("query", dbRoot, "way", way.id.toString)
    assert(wayOut.contains(way.nodes.mkString(" ")))

    val rel = db.relationsTyped.head()
    val relOut = captured("query", dbRoot, "relation", rel.id.toString)
    assert(rel.members.forall(m => relOut.contains(m.ref.toString)))

    assert(captured("query", dbRoot, "timestamp").trim ==
      db.metadata("osmosis_replication_timestamp").getOrElse(""))
  }

  test("extract writes a covering-pruned PBF closure for a bbox") {
    captured("expand", pbfDir, dbRoot)
    val out = Files.createTempDirectory("graft-cli-ex").toString
    captured("extract", dbRoot, out, "--bbox=-30,-90,30,90",
      "--expand=12", "--noUserData")
    val nodes = spark.read.format("osmxml").option("entity", "node")
      .load(out)
    val n = nodes.count()
    assert(n > 0)
    // GDPR strip: uid/changeset zeroed, user blanked
    assert(nodes.where($"uid" =!= 0L || $"user" =!= "").count() == 0)
    // the extract is a subset of the store, covering-approximate
    val db = new osm.OsmDb(spark, dbRoot)
    assert(n <= db.stats()("locations"))
    // ways' nodes are complete in the extract (J7 closure)
    val ways = spark.read.format("osmxml").option("entity", "way").load(out)
    val missing = ways.select(org.apache.spark.sql.functions
        .explode($"nodes").as("id")).distinct()
      .join(nodes.select($"id"), Seq("id"), "left_anti").count()
    assert(missing == 0L)
  }

  test("unknown or misspelled flags fail loudly instead of flipping " +
    "semantics") {
    // --dryrun (missing hyphen) must NOT silently run a real commit
    val e1 = intercept[Cli.CliError] {
      captured("expand", pbfDir, "/tmp/never-created-db", "--dryrun")
    }
    assert(e1.getMessage.contains("unknown option"))
    // --nouserdata (wrong case) must NOT silently retain GDPR fields
    val e2 = intercept[Cli.CliError] {
      captured("extract", dbRoot, "/tmp/never-created-out",
        "--bbox=-30,-90,30,90", "--nouserdata")
    }
    assert(e2.getMessage.contains("unknown option"))
    // a non-numeric value fails with the flag named, not a stack trace
    val e3 = intercept[Cli.CliError] {
      captured("expand", pbfDir, "/tmp/never-created-db", "--buckets=abc")
    }
    assert(e3.getMessage.contains("--buckets"))
  }

  test("update is dry-run by default and commits with --commit") {
    captured("expand", pbfDir, dbRoot)
    val before = new osm.OsmDb(spark, dbRoot)
    val someId = before.locationsTyped.head().id

    // one-node modify + one delete, written as an .osc doc
    val metaT = "struct<version:int,timestamp:bigint,changeset:bigint," +
      "uid:bigint,user:string>"
    val oscDir = Files.createTempDirectory("graft-cli-osc").toString
    import org.apache.spark.sql.functions._
    before.locationsTyped.toDF().where($"id" === someId)
      .select($"id",
        when($"id" === someId, "modify").as("action"),
        ($"lon" + 7).cast("int").as("lon"), ($"lat" + 7).cast("int")
          .as("lat"),
        ($"version" + 1).cast("int").as("version"),
        lit(11L).as("timestamp"), lit(1L).as("changeset"),
        lit(9L).as("uid"), lit("cli").as("user"),
        map(lit("fixme"), lit("yes")).as("tags"))
      .coalesce(1).write.format("osmxml").option("entity", "node")
      .mode("overwrite").save(oscDir)

    val dry = captured("update", dbRoot, oscDir, "901")
    assert(dry.contains("dry-run"))
    assert(new osm.OsmDb(spark, dbRoot).snapshot.version ==
      before.snapshot.version) // nothing published

    val wet = captured("update", dbRoot, oscDir, "901",
      "2024-05-01T00:00:00Z", "--commit")
    assert(wet.contains("committed seqnum 901"))
    val after = new osm.OsmDb(spark, dbRoot)
    assert(after.snapshot.version == before.snapshot.version + 1)
    assert(after.metadata("osmosis_replication_sequence_number")
      .contains("901"))
    // replaying the SAME seqnum hits the store's batch-id guard: the
    // CLI must fail loudly instead of printing a false 'committed'
    val replay = intercept[Cli.CliError] {
      captured("update", dbRoot, oscDir, "901", "--commit")
    }
    assert(replay.getMessage.contains("already recorded as applied"),
      replay.getMessage)
    assert(after.metadata("osmosis_replication_timestamp")
      .contains("1714521600"))
    val (lon, lat, _) = after.location(someId).get
    val (lon0, lat0, _) = before.location(someId).get
    assert(lon == lon0 + 7 && lat == lat0 + 7)
    assert(after.node(someId).exists(_._1 == Map("fixme" -> "yes")))
  }

  test("an empty diff under --commit records the seqnum (no wedged " +
    "catch-up loop) and stays loud only for explicit replays") {
    // runs after the update test: dbRoot has seqnum 901 committed.
    // A quiet replication interval produces a structurally valid .osc
    // with zero elements — the reference still commits the metadata
    // txn (src/update.cpp:283-287), so the next default seqnum is
    // recorded+1 and an automated loop advances past the interval.
    import org.apache.spark.sql.functions._
    val empty = Files.createTempDirectory("graft-cli-osc0").toString
    new osm.OsmDb(spark, dbRoot).locationsTyped.toDF()
      .where(lit(false))
      .select($"id", lit("modify").as("action"), $"lon", $"lat",
        $"version", lit(0L).as("timestamp"), lit(0L).as("changeset"),
        lit(0L).as("uid"), lit("").as("user"),
        map().cast("map<string,string>").as("tags"))
      .coalesce(1).write.format("osmxml").option("entity", "node")
      .mode("overwrite").save(empty)

    val v0 = new osm.OsmDb(spark, dbRoot).snapshot.version
    val wet = captured("update", dbRoot, empty, "950",
      "2024-05-02T00:00:00Z", "--commit")
    assert(wet.contains("no changes") && wet.contains("950"), wet)
    val db1 = new osm.OsmDb(spark, dbRoot)
    assert(db1.metadata("osmosis_replication_sequence_number")
      .contains("950"))
    assert(db1.metadata("osmosis_replication_timestamp")
      .contains("1714608000"))
    assert(db1.snapshot.version == v0 + 1) // metadata-only CoW commit

    // the loop's next iteration derives SEQNUM = recorded+1 = 951 by
    // default — the wedge case was recomputing 950's empty diff forever
    val next = captured("update", dbRoot, empty, "--commit")
    assert(next.contains("951"), next)
    assert(new osm.OsmDb(spark, dbRoot)
      .metadata("osmosis_replication_sequence_number").contains("951"))

    // dry-run empty diff: informative, nothing recorded
    val dry = captured("update", dbRoot, empty)
    assert(dry.contains("no changes") && dry.contains("dry-run"), dry)
    assert(new osm.OsmDb(spark, dbRoot)
      .metadata("osmosis_replication_sequence_number").contains("951"))

    // a human explicitly re-requesting an already-recorded seqnum is
    // still the loud failure (replay guard), even for an empty diff
    val replay = intercept[Cli.CliError] {
      captured("update", dbRoot, empty, "951", "--commit")
    }
    assert(replay.getMessage.contains("already recorded as applied"),
      replay.getMessage)
  }
}
