package graft.osm

import graft.streaming.Replication
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** MVCC manifest contract (S4-lite/P6/U4) + replication utilities
  * (F7/F8). */
class ManifestSpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  test("read-at-version-N is stable while N+1 is committed") {
    val root = Files.createTempDirectory("graft-vt").toString
    val v1 = VersionedTable.commit(root,
      Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      Map("osmosis_replication_sequence_number" -> "100"))
    assert(v1 == 1L)
    val pinned = VersionedTable.current(root)
    assert(pinned.get.version == 1L)

    // a reader pins v1...
    val before = VersionedTable.read(spark, root, "t", pinned)
      .as[(Long, String)].collect().toSet

    // ...writer commits v2 with different content + advanced metadata
    VersionedTable.commit(root,
      Map("t" -> Seq((1L, "a"), (3L, "c")).toDF("id", "v")),
      Map("osmosis_replication_sequence_number" -> "101"))

    // pinned read still sees v1 exactly
    val after = VersionedTable.read(spark, root, "t", pinned)
      .as[(Long, String)].collect().toSet
    assert(before == after)
    assert(before == Set((1L, "a"), (2L, "b")))

    // unpinned read sees v2; metadata advanced atomically with it
    val now = VersionedTable.read(spark, root, "t")
      .as[(Long, String)].collect().toSet
    assert(now == Set((1L, "a"), (3L, "c")))
    assert(VersionedTable.metadata(root,
      "osmosis_replication_sequence_number").contains("101"))
    // merged: unrelated keys survive commits that don't touch them
    val v3 = VersionedTable.commit(root,
      Map("t" -> Seq((9L, "z")).toDF("id", "v")),
      Map("import_filename" -> "planet.osm.pbf"))
    assert(v3 == 3L)
    assert(VersionedTable.metadata(root,
      "osmosis_replication_sequence_number").contains("101"))
  }

  test("dry-run computes but does not publish (U4 without --commit)") {
    val root = Files.createTempDirectory("graft-vt-dry").toString
    VersionedTable.commit(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    val v = VersionedTable.commit(root,
      Map("t" -> Seq((2L, "b")).toDF("id", "v")), dryRun = true)
    assert(v == 2L) // data written for inspection...
    assert(VersionedTable.current(root).get.version == 1L) // ...not live
    val live = VersionedTable.read(spark, root, "t")
      .as[(Long, String)].collect().toSet
    assert(live == Set((1L, "a")))
  }

  test("copy-on-write delta commit rewrites only changed buckets") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-cow").toString
    val n = 8
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    val v1 = VersionedTable.commitBucketed(root,
      Map("t" -> (df, "id")), n,
      Map("osmosis_replication_sequence_number" -> "5"))
    assert(v1 == 1L)
    val m1 = VersionedTable.current(root).get
    assert(m1.buckets("t").versions == Vector.fill(n)(1L))

    // snapshot every bucket file (path -> bytes) before the delta
    def bucketFiles(): Map[String, Array[Byte]] = {
      val base = java.nio.file.Paths.get(root)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.readAllBytes(p))
        .toMap
    }
    val before = bucketFiles()

    // change two ids: delete 7, upsert 13 -> at most 2 changed buckets
    val changedIds = Seq(7L, 13L).toDF("id")
    val changed = VersionedTable.bucketsOf(changedIds, "id", n)
    assert(changed.nonEmpty && changed.size <= 2)
    val v2 = VersionedTable.commitDelta(spark, root, Map(
      "t" -> VersionedTable.Delta(changed, old =>
        old.join(changedIds, Seq("id"), "left_anti")
          .unionByName(Seq((13L, "CHANGED")).toDF("id", "v")))),
      Map("osmosis_replication_sequence_number" -> "6"))
    assert(v2 == 2L)

    // manifest: only the changed buckets advanced to v2
    val m2 = VersionedTable.current(root).get
    val vs = m2.buckets("t").versions
    assert(vs.zipWithIndex.forall { case (v, b) =>
      if (changed.contains(b)) v == 2L else v == 1L })
    assert(m2.meta("osmosis_replication_sequence_number") == "6")

    // unchanged buckets: the SAME files, byte-identical (linked, not
    // rewritten)
    val after = bucketFiles()
    val keptDirs = (0 until n).filterNot(changed.contains)
      .map(b => s"$root/v=1/t/__bucket=$b")
    keptDirs.foreach { d =>
      val files = before.keys.filter(_.startsWith(d))
      assert(files.nonEmpty)
      files.foreach { f =>
        assert(after.contains(f), s"$f disappeared")
        assert(java.util.Arrays.equals(before(f), after(f)),
          s"$f was rewritten")
      }
    }

    // data correctness: full read = original minus 7, with 13 changed
    val now = VersionedTable.read(spark, root, "t")
      .as[(Long, String)].collect().toMap
    assert(!now.contains(7L))
    assert(now(13L) == "CHANGED")
    assert(now.size == 999)
    assert(now(999L) == "v999")

    // pinned read at v1 still sees the original content
    val pinned = VersionedTable.read(spark, root, "t", Some(m1))
      .as[(Long, String)].collect().toMap
    assert(pinned(7L) == "v7" && pinned(13L) == "v13")
    assert(pinned.size == 1000)

    // partition-pruned bucket read touches only the asked buckets
    val onlyChanged = VersionedTable.readBuckets(spark, root, "t", changed)
    assert(onlyChanged.where($"id" === 13L).count() == 1)
  }

  test("compact re-owns all buckets at one version; data unchanged") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-compact").toString
    val n = 8
    val df = (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v")
    VersionedTable.commitBucketed(root, Map("t" -> (df, "id")), n)
    // two delta commits scatter bucket ownership over three versions
    for ((id, round) <- Seq((7L, 2L), (13L, 3L))) {
      val ids = Seq(id).toDF("id")
      val changed = VersionedTable.bucketsOf(ids, "id", n)
      VersionedTable.commitDelta(spark, root, Map(
        "t" -> VersionedTable.Delta(changed, old =>
          old.join(ids, Seq("id"), "left_anti")
            .unionByName(Seq((id, s"CHANGED$round")).toDF("id", "v")))))
    }
    val mBefore = VersionedTable.current(root).get
    assert(mBefore.buckets("t").versions.distinct.size > 1)
    val before = VersionedTable.read(spark, root, "t")
      .as[(Long, String)].collect().toMap

    val vC = VersionedTable.compact(spark, root, "t")
    val mAfter = VersionedTable.current(root).get
    assert(mAfter.buckets("t").versions == Vector.fill(n)(vC))
    val after = VersionedTable.read(spark, root, "t")
      .as[(Long, String)].collect().toMap
    assert(after == before)
    assert(after(7L) == "CHANGED2" && after(13L) == "CHANGED3")

    // vacuum now reclaims every pre-compact directory
    val deleted = VersionedTable.vacuum(root)
    assert(deleted.nonEmpty)
    assert((1L until vC).forall(v =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/v=$v"))))
    val reread = VersionedTable.read(spark, root, "t")
      .as[(Long, String)].collect().toMap
    assert(reread == before)
  }

  test("driver-side bucketOfValue matches the distributed bucketExpr") {
    // the single-bucket point-lookup pruning is only sound if both
    // computations agree for every key
    val n = 64
    val ids = Seq(0L, 1L, -1L, 7L, 999L, Long.MaxValue, Long.MinValue,
      1234567890123L) ++ (1L to 200L).map(_ * 2147483647L)
    val distributed = ids.toDF("id")
      .select($"id", VersionedTable.bucketExpr("id", n).as("b"))
      .as[(Long, Int)].collect().toMap
    ids.foreach { id =>
      assert(VersionedTable.bucketOfValue(id, n) == distributed(id),
        s"bucket mismatch for id=$id")
    }
  }

  test("OsmDb point lookups on a bucketed store read one bucket") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-db-bucketed").toString
    val metaT = "struct<version:int,timestamp:bigint,changeset:bigint," +
      "uid:bigint,user:string>"
    VersionedTable.commitBucketed(root, Map(
      "locations" -> ((1L to 500L).map(i =>
        (i, i.toInt * 10, i.toInt * 10, 1))
        .toDF("id", "lon", "lat", "version"), "id"),
      "nodes" -> (Seq((3L, Map("k" -> "v"))).toDF("id", "tags")
        .withColumn("meta", struct(lit(2).as("version"),
          lit(0L).as("timestamp"), lit(0L).as("changeset"),
          lit(0L).as("uid"), lit("u").as("user"))), "id"),
      "node_way" -> (Seq((3L, 100L), (4L, 100L))
        .toDF("member_id", "parent_id"), "member_id")), nBuckets = 8)

    val db = new OsmDb(spark, root)
    assert(db.location(3L).contains((30, 30, 1)))
    assert(db.location(501L).isEmpty)
    assert(db.node(3L).map(_._1).contains(Map("k" -> "v")))
    assert(db.nodeExists(499L) && !db.nodeExists(0L))
    assert(db.parents("node_way", 3L) == Seq(100L))
    // the pruned scan touches exactly one bucket directory — pinned on
    // the ACTUAL lookup path (OsmDb.keyed), not a reconstruction of it
    for ((t, k) <- Seq(("locations", "id"), ("nodes", "id"),
      ("node_way", "member_id"))) {
      val plan = db.keyed(t, k, 3L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("1 paths"),
        s"$t lookup did not prune to one bucket dir:\n$plan")
      // and the point predicate reaches the parquet scan (row-group
      // pruning inside the single bucket file)
      assert(plan.contains("PushedFilters: [IsNotNull(" + k + "), " +
        "EqualTo(" + k + ",3)"),
        s"$t lookup predicate not pushed to the scan:\n$plan")
    }
  }

  test("vacuum removes superseded and dry-run dirs, keeps live ones") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-vac").toString
    val n = 4
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    VersionedTable.commitBucketed(root, Map("t" -> (df, "id")), n)
    // a delta supersedes the changed buckets' v1 dirs
    val changedIds = Seq(7L).toDF("id")
    val changed = VersionedTable.bucketsOf(changedIds, "id", n)
    VersionedTable.commitDelta(spark, root, Map(
      "t" -> VersionedTable.Delta(changed, old =>
        old.join(changedIds, Seq("id"), "left_anti"))))
    // a dry-run writes v=3 data but never publishes: pure garbage
    VersionedTable.commitBucketed(root,
      Map("t" -> (Seq((999L, "x")).toDF("id", "v"), "id")), n,
      dryRun = true)

    val deleted = VersionedTable.vacuum(root)
    // dry-run version dir gone; superseded v1 bucket dirs gone
    assert(deleted.exists(_.contains("v=3")), s"deleted: $deleted")
    assert(changed.forall(b => deleted.exists(
      _.endsWith(s"v=1/t/__bucket=$b"))), s"deleted: $deleted")
    // live data intact and complete
    val now = VersionedTable.read(spark, root, "t")
      .as[(Long, String)].collect().toMap
    assert(now.size == 99 && !now.contains(7L) && now(42L) == "v42")
    // idempotent: nothing left to collect
    assert(VersionedTable.vacuum(root).isEmpty)
  }

  test("vacuum skips foreign v=* dirs; corrupt history reads as None") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-vac2").toString
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    VersionedTable.commit(root, Map("t" -> df))
    VersionedTable.commit(root, Map("t" -> df.withColumn("v", lit("x"))))
    // an operator artifact next to our version dirs: not ours to GC —
    // vacuum must neither crash on the non-numeric name nor delete it
    val foreign = java.nio.file.Paths.get(root, "v=backup")
    Files.createDirectories(foreign)
    Files.write(foreign.resolve("keep.txt"), "ops copy".getBytes)
    val deleted = VersionedTable.vacuum(root)
    assert(Files.exists(foreign.resolve("keep.txt")),
      s"vacuum deleted a foreign dir: $deleted")
    assert(deleted.exists(_.contains("v=1")), s"deleted: $deleted")
    // externally damaged history file: manifestAt fails cleanly (None,
    // the documented contract) instead of throwing into vacuum/readers
    val hist = java.nio.file.Paths.get(root, "manifest.v=2.json")
    Files.write(hist, "{ torn".getBytes)
    assert(VersionedTable.manifestAt(root, 2L).isEmpty)
    VersionedTable.vacuum(root) // must not throw on the corrupt entry
  }

  test("racing committers: exactly one wins, the loser fails loudly") {
    // deterministic lost-update race (no sleeps): a barrier in the
    // claim path holds BOTH committers after they observed version 1
    // and before either claims version 2 — the exact window where the
    // pre-CAS code silently discarded the first commit
    val root = Files.createTempDirectory("graft-race").toString
    VersionedTable.commit(root,
      Map("t" -> Seq((1L, "base")).toDF("id", "v")))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    VersionedTable.commitRaceHook =
      () => { barrier.await(30, java.util.concurrent.TimeUnit.SECONDS); () }
    try {
      import scala.concurrent._
      import scala.concurrent.duration._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContextExecutorService =
        ExecutionContext.fromExecutorService(pool)
      def attempt(tag: String) = Future {
        try Right(VersionedTable.commit(root,
          Map("t" -> Seq((2L, tag)).toDF("id", "v")),
          Map("winner" -> tag)))
        catch {
          case e: VersionedTable.ConcurrentCommitException => Left(e)
        }
      }
      val results = Await.result(
        Future.sequence(Seq(attempt("A"), attempt("B"))), 120.seconds)
      pool.shutdown()
      assert(results.collect { case Right(v) => v } == Seq(2L))
      assert(results.collect { case Left(e) => e }.size == 1)
      // final state is EXACTLY the winner's commit: data and meta agree
      val m = VersionedTable.current(root).get
      assert(m.version == 2L)
      val rows = VersionedTable.read(spark, root, "t")
        .as[(Long, String)].collect().toSet
      assert(rows == Set((2L, m.meta("winner"))))
    } finally VersionedTable.commitRaceHook = () => ()
  }

  test("a failed commit releases its claim; the version is reusable") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-claimrel").toString
    VersionedTable.commit(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    val bad = spark.range(1)
      .select(col("id"), assert_true(lit(false)).as("v"))
    intercept[Exception] {
      VersionedTable.commit(root, Map("t" -> bad))
    }
    // the claim was rolled back, so the next writer takes version 2
    assert(VersionedTable.commit(root,
      Map("t" -> Seq((2L, "b")).toDF("id", "v"))) == 2L)
    assert(VersionedTable.current(root).get.version == 2L)
  }

  test("a delta whose output type drifts from the recorded DDL fails " +
    "before any write and releases its claim") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-drift").toString
    val df = (1L to 100L).map(i => (i, s"v$i", i * 10)).toDF("id", "v", "n")
    VersionedTable.commitBucketed(root,
      Map("t" -> (df, "id"), "u" -> (df, "id")), 4)
    val all = 0 until 4
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commitDelta(spark, root, Map(
        "t" -> VersionedTable.Delta(all, identity),
        "u" -> VersionedTable.Delta(all,
          _.withColumn("n", col("n").cast("int")))))
    }
    assert(e.getMessage.contains("transform of u ") &&
      e.getMessage.endsWith("schema: n int (want bigint)"), e.getMessage)
    // nothing landed for either table, and the claim on v=2 is gone
    assert(!Files.exists(java.nio.file.Paths.get(root, "v=2")))
    assert(!Files.exists(java.nio.file.Paths.get(root, "manifest.v=2.json")))
    assert(VersionedTable.current(root).get.version == 1L)
    // nullability is not part of the check: a transform that makes a
    // column non-null commits as v=2
    val v2 = VersionedTable.commitDelta(spark, root, Map(
      "u" -> VersionedTable.Delta(all,
        _.withColumn("v", coalesce(col("v"), lit(""))))))
    assert(v2 == 2L)
    assert(VersionedTable.read(spark, root, "u").count() == 100L)
  }

  test("an undrained commit pool keeps the claim and names the version") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-undrained").toString
    VersionedTable.commit(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    val bad = spark.range(1)
      .select(col("id"), assert_true(lit(false)).as("v"))
    // two tables: the writes run from the commit pool, and one fails
    val tables = Map("t" -> bad, "u" -> Seq((2L, "b")).toDF("id", "v"))
    val drain = VersionedTable.awaitPoolDrain
    VersionedTable.awaitPoolDrain = _ => false // the drain times out
    val e = try intercept[VersionedTable.UndrainedCommitException] {
      VersionedTable.commit(root, tables)
    } finally VersionedTable.awaitPoolDrain = drain
    assert(e.getCause != null, "the write failure is kept as the cause")
    assert(e.getMessage.contains("version 2") &&
      e.getMessage.contains("graft-commit-"))
    // the claim survives: no writer can reuse v=2 while writes may land
    val claim = java.nio.file.Paths.get(root, "manifest.v=2.json")
    assert(Files.exists(claim))
    assert(VersionedTable.current(root).get.version == 1L)
    intercept[VersionedTable.ConcurrentCommitException] {
      VersionedTable.commit(root, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    }
    // recovery is the operator's explicit step the message names
    Files.delete(claim)
    assert(VersionedTable.commit(root,
      Map("t" -> Seq((2L, "b")).toDF("id", "v"))) == 2L)
  }

  test("a failed PUBLISH releases the claim too (no orphan after a " +
    "manifest-write error)") {
    // data writes succeed and the history entry finalizes, then the
    // current-pointer stage fails (a directory squats on the
    // .manifest.2.tmp staging path, after current() was already read
    // cleanly). The claim must be rolled back — before the fix, only
    // the data-write stage released it and the store was permanently
    // unable to commit version 2.
    val root = Files.createTempDirectory("graft-pubfail").toString
    VersionedTable.commit(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    val tmp = java.nio.file.Paths.get(root, ".manifest.2.tmp")
    Files.createDirectories(tmp.resolve("squat")) // Files.write fails
    intercept[Exception] {
      VersionedTable.commit(root, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    }
    assert(VersionedTable.current(root).get.version == 1L,
      "a failed publish must not advance the pointer")
    assert(VersionedTable.manifestAt(root, 2L).isEmpty,
      "the finalized-then-failed history entry must be rolled back")
    // version 2 must be claimable again once the obstruction is gone
    Files.delete(tmp.resolve("squat")); Files.delete(tmp)
    assert(VersionedTable.commit(root,
      Map("t" -> Seq((2L, "b")).toDF("id", "v"))) == 2L)
    assert(VersionedTable.read(spark, root, "t")
      .as[(Long, String)].collect().toSet == Set((2L, "b")))
  }

  test("a dry-run cannot stomp a claimed in-flight version; its own " +
    "claim is released when done") {
    val root = Files.createTempDirectory("graft-dryclaim").toString
    VersionedTable.commit(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    // an in-flight real commit holds the v2 claim: a dry-run writing
    // real bytes under v=2 would corrupt it — it must fail loudly
    val claim = java.nio.file.Paths.get(root, "manifest.v=2.json")
    Files.write(claim, "{}".getBytes)
    intercept[VersionedTable.ConcurrentCommitException] {
      VersionedTable.commit(root,
        Map("t" -> Seq((9L, "x")).toDF("id", "v")), dryRun = true)
    }
    Files.delete(claim)
    // a clean dry-run claims for its write, then releases: the data
    // stays inspectable, and v2 is immediately claimable by a real
    // commit (the reference's no---commit -> --commit flow)
    assert(VersionedTable.commit(root,
      Map("t" -> Seq((9L, "x")).toDF("id", "v")), dryRun = true) == 2L)
    assert(!Files.exists(claim), "dry-run must release its claim")
    assert(Files.exists(java.nio.file.Paths.get(root, "v=2", "t")))
    assert(VersionedTable.commit(root,
      Map("t" -> Seq((2L, "b")).toDF("id", "v"))) == 2L)
    assert(VersionedTable.read(spark, root, "t")
      .as[(Long, String)].collect().toSet == Set((2L, "b")))
  }

  test("orphan claim: in-flight data protected, recovery is explicit") {
    val root = Files.createTempDirectory("graft-orphan").toString
    VersionedTable.commit(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    // simulate a writer that claimed v2 and crashed before publishing
    val claim = java.nio.file.Paths.get(root, "manifest.v=2.json")
    Files.write(claim, "{}".getBytes)
    Files.createDirectories(java.nio.file.Paths.get(root, "v=2", "t"))
    // an unpublished claim is not a readable snapshot
    assert(VersionedTable.manifestAt(root, 2L).isEmpty)
    // vacuum must NOT reap a claimed in-flight version's data...
    VersionedTable.vacuum(root)
    assert(Files.exists(java.nio.file.Paths.get(root, "v=2", "t")))
    // ...and a new committer fails loudly with the recovery hint
    val e = intercept[VersionedTable.ConcurrentCommitException] {
      VersionedTable.commit(root, Map("t" -> Seq((2L, "b")).toDF("id", "v")))
    }
    assert(e.getMessage.contains("manifest.v=2.json"))
    Files.delete(claim) // the documented recovery
    assert(VersionedTable.commit(root,
      Map("t" -> Seq((2L, "b")).toDF("id", "v"))) == 2L)
  }

  test("vacuum retention keeps pinned time-travel snapshots readable") {
    val root = Files.createTempDirectory("graft-retain").toString
    val n = 4
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    VersionedTable.commitBucketed(root, Map("t" -> (df, "id")), n)
    for (id <- Seq(7L, 13L)) { // two deltas -> versions 2 and 3
      val ids = Seq(id).toDF("id")
      VersionedTable.commitDelta(spark, root, Map(
        "t" -> VersionedTable.Delta(
          VersionedTable.bucketsOf(ids, "id", n),
          old => old.join(ids, Seq("id"), "left_anti"))))
    }
    // disk-backed time travel (q83's shape, without an in-memory pin)
    val mAt1 = VersionedTable.manifestAt(root, 1L).get
    assert(mAt1.version == 1L)
    // a 3-version retention window: the v1 snapshot SURVIVES the GC
    VersionedTable.vacuum(root, retainVersions = 3)
    val pinned = VersionedTable.read(spark, root, "t", Some(mAt1))
      .as[(Long, String)].collect().toMap
    assert(pinned.size == 100 && pinned(7L) == "v7" && pinned(13L) == "v13")
    // retention 1 prunes the v1 snapshot: its superseded dirs AND its
    // history manifest go together, so a stale time-travel attempt
    // fails cleanly (None) instead of reading dangling paths
    val deleted = VersionedTable.vacuum(root)
    assert(deleted.nonEmpty)
    assert(VersionedTable.manifestAt(root, 1L).isEmpty)
    // CoW links survive: buckets still owned by v1 in the CURRENT
    // manifest are untouched, and the live read is intact
    val now = VersionedTable.read(spark, root, "t")
      .as[(Long, String)].collect().toMap
    assert(now.size == 98 && !now.contains(7L) && !now.contains(13L))
  }

  test("plain commit carries untouched tables forward by link") {
    val root = Files.createTempDirectory("graft-link").toString
    VersionedTable.commit(root, Map(
      "a" -> Seq((1L, "x")).toDF("id", "v"),
      "b" -> Seq((2L, "y")).toDF("id", "v")))
    // second commit rewrites only `a`; `b` must remain readable (linked
    // to v=1, not rewritten into v=2)
    VersionedTable.commit(root, Map("a" -> Seq((1L, "x2")).toDF("id", "v")))
    val m = VersionedTable.current(root).get
    assert(m.version == 2L)
    assert(m.versionOf("a") == 2L && m.versionOf("b") == 1L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "v=2", "b")))
    assert(VersionedTable.read(spark, root, "b")
      .as[(Long, String)].collect().toSet == Set((2L, "y")))
    assert(VersionedTable.read(spark, root, "a")
      .as[(Long, String)].collect().toSet == Set((1L, "x2")))
  }

  test("typed Dataset accessors decode the committed model (S6)") {
    import OsmModel._
    val root = Files.createTempDirectory("graft-typed").toString
    val locs = Seq(Location(1L, 100, 200, 1), Location(2L, -5, 7, 3))
    val nodes = Seq(
      Node(1L, Map("amenity" -> "cafe"),
        Some(Meta(1, 1600000000L, 9L, 42L, "alice"))),
      Node(2L, Map.empty, None)) // CDC upsert: null meta decodes as None
    val ways = Seq(Way(10L, Seq(1L, 2L, 1L), Map("highway" -> "path"),
      None))
    val rels = Seq(Relation(20L,
      Seq(Member(10L, "way", "outer"), Member(1L, "node", "label")),
      Map("type" -> "multipolygon"), None))
    VersionedTable.commit(root, Map(
      "locations" -> locs.toDS.toDF,
      "nodes" -> nodes.toDS.toDF,
      "ways" -> ways.toDS.toDF,
      "relations" -> rels.toDS.toDF))
    val db = new OsmDb(spark, root)

    // typed transforms: compile-time-checked field access
    assert(db.locationsTyped.filter(_.lon > 0).collect().toSet ==
      Set(locs.head))
    val n = db.nodesTyped.collect().sortBy(_.id)
    assert(n.toSeq == nodes)
    assert(n(1).meta.isEmpty)
    assert(db.waysTyped.head().nodes == Seq(1L, 2L, 1L)) // order kept
    val r = db.relationsTyped.head()
    assert(r.members.map(_.role) == Seq("outer", "label"))
    assert(db.relationsTyped
      .filter(_.tags.get("type").contains("multipolygon"))
      .count() == 1L)
  }

  test("replication URL format is AAA/BBB/CCC zero-padded (F7)") {
    assert(Replication.url("https://x/replication/minute", 4397511) ==
      "https://x/replication/minute/004/397/511")
    assert(Replication.url("b", 0) == "b/000/000/000")
    assert(Replication.url("b", 999999999L) == "b/999/999/999")
  }

  // q106 is the data-plane face of F7/F8; this pins its column
  // arithmetic to the driver-side functions it mirrors, so the oracle
  // gate on q106 transitively gates Replication.url/timestampToSeqnum.
  test("q106 column logic == Replication.url / timestampToSeqnum") {
    val sf = "/root/testdata/sf0.001"
    val res = OsmQueries.all.find(_.name == "q106_replication_seq").get
      .fn(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val seq = r.getAs[Long]("seqnum")
      assert(Replication.url("", seq) == "/" + r.getAs[String]("repl_path"))
    }
    // rebuild the state-file timeline the query derives and check the
    // binary search lands on the same seqnum for each target
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Queries.T(spark, sf, "events")
    val state = ev.select(col("ts")).distinct()
      .select(col("ts"), row_number().over(Window.orderBy(col("ts")))
        .cast("long").as("rn"))
      .where(col("rn") <= 5000L)
      .select(unix_micros(col("ts")).as("us"),
        (col("rn") * 199999L).as("seqnum"))
      .collect().map(r => (r.getLong(1), r.getLong(0))).sortBy(_._1)
    val bySeq = state.toMap
    val targets = ev.where(col("event_id") % 97 === 0)
      .select(col("event_id").cast("long"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val loTs = state.head._2
    val expected = res.map { r =>
      val tid = r.getAs[Long]("target_id")
      val targetUs = if (tid == -1L) loTs - 1000000L else targets(tid)
      val found = Replication.timestampToSeqnum(
        i => bySeq(i * 199999L), 1L, state.length.toLong,
        targetUs) * 199999L
      (tid, found)
    }.toMap
    res.foreach { r =>
      assert(r.getAs[Long]("seqnum") ==
        expected(r.getAs[Long]("target_id")))
    }
  }

  test("timestamp->seqnum binary search finds the last seq <= ts (F8)") {
    // synthetic monotone timeline: seq n has timestamp 1000 + 60n
    def ts(seq: Long): Long = 1000 + 60 * seq
    assert(Replication.timestampToSeqnum(ts, 0, 10000, 1000) == 0)
    assert(Replication.timestampToSeqnum(ts, 0, 10000, 1059) == 0)
    assert(Replication.timestampToSeqnum(ts, 0, 10000, 1060) == 1)
    assert(Replication.timestampToSeqnum(ts, 0, 10000, 601060) == 10000)
  }

  test("expected-version CAS: a stale metadata record fails loudly " +
    "instead of recording a duplicate/stale seqnum (r11 advice)") {
    val root = Files.createTempDirectory("graft-casmeta").toString
    VersionedTable.commitBucketed(root,
      Map("t" -> ((Seq((1L, "a")).toDF("id", "v"), "id"))), nBuckets = 2)
    val observed = VersionedTable.current(root).get.version
    // a concurrent committer lands between the guard and the record
    VersionedTable.commitDelta(spark, root, Map.empty,
      Map("streaming_batch_id" -> "77"))
    // the CLI-shaped record pinned to the STALE observed version must
    // throw and leave the manifest untouched...
    val before = VersionedTable.current(root).get
    intercept[VersionedTable.ConcurrentCommitException] {
      Replication.recordReplicationMeta(spark, root, seqnum = 5L,
        expectedVersion = Some(observed))
    }
    val after = VersionedTable.current(root).get
    assert(after.version == before.version)
    assert(after.meta == before.meta)
    assert(!after.meta.get("osmosis_replication_sequence_number")
      .contains("5"))
    // ...and re-validating against the CURRENT version succeeds
    Replication.recordReplicationMeta(spark, root, seqnum = 5L,
      expectedVersion = Some(after.version))
    assert(VersionedTable.current(root).get
      .meta("osmosis_replication_sequence_number") == "5")
  }
}
