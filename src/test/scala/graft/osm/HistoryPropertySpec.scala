package graft.osm

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.util.Random

/** Randomized model check of the round-10 VersionedTable contract
  * (single-writer CAS, durable per-version history, snapshot-safe
  * vacuum) — the CdcPropertySpec pattern applied to the store's
  * version plane. A seeded RNG drives a random interleaving of plain
  * commits (with carry-forward: not every commit touches every
  * table), bucketed commits, dry-runs, metadata merges, and vacuums
  * with random retention; an in-memory fold tracks, per published
  * version, the exact expected content of every table, the merged
  * metadata, and whether that version's history manifest must still
  * exist. After every vacuum and again at the end, EVERY version the
  * model says is retained must read back exactly (all tables, via
  * `manifestAt` — disk-backed time travel, the q197 shape), and every
  * version the model says was pruned must fail cleanly (None).
  *
  * Reference contract: LMDB MVCC reader-snapshot retention
  * (`docs/MANUAL.md:126`) + one-writer-at-a-time
  * (`src/storage.cpp:6-19`); here delivered on a plain filesystem by
  * commit-time CAS claims and `vacuum(retainVersions)`.
  */
class HistoryPropertySpec extends AnyFunSuite with graft.TestSession {
  import spark.implicits._

  /** Expected rows per table at one published version. */
  private case class Snapshot(tables: Map[String, Set[(Long, String)]],
                              meta: Map[String, String])

  private def runScenario(seed: Long, nOps: Int): Unit = {
    val rnd = new Random(seed)
    val root = Files.createTempDirectory(s"graft-histprop-$seed").toString

    def freshRows(): Set[(Long, String)] =
      (0 until 1 + rnd.nextInt(6))
        .map(_ => (rnd.nextInt(50).toLong, s"s${rnd.nextInt(9)}"))
        .toMap.toSet // dedup keys so bucketed sort order can't matter

    var cur = 0L                       // current published version
    var liveTables = Map.empty[String, Set[(Long, String)]]
    var liveMeta = Map.empty[String, String]
    var history = Map.empty[Long, Snapshot] // versions still readable
    var pruned = Set.empty[Long]            // versions vacuumed away

    def checkAll(): Unit = {
      history.foreach { case (v, snap) =>
        val m = VersionedTable.manifestAt(root, v)
        assert(m.isDefined, s"seed=$seed: retained v=$v manifest gone")
        snap.tables.foreach { case (t, want) =>
          val got = VersionedTable.read(spark, root, t, m)
            .select("id", "v").as[(Long, String)].collect().toSet
          assert(got == want,
            s"seed=$seed: v=$v table=$t got=$got want=$want")
        }
        // the layout records its page granularity under an internal
        // meta key at commitBucketed time (r13, read back by
        // commitDelta) — the model tracks USER meta only
        assert(m.get.meta - VersionedTable.PageRowLimitKey == snap.meta,
          s"seed=$seed: v=$v meta=${m.get.meta} want=${snap.meta}")
      }
      pruned.foreach { v =>
        assert(VersionedTable.manifestAt(root, v).isEmpty,
          s"seed=$seed: pruned v=$v still resolves")
      }
      // the CURRENT pointer always equals the newest retained snapshot
      assert(VersionedTable.current(root).map(_.version)
        .getOrElse(0L) == cur, s"seed=$seed: current != $cur")
    }

    (0 until nOps).foreach { _ =>
      rnd.nextInt(10) match {
        case n if n <= 3 => // plain commit touching a random table set
          val touch = rnd.nextInt(3) match {
            case 0 => Seq("t")
            case 1 => Seq("u")
            case _ => Seq("t", "u")
          }
          val contents = touch.map(t => t -> freshRows()).toMap
          val meta = if (rnd.nextBoolean())
            Map(s"k${rnd.nextInt(3)}" -> s"m${rnd.nextInt(99)}")
          else Map.empty[String, String]
          val v = VersionedTable.commit(root,
            contents.map { case (t, rows) =>
              t -> rows.toSeq.sortBy(_._1).toDF("id", "v") }, meta)
          assert(v == cur + 1, s"seed=$seed: version not monotonic")
          cur = v
          liveTables = liveTables ++ contents
          liveMeta = liveMeta ++ meta
          history += v -> Snapshot(liveTables, liveMeta)
        case 4 | 5 => // bucketed commit (exercises per-bucket vacuum)
          val rows = freshRows()
          val v = VersionedTable.commitBucketed(root,
            Map("b" -> ((rows.toSeq.sortBy(_._1).toDF("id", "v"), "id"))),
            nBuckets = 4)
          assert(v == cur + 1)
          cur = v
          liveTables = liveTables + ("b" -> rows)
          history += v -> Snapshot(liveTables, liveMeta)
        case 6 => // dry-run: data written, nothing published
          val v = VersionedTable.commit(root,
            Map("t" -> freshRows().toSeq.toDF("id", "v")),
            dryRun = true)
          assert(v == cur + 1, s"seed=$seed: dry-run version wrong")
          assert(VersionedTable.current(root).map(_.version)
            .getOrElse(0L) == cur, s"seed=$seed: dry-run published!")
        case _ => // vacuum with random retention
          val k = 1 + rnd.nextInt(3)
          VersionedTable.vacuum(root, retainVersions = k)
          val cutoff = cur - k + 1
          val out = history.keySet.filter(_ < cutoff)
          pruned ++= out
          history --= out
          checkAll()
      }
    }
    checkAll()
  }

  test("random commit/vacuum/time-travel interleavings match the model") {
    runScenario(seed = 41, nOps = 22)
    runScenario(seed = 1042, nOps = 22)
  }

  test("a dry-run leftover above current is reclaimed; an orphan claim is not") {
    val root = Files.createTempDirectory("graft-histprop-dry").toString
    VersionedTable.commit(root, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    // dry-run writes v=2 data but never claims or publishes
    VersionedTable.commit(root,
      Map("t" -> Seq((2L, "b")).toDF("id", "v")), dryRun = true)
    assert(Files.exists(java.nio.file.Paths.get(root, "v=2", "t")))
    VersionedTable.vacuum(root, retainVersions = 1)
    assert(!Files.exists(java.nio.file.Paths.get(root, "v=2")),
      "unclaimed dry-run leftover must be collected")
    // an in-flight CLAIMED version's data must survive vacuum
    Files.write(java.nio.file.Paths.get(root, "manifest.v=2.json"),
      "{}".getBytes)
    val d = java.nio.file.Paths.get(root, "v=2", "w")
    Files.createDirectories(d)
    Files.write(d.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    VersionedTable.vacuum(root, retainVersions = 1)
    assert(Files.exists(d), "claimed in-flight data must not be reaped")
    Files.delete(java.nio.file.Paths.get(root, "manifest.v=2.json"))
  }
}
