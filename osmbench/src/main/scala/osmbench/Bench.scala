package osmbench

import graft.Cli
import org.apache.spark.sql.SparkSession

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.lang.management.ManagementFactory
import scala.collection.mutable

/** State shared by a workload run: the session, the work directory, the
  * tracer, the op/failure tally and the collected timings. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
                val tracing: Boolean, val cores: Int,
                val scale: Gen.Scale, val buckets: Int) {
  val tracer = new Tracer(spark, tracing)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val timings = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** facts about the run that explain its numbers (sizes, settings) */
  val conditions = mutable.LinkedHashMap[String, Any]()

  def record(name: String, ms: Double): Unit =
    timings.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += ms

  def dir(name: String): String = new File(work, name).getPath

  def log(msg: String): Unit = System.err.println(
    f"[osmbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s] $msg")

  /** Run `args` through the CLI's testable entry, returning its stdout. */
  def cli(args: String*): String = {
    val bos = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(bos, true, "UTF-8")) {
      Cli.run(spark, args.toIndexedSeq)
    }
    bos.toString("UTF-8")
  }

  /** Time `body` in milliseconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** One attempted op. `body` gets a `mismatch` callback; an exception
    * or any mismatch makes the op count as failed (once). Returns the
    * body's result when it did not throw. */
  def op[T](what: String)(body: (String => Unit) => T): Option[T] = {
    attempted += 1
    var bad = false
    def mismatch(msg: String): Unit = {
      if (!bad) failed += 1
      bad = true
      if (failures.size < 20) failures += s"$what: $msg"
      log(s"MISMATCH $what: $msg")
    }
    try Some(body(mismatch))
    catch {
      case e: Throwable =>
        mismatch(s"${e.getClass.getName}: ${e.getMessage}")
        if (failures.size <= 3) e.printStackTrace()
        None
    }
  }

  def rm(path: String): Unit = {
    def go(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(path))
  }

  /** Live-heap high-water mark of the timed part, read after a full
    * collection at the end of every timed step: used heap at a random
    * moment mostly shows when the collector last ran. */
  private var liveMax = 0L
  def sampleHeap(): Unit = {
    System.gc()
    liveMax = math.max(liveMax,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakHeapMb: Double = liveMax / 1e6
}

/** What one workload run measured. `endToEnd` are the gated metrics
  * (every workload reports all of them); `named` are the same numbers
  * under their verb-specific names, plus the ones only this workload
  * has; `layers` is filled by the traced run. */
final case class Result(endToEnd: Seq[(String, Double, String)],
                        named: Seq[(String, Any)],
                        layers: Seq[(String, Double, String)])

object Bench {

  /** Run steps 0 until `n`, sampling the live heap after each. The
    * count is fixed: the run's `--seconds` adds no steps, so every run
    * makes the same calls and a faster engine is graded on the same
    * work. */
  def steps(ctx: Ctx, n: Int)(step: Int => Unit): Unit =
    (0 until n).foreach { k => step(k); ctx.sampleHeap() }

  /** Bytes of the files the store's current manifest references. */
  def liveBytes(root: String): Long = {
    val m = graft.osm.VersionedTable.current(root).get
    m.tables.map { t =>
      m.buckets.get(t) match {
        case Some(spec) => spec.versions.indices.map(b =>
          Inputs.dataBytes(s"$root/v=${spec.versions(b)}/$t/__bucket=$b")).sum
        case None => Inputs.dataBytes(s"$root/v=${m.versionOf(t)}/$t")
      }
    }.sum
  }

  /** Parse `query DB` output: per-table counts, timestamp, seqnum. */
  def parseStats(out: String): (Map[String, Long], String, String) = {
    val lines = out.linesIterator.toSeq
    def after(p: String) =
      lines.find(_.startsWith(p)).map(_.stripPrefix(p).trim).getOrElse("")
    val counts = lines.filter(l => l.contains(": ") && !l.startsWith("Timestamp")
      && !l.startsWith("Sequence")).map { l =>
      val Array(k, v) = l.split(": ", 2)
      k.trim -> v.trim.toLong
    }.toMap
    (counts, after("Timestamp:"), after("Sequence #:"))
  }

  def checkCounts(mismatch: String => Unit, got: Map[String, Long],
                  want: Map[String, Long]): Unit =
    if (got != want) mismatch(s"table counts $got, expected $want")

  // ---- point reads ------------------------------------------------------

  /** One point read: the accessor, the probed table and key column. */
  final case class Probe(kind: String, id: Long) {
    def table: String = kind match {
      case "location" => "locations"
      case "node"     => "nodes"
      case "way"      => "ways"
      case "relation" => "relations"
      case adj        => adj
    }
  }

  /** Issue `probe` through `db`, compare it with the mirror, and return
    * the read's wall time in ms (the comparison is not timed). */
  def read(db: graft.osm.OsmDb, st: OsmState, p: Probe,
           mismatch: String => Unit): Double = {
    def t0 = System.nanoTime()
    def check[T](got: T, start: Long, want: => T): Double = {
      val ms = (System.nanoTime() - start) / 1e6
      if (got != want) mismatch(s"${p.kind} ${p.id}: $got, expected $want")
      ms
    }
    p.kind match {
      case "location" =>
        val s = t0
        check(db.location(p.id), s,
          st.nodes.get(p.id).map(n => (n.lon, n.lat, n.meta.version)))
      case "node" =>
        val s = t0
        check(db.node(p.id), s, st.nodes.get(p.id).filter(_.tags.nonEmpty)
          .map(n => (n.tags, n.meta.version)))
      case "way" =>
        val s = t0
        check(db.way(p.id), s, st.ways.get(p.id).map(w => (w.nodes, w.tags)))
      case "relation" =>
        val s = t0
        check(db.relation(p.id), s, st.rels.get(p.id).map(r =>
          (r.members.map(m => (m.ref, m.mtype, m.role)), r.tags)))
      case adj =>
        val s = t0
        check(db.parents(adj, p.id), s, st.parents(adj, p.id))
    }
  }

  /** Key a probe reads by, and that key's bucket in the snapshot: the
    * first probe of a (table, bucket) pair in a snapshot is cold. */
  def bucketOf(db: graft.osm.OsmDb, p: Probe): (String, Int) =
    (p.table, db.snapshot.buckets.get(p.table)
      .map(s => graft.osm.VersionedTable.bucketOfValue(p.id, s.nBuckets))
      .getOrElse(-1))

  /** A QD1 burst: one probe at a time through one fresh `OsmDb`. Returns
    * (cold ms, warm ms) samples; with `record` it also records them. */
  def burst(ctx: Ctx, root: String, st: OsmState, probes: Seq[Probe],
            record: Boolean = true): (Seq[Double], Seq[Double]) = {
    val (db, openMs) = ctx.timed(ctx.tracer.span("osm.OsmDb.open") {
      new graft.osm.OsmDb(ctx.spark, root)
    })
    if (record) ctx.record("osmdb_open_ms", openMs)
    val seen = mutable.Set[(String, Int)]()
    val cold = mutable.ArrayBuffer[Double]()
    val warm = mutable.ArrayBuffer[Double]()
    ctx.tracer.span("osm.OsmDb.lookups") {
      probes.foreach { p =>
        ctx.op(s"read ${p.kind} ${p.id}") { mismatch =>
          val isCold = seen.add(bucketOf(db, p))
          val ms = ctx.tracer.span("osm.PointReader.probe") {
            read(db, st, p, mismatch)
          }
          (if (isCold) cold else warm) += ms
          if (record) ctx.record("lookup_ms", ms)
        }
      }
    }
    (cold.toSeq, warm.toSeq)
  }
}
