package osmbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Entry point of the OSM verb benchmark:
  *
  * {{{
  * osmbench.Main --workload expand|extract|replicate --seed N
  *               --seconds S --trace 0|1 --work DIR [--spans FILE]
  * }}}
  *
  * Prints a report line (`{"report": ...}`: run conditions and the
  * verb-specific metrics) and then, as the last line, the result line
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones,
  * and the spans are written to `--spans`. */
object Main {

  /** Per-layer metrics every traced run reports; a layer a workload does
    * not use reports 0. Kept in step with BENCHMARK.json. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.pbf_decode_ms" -> "ms", "sources.pbf_decode_mb_per_s" -> "MB/s",
    "sources.osc_parse_ms" -> "ms",
    "osm.Ingest.expand_ms" -> "ms", "osm.Ingest.jobs" -> "count",
    "osm.Ingest.tasks" -> "count", "osm.Ingest.task_cpu_ms" -> "ms",
    "osm.Ingest.cpu_util" -> "ratio", "osm.Ingest.task_skew" -> "ratio",
    "osm.Ingest.driver_gap_ms" -> "ms", "osm.Ingest.codegen_ms" -> "ms",
    "osm.Ingest.shuffle_mb" -> "MB", "osm.Ingest.spill_mb" -> "MB",
    "osm.Ingest.read_tables_ms" -> "ms",
    "osm.Ingest.write_extract_ms" -> "ms", "osm.Ingest.write_extract_mb" -> "MB",
    "osm.VersionedTable.files_written" -> "count",
    "osm.VersionedTable.mb_written" -> "MB",
    "osm.VersionedTable.buckets_rewritten" -> "count",
    "osm.VersionedTable.bytes_written_per_change" -> "B",
    "osm.VersionedTable.current_ms" -> "ms",
    "osm.VersionedTable.files_listed" -> "count",
    "osm.OsmDb.open_ms" -> "ms", "osm.OsmDb.stats_jobs" -> "count",
    "osm.OsmDb.stats_tasks" -> "count", "osm.OsmDb.job_path_probes" -> "count",
    "osm.PointReader.warm_ms" -> "ms", "osm.PointReader.cold_ms" -> "ms",
    "osm.PointReader.cold_share" -> "ratio",
    "spatial.Coverer.covering_ms" -> "ms", "spatial.Coverer.cells" -> "count",
    "spatial.SpatialScan.seed_scan_ms" -> "ms",
    "spatial.SpatialScan.rows_read_per_seed" -> "ratio",
    "spatial.SpatialScan.files_read" -> "count",
    "osm.Extract.complete_ms" -> "ms", "osm.Extract.jobs" -> "count",
    "osm.Extract.shuffle_mb" -> "MB", "osm.Extract.driver_gap_ms" -> "ms",
    "streaming.Replication.apply_ms" -> "ms",
    "streaming.Replication.jobs" -> "count",
    "streaming.Replication.driver_gap_ms" -> "ms",
    "streaming.Replication.tasks" -> "count",
    "streaming.Replication.task_cpu_ms" -> "ms",
    "streaming.Replication.shuffle_mb" -> "MB",
    "jvm.gc_ms" -> "ms", "spark.codegen_compiles" -> "count",
    "trace.overhead_ms" -> "ms", "trace.overhead_share" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, spans: Option[String])

  /** Spark task slots: the machine's cores, at most 4. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Node budget of the generated dataset. */
  val Nodes = 10000
  /** Hash buckets of the store (see README: at this data size the CLI's
    * default of 64 makes every call take 10-15 s). */
  val Buckets = 8

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = req("workload")
    require(Set("expand", "extract", "replicate")(w), s"unknown workload $w")
    Args(w, req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", req("work"), m.get("spans"))
  }

  def session(a: Args): SparkSession = {
    val local = new File(a.work, "spark-local").getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"osmbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1024")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir",
        new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  def run(a: Args): Unit = {
    new File(a.work).mkdirs()
    val before = graft.HostContention.sample()
    val cpuBefore = cpuTimes()
    val spark = session(a)
    val ctx = new Ctx(spark, new File(a.work), a.seed, a.trace,
      Cores, Gen.Scale(Nodes, 40), Buckets)
    ctx.log("session ready")
    val r = try a.workload match {
      case "expand"  => Workloads.expand(ctx)
      case "extract" => Workloads.extract(ctx)
      case _         => Workloads.replicate(ctx)
    } finally ctx.tracer.close()
    ctx.log("timed part done")
    val after = graft.HostContention.sample()
    val stealShare = for (b <- cpuBefore; e <- cpuTimes())
      yield (e(7) - b(7)).toDouble / math.max(1L, e.sum - b.sum)
    a.spans.foreach(f => writeSpans(ctx, f))
    spark.stop()

    def host(s: graft.HostContention.Sample) = Map("other_jvms" -> s.otherJvms,
      "load1" -> s.load, "busy" -> s.busy, "contended" -> s.contended)
    val conditions = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "master" -> s"local[$Cores]",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "host_at_start" -> host(before), "host_at_end" -> host(after),
      "contended" -> (before.contended || after.contended),
      "cpu_steal_share" -> stealShare) ++ ctx.conditions
    val failedFrac = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    val report = Map[String, Any](
      "conditions" -> conditions,
      "metrics" -> (r.named :+ ("failed_frac" -> failedFrac)).toMap,
      "end_to_end" -> r.endToEnd.map { case (n, v, _) => n -> v }.toMap,
      "samples_ms" -> ctx.timings.map { case (k, xs) =>
        k -> (if (k == "lookup_ms") Seq(xs.size) else xs.toSeq) },
      "failures" -> ctx.failures.toSeq)
    println(Json(Map("report" -> report)))
    val metrics =
      if (a.trace) {
        val got = r.layers.map { case (n, v, _) => n -> v }.toMap
        PerLayer.map { case (n, u) =>
          n -> Map("value" -> got.getOrElse(n, 0.0), "unit" -> u) }
      } else r.endToEnd.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }
    println(Json(Map("correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
  }

  /** The first eight fields of /proc/stat's `cpu` line (user, nice,
    * system, idle, iowait, irq, softirq, steal), in ticks; None where there
    * is no /proc. Steal is time the hypervisor ran other guests on this
    * machine's CPUs: a run that saw much of it ran on a busy host, which
    * the process-level sample above cannot see. */
  private def cpuTimes(): Option[Array[Long]] =
    try Some(Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").slice(1, 9).map(_.toLong))
    catch { case _: Exception => None }

  /** Every span of the run with its self time and counters. */
  def writeSpans(ctx: Ctx, file: String): Unit = {
    val spans = ctx.tracer.spans.toSeq
    val self = Spans.selfNs(spans)
    val rows = spans.map(s => Map[String, Any](
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_ms" -> s.durNs / 1e6, "self_ms" -> self(s.id) / 1e6,
      "counters" -> s.counters.toMap))
    Files.write(Paths.get(file),
      Json(Map("spans" -> rows)).getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for maps, sequences, strings, numbers and
  * booleans; non-finite numbers render as null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
