package osmbench

import graft.osm.{Extract, Ingest, OsmDb, VersionedTable}
import graft.spatial.{Coverer, Region, SpatialScan}
import graft.streaming.Replication
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable

/** The three workloads. Each one sets up from the seed, makes one
  * untimed warm-up call of its verb, then runs a fixed sequence of verb
  * calls as a closed loop at queue depth 1, and checks every answer
  * against the generated data. In a traced run some verb calls are made
  * layer by layer (the same calls, in the same order, as the CLI makes
  * them), each lazy step forced with a count so its span owns its work;
  * the others stay plain and give the tracing overhead. */
object Workloads {
  import Bench._

  private def mb(bytes: Long) = bytes / 1e6

  /** What the set-up leaves for the timed part. */
  final case class Prepared(ds: Gen.Dataset, pbf: String, pbfBytes: Long,
                            root: String, expandMs: Double)

  /** The set-up every workload shares: generate the dataset, write it as
    * a sharded PBF, expand the PBF into a bucketed store. It is also the
    * JVM's first Spark work. In a traced run the expand is made layer by
    * layer and its layers go into `l`. Returns the set-up and its
    * seconds. */
  private def prepare(ctx: Ctx, l: Layers): (Prepared, Double) = {
    val t0 = System.nanoTime()
    val (ds, genMs) = ctx.timed(Gen.dataset(ctx.seed, ctx.scale))
    val pbf = ctx.dir("pbf")
    val (_, pbfMs) = ctx.timed(Inputs.writePbf(ds.state, pbf, ctx.cores))
    val bytes = Inputs.dataBytes(pbf)
    val root = ctx.dir("db")
    val op = ctx.tracer.newOp()
    val (_, ms) = ctx.timed(ctx.tracer.span("op.expand") {
      if (ctx.tracing) expandLayered(ctx, pbf, root)
      else ctx.cli("expand", pbf, root, s"--buckets=${ctx.buckets}")
    })
    if (ctx.tracing) {
      manifestRead(ctx, root)
      expandLayers(ctx, l, new OpTrace(ctx, op), bytes, root)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    ctx.log(f"set-up ${secs}%.2f s: generate ${genMs / 1e3}%.2f s, " +
      f"write PBF ${pbfMs / 1e3}%.2f s, expand ${ms / 1e3}%.2f s")
    ctx.conditions("elements_per_table") = ds.state.tableCounts
    ctx.conditions("pbf_mb") = mb(bytes)
    ctx.conditions("buckets") = ctx.buckets
    ctx.conditions("store_mb") = mb(liveBytes(root))
    (Prepared(ds, pbf, bytes, root, ms), secs)
  }

  /** `setup_s`: the set-up plus the warm-up call, which is also set-up:
    * work moved into a verb's first call shows there. */
  private def setupSecs(ctx: Ctx, setupS: Double, warmMs: Double): Double = {
    ctx.conditions("warmup_s") = warmMs / 1e3
    setupS + warmMs / 1e3
  }

  /** A manifest read of its own, made after a traced verb call and
    * outside its timing: the CLI reads the manifest inside `OsmDb` and
    * `Ingest`, where the bench cannot time it apart. */
  private def manifestRead(ctx: Ctx, root: String): Unit =
    ctx.tracer.span("osm.VersionedTable.current") { VersionedTable.current(root) }

  /** Per-layer numbers of one traced op: for span `name`, its wall ms and
    * the counters of its whole subtree. */
  final class OpTrace(ctx: Ctx, op: Int) {
    val spans: Seq[Span] = ctx.tracer.spans.filter(_.op == op).toSeq
    def named(name: String): Seq[Span] = spans.filter(_.name == name)
    def ms(name: String): Double = named(name).map(_.durNs).sum / 1e6
    private def tree(name: String): Seq[Span] =
      named(name).flatMap(Spans.subtree(spans, _))
    def counter(name: String, c: String): Double =
      tree(name).map(_.counters(c)).sum
    def all(c: String): Double = spans.map(_.counters(c)).sum
    /** wall minus the union of the subtree's Spark job intervals */
    def driverGapMs(name: String): Double = named(name).map { s =>
      val jobs = Spans.subtree(spans, s).flatMap(_.jobs.values)
      (s.durNs / 1e6) - Spans.unionMs(jobs, s.startMs, s.endMs)
    }.sum
    /** slowest / median task of the subtree's heaviest stage */
    def taskSkew(name: String): Double = {
      val stages = tree(name).flatMap(_.stageTasks.toSeq)
        .filter(_._2.size >= 2)
      if (stages.isEmpty) 1.0
      else {
        val (_, ts) = stages.maxBy(_._2.sum)
        ts.max / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq))
      }
    }
    def cpuUtil(name: String): Double =
      counter(name, "task_cpu_ms") / math.max(1e-9, ms(name) * ctx.cores)
  }

  /** Per-layer metrics: the median over the traced ops of each op's
    * value. */
  final class Layers {
    private val vals = mutable.LinkedHashMap[String, (String, mutable.ArrayBuffer[Double])]()
    def add(name: String, unit: String, v: Double): Unit =
      vals.getOrElseUpdate(name, (unit, mutable.ArrayBuffer[Double]()))._2 += v
    def result: Seq[(String, Double, String)] = vals.toSeq.map {
      case (n, (u, xs)) => (n, Stats.median(xs.toSeq), u)
    }
  }

  /** The layer metrics every workload shares. */
  private def commonLayers(ctx: Ctx, l: Layers, t: OpTrace): Unit = {
    l.add("jvm.gc_ms", "ms", t.all("gc_ms"))
    l.add("spark.codegen_compiles", "count", t.all("codegen_compiles"))
    l.add("osm.VersionedTable.files_listed", "count", t.all("files_listed"))
  }

  /** Verb-call wall times of a traced run, split into the calls made
    * layer by layer and the plain ones, by a class of like calls (the
    * same region, or any diff). */
  final class Calls {
    private val ms = mutable.ArrayBuffer[(String, Boolean, Double)]()
    def add(cls: String, layered: Boolean, v: Double): Unit =
      ms += ((cls, layered, v))

    /** Tracing overhead: per class holding both kinds, layered median
      * minus plain median; the median of those over classes. */
    def overhead: Seq[(String, Double, String)] = {
      val per = ms.groupBy(_._1).values.flatMap { xs =>
        val (t, p) = xs.partition(_._2)
        if (t.isEmpty || p.isEmpty) None
        else {
          val plain = Stats.median(p.map(_._3).toSeq)
          Some((Stats.median(t.map(_._3).toSeq) - plain, plain))
        }
      }.toSeq
      if (per.isEmpty) Seq(("trace.overhead_ms", 0.0, "ms"),
        ("trace.overhead_share", 0.0, "ratio"))
      else Seq(("trace.overhead_ms", Stats.median(per.map(_._1)), "ms"),
        ("trace.overhead_share", Stats.median(per.map(x => x._1 / x._2)),
          "ratio"))
    }
  }

  // ---- expand -------------------------------------------------------------

  /** Compare a freshly expanded store with the generated data: per-table
    * counts, then a seeded sample of point reads. */
  private def checkStore(ctx: Ctx, root: String, ds: Gen.Dataset, k: Int)
  : Unit = {
    val want = ds.state.tableCounts
    ctx.op(s"stats of expanded store $k") { mismatch =>
      val db = new OsmDb(ctx.spark, root)
      checkCounts(mismatch, db.stats(), want)
    }
    val rng = new SplittableRandom(Gen.mix(ctx.seed, 700000 + k))
    def anyId(max: Int) = 1L + rng.nextInt(max)
    val probes = (0 until 8).flatMap { _ =>
      Seq(Probe("location", anyId(want("locations").toInt)),
        Probe("node", anyId(want("locations").toInt)),
        Probe("way", anyId(want("ways").toInt)),
        Probe("relation", anyId(want("relations").toInt)),
        Probe("node_way", anyId(want("locations").toInt)))
    }
    burst(ctx, root, ds.state, probes)
  }

  /** Layers of one layered expand (see [[expandLayered]]). */
  private def expandLayers(ctx: Ctx, l: Layers, t: OpTrace, pbfBytes: Long,
                           root: String): Unit = {
    val decodeMs = t.ms("sources.pbf_decode")
    l.add("sources.pbf_decode_ms", "ms", decodeMs)
    l.add("sources.pbf_decode_mb_per_s", "MB/s",
      mb(pbfBytes) / math.max(1e-9, decodeMs / 1e3))
    val e = "osm.Ingest.expand"
    l.add(s"${e}_ms", "ms", t.ms(e))
    l.add("osm.Ingest.jobs", "count", t.counter(e, "jobs"))
    l.add("osm.Ingest.tasks", "count", t.counter(e, "tasks"))
    l.add("osm.Ingest.task_cpu_ms", "ms", t.counter(e, "task_cpu_ms"))
    l.add("osm.Ingest.cpu_util", "ratio", t.cpuUtil(e))
    l.add("osm.Ingest.task_skew", "ratio", t.taskSkew(e))
    l.add("osm.Ingest.driver_gap_ms", "ms", t.driverGapMs(e))
    l.add("osm.Ingest.codegen_ms", "ms", t.counter(e, "codegen_ms"))
    l.add("osm.Ingest.shuffle_mb", "MB", t.counter(e, "shuffle_mb"))
    l.add("osm.Ingest.spill_mb", "MB", t.counter(e, "spill_mb"))
    l.add("osm.VersionedTable.files_written", "count",
      Inputs.fileCount(root).toDouble)
    l.add("osm.VersionedTable.mb_written", "MB", mb(Inputs.dataBytes(root)))
    l.add("osm.VersionedTable.buckets_rewritten", "count",
      VersionedTable.current(root).map(_.buckets.values
        .map(_.nBuckets).sum).getOrElse(0).toDouble)
    l.add("osm.VersionedTable.current_ms", "ms",
      t.ms("osm.VersionedTable.current"))
    commonLayers(ctx, l, t)
  }

  /** Repeats `expand` of the set-up's PBF into fresh stores, twice (a
    * traced run: four times, layered first and last). The set-up's
    * expand is its warm-up. Not in `BENCHMARK.json` (see README): the
    * set-up of the other two workloads already runs and times the same
    * expand. */
  def expand(ctx: Ctx): Result = {
    val l = new Layers
    val (p, setupS) = prepare(ctx, l)
    val elements =
      p.ds.state.nodes.size + p.ds.state.ways.size + p.ds.state.rels.size
    val calls = new Calls
    var storeBytes = 0L
    val n = if (ctx.tracing) 4 else 2
    steps(ctx, n) { k =>
      val root = ctx.dir(s"expand-$k")
      val layered = ctx.tracing && (k == 0 || k == n - 1)
      val op = ctx.tracer.newOp()
      ctx.op(s"expand $k") { _ =>
        val (_, ms) = ctx.timed(ctx.tracer.span("op.expand") {
          if (layered) expandLayered(ctx, p.pbf, root)
          else ctx.cli("expand", p.pbf, root, s"--buckets=${ctx.buckets}")
        })
        calls.add("expand", layered, ms)
        ctx.record("expand_ms", ms)
      }
      storeBytes = Inputs.dataBytes(root)
      if (layered) {
        manifestRead(ctx, root)
        expandLayers(ctx, l, new OpTrace(ctx, op), p.pbfBytes, root)
      }
      checkStore(ctx, root, p.ds, k)
      ctx.rm(root)
    }
    val peak = ctx.peakHeapMb
    val expandMs = ctx.timings("expand_ms").toSeq
    val mbps = mb(p.pbfBytes) * expandMs.size / (expandMs.sum / 1e3)
    ctx.conditions("expands") = n
    Result(
      Seq(("setup_s", setupS, "s"),
        ("verb_p50_ms", Stats.median(expandMs), "ms"),
        ("verb_elements_per_s", elements * expandMs.size / (expandMs.sum / 1e3),
          "1/s"),
        ("peak_heap_mb", peak, "MB"),
        ("store_bytes_per_input_byte", storeBytes.toDouble / p.pbfBytes,
          "ratio")),
      Seq("expand_mb_per_s" -> mbps,
        "expand_p50_ms" -> Stats.median(expandMs)),
      l.result ++ calls.overhead)
  }

  /** `expand`, one layer per span: decode each entity (forced with a
    * count), then the bucketed expand the CLI runs. */
  private def expandLayered(ctx: Ctx, pbf: String, root: String): Unit = {
    val tr = ctx.tracer
    tr.span("sources.pbf_decode") {
      Seq("node", "way", "relation").foreach(e =>
        Ingest.readOsm(ctx.spark, pbf, e).count())
    }
    tr.span("osm.Ingest.expand") {
      Ingest.expandBucketed(ctx.spark, pbf, root, nBuckets = ctx.buckets)
    }
  }

  // ---- extract ------------------------------------------------------------

  private def regionArgs(ctx: Ctx, r: Gen.RegionSpec, k: String): String =
    if (r.flag == "poly") {
      val f = ctx.dir(s"region-$k.poly")
      Files.write(Paths.get(f), r.arg.getBytes(StandardCharsets.UTF_8))
      s"--poly=$f"
    } else s"--${r.flag}=${r.arg}"

  private def regionOf(r: Gen.RegionSpec): Region =
    Region(r.arg, r.flag)

  /** Id sets of an extract output, read back through the osmpbf source. */
  private def readBack(ctx: Ctx, out: String): (Set[Long], Set[Long], Set[Long]) = {
    def ids(e: String): Set[Long] =
      ctx.spark.read.format("osmpbf").option("entity", e).load(out)
        .select(col("id")).collect().map(_.getLong(0)).toSet
    (ids("node"), ids("way"), ids("relation"))
  }

  def extract(ctx: Ctx): Result = {
    val l = new Layers
    val (p, setupS) = prepare(ctx, l)
    val (ds, pbfBytes, root) = (p.ds, p.pbfBytes, p.root)
    val storeBytes = liveBytes(root)
    val oracle = new Oracle(ds.state)
    val calls = new Calls
    val written = mutable.ArrayBuffer[Long]()
    val seedsPerRegion = mutable.ArrayBuffer[(String, Int)]()
    /** Extract region `j` as call `k` and check it; returns the call's
      * wall ms. A warm-up call records no timing. */
    def call(k: String, j: Int, layered: Boolean, warmUp: Boolean): Double = {
      val spec = Gen.region(ds, j)
      val arg = regionArgs(ctx, spec, k)
      val out = ctx.dir(s"out-$k")
      val op = ctx.tracer.newOp()
      val ms = ctx.op(s"extract $k ${spec.scale} $arg") { mismatch =>
        val (_, ms) = ctx.timed(ctx.tracer.span("op.extract") {
          if (layered) extractLayered(ctx, root, out, regionOf(spec))
          else ctx.cli("extract", root, out, arg)
        })
        val ranges = Coverer.cellRanges(Coverer.covering(regionOf(spec)))
        val want = oracle.extract(ranges)
        val (nodes, ways, rels) = readBack(ctx, out)
        if (!warmUp) {
          calls.add(s"region $j", layered, ms)
          ctx.record("extract_ms", ms)
          seedsPerRegion += ((spec.scale, oracle.seeds(ranges).size))
          written += nodes.size.toLong + ways.size + rels.size
        }
        if (nodes != want.nodes || ways != want.ways || rels != want.rels)
          mismatch(s"ids (nodes ${nodes.size}, ways ${ways.size}, " +
            s"relations ${rels.size}), expected (${want.nodes.size}, " +
            s"${want.ways.size}, ${want.rels.size}); missing nodes " +
            s"${(want.nodes -- nodes).take(5)}, extra nodes " +
            s"${(nodes -- want.nodes).take(5)}")
        if (layered) {
          manifestRead(ctx, root)
          val t = new OpTrace(ctx, op)
          l.add("osm.OsmDb.open_ms", "ms", t.ms("osm.OsmDb.open"))
          l.add("osm.Ingest.read_tables_ms", "ms", t.ms("osm.Ingest.readTables"))
          l.add("osm.VersionedTable.current_ms", "ms",
            t.ms("osm.VersionedTable.current"))
          l.add("spatial.Coverer.covering_ms", "ms",
            t.ms("spatial.Coverer.covering"))
          l.add("spatial.Coverer.cells", "count",
            t.named("spatial.Coverer.covering").map(_.counters("cells")).sum)
          val ss = "spatial.SpatialScan.seed_scan"
          l.add(s"${ss}_ms", "ms", t.ms(ss))
          l.add("spatial.SpatialScan.rows_read_per_seed", "ratio",
            t.counter(ss, "rows_read") / math.max(1.0,
              t.named(ss).map(_.counters("seeds")).sum))
          l.add("spatial.SpatialScan.files_read", "count",
            t.counter(ss, "files_read"))
          val ec = "osm.Extract.complete"
          l.add(s"${ec}_ms", "ms", t.ms(ec))
          l.add("osm.Extract.jobs", "count", t.counter(ec, "jobs"))
          l.add("osm.Extract.shuffle_mb", "MB", t.counter(ec, "shuffle_mb"))
          l.add("osm.Extract.driver_gap_ms", "ms", t.driverGapMs(ec))
          val we = "osm.Ingest.write_extract"
          l.add(s"${we}_ms", "ms", t.ms(we))
          l.add(s"${we}_mb", "MB", mb(Inputs.dataBytes(out)))
          commonLayers(ctx, l, t)
        }
        ms
      }
      ctx.rm(out)
      ctx.log(f"extract $k: ${ms.getOrElse(0.0) / 1e3}%.2f s")
      ms.getOrElse(0.0)
    }
    // warm-up: region 4, a block outside the timed sequence
    val warmMs = call("warm-up", 4, layered = false, warmUp = true)
    // regions 0-3 (block, empty, country, city) once each; a traced run
    // extracts each layer by layer, and regions 0 and 2 also plain, once
    // before and once after the layered call
    val plan =
      if (ctx.tracing) Seq(0 -> true, 0 -> false, 1 -> true, 2 -> false,
        2 -> true, 3 -> true)
      else (0 until 4).map(_ -> false)
    val n = plan.size
    steps(ctx, n) { k =>
      val (j, layered) = plan(k)
      call(k.toString, j, layered, warmUp = false)
    }
    val peak = ctx.peakHeapMb
    val ms = ctx.timings("extract_ms").toSeq
    ctx.conditions("extracts") = n
    ctx.conditions("seed_nodes_per_region") = seedsPerRegion.map {
      case (s, c) => s"$s:$c" }.mkString(" ")
    val eps = written.sum / (ms.sum / 1e3)
    Result(
      Seq(("setup_s", setupSecs(ctx, setupS, warmMs), "s"),
        ("verb_p50_ms", Stats.median(ms), "ms"),
        ("verb_elements_per_s", eps, "1/s"),
        ("peak_heap_mb", peak, "MB"),
        ("store_bytes_per_input_byte", storeBytes.toDouble / pbfBytes, "ratio")),
      Seq("extract_p50_ms" -> Stats.median(ms),
        "extract_elements_per_s" -> eps,
        "expand_mb_per_s" -> mb(pbfBytes) / (p.expandMs / 1e3)),
      l.result ++ calls.overhead)
  }

  /** `extract`, one layer per span, in the order the CLI calls them. */
  private def extractLayered(ctx: Ctx, root: String, out: String,
                             region: Region): Unit = {
    val tr = ctx.tracer
    val spark = ctx.spark
    val db = tr.span("osm.OsmDb.open") { new OsmDb(spark, root) }
    val t = tr.span("osm.Ingest.readTables") {
      Ingest.readTables(spark, root, Some(db.snapshot))
    }
    graft.functions.GraftFunctions.register(spark)
    val ranges = tr.span("spatial.Coverer.covering") {
      val cells = Coverer.covering(region)
      val r = Coverer.cellRanges(cells)
      tr.current.foreach(_.counters("cells") += cells.size)
      r
    }
    val seeds = tr.span("spatial.SpatialScan.seed_scan") {
      val s = VersionedTable.read(spark, root, "locations", Some(db.snapshot))
        .where(SpatialScan.cellInRanges(col("s2cell"), ranges))
        .select(col("id")).persist()
      val c = s.count()
      tr.current.foreach(_.counters("seeds") += c)
      s
    }
    val sel = tr.span("osm.Extract.complete") {
      val s = Extract.complete(t, seeds)
      val p = Extract.Selected(s.nodeIds.persist(), s.wayIds.persist(),
        s.relationIds.persist())
      p.nodeIds.count(); p.wayIds.count(); p.relationIds.count()
      p
    }
    tr.span("osm.Ingest.write_extract") {
      val header = Ingest.pbfHeaderOptions(Some(region),
        db.metadata("osmosis_replication_timestamp").map(_.toLong),
        db.metadata("osmosis_replication_sequence_number").map(_.toLong))
      Ingest.writeExtract(t, sel, out, format = "osmpbf", headerOpts = header)
    }
    Seq(seeds, sel.nodeIds, sel.wayIds, sel.relationIds)
      .foreach(_.unpersist(blocking = false))
  }

  // ---- replicate ----------------------------------------------------------

  /** The bench's copy of the CLI's `.osc` projection to the change schema. */
  private def toChange(df: DataFrame, etype: String, seqnum: Long): DataFrame =
    df.select(
      col("id"), lit(etype).as("etype"),
      (coalesce(col("action"), lit("create")) =!= "delete").as("visible"),
      (if (etype == "node") col("lon") else lit(null).cast("int")).as("lon"),
      (if (etype == "node") col("lat") else lit(null).cast("int")).as("lat"),
      col("version"),
      (if (etype == "way") col("nodes")
       else lit(null).cast("array<bigint>")).as("nodes"),
      (if (etype == "relation") col("members")
       else lit(null).cast("array<struct<ref:bigint,mtype:string,role:string>>"))
        .as("members"),
      col("tags"),
      struct(col("version"), col("timestamp"), col("changeset"), col("uid"),
        col("user")).as("meta"),
      lit(seqnum).as("seqnum"))

  /** `update --commit`, one layer per span: parse, then apply. */
  private def updateLayered(ctx: Ctx, root: String, osc: String, seq: Long,
                            ts: Long): Unit = {
    val tr = ctx.tracer
    val change = tr.span("sources.osc_parse") {
      val c = Seq("node", "way", "relation").map { e =>
        toChange(ctx.spark.read.format("osmxml").option("entity", e)
          .option("changes", "true").load(osc), e, seq)
      }.reduce(_ unionByName _).persist()
      c.count()
      c
    }
    tr.span("streaming.Replication.apply") {
      Replication.applyBatch(ctx.spark, root, change, batchId = seq,
        extraMeta = Map("osmosis_replication_timestamp" -> ts.toString))
    }
    change.unpersist(blocking = false)
  }

  /** Probes for one snapshot: Zipf over ranked candidates, where the
    * most recently changed ids rank first. The mix of accessors is an
    * assumption, not derived from a query log. */
  private def zipfProbes(st: OsmState, stream: Gen.DiffStream,
                         rng: SplittableRandom, n: Int): Seq[Probe] = {
    def ranked(kind: String, maxId: Long): IndexedSeq[Long] =
      (stream.recent(kind).reverseIterator.take(256) ++
        Iterator.continually(1L + rng.nextLong(maxId)).take(256))
        .toIndexedSeq.distinct
    val nodes = ranked("node", st.nodes.keysIterator.max)
    val ways = ranked("way", st.ways.keysIterator.max)
    val rels = ranked("relation", st.rels.keysIterator.max)
    def zipf(xs: IndexedSeq[Long]): Long = {
      // rank r drawn with weight 1/(r+1): invert the harmonic CDF
      val h = math.log(xs.size + 1.0)
      val r = (math.exp(rng.nextDouble() * h) - 1).toInt
      xs(math.min(xs.size - 1, r))
    }
    Seq.fill(n) {
      val x = rng.nextDouble()
      if (x < 0.30) Probe("location", zipf(nodes))
      else if (x < 0.45) Probe("node", zipf(nodes))
      else if (x < 0.65) Probe("way", zipf(ways))
      else if (x < 0.75) Probe("relation", zipf(rels))
      else if (x < 0.85) Probe("node_way", zipf(nodes))
      else if (x < 0.95) Probe("way_relation", zipf(ways))
      else Probe("relation_relation", zipf(rels))
    }
  }

  val LookupsPerSnapshot = 100

  def replicate(ctx: Ctx): Result = {
    val l = new Layers
    val (p, setupS) = prepare(ctx, l)
    val (ds, pbfBytes, root) = (p.ds, p.pbfBytes, p.root)
    val stream = new Gen.DiffStream(ds, 2L, Gen.changesPerTable(ctx.buckets))
    val st = stream.state
    val calls = new Calls
    val cold = mutable.ArrayBuffer[Double]()
    val warm = mutable.ArrayBuffer[Double]()
    val changes = mutable.ArrayBuffer[Int]()
    /** Apply diff k, query stats and seqnum, read the new snapshot, and
      * check each; returns the wall ms of the update, the stats query and
      * the reads. A warm-up step records no timing. */
    def step(k: Int, layered: Boolean, warmUp: Boolean): Double = {
      val before = st.tableCounts
      val d = stream.next()
      val osc = ctx.dir(s"diff-${d.seq}.osc.gz")
      Inputs.writeOsc(d, osc)
      val tsIso = java.time.Instant.ofEpochSecond(d.timestamp).toString
      val op = ctx.tracer.newOp()
      val prev = VersionedTable.current(root).get
      val upMs = ctx.op(s"update ${d.seq} (${d.size} changes)") { _ =>
        val (_, ms) = ctx.timed(ctx.tracer.span("op.update") {
          if (layered) updateLayered(ctx, root, osc, d.seq, d.timestamp)
          else ctx.cli("update", root, osc, d.seq.toString, tsIso, "--commit")
        })
        if (!warmUp) {
          changes += d.size
          calls.add("diff", layered, ms)
          ctx.record("update_ms", ms)
        }
        ms
      }.getOrElse(0.0)
      val next = ctx.tracer.span("osm.VersionedTable.current") {
        VersionedTable.current(root).get
      }
      val statsMs = ctx.op(s"query stats after ${d.seq}") { mismatch =>
        val (out, ms) = ctx.timed(ctx.tracer.span("osm.OsmDb.stats") {
          ctx.cli("query", root)
        })
        if (!warmUp) ctx.record("query_stats_ms", ms)
        val (counts, _, seqOut) = parseStats(out)
        val want = st.tableCounts
        checkCounts(mismatch, counts, want)
        for (t <- Seq("locations", "ways", "relations")) {
          val moved = counts.getOrElse(t, 0L) - before(t)
          if (moved != want(t) - before(t))
            mismatch(s"$t moved by $moved, expected ${want(t) - before(t)}")
        }
        if (seqOut != d.seq.toString)
          mismatch(s"stats seqnum '$seqOut', expected ${d.seq}")
        ms
      }.getOrElse(0.0)
      ctx.op(s"query seqnum after ${d.seq}") { mismatch =>
        val out = ctx.cli("query", root, "seqnum").trim
        if (out != d.seq.toString) mismatch(s"seqnum '$out', expected ${d.seq}")
      }
      val rng = new SplittableRandom(Gen.mix(ctx.seed, 900000 + k))
      val (c, w) = burst(ctx, root, st,
        zipfProbes(st, stream, rng, LookupsPerSnapshot), record = !warmUp)
      if (!warmUp) {
        cold ++= c
        warm ++= w
      }
      if (layered) {
        val t = new OpTrace(ctx, op)
        l.add("sources.osc_parse_ms", "ms", t.ms("sources.osc_parse"))
        val a = "streaming.Replication.apply"
        l.add(s"${a}_ms", "ms", t.ms(a))
        l.add("streaming.Replication.jobs", "count", t.counter(a, "jobs"))
        l.add("streaming.Replication.driver_gap_ms", "ms", t.driverGapMs(a))
        l.add("streaming.Replication.tasks", "count", t.counter(a, "tasks"))
        l.add("streaming.Replication.task_cpu_ms", "ms",
          t.counter(a, "task_cpu_ms"))
        l.add("streaming.Replication.shuffle_mb", "MB",
          t.counter(a, "shuffle_mb"))
        val newDir = s"$root/v=${next.version}"
        val bytes = Inputs.dataBytes(newDir)
        l.add("osm.VersionedTable.files_written", "count",
          Inputs.fileCount(newDir).toDouble)
        l.add("osm.VersionedTable.mb_written", "MB", mb(bytes))
        l.add("osm.VersionedTable.buckets_rewritten", "count",
          next.buckets.values.map(_.versions.count(_ == next.version)).sum
            .toDouble)
        l.add("osm.VersionedTable.bytes_written_per_change", "B",
          bytes.toDouble / math.max(1, d.size))
        l.add("osm.OsmDb.stats_jobs", "count",
          t.counter("osm.OsmDb.stats", "jobs"))
        l.add("osm.OsmDb.stats_tasks", "count",
          t.counter("osm.OsmDb.stats", "tasks"))
        l.add("osm.OsmDb.open_ms", "ms", t.ms("osm.OsmDb.open"))
        l.add("osm.OsmDb.job_path_probes", "count",
          t.named("osm.PointReader.probe").count(_.counters("jobs") > 0)
            .toDouble)
        l.add("osm.VersionedTable.current_ms", "ms",
          t.ms("osm.VersionedTable.current"))
        commonLayers(ctx, l, t)
      }
      if (prev.version == next.version)
        ctx.log(s"diff ${d.seq} did not advance the store version")
      ctx.log(f"diff ${d.seq} (${d.size} changes): update " +
        f"${upMs / 1e3}%.2f s, stats ${statsMs / 1e3}%.2f s")
      upMs + statsMs + c.sum + w.sum
    }
    // warm-up: the first diff, untimed; then two diffs (a traced run:
    // three, the first and last layer by layer)
    val warmMs = step(0, layered = false, warmUp = true)
    val n = if (ctx.tracing) 3 else 2
    steps(ctx, n) { k =>
      step(k + 1, ctx.tracing && k != 1, warmUp = false)
    }
    val peak = ctx.peakHeapMb
    val up = ctx.timings("update_ms").toSeq
    val lookups = ctx.timings("lookup_ms").toSeq
    val look = Stats.summary(lookups)
    val cps = changes.sum / (up.sum / 1e3)
    ctx.conditions("diffs") = n
    ctx.conditions("changes_per_diff") = changes.mkString(" ")
    ctx.conditions("lookups_per_snapshot") = LookupsPerSnapshot
    ctx.conditions("store_disk_mb") = mb(Inputs.dataBytes(root))
    val liveRatio = liveBytes(root).toDouble / pbfBytes
    val coldShare = cold.size.toDouble / math.max(1, cold.size + warm.size)
    val pointLayers =
      if (!ctx.tracing) Nil
      else Seq(
        ("osm.PointReader.warm_ms", if (warm.isEmpty) 0.0
          else Stats.median(warm.toSeq), "ms"),
        ("osm.PointReader.cold_ms", if (cold.isEmpty) 0.0
          else Stats.median(cold.toSeq), "ms"),
        ("osm.PointReader.cold_share", coldShare, "ratio"))
    Result(
      Seq(("setup_s", setupSecs(ctx, setupS, warmMs), "s"),
        ("verb_p50_ms", Stats.median(up), "ms"),
        ("verb_elements_per_s", cps, "1/s"),
        ("peak_heap_mb", peak, "MB"),
        ("store_bytes_per_input_byte", liveRatio, "ratio")),
      Seq("expand_mb_per_s" -> mb(pbfBytes) / (p.expandMs / 1e3),
        "update_p50_ms" -> Stats.median(up),
        "update_changes_per_s" -> cps,
        "query_stats_p50_ms" -> Stats.median(ctx.timings("query_stats_ms").toSeq),
        "lookup_p50_ms" -> look.median,
        "lookup_tail_ms" -> look.tail.getOrElse(Double.NaN),
        "lookup_tail_pct" -> look.tailPct.getOrElse(Double.NaN),
        "lookup_n" -> look.n),
      l.result ++ pointLayers ++ calls.overhead)
  }
}
