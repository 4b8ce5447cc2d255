package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: times every registered query at the given scale factor
  * and emits ONE machine-parseable JSON line on stdout (plus a copy in
  * /tmp/graft_bench_out.json for belt-and-braces parsing — deliberately
  * outside the repo so a stale committed artifact can't masquerade as a
  * fresh run).
  *
  * Honest timing rules:
  *   - results are fully materialized through the "noop" sink (count()
  *     would let Spark skip computing projected columns entirely);
  *   - a warmup pass touches EVERY input table so no query pays one-time
  *     FileIndex listing / footer-read costs inside its timed region;
  *   - a query that throws is reported with elapsed = -1 and listed in a
  *     "failed" array — a broken query must not read as a fast one;
  *   - every row also reports "rows_out" (output cardinality, observed
  *     in the same pass via a CollectMetrics node) so scale-slope
  *     analysis can separate output growth from plan regression.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench")

    import org.apache.spark.sql.functions.{count, lit}
    // Materialize through the noop sink AND count output rows in the
    // same pass via the Observation API (a CollectMetrics node at the
    // plan root — no second action, no plan-shape change below it).
    // rows_out lets the slope tool separate output growth from plan
    // regression: three of r11's five heaviest sf10 rows were defended
    // as "output-driven" in prose only (r11 verdict prescription #4).
    // getOrEmpty (never-blocking) is public bytecode but private[sql]
    // in the ScalaSig — reflection keeps this tooling on the
    // no-hang-ever path without a package-escape shim.
    val getOrEmpty = classOf[org.apache.spark.sql.Observation]
      .getMethod("getOrEmpty")
    def run(name: String,
            fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
    : Long = {
      val obs = org.apache.spark.sql.Observation(
        s"rows_${name}_${System.nanoTime()}")
      fn(spark, sfDir).observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      getOrEmpty.invoke(obs)
        .asInstanceOf[Map[String, Any]].get("n") match {
        case Some(n: Long) => n
        case _ => -1L // metrics unavailable; never block the bench on it
      }
    }

    // ---- query selection, BEFORE warmup so untimed setup can be
    // scoped to what will actually run ----
    // isolation filter (dev loop: bench chosen queries in one JVM)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // forked-JVM window segment "i/N" (1-based): the r12 verdict's
    // structural fix for JVM-aging confounds — a 200-query window
    // measures a 70-query-deep JVM's accumulated heap/codegen state as
    // query cost (q159: 94.9 s in-window vs 28.5 s fresh-JVM, same
    // code). tools/bench_seg.sh runs every segment in its own JVM and
    // tools/bench_merge.py reassembles the round artifact.
    val segment: Option[(Int, Int)] =
      sys.env.get("SPARK_GRAFT_BENCH_SEGMENT").map { v =>
        // guarded parse: a malformed value ('3', '1/8/2', 'a/b') must
        // die with the friendly message, not a MatchError (r13
        // advisor). Digit count bounded to 9 so toInt itself can never
        // throw NumberFormatException past Int.MaxValue (r14 advisor).
        v.split("/") match {
          case Array(iS, nS) if iS.matches("\\d{1,9}")
            && nS.matches("\\d{1,9}")
            && iS.toInt >= 1 && iS.toInt <= nS.toInt =>
            (iS.toInt, nS.toInt)
          case _ => sys.error(
            s"bad SPARK_GRAFT_BENCH_SEGMENT '$v' (want 'i/N', 1<=i<=N)")
        }
      }
    val allNames = SparkEntry.queries.keys.toSeq.sorted
    val segNames: Set[String] = segment match {
      case None => allNames.toSet
      case Some((i, n)) => segmentNames(allNames, n)(i - 1).toSet
    }
    val selected: Set[String] =
      allNames.filter(q => segNames(q) && only.forall(_.contains(q)))
        .toSet

    // Warmup: touch every table (pays one-time listing/footer/codegen
    // costs) plus one shuffle to warm the exchange path. A warmup failure
    // is NOT swallowed silently — a schema drift in the driver's testdata
    // (e.g. the round-7 events ts re-encode) must surface here, named,
    // not as 15 opaque failed bench rows.
    import org.apache.spark.sql.functions._
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")) {
      try {
        val df = Queries.T(spark, sfDir, t)
        // one-line schema-drift probe per table in the bench log
        System.err.println(s"[bench] $t: " + df.schema.map(f =>
          s"${f.name}:${f.dataType.simpleString}").mkString(", "))
        df.limit(1).write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] WARMUP FAILED for table '$t': " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    try {
      spark.read.parquet(s"$sfDir/nation.parquet")
        .groupBy(col("n_regionkey")).count()
        .write.format("noop").mode("overwrite").save()
      // Materialize the synthetic OSM table bundle once, outside any
      // timed region: the reference's queries run against an
      // already-built .osmx database, so deriving the OSM model from
      // the star schema is setup, not query work. (Building the store
      // itself IS measured — that's q38.) Skipped automatically when
      // the selection contains no OSM query (segmented windows: only
      // OSM-carrying segments pay the bundle; SPARK_GRAFT_OSM_MAT_DIR
      // additionally shares one bundle across segment JVMs).
      val osmSelected =
        graft.osm.OsmQueries.all.exists(q => selected(q.name))
      if (osmSelected) graft.osm.SyntheticOsm.materialized(spark, sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARMUP FAILED (osm bundle/shuffle): " +
        s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

    // Between-query JVM hygiene, OUTSIDE the timed regions: drop leaked
    // cache entries / persisted RDDs (localCheckpoints pin heap blocks)
    // and nudge GC so the ContextCleaner reaps dead broadcasts and
    // shuffles. Without this, alphabetically-late queries inherit a
    // bloated old gen and measure 10-40x slower than in isolation (the
    // round-4 "unexplained q41-q45 regressions" were exactly this).
    // SyntheticOsm's bundle is parquet-backed, not cached — unaffected.
    def sweep(): Unit = {
      try {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.valuesIterator
          .foreach(_.unpersist(blocking = false))
      } catch {
        // best-effort, but never silent: a failing cache clear skews
        // every subsequent measurement (r7 lesson on quiet drift)
        case t: Throwable =>
          System.err.println(
            s"[bench] WARN cache sweep failed: ${t.getClass.getName}: " +
              s"${t.getMessage}")
      }
      System.gc()
      // let the async ContextCleaner drain the post-GC reference queue
      // (broadcast/shuffle deletions) BEFORE the next timed region —
      // otherwise its IO and BlockManager locking land inside the next
      // query's measurement
      Thread.sleep(400)
    }

    // JSON-escape free-form strings (paths, exception messages)
    def jsonEsc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    // per-query progress JSONL, appended as each row finishes: an
    // executor OOM in local mode can take the whole JVM down before the
    // final JSON prints (the r11 sf10 window lost 100 minutes of
    // measurements to one q42 heap death) — with this file the
    // completed rows survive any mid-run crash. Path is per-(sf, pid)
    // by default so two bench JVMs on one host (an A/B leg overlapping
    // a suite run) can't clobber each other's crash-recovery artifact;
    // scripts that collect it set SPARK_GRAFT_BENCH_PROGRESS explicitly.
    val progressPath = Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_PROGRESS", {
        val sfBase = Paths.get(sfDir).getFileName.toString
          .replaceAll("[^A-Za-z0-9._-]", "_")
        s"/tmp/graft_bench_progress_${sfBase}_${ProcessHandle.current.pid}.jsonl"
      }))
    System.err.println(s"[bench] progress file: $progressPath")
    try Files.writeString(progressPath, "")
    catch { case _: Throwable => () }
    def progress(name: String, sec: Double, rows: Long,
                 err: Option[String]): Unit =
      try Files.writeString(progressPath,
        s"""{"q":"$name","sec":$sec,"rows_out":$rows${err.map(e =>
          ",\"err\":\"" + jsonEsc(e) + "\"").getOrElse("")}}""" + "\n",
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Throwable => () }
    // stage-rebuild tripwire (r13 verdict #4): a staged artifact that
    // COLD-builds while some other row is being timed means the
    // BenchStages registry missed a consumer — the row's cost includes
    // a mis-billed corpus-scale build. The builder fires a stderr
    // marker; this sink makes the artifact itself carry the evidence.
    StageTripwire.install((row, stage) =>
      try Files.writeString(progressPath,
        s"""{"q":"${jsonEsc(row)}","stage_rebuild_in":"${jsonEsc(row)}","stage":"${jsonEsc(stage)}"}""" + "\n",
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Throwable => () })
    // Host-contention stamp (r13 verdict #1): the r13 graded sf0.1 leg
    // ran inside the builder's own still-running sf30 job and measured
    // 763 s vs 315 s of pure contention. A bench cannot stop other
    // processes, but it CAN refuse to pretend the host was quiet —
    // [[HostContention.sample]] trips on foreign live JVMs AND on any
    // non-JVM process caught burning CPU (python gen, DuckDB oracle,
    // compile jobs — the r14 verdict's widened condition), at leg
    // start and end. Consumers treat "contended": true as
    // not-a-trend-signal.
    val start = HostContention.sample()
    if (start.contended)
      System.err.println(s"[bench] WARN host contended at leg start: " +
        s"${start.otherJvms} other live JVM(s), busy ${start.busy}, " +
        s"loadavg ${start.load} — this artifact will be stamped " +
        "\"contended\": true")
    // ---- stage rows: build each shared staged artifact the selected
    // queries consume, billed as its OWN named row (build wall +
    // artifact row count as rows_out) — consumers then measure their
    // MARGINAL cost, and a plan regression in a build surfaces in the
    // build's row, not misattributed to whichever consumer ran first
    // (r12 verdict "What's wrong" #2). The row count doubles as the
    // work-driver telemetry slope analysis needs to annotate
    // candidate-driven consumers (stage_of below maps consumer ->
    // stage).
    val stagesToRun = BenchStages.required(selected ++
      // a stage row named directly in BENCH_ONLY runs even with no
      // consumer selected (fresh-JVM isolation of the build itself)
      only.getOrElse(Set.empty).filter(_.startsWith("stage:")))
    val stageResults = stagesToRun.map { st =>
      sweep()
      StageTripwire.setRow(st.name)
      val t0 = System.nanoTime()
      var rows = -1L
      val err: Option[String] =
        try { rows = st.build(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          val reason = s"${e.getClass.getName}: " +
            String.valueOf(e.getMessage).replace('\n', ' ').take(300)
          System.err.println(s"[bench] STAGE FAILED ${st.name}: $reason")
          Some(reason)
        }
      val sec = if (err.isEmpty) (System.nanoTime() - t0) / 1e9 else -1.0
      StageTripwire.clearRow()
      progress(st.name, sec, rows, err)
      (st.name, sec, rows, err)
    }

    val queryResults = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => selected(n) }
      .map {
      case (name, fn) =>
        sweep()
        StageTripwire.setRow(name)
        val t0 = System.nanoTime()
        // a failed row carries its cause so the artifact alone is
        // diagnosable (not just a -1 sentinel)
        var rows = -1L
        val err: Option[String] =
          try { rows = run(name, fn); None } catch { case e: Throwable =>
            val reason = s"${e.getClass.getName}: " +
              String.valueOf(e.getMessage).replace('\n', ' ').take(300)
            System.err.println(s"[bench] FAILED $name: $reason")
            Some(reason)
          }
        val sec =
          if (err.isEmpty) (System.nanoTime() - t0) / 1e9 else -1.0
        StageTripwire.clearRow()
        progress(name, sec, rows, err)
        (name, sec, rows, err)
    }
    val results = stageResults ++ queryResults
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // additive key (r12): output rows per query, same key set as
    // "queries" (-1 = failed or metric unavailable) — lets slope
    // analysis separate output growth from plan regression
    val rowsOut = results.map { case (k, _, r, _) => "\"" + k + "\":" + r }
      .mkString("{", ",", "}")
    val failedNames = results.collect { case (k, _, _, Some(_)) => k }
    val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // additive key: per-failure reason strings, {} when all green
    val failures = results.collect { case (k, _, _, Some(msg)) =>
      "\"" + k + "\":\"" + jsonEsc(msg) + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, None) => v }.sum
    val sfEsc = jsonEsc(sfDir)
    // consumer -> work-driver stage map, for slope analysis (only
    // pairs where both ends are in this run's rows)
    val stageOf = BenchStages.stageOf
      .filter { case (q, st) =>
        selected(q) && stageResults.exists(_._1 == st) }
      .toSeq.sorted
      .map { case (q, st) => "\"" + q + "\":\"" + st + "\"" }
      .mkString("{", ",", "}")
    val segfield = segment.map { case (i, n) =>
      s""","segment":"$i/$n"""" }.getOrElse("")
    val end = HostContention.sample()
    val contended = start.contended || end.contended
    if (contended)
      System.err.println(s"[bench] WARN host contended " +
        s"(start: ${start.otherJvms} JVMs/${start.load}/${start.busy}," +
        s" end: ${end.otherJvms}/${end.load}/${end.busy}) " +
        "— artifact stamped \"contended\": true")
    def busyArr(b: Seq[String]): String =
      b.map(c => "\"" + jsonEsc(c) + "\"").mkString("[", ",", "]")
    val contention =
      s""","contended":$contended,"contention":{"start_jvms":${start.otherJvms},"start_load":${start.load},"start_busy":${busyArr(start.busy)},"end_jvms":${end.otherJvms},"end_load":${end.load},"end_busy":${busyArr(end.busy)}}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"rows_out":$rowsOut,"failed":$failed,"failures":$failures,"stage_of":$stageOf$segfield$contention,"sf":"$sfEsc"}"""
    println(json)
    try Files.writeString(Paths.get("/tmp/graft_bench_out.json"), json + "\n")
    catch {
      // the stdout JSON above is the contract; the file is a dev
      // convenience — warn so a read-only /tmp is visible, not silent
      case t: Throwable =>
        System.err.println(
          s"[bench] WARN result-file write failed: " +
            s"${t.getClass.getName}: ${t.getMessage}")
    }
    // The LAST stdout line must be a COMPLETE JSON object within the
    // harness's 2000-char stdout tail: at 199 queries the full line
    // above is ~9 KB, so the tail clips its head and the round artifact
    // records "parsed": null (r5-r10). Emit a size-bounded summary as
    // the final line — total/failures plus the slowest queries that fit
    // a 1400-char budget — and point at the full per-query file. The
    // full line stays first for logs and /tmp.
    val okRows = results.collect { case (k, v, _, None) => (k, v) }
    // locale-pinned: f"" uses the default locale, and a comma decimal
    // separator would corrupt the JSON
    def d2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // The failed list must ALSO be bounded in the compact line: in a
    // mass-failure run (bad SF dir -> ~200 failed rows) the raw array
    // alone is ~4 KB, blowing the 1400-char budget from under every
    // compact(N) candidate — exactly the parsed:null failure this line
    // exists to prevent, in the runs where diagnosability matters most.
    // Emit a count plus the first few names; full_results has the rest.
    val failedCompact =
      if (failedNames.isEmpty) "[]"
      else failedNames.take(5).map("\"" + _ + "\"")
        .mkString("[", ",", if (failedNames.size > 5) ",\"...\"]" else "]")
    def compact(topN: Int): String = {
      val top = okRows.sortBy(-_._2).take(topN)
        .map { case (k, v) => "\"" + k + "\":" + d2(v) }
        .mkString("{", ",", "}")
      val tot = d2(total)
      s"""{"metric":"total","value":$tot,"unit":"sec","queries":$top,"queries_total":${results.size},"queries_shown":${math.min(topN, okRows.size)},"failed_count":${failedNames.size},"failed":$failedCompact,"full_results":"/tmp/graft_bench_out.json","sf":"$sfEsc"}"""
    }
    // widest top-N that fits the budget (leaves headroom for the build
    // tool's trailing "[success]" line inside the same 2000-char tail)
    val line = (40 to 1 by -1).iterator.map(compact)
      .find(_.length <= 1400).getOrElse(compact(1))
    println(line)
    spark.stop()
  }

  /** Deterministic split of the sorted query list into `n` contiguous
    * segments for forked-JVM windows. Stage-chain consumers
    * ([[BenchStages.groupOf]]) are kept WHOLE in one segment — each
    * staged artifact then builds in exactly one JVM per window, so the
    * window's total stage cost equals the once-per-corpus cost a
    * production pipeline pays (scattering consumers would rebuild the
    * artifact per segment and inflate the total). Greedy proportional
    * fill over atomic units; same (names, n) always yields the same
    * split, so per-segment artifacts from one window line up. */
  private[graft] def segmentNames(sorted: Seq[String], n: Int)
  : Seq[Seq[String]] = {
    val units =
      scala.collection.mutable.LinkedHashMap[String, Vector[String]]()
    sorted.foreach { q =>
      val k = BenchStages.groupOf.getOrElse(q, q)
      units.update(k, units.getOrElse(k, Vector.empty) :+ q)
    }
    val total = sorted.size
    val out = Vector.fill(n)(Vector.newBuilder[String])
    var si = 0
    var filled = 0
    units.values.foreach { u =>
      // advance once the current segment reached its proportional
      // share of the total (integer boundaries, last segment absorbs
      // the remainder)
      while (si < n - 1 && filled >= ((si + 1).toLong * total / n).toInt)
        si += 1
      out(si) ++= u
      filled += u.size
    }
    out.map(_.result())
  }
}
