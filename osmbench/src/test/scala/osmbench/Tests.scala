package osmbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's own tests: the percentile picker, span self time,
  * and the generator's determinism and referential validity. Run with
  * `python3 osmbench/build.py test`; exits non-zero on any failure. */
object Tests {

  private val failures = mutable.ArrayBuffer[String]()
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok    $name") }
    catch { case e: Throwable =>
      failures += name
      println(s"FAIL  $name: $e")
    }

  private def eq[T](got: T, want: T, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(what)

  private val small = Gen.Scale(nodes = 3000, places = 12)

  def main(args: Array[String]): Unit = {
    val work = new File(args.headOption.getOrElse("osmbench-test"))
    work.mkdirs()

    // ---- percentiles ------------------------------------------------------

    test("median of odd and even sample counts") {
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }
    test("nearest-rank percentile") {
      val xs = (1 to 100).map(_.toDouble)
      eq(Stats.percentile(xs, 50), 50.0)
      eq(Stats.percentile(xs, 99), 99.0)
      eq(Stats.percentile(xs, 100), 100.0)
      eq(Stats.percentile(Seq(7.0), 99), 7.0)
    }
    test("tail picks the highest percentile with >= 10 samples beyond it") {
      eq(Stats.tail((1 to 19).map(_.toDouble)), None, "n=19")
      eq(Stats.tail((1 to 20).map(_.toDouble)), Some((50.0, 10.0)), "n=20")
      eq(Stats.tail((1 to 64).map(_.toDouble)), Some((75.0, 48.0)), "n=64")
      eq(Stats.tail((1 to 100).map(_.toDouble)), Some((90.0, 90.0)), "n=100")
      eq(Stats.tail((1 to 1000).map(_.toDouble)), Some((99.0, 990.0)),
        "n=1000")
      val s = Stats.summary((1 to 200).map(_.toDouble))
      eq((s.n, s.median, s.tailPct), (200, 100.5, Some(95.0)))
    }

    // ---- spans ------------------------------------------------------------

    def span(id: Int, parent: Int, from: Long, to: Long): Span = {
      val s = new Span(id, s"s$id", parent, 1, from * 1000000L, from)
      s.endNs = to * 1000000L
      s.endMs = to
      s
    }
    test("self time subtracts direct children only") {
      val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 40),
        span(3, 1, 50, 90), span(4, 2, 15, 25))
      eq(Spans.selfNs(spans).map { case (k, v) => k -> v / 1000000L },
        Map(1 -> 30L, 2 -> 20L, 3 -> 40L, 4 -> 10L))
      eq(Spans.subtree(spans, spans(1)).map(_.id), Seq(2, 4))
    }
    test("union of job intervals, clipped to the span") {
      val iv = Seq((0L, 10L), (5L, 15L), (20L, 30L))
      eq(Spans.unionMs(iv, 0, 100), 25L)
      eq(Spans.unionMs(iv, 8, 25), 12L)
      eq(Spans.unionMs(Nil, 0, 100), 0L)
    }

    // ---- generator --------------------------------------------------------

    def elems(st: OsmState): Seq[Elem] =
      st.nodes.values.toSeq ++ st.ways.values ++ st.rels.values

    test("same seed gives the same dataset, another seed another one") {
      val a = Gen.dataset(7, small)
      val b = Gen.dataset(7, small)
      val c = Gen.dataset(8, small)
      eq(elems(a.state).sortBy(e => (e.kind, e.id)),
        elems(b.state).sortBy(e => (e.kind, e.id)))
      check(elems(a.state).toSet != elems(c.state).toSet, "seeds 7 and 8 agree")
    }

    /** Refs of `st` that point at no element, as (mtype, ref). */
    def unresolved(st: OsmState): Set[(String, Long)] =
      (st.ways.values.flatMap(_.nodes.filterNot(st.nodes.contains)
        .map(("node", _))) ++
        st.rels.values.flatMap(_.members.filter(m =>
          st.get(m.mtype, m.ref).isEmpty).map(m => (m.mtype, m.ref)))).toSet

    test("every ref resolves except the intended dangling ones") {
      val ds = Gen.dataset(11, small)
      check(ds.dangling.nonEmpty, "no dangling refs generated")
      eq(unresolved(ds.state), ds.dangling)
      val st = ds.state
      val tagged = st.nodes.values.count(_.tags.nonEmpty).toDouble / st.nodes.size
      check(tagged > 0.2 && tagged < 0.45, s"tagged share $tagged")
      check(st.rels.values.exists(_.tags.get("type").contains("multipolygon")),
        "no multipolygons")
      check(st.rels.values.exists(r => r.members.exists(m =>
        m.mtype == "relation" && st.rels.get(m.ref).exists(_.members
          .exists(x => x.mtype == "relation" && x.ref == r.id)))),
        "no relation cycle")
    }

    test("a diff's changes per table miss a bucket with under 1 % odds") {
      val m = Gen.changesPerTable(8)
      eq(m, 35, "8 buckets")
      check(math.pow(7.0 / 8, m) < 0.01 && math.pow(7.0 / 8, m - 1) >= 0.01,
        s"$m is not the least such count")
      eq(Gen.changesPerTable(64), 293, "64 buckets")
    }

    test("every diff is valid against the state it applies to") {
      val ds = Gen.dataset(12, small)
      val stream = new Gen.DiffStream(ds, 2L, 35)
      val st = ds.state.copy()
      for (k <- 0 until 8) {
        val d = stream.next()
        eq(d.seq, 2L + k, "seq")
        for (kind <- Seq("node", "way"))
          eq(d.all.count(_._2.kind == kind), 35, s"diff $k ${kind}s")
        eq(d.all.count(_._2.kind == "relation"), math.round(
          35.0 * ds.state.rels.size / ds.state.ways.size).toInt,
          s"diff $k relations")
        val ids = d.all.map { case (_, e) => (e.kind, e.id) }
        eq(ids.distinct.size, ids.size, s"diff $k repeats an element")
        d.creates.foreach(e =>
          check(st.get(e.kind, e.id).isEmpty, s"create of existing ${e.id}"))
        (d.modifies ++ d.deletes).foreach { e =>
          val old = st.get(e.kind, e.id)
          check(old.isDefined, s"edit of missing ${e.kind} ${e.id}")
          eq(e.meta.version, old.get.meta.version + 1, s"version of ${e.id}")
        }
        st.apply(d)
        // a member edit may drop a dangling ref, never add one
        check(unresolved(st).subsetOf(ds.dangling), s"new dangling refs after diff $k")
        eq(st.tableCounts, stream.state.tableCounts, s"mirror after diff $k")
      }
    }

    test("the same seed writes byte-identical .osc.gz files") {
      def write(seed: Long, tag: String): Seq[Array[Byte]] = {
        val s = new Gen.DiffStream(Gen.dataset(seed, small), 2L, 35)
        (0 until 3).map { k =>
          val f = new File(work, s"$tag-$k.osc.gz").getPath
          Inputs.writeOsc(s.next(), f)
          Files.readAllBytes(Paths.get(f))
        }
      }
      val a = write(5, "a")
      val b = write(5, "b")
      val c = write(6, "c")
      check(a.zip(b).forall { case (x, y) => x.sameElements(y) }, "5 vs 5")
      check(!a.zip(c).forall { case (x, y) => x.sameElements(y) }, "5 vs 6")
    }

    test("the same seed writes a byte-identical PBF") {
      def write(seed: Long, tag: String): Map[String, Seq[Byte]] = {
        val dir = new File(work, s"pbf-$tag").getPath
        Inputs.writePbf(Gen.dataset(seed, small).state, dir, 2)
        new File(dir).listFiles().filter(_.getName.endsWith(".osm.pbf"))
          .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
      }
      val a = write(3, "a")
      check(a.nonEmpty, "no PBF files")
      eq(write(3, "b"), a, "seed 3 twice")
      check(write(4, "c") != a, "seeds 3 and 4 agree")
    }

    // ---- the extract oracle against the engine -------------------------------

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    test("the extract oracle matches Extract.complete on the same tables") {
      graft.functions.GraftFunctions.register(spark)
      val ds = Gen.dataset(9, small)
      val t = Inputs.tables(spark, ds.state)
      val oracle = new Oracle(ds.state)
      for (k <- 0 until 4) {
        val r = Gen.region(ds, k)
        val ranges = graft.spatial.Coverer.cellRanges(
          graft.spatial.Coverer.covering(graft.spatial.Region(r.arg, r.flag)))
        val seeds = t.locations
          .withColumn("s2cell", graft.spatial.SpatialScan.s2CellOfFixed(
            col("lat"), col("lon")))
          .where(graft.spatial.SpatialScan.cellInRanges(col("s2cell"), ranges))
          .select(col("id"))
        val sel = graft.osm.Extract.complete(t, seeds)
        def ids(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.getLong(0)).toSet
        val want = oracle.extract(ranges)
        // the writer keeps only nodes that exist; complete() does not
        eq(ids(sel.nodeIds).filter(ds.state.nodes.contains), want.nodes,
          s"${r.scale} nodes")
        eq(ids(sel.wayIds), want.ways, s"${r.scale} ways")
        eq(ids(sel.relationIds), want.rels, s"${r.scale} relations")
        if (r.scale != "empty") check(want.nodes.nonEmpty, s"${r.scale} empty")
      }
    }
    spark.stop()

    println(s"$passed passed, ${failures.size} failed")
    System.exit(if (failures.isEmpty) 0 else 1)
  }
}
