package osmbench

import graft.osm.SyntheticOsm
import graft.sources.OsmPbfCodec
import graft.sources.OsmXmlCodec.{RawNode, RawRelation, RawWay}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream
import scala.jdk.CollectionConverters._

/** Turns the generated elements into the files the engine reads: a
  * sharded `.osm.pbf` and `.osc.gz` OsmChange files written here as
  * plain XML. `tables` gives the same elements as the engine's table
  * bundle, for tests that run engine code over them. */
object Inputs {

  private val metaT = StructType(Seq(
    StructField("version", IntegerType), StructField("timestamp", LongType),
    StructField("changeset", LongType), StructField("uid", LongType),
    StructField("user", StringType)))
  private val tagsT = MapType(StringType, StringType)
  private val memberT = StructType(Seq(StructField("ref", LongType),
    StructField("mtype", StringType), StructField("role", StringType)))
  private val adjT = StructType(Seq(StructField("member_id", LongType),
    StructField("parent_id", LongType)))

  private def metaRow(m: Meta) =
    Row(m.version, m.timestamp, m.changeset, m.uid, m.user)

  private def df(spark: SparkSession, rows: Iterator[Row], schema: StructType)
  : DataFrame = spark.createDataFrame(rows.toSeq.asJava, schema)

  /** The state as the engine's eight-table bundle, ids ascending. */
  def tables(spark: SparkSession, st: OsmState): SyntheticOsm.Tables = {
    val nodes = st.nodes.values.toSeq.sortBy(_.id)
    val ways = st.ways.values.toSeq.sortBy(_.id)
    val rels = st.rels.values.toSeq.sortBy(_.id)
    def relAdj(t: String) = df(spark, rels.iterator.flatMap(r =>
      r.members.filter(_.mtype == t).map(_.ref).distinct
        .map(m => Row(m, r.id))), adjT)
    SyntheticOsm.Tables(
      df(spark, nodes.iterator.map(n =>
        Row(n.id, n.lon, n.lat, n.meta.version)), StructType(Seq(
        StructField("id", LongType), StructField("lon", IntegerType),
        StructField("lat", IntegerType), StructField("version", IntegerType)))),
      df(spark, nodes.iterator.filter(_.tags.nonEmpty).map(n =>
        Row(n.id, n.tags, metaRow(n.meta))), StructType(Seq(
        StructField("id", LongType), StructField("tags", tagsT),
        StructField("meta", metaT)))),
      df(spark, ways.iterator.map(w =>
        Row(w.id, w.nodes, w.tags, metaRow(w.meta))), StructType(Seq(
        StructField("id", LongType),
        StructField("nodes", ArrayType(LongType)),
        StructField("tags", tagsT), StructField("meta", metaT)))),
      df(spark, rels.iterator.map(r => Row(r.id,
        r.members.map(m => Row(m.ref, m.mtype, m.role)), r.tags,
        metaRow(r.meta))), StructType(Seq(
        StructField("id", LongType),
        StructField("members", ArrayType(memberT)),
        StructField("tags", tagsT), StructField("meta", metaT)))),
      df(spark, ways.iterator.flatMap(w =>
        w.nodes.distinct.map(n => Row(n, w.id))), adjT),
      relAdj("node"), relAdj("way"), relAdj("relation"))
  }

  /** Write the whole state as a `.osm.pbf` directory laid out like an
    * `Ingest.writeExtract` output: `shards` files per entity, named
    * `part-<entity>-NNNNN.osm.pbf`, ids ascending. It encodes with the
    * engine's own `OsmPbfCodec`, on the driver: going through
    * `writeExtract` would add seconds of Spark jobs to every set-up. */
  def writePbf(st: OsmState, dir: String, shards: Int): Unit = {
    new File(dir).mkdirs()
    val header = OsmPbfCodec.PbfHeader(replicationTimestamp = Some(Gen.BaseTs),
      replicationSeqnum = Some(1L))
    def tags(t: Map[String, String]) = t.toSeq.sortBy(_._1)
    def out[T](entity: String, xs: Seq[T])(write: (java.io.OutputStream,
      Seq[T]) => Unit): Unit = {
      val per = math.max(1, (xs.size + shards - 1) / shards)
      for (i <- 0 until shards) {
        val os = new java.io.BufferedOutputStream(new FileOutputStream(
          new File(dir, f"part-$entity-$i%05d.osm.pbf")))
        try write(os, xs.slice(i * per, (i + 1) * per)) finally os.close()
      }
    }
    out("node", st.nodes.values.toSeq.sortBy(_.id)) { (os, ns) =>
      OsmPbfCodec.write(os, ns.iterator.map(n => RawNode(n.id, n.lon, n.lat,
        n.meta.version, n.meta.timestamp, n.meta.changeset, n.meta.uid,
        n.meta.user, tags(n.tags))), Iterator.empty, Iterator.empty,
        meta = header)
    }
    out("way", st.ways.values.toSeq.sortBy(_.id)) { (os, ws) =>
      OsmPbfCodec.write(os, Iterator.empty, ws.iterator.map(w => RawWay(w.id,
        w.meta.version, w.meta.timestamp, w.meta.changeset, w.meta.uid,
        w.meta.user, tags(w.tags), w.nodes)), Iterator.empty, meta = header)
    }
    out("relation", st.rels.values.toSeq.sortBy(_.id)) { (os, rs) =>
      OsmPbfCodec.write(os, Iterator.empty, Iterator.empty, rs.iterator.map(r =>
        RawRelation(r.id, r.meta.version, r.meta.timestamp, r.meta.changeset,
          r.meta.uid, r.meta.user, tags(r.tags),
          r.members.map(m => (m.ref, m.mtype, m.role)))), meta = header)
    }
  }

  /** The regular data files under `dir` (no hidden or `_` files). */
  private def dataFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isFile) {
        if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
        else Seq(f)
      } else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new File(dir))
  }

  def dataBytes(dir: String): Long = dataFiles(dir).map(_.length()).sum

  def fileCount(dir: String): Long = dataFiles(dir).size.toLong

  private def esc(s: String): String = s.flatMap {
    case '&'  => "&amp;"
    case '<'  => "&lt;"
    case '>'  => "&gt;"
    case '"'  => "&quot;"
    case '\'' => "&apos;"
    case c    => c.toString
  }

  private def deg(e7: Int): String = {
    val a = math.abs(e7.toLong)
    (if (e7 < 0) "-" else "") + f"${a / 10000000L}%d.${a % 10000000L}%07d"
  }

  private def attrs(e: Elem): String = {
    val m = e.meta
    s"""id="${e.id}" version="${m.version}" timestamp="""" +
      java.time.Instant.ofEpochSecond(m.timestamp).toString +
      s"""" changeset="${m.changeset}" uid="${m.uid}" user="${esc(m.user)}""""
  }

  private def tags(sb: StringBuilder, t: Map[String, String]): Unit =
    t.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= s"""    <tag k="${esc(k)}" v="${esc(v)}"/>\n"""
    }

  private def render(e: Elem): String = {
    val sb = new StringBuilder
    e match {
      case n: GNode =>
        sb ++= s"""   <node ${attrs(n)} lat="${deg(n.lat)}" lon="${deg(n.lon)}""""
        if (n.tags.isEmpty) sb ++= "/>\n"
        else { sb ++= ">\n"; tags(sb, n.tags); sb ++= "   </node>\n" }
      case w: GWay =>
        sb ++= s"""   <way ${attrs(w)}>\n"""
        w.nodes.foreach(r => sb ++= s"""    <nd ref="$r"/>\n""")
        tags(sb, w.tags)
        sb ++= "   </way>\n"
      case r: GRel =>
        sb ++= s"""   <relation ${attrs(r)}>\n"""
        r.members.foreach(m => sb ++= s"""    <member type="${m.mtype}" """ +
          s"""ref="${m.ref}" role="${esc(m.role)}"/>\n""")
        tags(sb, r.tags)
        sb ++= "   </relation>\n"
    }
    sb.toString
  }

  /** Write one diff as a gzipped OsmChange document. Each action block
    * lists nodes, then ways, then relations. GZIP output carries no
    * timestamp, so the same diff gives the same bytes. */
  def writeOsc(d: Diff, file: String): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(file)),
      StandardCharsets.UTF_8))
    try {
      w.write("<?xml version='1.0' encoding='UTF-8'?>\n")
      w.write("<osmChange version=\"0.6\" generator=\"osmbench\">\n")
      def block(action: String, es: Vector[Elem]): Unit = if (es.nonEmpty) {
        w.write(s"  <$action>\n")
        for (kind <- Seq("node", "way", "relation");
             e <- es.filter(_.kind == kind).sortBy(_.id))
          w.write(render(e))
        w.write(s"  </$action>\n")
      }
      block("create", d.creates)
      block("modify", d.modifies)
      block("delete", d.deletes)
      w.write("</osmChange>\n")
    } finally w.close()
  }
}
