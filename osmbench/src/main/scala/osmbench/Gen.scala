package osmbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded generator of OSM-shaped data with OSM's locality:
  *
  *   - nodes cluster around places whose sizes follow a Zipf law;
  *   - ways are ordered chains (roads) and closed rings (buildings) of
  *     nearby nodes, and some chains start at another chain's node;
  *   - about a third of the nodes carry tags; the rest exist only as
  *     coordinates;
  *   - multipolygon and route relations group nearby ways;
  *   - admin relations nest city < state < country, with a few member
  *     cycles and a few member refs that point at no element.
  *
  * Everything is a function of the seed: the same seed gives the same
  * elements, diffs and regions. */
object Gen {

  val BaseTs = 1600000000L

  /** `nodes` is the node budget of the initial dataset. */
  final case class Scale(nodes: Int, places: Int)

  final case class Place(idx: Int, lat: Double, lon: Double,
                         radius: Double, nodes: Int)

  /** `cities(i)` is the id of place i's city boundary relation;
    * `dangling` holds the (mtype, ref) member refs left dangling on
    * purpose. */
  final case class Dataset(seed: Long, scale: Scale, places: Vector[Place],
                           state: OsmState, cities: Vector[Long],
                           dangling: Set[(String, Long)])

  def e7(deg: Double): Int = math.round(deg * 1e7).toInt

  private def clampLat(lat: Double) = math.max(-84.0, math.min(84.0, lat))
  private def wrapLon(lon: Double) =
    if (lon >= 180.0) lon - 360.0 else if (lon < -180.0) lon + 360.0 else lon

  /** Mix a seed with a stream index so sub-streams are independent. */
  def mix(seed: Long, k: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val poiKinds = Vector("cafe", "school", "bank", "pharmacy",
    "restaurant", "post_office", "fuel", "library")
  private val roadKinds = Vector("residential", "primary", "secondary",
    "service", "track", "footway")

  private def meta(rng: SplittableRandom): Meta =
    Meta(1 + rng.nextInt(3), BaseTs + rng.nextInt(50000000),
      1L + rng.nextInt(1000000), 1L + rng.nextInt(2000))

  private def poiTags(rng: SplittableRandom, id: Long) =
    Map("amenity" -> poiKinds(rng.nextInt(poiKinds.size)),
      "name" -> s"poi $id")

  /** Allocates ids and places nodes; shared by the initial dataset and
    * the diff stream so both draw coordinates the same way. */
  private final class Builder(rng: SplittableRandom, var nextNode: Long,
                              var nextWay: Long, var nextRel: Long) {
    def node(lat: Double, lon: Double, tags: Map[String, String],
             m: Meta): GNode = {
      val n = GNode(nextNode, e7(wrapLon(lon)), e7(clampLat(lat)), tags, m)
      nextNode += 1
      n
    }

    /** A random-walk chain of `k` new nodes starting near (lat, lon). */
    def chainNodes(lat0: Double, lon0: Double, k: Int, step: Double,
                   tagP: Double, m: => Meta): Vector[GNode] = {
      var lat = lat0
      var lon = lon0
      var heading = rng.nextDouble() * 2 * math.Pi
      Vector.fill(k) {
        val tags =
          if (rng.nextDouble() < tagP) Map("highway" -> "crossing")
          else Map.empty[String, String]
        val n = node(lat, lon, tags, m)
        heading += rng.nextGaussian() * 0.3
        lat += math.sin(heading) * step
        lon += math.cos(heading) * step
        n
      }
    }

    def ringNodes(lat: Double, lon: Double, k: Int, r: Double,
                  tagP: Double, m: => Meta): Vector[GNode] =
      Vector.tabulate(k) { i =>
        val a = 2 * math.Pi * i / k
        val tags =
          if (rng.nextDouble() < tagP) Map("entrance" -> "yes")
          else Map.empty[String, String]
        node(lat + r * math.sin(a), lon + r * math.cos(a), tags, m)
      }
  }

  def dataset(seed: Long, scale: Scale): Dataset = {
    val rng = new SplittableRandom(seed)
    val weights = (0 until scale.places).map(i => 1.0 / (i + 1))
    val wsum = weights.sum
    val places = weights.zipWithIndex.map { case (w, i) =>
      val n = math.max(16, math.round(w / wsum * scale.nodes).toInt)
      Place(i, -50.0 + rng.nextDouble() * 110.0,
        -170.0 + rng.nextDouble() * 340.0,
        0.01 + 0.25 * math.sqrt(n / 1000.0), n)
    }.toVector

    val st = new OsmState
    val b = new Builder(rng, 1L, 1L, 1L)
    val dangling = mutable.Set[(String, Long)]()
    val admin8 = mutable.ArrayBuffer[GRel]()

    def way(nodes: Vector[Long], tags: Map[String, String]): GWay = {
      val w = GWay(b.nextWay, nodes, tags, meta(rng))
      b.nextWay += 1
      st.put(w)
      w
    }
    def rel(members: Vector[Member], tags: Map[String, String]): GRel = {
      val r = GRel(b.nextRel, members, tags, meta(rng))
      b.nextRel += 1
      st.put(r)
      r
    }

    for (p <- places) {
      val chains = mutable.ArrayBuffer[GWay]()
      val rings = mutable.ArrayBuffer[GWay]()
      val pois = mutable.ArrayBuffer[GNode]()
      var made = 0
      def near(sigma: Double): (Double, Double) =
        (p.lat + rng.nextGaussian() * sigma,
          p.lon + rng.nextGaussian() * sigma)
      while (made < p.nodes) {
        val r = rng.nextDouble()
        if (r < 0.4) {
          val k = 2 + rng.nextInt(12)
          val joinAt =
            if (chains.nonEmpty && rng.nextDouble() < 0.3) {
              val c = chains(rng.nextInt(chains.size))
              Some(c.nodes(rng.nextInt(c.nodes.size)))
            } else None
          val (lat, lon) = joinAt.flatMap(st.nodes.get)
            .map(n => (n.lat / 1e7, n.lon / 1e7))
            .getOrElse(near(p.radius / 2))
          val fresh = b.chainNodes(lat, lon, k, p.radius / 40, 0.33,
            meta(rng))
          fresh.foreach(st.put)
          made += k
          chains += way(joinAt.toVector ++ fresh.map(_.id),
            Map("highway" -> roadKinds(rng.nextInt(roadKinds.size)),
              "name" -> s"road ${b.nextWay}"))
        } else if (r < 0.6) {
          val k = 4 + rng.nextInt(5)
          val (lat, lon) = near(p.radius / 2)
          val ring = b.ringNodes(lat, lon, k, p.radius / 200, 0.1,
            meta(rng))
          ring.foreach(st.put)
          made += k
          rings += way(ring.map(_.id) :+ ring.head.id,
            Map("building" -> "yes"))
        } else {
          val (lat, lon) = near(p.radius / 2)
          val n = b.node(lat, lon, poiTags(rng, b.nextNode), meta(rng))
          st.put(n)
          pois += n
          made += 1
        }
      }
      // multipolygons: a ring as outer, sometimes the next ring as inner
      var i = 0
      while (i < rings.size) {
        if (rng.nextDouble() < 0.15) {
          val inner =
            if (i + 1 < rings.size && rng.nextDouble() < 0.5)
              Vector(Member(rings(i + 1).id, "way", "inner"))
            else Vector.empty
          rel(Member(rings(i).id, "way", "outer") +: inner,
            Map("type" -> "multipolygon", "landuse" -> "residential"))
          i += inner.size
        }
        i += 1
      }
      // routes over a handful of the place's roads, with stops
      def pick[T](xs: mutable.ArrayBuffer[T], k: Int): Vector[T] =
        if (xs.isEmpty) Vector.empty
        else Vector.fill(k)(xs(rng.nextInt(xs.size))).distinct
      for (_ <- 0 until math.max(1, chains.size / 12)) {
        val ms = pick(chains, 3 + rng.nextInt(6))
          .map(w => Member(w.id, "way", "")) ++
          pick(pois, rng.nextInt(3)).map(n => Member(n.id, "node", "stop"))
        if (ms.nonEmpty)
          rel(ms, Map("type" -> "route", "route" -> "bus",
            "ref" -> s"${p.idx}-${b.nextRel}"))
      }
      // the place's city boundary
      val missing =
        if (p.idx % 7 == 3) {
          val ref = 1000000000L + p.idx
          dangling += (("way", ref))
          Vector(Member(ref, "way", "outer"))
        } else Vector.empty
      admin8 += rel(
        pick(chains, 2 + rng.nextInt(5)).map(w => Member(w.id, "way",
          "outer")) ++ pick(pois, 1).map(n => Member(n.id, "node",
          "label")) ++ missing,
        Map("type" -> "boundary", "boundary" -> "administrative",
          "admin_level" -> "8", "name" -> s"city ${p.idx}"))
    }

    // states group three cities, countries group three states
    def group(xs: Seq[GRel], level: Int, label: String): Vector[GRel] =
      xs.grouped(3).zipWithIndex.map { case (g, k) =>
        rel(g.map(r => Member(r.id, "relation", "subarea")).toVector,
          Map("type" -> "boundary", "boundary" -> "administrative",
            "admin_level" -> level.toString, "name" -> s"$label $k"))
      }.toVector
    val states = group(admin8.toSeq, 4, "state")
    val countries = group(states, 2, "country")
    // a few cycles: every other country is also a member of its first
    // state, so the relation closure must terminate on a loop
    countries.zipWithIndex.foreach { case (c, k) =>
      if (k % 2 == 0) {
        val s = st.rels(c.members.head.ref)
        st.put(s.copy(members = s.members :+ Member(c.id, "relation",
          "subarea")))
      }
      if (k % 3 == 1) {
        val ref = 2000000000L + k
        dangling += (("relation", ref))
        val cur = st.rels(c.id)
        st.put(cur.copy(members = cur.members :+ Member(ref, "relation",
          "subarea")))
      }
    }
    Dataset(seed, scale, places, st, admin8.map(_.id).toVector,
      dangling.toSet)
  }

  /** Changes a minutely diff makes to each of the `locations` and `ways`
    * tables. A planet minutely diff touches every hash bucket of a store
    * (OSM ids hash-spread); a diff here is sized to do the same on a
    * store of `buckets` buckets: with m changes to a table, a given
    * bucket is missed with probability (1 - 1/B)^m, so m is the least
    * count that brings this below 1 %. */
  def changesPerTable(buckets: Int): Int =
    math.ceil(math.log(0.01) / math.log(1 - 1.0 / buckets)).toInt

  /** Edit kinds in the order every diff makes them, cycling until the
    * diff is full: every seed gets the same mix of edits. The mix is an
    * assumption, not derived from OSM's replication statistics. */
  private val Schedule = Vector("move", "waynode", "poi", "road", "delete",
    "member", "waytag", "move", "waynode", "move", "delete", "poi", "waytag",
    "move", "road", "waynode", "move", "delete", "member", "move")

  /** The diffs of the `replicate` workload, in order, at one cadence
    * (minutely), as `osmx-update` applies them. Each call to [[next]]
    * draws diff k from (seed, k) and the state left by diff k-1, applies
    * it to [[state]] and returns it: every diff is valid against the
    * store state it will be applied to. A diff holds exactly `perTable`
    * node and `perTable` way changes, and relation changes in proportion
    * to the dataset's relations per way. Edits favour recently edited
    * ids. */
  final class DiffStream(ds: Dataset, val firstSeq: Long, perTable: Int) {
    val state: OsmState = ds.state.copy()
    private val quota = Map("node" -> perTable, "way" -> perTable,
      "relation" -> math.max(1, math.round(
        perTable.toDouble * ds.state.rels.size / ds.state.ways.size).toInt))
    private var k = 0L
    private var ts = BaseTs + 60000000L
    private val b = new Builder(new SplittableRandom(0L),
      ds.state.nodes.keysIterator.max + 1,
      ds.state.ways.keysIterator.max + 1,
      ds.state.rels.keysIterator.max + 1)
    /** most recently touched ids per kind, newest last */
    val recent: Map[String, mutable.ArrayBuffer[Long]] =
      Seq("node", "way", "relation")
        .map(_ -> mutable.ArrayBuffer[Long]()).toMap

    def next(): Diff = {
      val rng = new SplittableRandom(mix(ds.seed, 1000 + k))
      ts += 60
      val seq = firstSeq + k
      k += 1
      val out = mutable.LinkedHashMap[(String, Long), (String, Elem)]()
      val created = mutable.Set[(String, Long)]()
      val bld = new Builder(rng, b.nextNode, b.nextWay, b.nextRel)
      def m(old: Option[Elem]) = Meta(old.map(_.meta.version + 1)
        .getOrElse(1), ts, 1L + rng.nextInt(1000000),
        1L + rng.nextInt(2000))
      def free(kind: String, id: Long) = !out.contains((kind, id))
      def record(action: String, e: Elem): Unit = {
        val key = (e.kind, e.id)
        if (action == "create") created += key
        out(key) = (action, e)
        if (action == "delete") state.remove(e) else state.put(e)
      }
      def pickId(kind: String, max: Long): Option[Long] = {
        val rs = recent(kind)
        val tries = Iterator.continually {
          if (rs.nonEmpty && rng.nextDouble() < 0.5)
            rs(rs.size - 1 - rng.nextInt(math.min(rs.size, 256)))
          else 1L + rng.nextLong(max - 1)
        }.take(16)
        tries.find(id => state.get(kind, id).isDefined && free(kind, id))
      }

      def room(kind: String) =
        quota(kind) - out.keysIterator.count(_._1 == kind)
      var op = 0
      while (quota.keys.exists(room(_) > 0)) {
        val kind = Schedule(op % Schedule.size)
        op += 1
        require(op < 100 * perTable, s"diff $seq: too few edits took")
        // an edit that could overfill a quota is skipped
        val (nodeRoom, wayRoom) = (room("node"), room("way"))
        if (kind == "poi") { // new POI near an existing node
          if (nodeRoom >= 1) pickId("node", bld.nextNode)
            .flatMap(state.nodes.get).foreach {
            n =>
              record("create", bld.node(n.lat / 1e7 + 1e-4,
                n.lon / 1e7 + 1e-4, poiTags(rng, bld.nextNode), m(None)))
          }
        } else if (kind == "road") { // new road, sometimes joined to a node
          if (nodeRoom >= 6 && wayRoom >= 1) pickId("node", bld.nextNode)
            .flatMap(state.nodes.get).foreach {
            n =>
              val fresh = bld.chainNodes(n.lat / 1e7, n.lon / 1e7,
                2 + rng.nextInt(5), 2e-4, 0.3, m(None))
              fresh.foreach(record("create", _))
              val joined =
                if (rng.nextBoolean()) n.id +: fresh.map(_.id)
                else fresh.map(_.id)
              record("create", GWay(bld.nextWay, joined,
                Map("highway" -> "service"), m(None)))
              bld.nextWay += 1
          }
        } else if (kind == "move") { // move and/or retag a node
          if (nodeRoom >= 1) pickId("node", bld.nextNode)
            .flatMap(state.nodes.get).foreach {
            n =>
              val moved = if (rng.nextBoolean()) n.copy(
                lat = n.lat + rng.nextInt(2001) - 1000,
                lon = n.lon + rng.nextInt(2001) - 1000) else n
              val tags =
                if (rng.nextDouble() < 0.3)
                  if (n.tags.nonEmpty) Map.empty[String, String]
                  else poiTags(rng, n.id)
                else if (n.tags.nonEmpty) n.tags + ("check_date" -> s"$ts")
                else n.tags
              record("modify", moved.copy(tags = tags,
                meta = m(Some(n))))
          }
        } else if (kind == "waynode") { // way node-list edit
          if (nodeRoom >= 1 && wayRoom >= 1)
            pickId("way", bld.nextWay).flatMap(state.ways.get)
            .foreach { w =>
            val closed = w.nodes.size > 2 && w.nodes.head == w.nodes.last
            val interior = w.nodes.size - (if (closed) 2 else 1)
            if (interior >= 2 && rng.nextBoolean()) {
              val i = 1 + rng.nextInt(interior - 1)
              record("modify", w.copy(nodes = w.nodes.patch(i, Nil, 1),
                meta = m(Some(w))))
            } else {
              val a = state.nodes(w.nodes.head)
              val n = bld.node(a.lat / 1e7 + 5e-5, a.lon / 1e7 + 5e-5,
                Map.empty, m(None))
              record("create", n)
              record("modify", w.copy(nodes = w.nodes.patch(1, Seq(n.id),
                0), meta = m(Some(w))))
            }
          }
        } else if (kind == "member") { // relation member edit
          if (room("relation") >= 1)
            pickId("relation", bld.nextRel).flatMap(state.rels.get)
            .foreach { rl =>
              val ms =
                if (rl.members.size > 1 && rng.nextBoolean())
                  rl.members.patch(rng.nextInt(rl.members.size), Nil, 1)
                else pickId("way", bld.nextWay)
                  .map(id => rl.members :+ Member(id, "way", ""))
                  .getOrElse(rl.members)
              record("modify", rl.copy(members = ms, meta = m(Some(rl))))
            }
        } else if (kind == "waytag") { // retag a way
          if (wayRoom >= 1) pickId("way", bld.nextWay)
            .flatMap(state.ways.get).foreach { w =>
            record("modify", w.copy(tags = w.tags + ("surface" ->
              (if (rng.nextBoolean()) "asphalt" else "gravel")),
              meta = m(Some(w))))
          }
        } else { // delete a way nobody references, then its lone nodes
          if (wayRoom >= 1) pickId("way", bld.nextWay).flatMap(state.ways.get)
            .filterNot(state.referenced).foreach { w =>
              val lone = w.nodes.distinct.flatMap(state.nodes.get).filter(n =>
                state.nodeRefs.getOrElse(n.id, 0) == 1 && free("node", n.id))
              if (lone.size <= nodeRoom) {
                record("delete", w.copy(meta = m(Some(w))))
                lone.foreach(n => record("delete", n.copy(meta = m(Some(n)))))
              }
            }
        }
      }
      b.nextNode = bld.nextNode
      b.nextWay = bld.nextWay
      b.nextRel = bld.nextRel
      out.keysIterator.foreach { case (kind, id) =>
        val rs = recent(kind)
        rs += id
        if (rs.size > 512) rs.remove(0, rs.size - 512)
      }
      // an element created and then deleted in the same diff never
      // reaches the file; one created and then edited is a create
      val elems = out.values.toVector.filterNot { case (a, e) =>
        a == "delete" && created((e.kind, e.id))
      }.map { case (a, e) =>
        (if (created((e.kind, e.id))) "create" else a) -> e
      }
      def of(a: String) = elems.collect { case (`a`, e) => e }
      Diff(seq, ts, of("create"), of("modify"), of("delete"))
    }
  }

  /** One extract region: `flag` is the CLI option, `arg` its inline text
    * (or, for `poly`, the file body). `scale` names the size class. */
  final case class RegionSpec(scale: String, flag: String, arg: String)

  /** The k-th region of the `extract` workload's sequence. Sizes rotate
    * block / empty / country / city in a fixed pattern, so every run
    * sees the same mix. A block is a ~1 km box, disc or triangle around
    * a node on the boundary of a city picked with its size as weight, so
    * every block climbs the same city < state < country closure. A city
    * covers one of the second- to sixth-largest places; a country box
    * holds the largest place whole; an empty box lies south of every
    * place. */
  def region(ds: Dataset, k: Int): RegionSpec = {
    val rng = new SplittableRandom(mix(ds.seed, 500000 + k))
    def fmt(d: Double) = f"$d%.6f"
    def box(lat: Double, lon: Double, h: Double) =
      s"${fmt(lat - h)},${fmt(lon - h)},${fmt(lat + h)},${fmt(lon + h)}"
    var x = rng.nextDouble() * ds.places.map(_.nodes).sum
    val place = ds.places.find { q => x -= q.nodes; x <= 0 }
      .getOrElse(ds.places.last)
    val boundary = ds.state.rels(ds.cities(place.idx)).members
      .filter(m => m.mtype == "way").flatMap(m => ds.state.ways.get(m.ref))
    val n = if (boundary.isEmpty) ds.state.nodes.valuesIterator.next()
      else {
        val w = boundary(rng.nextInt(boundary.size))
        ds.state.nodes(w.nodes(rng.nextInt(w.nodes.size)))
      }
    val (nlat, nlon) = (n.lat / 1e7, n.lon / 1e7)
    val city = ds.places(1 + k % math.min(5, ds.places.size - 1))
    Seq("block-bbox", "empty-bbox", "country-bbox", "city-disc",
      "block-poly", "city-poly", "block-disc", "city-bbox")(k % 8) match {
      case "block-bbox" => RegionSpec("block", "bbox", box(nlat, nlon, 0.005))
      case "block-disc" =>
        RegionSpec("block", "disc", s"${fmt(nlat)},${fmt(nlon)},0.005")
      case "block-poly" =>
        val h = 0.005
        RegionSpec("block", "poly", Seq("block", "1",
          s"${fmt(nlon - h)} ${fmt(nlat - h)}",
          s"${fmt(nlon + h)} ${fmt(nlat - h)}",
          s"${fmt(nlon)} ${fmt(nlat + h)}",
          s"${fmt(nlon - h)} ${fmt(nlat - h)}", "END", "END")
          .mkString("\n") + "\n")
      case "city-disc" => RegionSpec("city", "disc",
        s"${fmt(city.lat)},${fmt(city.lon)},${fmt(city.radius)}")
      case "city-bbox" =>
        RegionSpec("city", "bbox", box(city.lat, city.lon, city.radius))
      case "city-poly" =>
        val ring = (0 to 6).map { i =>
          val a = 2 * math.Pi * (i % 6) / 6
          s"${fmt(city.lon + city.radius * math.cos(a))} " +
            s"${fmt(city.lat + city.radius * math.sin(a))}"
        }
        RegionSpec("city", "poly",
          (Seq("city", "1") ++ ring ++ Seq("END", "END")).mkString("\n") + "\n")
      case "country-bbox" =>
        val big = ds.places.head
        RegionSpec("country", "bbox",
          box(big.lat, big.lon, math.max(2.0, 3 * big.radius)))
      case _ =>
        RegionSpec("empty", "bbox", box(-75.0 + rng.nextDouble() * 5,
          -150.0 + rng.nextDouble() * 300, 2.0))
    }
  }
}
