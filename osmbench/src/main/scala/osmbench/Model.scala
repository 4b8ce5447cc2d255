package osmbench

import scala.collection.mutable

/** The generated OSM elements, held in memory by the bench. The engine
  * only ever sees them as files (PBF, OsmChange XML); the bench keeps
  * this mirror to check what the engine answers. */
final case class Meta(version: Int, timestamp: Long, changeset: Long,
                      uid: Long) {
  def user: String = s"user$uid"
}

final case class Member(ref: Long, mtype: String, role: String)

sealed trait Elem {
  def id: Long
  def kind: String
  def tags: Map[String, String]
  def meta: Meta
}
final case class GNode(id: Long, lon: Int, lat: Int,
                       tags: Map[String, String], meta: Meta) extends Elem {
  def kind = "node"
}
final case class GWay(id: Long, nodes: Vector[Long],
                      tags: Map[String, String], meta: Meta) extends Elem {
  def kind = "way"
}
final case class GRel(id: Long, members: Vector[Member],
                      tags: Map[String, String], meta: Meta) extends Elem {
  def kind = "relation"
}

/** One OsmChange file: `deletes` carry the element as it stood before
  * the delete, with the version bumped. */
final case class Diff(seq: Long, timestamp: Long, creates: Vector[Elem],
                      modifies: Vector[Elem], deletes: Vector[Elem]) {
  def size: Int = creates.size + modifies.size + deletes.size
  def all: Vector[(String, Elem)] =
    creates.map("create" -> _) ++ modifies.map("modify" -> _) ++
      deletes.map("delete" -> _)
}

/** Mutable mirror of the store's logical content. Keeps reverse
  * reference counts so the diff generator can tell which elements may
  * be deleted without leaving a reference behind. */
final class OsmState {
  val nodes = mutable.LongMap[GNode]()
  val ways = mutable.LongMap[GWay]()
  val rels = mutable.LongMap[GRel]()
  /** how many (way or relation) parents reference each node/way/relation */
  val nodeRefs = mutable.LongMap[Int]()
  val wayRefs = mutable.LongMap[Int]()
  val relRefs = mutable.LongMap[Int]()

  private def bump(m: mutable.LongMap[Int], id: Long, d: Int): Unit = {
    val n = m.getOrElse(id, 0) + d
    if (n == 0) m.remove(id) else m(id) = n
  }
  private def refs(e: Elem, d: Int): Unit = e match {
    case w: GWay => w.nodes.distinct.foreach(bump(nodeRefs, _, d))
    case r: GRel => r.members.distinct.foreach { m =>
      bump(m.mtype match {
        case "node" => nodeRefs
        case "way"  => wayRefs
        case _      => relRefs
      }, m.ref, d)
    }
    case _: GNode => ()
  }

  def get(kind: String, id: Long): Option[Elem] = kind match {
    case "node" => nodes.get(id)
    case "way"  => ways.get(id)
    case _      => rels.get(id)
  }

  def referenced(e: Elem): Boolean = e match {
    case n: GNode => nodeRefs.contains(n.id)
    case w: GWay  => wayRefs.contains(w.id)
    case r: GRel  => relRefs.contains(r.id)
  }

  def put(e: Elem): Unit = {
    get(e.kind, e.id).foreach(refs(_, -1))
    e match {
      case n: GNode => nodes(n.id) = n
      case w: GWay  => ways(w.id) = w
      case r: GRel  => rels(r.id) = r
    }
    refs(e, +1)
  }

  def remove(e: Elem): Unit = get(e.kind, e.id).foreach { old =>
    refs(old, -1)
    e match {
      case _: GNode => nodes.remove(e.id)
      case _: GWay  => ways.remove(e.id)
      case _: GRel  => rels.remove(e.id)
    }
  }

  def apply(d: Diff): Unit = {
    (d.creates ++ d.modifies).foreach(put)
    d.deletes.foreach(remove)
  }

  def copy(): OsmState = {
    val s = new OsmState
    nodes.valuesIterator.foreach(s.put)
    ways.valuesIterator.foreach(s.put)
    rels.valuesIterator.foreach(s.put)
    s
  }

  /** Row counts of the store's eight tables, derived the way `expand`
    * and `update` derive them: `nodes` holds tagged nodes only, the
    * adjacency tables hold distinct (member, parent) pairs. */
  def tableCounts: Map[String, Long] = {
    def relAdj(t: String) = rels.valuesIterator
      .map(_.members.filter(_.mtype == t).map(_.ref).distinct.size.toLong)
      .sum
    Map(
      "locations" -> nodes.size.toLong,
      "nodes" -> nodes.valuesIterator.count(_.tags.nonEmpty).toLong,
      "ways" -> ways.size.toLong,
      "relations" -> rels.size.toLong,
      "node_way" ->
        ways.valuesIterator.map(_.nodes.distinct.size.toLong).sum,
      "node_relation" -> relAdj("node"),
      "way_relation" -> relAdj("way"),
      "relation_relation" -> relAdj("relation"))
  }

  /** Parents of a member id in one adjacency table, sorted. */
  def parents(adj: String, member: Long): Seq[Long] = adj match {
    case "node_way" => ways.valuesIterator
      .filter(_.nodes.contains(member)).map(_.id).toSeq.sorted
    case _ =>
      val t = adj.stripSuffix("_relation")
      rels.valuesIterator
        .filter(_.members.exists(m => m.mtype == t && m.ref == member))
        .map(_.id).toSeq.sorted
  }
}
