package osmbench

import graft.spatial.S2

import scala.collection.mutable

/** The extract closure computed directly over the generated elements:
  * the id sets an extract of a covering must contain. It follows the
  * engine's extract contract: seed nodes are those whose level-16 cell
  * lies in the covering ranges (cell-approximate, no exact residual);
  * their ways; the relations holding a seed node or seed way, closed
  * upward over relation membership; the way members of selected
  * multipolygons; and every existing node of every selected way. */
final class Oracle(st: OsmState) {

  final case class Sets(nodes: Set[Long], ways: Set[Long], rels: Set[Long]) {
    def size: Long = nodes.size.toLong + ways.size + rels.size
  }

  private val byCell: Array[(Long, Long)] = st.nodes.valuesIterator
    .map(n => (S2.fixedToCellId(n.lat, n.lon,
      graft.model.Model.CellIndexLevel), n.id)).toArray.sortBy(_._1)
  private val cells: Array[Long] = byCell.map(_._1)

  private def index(kind: String): mutable.LongMap[List[Long]] = {
    val m = mutable.LongMap[List[Long]]()
    kind match {
      case "node_way" => st.ways.valuesIterator.foreach(w =>
        w.nodes.distinct.foreach(n => m(n) = w.id :: m.getOrElse(n, Nil)))
      case t => st.rels.valuesIterator.foreach(r =>
        r.members.filter(_.mtype == t).map(_.ref).distinct
          .foreach(x => m(x) = r.id :: m.getOrElse(x, Nil)))
    }
    m
  }
  private val nodeWays = index("node_way")
  private val nodeRels = index("node")
  private val wayRels = index("way")
  private val relRels = index("relation")

  private def lowerBound(x: Long): Int = {
    var lo = 0
    var hi = cells.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cells(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }

  def seeds(ranges: Seq[(Long, Long)]): Set[Long] =
    ranges.iterator.flatMap { case (lo, hi) =>
      Iterator.from(lowerBound(lo)).takeWhile(i =>
        i < cells.length && cells(i) <= hi).map(byCell(_)._2)
    }.toSet

  def extract(ranges: Seq[(Long, Long)]): Sets = {
    val seed = seeds(ranges)
    val ways0 = seed.flatMap(nodeWays.getOrElse(_, Nil))
    val rels = mutable.Set[Long]()
    val todo = mutable.Stack[Long]()
    (seed.flatMap(nodeRels.getOrElse(_, Nil)) ++
      ways0.flatMap(wayRels.getOrElse(_, Nil))).foreach(todo.push)
    while (todo.nonEmpty) {
      val r = todo.pop()
      if (rels.add(r)) relRels.getOrElse(r, Nil).foreach(todo.push)
    }
    val mpWays = rels.iterator.flatMap(st.rels.get)
      .filter(_.tags.get("type").contains("multipolygon"))
      .flatMap(_.members.filter(_.mtype == "way").map(_.ref))
      .filter(st.ways.contains)
    val ways = ways0 ++ mpWays
    val nodes = seed ++ ways.iterator.flatMap(w => st.ways(w).nodes)
      .filter(st.nodes.contains)
    Sets(nodes, ways, rels.toSet)
  }
}
