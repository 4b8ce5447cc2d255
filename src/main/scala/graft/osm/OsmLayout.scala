package graft.osm

import graft.spatial.SpatialScan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The engine's 8-table OSM layout, described once (SURVEY §1.4; the
  * reference's locations / nodes / ways / relations sub-databases and
  * their reverse indexes, `src/storage.cpp`). For every table it says
  * which element type's changes rewrite it, the column a bucketed store
  * hashes it on, the column a change deletes its rows by, and how its
  * rows derive from the elements of that type. `expand` ([[Ingest]]),
  * the synthetic bundle ([[SyntheticOsm]]), the batch delta
  * ([[Changeset]]) and the streaming apply
  * ([[graft.streaming.Replication.applyBatch]]) all read it, so the
  * reference's one update handler (`src/update.cpp:17-226`: put or
  * delete the element, then fix its reverse indexes) has one
  * description here.
  */
object OsmLayout {

  /** The tagged-node rule: only a node with at least one tag has a row
    * in `nodes` (`src/expand.cpp:156`); a visible change without tags
    * deletes it (`src/update.cpp:50-60`). */
  def tagged: Column = size(col("tags")) > 0

  sealed trait Table {
    def name: String
    /** Element type (`node`, `way`, `relation`) whose changes rewrite
      * the table. */
    def etype: String
    /** Column a bucketed store hashes the table on. */
    def bucketKey: String
    /** Column by which a change of element `id` deletes the table's
      * rows. */
    def deleteKey: String
    /** The table's rows, derived from rows of elements of type
      * [[etype]]. `want` picks which derived index columns to add (all
      * by default). */
    def rows(elements: DataFrame,
             want: String => Boolean = _ => true): DataFrame
  }

  /** One row per element that passes `keep`: its `columns`, plus the
    * `derived` index columns computed from them. */
  final case class Element(name: String, etype: String,
                           columns: Seq[String],
                           keep: Column = lit(true),
                           derived: Seq[(String, Column)] = Nil)
    extends Table {
    def bucketKey: String = "id"
    def deleteKey: String = "id"
    def rows(elements: DataFrame, want: String => Boolean): DataFrame =
      elements.where(keep).select(columns.map(col) ++
        derived.collect { case (n, c) if want(n) => c.as(n) }: _*)
  }

  /** Reverse adjacency: one `(member_id, parent_id)` row per distinct
    * member of a `parent` element, deduped like the reference's DUPSORT
    * indexes. `mtype` selects relation members of one type; `None`
    * takes a way's node list. An element has one row, so the dedup is
    * per parent row, inside the row: deriving the rows needs no
    * shuffle. */
  final case class Adjacency(name: String, parent: Element,
                             mtype: Option[String]) extends Table {
    def etype: String = parent.etype
    def bucketKey: String = "member_id"
    def deleteKey: String = "parent_id"

    /** Every member reference of `parents`, duplicates kept. */
    def refs(parents: DataFrame): DataFrame = mtype match {
      case None => parents.select(explode(col("nodes")).as("member_id"),
        col("id").as("parent_id"))
      case Some(t) => parents
        .select(explode(col("members")).as("m"), col("id").as("parent_id"))
        .where(col("m.mtype") === t)
        .select(col("m.ref").as("member_id"), col("parent_id"))
    }

    /** A parent row's member ids, as an array with duplicates kept: the
      * `member_id`s of its [[refs]], without exploding the row. */
    def memberIds: Column = mtype match {
      case None => col("nodes")
      case Some(t) =>
        transform(filter(col("members"), _("mtype") === t), _("ref"))
    }

    def rows(parents: DataFrame, want: String => Boolean): DataFrame =
      parents.select(explode(array_distinct(memberIds)).as("member_id"),
        col("id").as("parent_id"))
  }

  /** Every node's coordinates, with the level-16 `s2cell` index column
    * (the reference's `cell_node` index). */
  val Locations: Element = Element("locations", "node",
    Seq("id", "lon", "lat", "version"),
    derived = Seq("s2cell" ->
      SpatialScan.s2CellOfFixed(col("lat"), col("lon"))))
  val Nodes: Element =
    Element("nodes", "node", Seq("id", "tags", "meta"), keep = tagged)
  val Ways: Element =
    Element("ways", "way", Seq("id", "nodes", "tags", "meta"))
  val Relations: Element =
    Element("relations", "relation", Seq("id", "members", "tags", "meta"))
  val NodeWay: Adjacency = Adjacency("node_way", Ways, None)
  val NodeRelation: Adjacency =
    Adjacency("node_relation", Relations, Some("node"))
  val WayRelation: Adjacency =
    Adjacency("way_relation", Relations, Some("way"))
  val RelationRelation: Adjacency =
    Adjacency("relation_relation", Relations, Some("relation"))

  val tables: Seq[Table] = Seq(Locations, Nodes, Ways, Relations,
    NodeWay, NodeRelation, WayRelation, RelationRelation)
}
