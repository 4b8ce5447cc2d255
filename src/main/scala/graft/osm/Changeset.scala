package graft.osm

import graft.ops.BitmapSemi
import graft.ops.BitmapSemi.IdSet
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch OsmChange application (U1-U3, `src/update.cpp:17-226`) as
  * pure DataFrame transforms: every table's new version is `old` minus
  * the rows of the changed ids, plus the rows of the visible upserts —
  * one generic [[delta]] over the table's [[OsmLayout]] entry, with the
  * changed ids as a [[BitmapSemi.IdSet]]. The changed ids delete by the
  * table's delete key (`id`, or `parent_id` for reverse adjacency), and
  * the upserts are the rows the layout derives from the visible
  * changes. Adjacency is thus recomputed with delete-then-insert by
  * parent id (the set-diff the reference computes row-by-row at
  * `update.cpp:78-126` falls out of recomputing the changed parents'
  * rows wholesale — cheaper on a cluster than the per-row diff, same
  * result).
  *
  * The SAME layout description drives `expand` ([[Ingest]]), this
  * whole-table batch form (applyNodeChanges etc., used by q33/q37) and
  * the copy-on-write streaming form, where `old` is only the changed
  * buckets' rows and the change set is usually held on the driver: a
  * bitmap of ids and local upsert rows
  * ([[graft.streaming.Replication.applyBatch]]).
  *
  * These functions are pure (no writes): atomic visibility is the
  * manifest layer's job ([[VersionedTable]]), which also supplies the
  * reference's dry-run semantics (compute, don't commit,
  * `src/update.cpp:280-291`).
  */
object Changeset {

  /** Table `t`'s delta for a change set of ONE element type: `changed`
    * holds its ids, deleted and visible alike, and `upserts` its
    * visible changes. Maps the table's old rows (all of them, or just
    * the changed buckets' — the transform only ever deletes rows keyed
    * by a changed id, so restricting `old` to the buckets holding those
    * keys is exact) to their replacements. Upserts carry the derived
    * index columns `old` has: the locations `s2cell` is recomputed from
    * the new coordinates, the reference's cell_node index maintenance
    * (`src/update.cpp:62-76`), which needs
    * [[graft.functions.GraftFunctions.register]]. The output keeps
    * `old`'s column order. */
  def delta(t: OsmLayout.Table, changed: IdSet, upserts: DataFrame)
  : DataFrame => DataFrame = old =>
    changed.filterNot(old, col(t.deleteKey))
      .unionByName(t.rows(upserts, old.columns.contains))
      .select(old.columns.map(col): _*)

  /** The change set of `changes`, OsmChange rows of one element type,
    * for the whole-table forms below: its ids stay a frame, so these
    * remain lazy transforms that start no job. */
  private def changeSet(changes: DataFrame): (IdSet, DataFrame) =
    (BitmapSemi.Frame(changes.select(col("id"))),
      changes.where(col("visible")))

  /** U1. `changes` schema: id, visible (bool), lon, lat, version, tags
    * (MAP, empty/null = untagged), meta (nullable struct like
    * Model.nodes). Returns (locations', nodes'). A visible change with
    * tags upserts the node blob; without tags it deletes any existing
    * blob (`update.cpp:50-60`); invisible deletes both
    * (`update.cpp:33-48`). */
  def applyNodeChanges(locations: DataFrame, nodes: DataFrame,
                       changes: DataFrame): (DataFrame, DataFrame) = {
    val (ids, ups) = changeSet(changes)
    (delta(OsmLayout.Locations, ids, ups)(locations),
      delta(OsmLayout.Nodes, ids, ups)(nodes))
  }

  /** U2. `changes` schema: id, visible, nodes (ARRAY<LONG>), tags, meta.
    * Returns (ways', node_way'): changed parents' adjacency rows are
    * dropped and re-derived from the new node lists. */
  def applyWayChanges(ways: DataFrame, nodeWay: DataFrame,
                      changes: DataFrame): (DataFrame, DataFrame) = {
    val (ids, ups) = changeSet(changes)
    (delta(OsmLayout.Ways, ids, ups)(ways),
      delta(OsmLayout.NodeWay, ids, ups)(nodeWay))
  }

  /** U3. `changes` schema: id, visible, members, tags, meta. Returns
    * (relations', node_relation', way_relation', relation_relation'). */
  def applyRelationChanges(relations: DataFrame, nodeRelation: DataFrame,
                           wayRelation: DataFrame,
                           relationRelation: DataFrame, changes: DataFrame)
  : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (ids, ups) = changeSet(changes)
    (delta(OsmLayout.Relations, ids, ups)(relations),
      delta(OsmLayout.NodeRelation, ids, ups)(nodeRelation),
      delta(OsmLayout.WayRelation, ids, ups)(wayRelation),
      delta(OsmLayout.RelationRelation, ids, ups)(relationRelation))
  }
}
