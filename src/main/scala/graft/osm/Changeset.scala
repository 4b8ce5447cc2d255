package graft.osm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch OsmChange application (U1-U3, `src/update.cpp:17-226`) as
  * pure DataFrame transforms: every table's new version is
  * `old ANTI-JOIN changed-ids UNION visible-upserts`, one generic
  * [[delta]] over the table's [[OsmLayout]] entry. The changed ids
  * delete by the table's delete key (`id`, or `parent_id` for reverse
  * adjacency), and the upserts are the rows the layout derives from the
  * visible changes. Adjacency is thus recomputed with delete-then-insert
  * by parent id (the set-diff the reference computes row-by-row at
  * `update.cpp:78-126` falls out of recomputing the changed parents'
  * rows wholesale — cheaper on a cluster than the per-row diff, same
  * result).
  *
  * The SAME layout description drives `expand` ([[Ingest]]), this
  * whole-table batch form (applyNodeChanges etc., used by q33/q37) and
  * the copy-on-write streaming form, where `old` is only the changed
  * buckets' rows ([[VersionedTable.Delta]] /
  * [[graft.streaming.Replication.applyBatch]]).
  *
  * These functions are pure (no writes): atomic visibility is the
  * manifest layer's job ([[VersionedTable]]), which also supplies the
  * reference's dry-run semantics (compute, don't commit,
  * `src/update.cpp:280-291`).
  */
object Changeset {

  /** Table `t`'s delta for `changes`, the OsmChange rows of ONE element
    * type: maps the table's old rows (all of them, or just the changed
    * buckets' — the transform only ever deletes rows keyed by a changed
    * id, so restricting `old` to the buckets holding those keys is
    * exact) to their replacements. Upserts carry the derived index
    * columns `old` has: the locations `s2cell` is recomputed from the
    * new coordinates, the reference's cell_node index maintenance
    * (`src/update.cpp:62-76`), which needs
    * [[graft.functions.GraftFunctions.register]]. The output keeps
    * `old`'s column order, which the join on the delete key would
    * otherwise lead with that key. */
  def delta(t: OsmLayout.Table, changes: DataFrame)
  : DataFrame => DataFrame = old =>
    old.join(changes.select(col("id").as(t.deleteKey)).distinct(),
        Seq(t.deleteKey), "left_anti")
      .unionByName(t.rows(changes.where(col("visible")),
        old.columns.contains))
      .select(old.columns.map(col): _*)

  /** U1. `changes` schema: id, visible (bool), lon, lat, version, tags
    * (MAP, empty/null = untagged), meta (nullable struct like
    * Model.nodes). Returns (locations', nodes'). A visible change with
    * tags upserts the node blob; without tags it deletes any existing
    * blob (`update.cpp:50-60`); invisible deletes both
    * (`update.cpp:33-48`). */
  def applyNodeChanges(locations: DataFrame, nodes: DataFrame,
                       changes: DataFrame): (DataFrame, DataFrame) =
    (delta(OsmLayout.Locations, changes)(locations),
      delta(OsmLayout.Nodes, changes)(nodes))

  /** U2. `changes` schema: id, visible, nodes (ARRAY<LONG>), tags, meta.
    * Returns (ways', node_way'): changed parents' adjacency rows are
    * dropped and re-derived from the new node lists. */
  def applyWayChanges(ways: DataFrame, nodeWay: DataFrame,
                      changes: DataFrame): (DataFrame, DataFrame) =
    (delta(OsmLayout.Ways, changes)(ways),
      delta(OsmLayout.NodeWay, changes)(nodeWay))

  /** U3. `changes` schema: id, visible, members, tags, meta. Returns
    * (relations', node_relation', way_relation', relation_relation'). */
  def applyRelationChanges(relations: DataFrame, nodeRelation: DataFrame,
                           wayRelation: DataFrame,
                           relationRelation: DataFrame, changes: DataFrame)
  : (DataFrame, DataFrame, DataFrame, DataFrame) =
    (delta(OsmLayout.Relations, changes)(relations),
      delta(OsmLayout.NodeRelation, changes)(nodeRelation),
      delta(OsmLayout.WayRelation, changes)(wayRelation),
      delta(OsmLayout.RelationRelation, changes)(relationRelation))
}
