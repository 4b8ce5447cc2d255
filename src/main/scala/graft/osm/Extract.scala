package graft.osm

import graft.ops.{BitmapSemi, Closure}
import graft.ops.BitmapSemi.IdSet
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The extract pipeline (`src/extract.cpp:69-421`) as a composable
  * DataFrame program: seed nodes -> reverse joins -> relation closure ->
  * multipolygon completion (J6) -> way completion (J7) -> tagged/untagged
  * materialization (J8) -> deterministic element ordering (A7).
  *
  * Scale design: like the reference, every stage accumulates ids into a
  * compressed bitmap (`src/extract.cpp:149-151`) and later stages test
  * membership against it ([[BitmapSemi]]). Each id set is ONE
  * single-scan aggregate of a table filtered map-side by the earlier
  * bitmaps (`bitmap_contains`) — no element table is joined or
  * shuffled, and an empty set skips the scans that read from it. The
  * bitmaps live on the driver up to [[BitmapSemi.MaxBytes]] (32 MiB,
  * ~270M dense ids); a set over that cap stays a distributed id frame
  * and the stages reading it fall back to `left_semi` joins. The
  * relation closure ([[Closure]]) is the reference's loop over these
  * sets, one scan per round. Output ordering is one sort at the very
  * end, matching the reference's nodes-then-ways-then-relations
  * ascending-id stream.
  */
object Extract {

  /** The extract's id sets. `nodeIds`/`wayIds`/`relationIds` are each one
    * distinct BIGINT column `id`; `sets` carries the same sets as
    * bitmaps when [[complete]] built them, and is derived from the
    * frames otherwise. */
  final case class Selected(nodeIds: DataFrame, wayIds: DataFrame,
                            relationIds: DataFrame,
                            sets: Option[IdSets] = None)

  /** The node, way and relation id sets of one extract. */
  final case class IdSets(nodes: IdSet, ways: IdSet, relations: IdSet)

  /** Topological completion: from a seed node set to the complete
    * (node, way, relation) id sets of the extract. `maxBytes` is the
    * bitmap cap of [[BitmapSemi]]. */
  def complete(t: SyntheticOsm.Tables, seedNodeIds: DataFrame,
               maxBytes: Int = BitmapSemi.MaxBytes): Selected = {
    val spark = seedNodeIds.sparkSession
    // one aggregate per step; no rows to read -> no job
    def sets(rows: Option[DataFrame], cols: Column*): Seq[IdSet] =
      rows.fold(Seq.fill(cols.size)(BitmapSemi.empty))(
        BitmapSemi.idSets(_, cols, maxBytes))
    def in(s: IdSet, table: DataFrame, key: String): Option[DataFrame] =
      if (s.isEmpty) None else Some(s.filter(table, col(key)))
    def union(a: IdSet, b: IdSet): IdSet =
      BitmapSemi.union(spark, a, b, maxBytes)

    val Seq(seeds) = sets(Some(seedNodeIds), col(seedNodeIds.columns.head))

    // J2: nodes -> parent ways (`src/extract.cpp:177-187`)
    val Seq(ways0) = sets(in(seeds, t.nodeWay, "member_id"),
      col("parent_id"))

    // J3 + J4: nodes/ways -> parent relations (`:191-209`)
    val Seq(relSeeds) = sets(
      Seq(in(seeds, t.nodeRelation, "member_id"),
        in(ways0, t.wayRelation, "member_id")).flatten
        .map(_.select(col("parent_id"))).reduceOption(_.union(_)),
      col("parent_id"))

    // J5: transitive closure over relation_relation (`:211-237`)
    val relations = Closure.reachable(relSeeds, t.relationRelation,
      childCol = "member_id", parentCol = "parent_id", maxBytes)

    // J6: multipolygon completion — way members OF SELECTED relations
    // tagged type=multipolygon (`:243-260`); J7 keeps only the ones that
    // exist
    val Seq(mpRefs) = sets(in(relations, t.relations, "id").map(
      rels => OsmLayout.WayRelation.refs(
        rels.where(element_at(col("tags"), "type") === "multipolygon"))
        .select(col("member_id").as("ref"))),
      col("ref"))

    // J7: way completion — the selected ways that exist and every node
    // of them, in one scan (`:264-274`)
    val Seq(waysFound, wayNodes) = sets(
      in(union(ways0, mpRefs), t.ways, "id").map(
        _.select(col("id"), explode_outer(col("nodes")).as("node"))),
      col("id"), col("node"))

    val s = IdSets(union(seeds, wayNodes), union(ways0, waysFound),
      relations)
    Selected(s.nodes.ids(spark), s.ways.ids(spark), s.relations.ids(spark),
      Some(s))
  }

  /** An extract's rows of the node, way and relation tables. */
  private[osm] final case class Rows(nodes: DataFrame, ways: DataFrame,
                                     relations: DataFrame)

  /** The selected rows of the entity tables, each filtered map-side by
    * its id set: `nodes` is `locations` (nodes without a location are
    * skipped) LEFT OUTER the tagged `nodes` row (`src/extract.cpp:304-339`).
    * Shared by [[materialize]] and [[Ingest.writeExtract]]. A
    * [[Selected]] without bitmaps gets them from its id frames, one
    * aggregate each. */
  private[osm] def rows(t: SyntheticOsm.Tables, sel: Selected): Rows = {
    def of(ids: DataFrame): IdSet =
      BitmapSemi.idSets(ids, Seq(col(ids.columns.head))).head
    val s = sel.sets.getOrElse(
      IdSets(of(sel.nodeIds), of(sel.wayIds), of(sel.relationIds)))
    Rows(
      s.nodes.filter(t.locations, col("id")).join(
        s.nodes.filter(t.nodes.select(col("id"), col("tags"), col("meta")),
          col("id")), Seq("id"), "left_outer"),
      s.ways.filter(t.ways, col("id")),
      s.relations.filter(t.relations, col("id")))
  }

  /** Sorted tag rendering "k1=v1;k2=v2" (engine-portable projection of
    * the MapType column — P8/F5). */
  def tagsToString(tags: org.apache.spark.sql.Column)
  : org.apache.spark.sql.Column =
    array_join(transform(array_sort(map_entries(tags)),
      e => concat(e("key"), lit("="), e("value"))), ";")

  /** J8 + A7: materialize the selected sets against the entity tables
    * ([[rows]]); output is one flat schema ordered (type_rank, id) like
    * the reference's nodes/ways/relations passes. `includeUserData=false`
    * reproduces `--noUserData` GDPR stripping (`:324-328`). */
  def materialize(t: SyntheticOsm.Tables, sel: Selected,
                  includeUserData: Boolean = true): DataFrame = {
    val r = rows(t, sel)
    val nodesOut = r.nodes
      .select(lit(0).as("trank"), col("id"),
        col("lon"), col("lat"), col("version"),
        col("meta.timestamp").as("ts"),
        when(col("tags").isNotNull, tagsToString(col("tags")))
          .as("tags_s"),
        lit(null).cast("string").as("refs_s"),
        (if (includeUserData) col("meta.user")
        else lit(null).cast("string")).as("user_s"))

    val waysOut = r.ways
      .select(lit(1).as("trank"), col("id"),
        lit(null).cast("int").as("lon"), lit(null).cast("int").as("lat"),
        col("meta.version").as("version"),
        col("meta.timestamp").as("ts"),
        tagsToString(col("tags")).as("tags_s"),
        array_join(transform(col("nodes"), n => n.cast("string")), ",")
          .as("refs_s"),
        (if (includeUserData) col("meta.user")
        else lit(null).cast("string")).as("user_s"))

    val relsOut = r.relations
      .select(lit(2).as("trank"), col("id"),
        lit(null).cast("int").as("lon"), lit(null).cast("int").as("lat"),
        col("meta.version").as("version"),
        col("meta.timestamp").as("ts"),
        tagsToString(col("tags")).as("tags_s"),
        array_join(transform(col("members"),
          m => concat_ws(":", m("mtype"), m("ref"), m("role"))), ",")
          .as("refs_s"),
        (if (includeUserData) col("meta.user")
        else lit(null).cast("string")).as("user_s"))

    nodesOut.unionByName(waysOut).unionByName(relsOut)
      .orderBy(col("trank"), col("id"))
  }
}
