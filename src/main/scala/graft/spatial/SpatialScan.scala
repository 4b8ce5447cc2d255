package graft.spatial

import graft.functions.GraftFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine's spatial scan: region -> covering -> cell-range pruned
  * scan (`src/extract.cpp:164-175` + `src/storage.cpp:170-191`
  * re-expressed as a Catalyst plan).
  *
  * Scale design: the covering is computed DRIVER-SIDE (<= 1024 cells of
  * metadata — the only non-distributed artifact, exactly like the
  * reference's planner), then turned into a [[cellInRanges]] filter on
  * the scanned table's s2cell column. With the table written
  * sorted/partitioned by s2cell, parquet row-group min/max stats prune
  * almost all IO; the filter itself is map-side (no shuffle of the big
  * side).
  *
  * Like the reference, results are cell-APPROXIMATE by default
  * (`docs/MANUAL.md:144-148`): a covering cell may contain points just
  * outside the region. Callers wanting exactness apply a residual
  * point-in-region predicate on the pruned rows.
  */
object SpatialScan {

  /** s2cell column (level 16) for fixed-point 1e7 int coordinates. */
  def s2CellOfFixed(latE7: Column, lngE7: Column,
                    level: Int = graft.model.Model.CellIndexLevel): Column =
    GraftFunctions.s2CellId(latE7.cast("double") / 1e7,
      lngE7.cast("double") / 1e7, level)

  /** O(log n)-per-row covering membership via the native
    * [[graft.functions.CellInRanges]] expression (binary search over the
    * sorted literal ranges, inside whole-stage codegen). Requires
    * [[GraftFunctions.register]] on the session. */
  def cellInRanges(cellCol: Column, ranges: Seq[(Long, Long)]): Column = {
    val sorted = ranges.sortBy(_._1)
    call_function("cell_in_ranges", cellCol,
      typedlit(sorted.map(_._1)), typedlit(sorted.map(_._2)))
  }
}
