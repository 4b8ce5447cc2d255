package graft.ops

import graft.ops.BitmapSemi.{Frame, IdSet}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Transitive-closure fixpoint over id sets (J5).
  *
  * The reference's relation_relation loop (`src/extract.cpp:211-237`)
  * keeps the relations in a Roaring bitmap and repeatedly looks up the
  * parents of the ones found last round, keeping those not seen yet,
  * until a round finds none. This is the same semi-naive loop over
  * [[BitmapSemi.IdSet]]s:
  *
  *   next    = parents of (edges whose child is in frontier) not in visited
  *   visited = visited ∪ next; stop when next is empty
  *
  * A round is one scan of the edges, filtered map-side by the frontier
  * and visited bitmaps, aggregated into the next bitmap in one Spark
  * job ([[BitmapSemi.idSets]]); emptiness is known on the driver. The
  * bitmap cap `maxBytes` is the one size rule: a set over it is a
  * [[BitmapSemi.Frame]] and runs the same loop through `left_semi` and
  * `left_anti` joins; each round then pins the new frontier and the
  * visited set with a `localCheckpoint` (lineage would otherwise grow
  * per round) and asks the frontier once whether it is empty. OSM
  * relation nesting is shallow, so [[MaxIters]] is only a safety bound.
  */
object Closure {

  /** Safety bound on the number of rounds. */
  val MaxIters: Int = 50

  /** Every id reachable from `seeds` by following child -> parent edges
    * of `edges`, the seeds included (the reference keeps the initial
    * relations in its bitmap, `src/extract.cpp:219-224`). A null child
    * or parent is not an id: such an edge is never followed. */
  def reachable(seeds: IdSet, edges: DataFrame,
                childCol: String, parentCol: String,
                maxBytes: Int = BitmapSemi.MaxBytes): IdSet = {
    val e = edges.select(col(childCol).cast("long").as("child"),
      col(parentCol).cast("long").as("parent"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var visited = seeds
    var frontier = seeds
    var iter = 0
    while (!frontier.isEmpty && iter < MaxIters) {
      val Seq(found) = BitmapSemi.idSets(
        visited.filterNot(frontier.filter(e, col("child")), col("parent")),
        Seq(col("parent")), maxBytes)
      frontier = checkpointed(found) match {
        case Frame(df) if df.isEmpty => BitmapSemi.empty
        case s => s
      }
      if (!frontier.isEmpty)
        visited = checkpointed(BitmapSemi.union(edges.sparkSession,
          visited, frontier, maxBytes))
      iter += 1
    }
    e.unpersist(blocking = false)
    visited
  }

  /** A [[Frame]] materialized, so later rounds do not recompute it; a
    * bitmap as it is. */
  private def checkpointed(s: IdSet): IdSet = s match {
    case Frame(df) => Frame(df.localCheckpoint(eager = true))
    case bitmap => bitmap
  }
}
