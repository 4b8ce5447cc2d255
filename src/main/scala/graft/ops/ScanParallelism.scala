package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** Parallelism floor for expensive per-row text kernels (round 16,
  * optimization-guide §2.5 "input skew: one huge unsplittable file —
  * repartition immediately after the read").
  *
  * The graded corpora arrive as ONE parquet file per table, so every
  * scan-side kernel (minhash signatures, shingle hashing, quality
  * scoring) ran as a SINGLE task — q193's four kernel passes measured
  * ~8 s of serial work on a 32-core machine (bench/r16 JobProbe: jobs
  * of 1 task x 1.2-3.1 s each). A parquet file only splits above
  * `spark.sql.files.maxPartitionBytes`, so no configuration reaches
  * this; the fix is one round-robin exchange of the (narrow) doc rows
  * before the kernel.
  *
  * [[widen]] fires ONLY when
  *   - the frame is a plain file scan (project/filter over one
  *     HadoopFsRelation — detected structurally, so no physical
  *     planning and never an eager AQE stage execution), and
  *   - that scan would have fewer splits than the cluster has cores
  *     (from FileIndex byte size vs `files.maxPartitionBytes` — a
  *     plan-time metadata read, no job).
  *
  * Scale-adaptive by construction: a 100 TB corpus scans as thousands
  * of splits and is returned untouched; the single-file (or
  * single-gzip) input gets kernel parallelism for the price of
  * shuffling bytes it was about to feed through a far more expensive
  * kernel anyway. Deterministic under retry: round-robin repartition
  * sorts its input first (spark.sql.execution.sortBeforeRepartition,
  * on by default; guide §2.5).
  */
object ScanParallelism {

  private def scanBytes(p: LogicalPlan): Option[Long] = p match {
    case Project(_, c) => scanBytes(c)
    case Filter(_, c) => scanBytes(c)
    case SubqueryAlias(_, c) => scanBytes(c)
    case l: LogicalRelation => l.relation match {
      case f: HadoopFsRelation => Some(f.location.sizeInBytes)
      case _ => None
    }
    case _ => None // joins/aggs/unions: not a bare scan — leave alone
  }

  /** `df` repartitioned to cluster width iff it is a plain file scan
    * that would otherwise run in fewer partitions; unchanged for
    * streaming frames and for anything that is not a bare scan. */
  def widen(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    scanBytes(df.queryExecution.analyzed) match {
      case Some(bytes) =>
        val spark = df.sparkSession
        val want = spark.sparkContext.defaultParallelism
        val split = math.max(1L,
          spark.sessionState.conf.filesMaxPartitionBytes)
        val have = math.max(1L, (bytes + split - 1) / split)
        if (have < want) df.repartition(want) else df
      case None => df
    }
  }
}
