package graft.ops

import graft.functions.{GraftFunctions, IdBitmapImpl, IdBitmapProbe}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{call_function, col, explode, lit}
import org.apache.spark.sql.types.ArrayType

/** Broadcast-bitmap semi-join: the Spark rendering of the reference's
  * Roaring-bitmap ID-set filters (`src/extract.cpp:149-151` — every
  * extract stage accumulates IDs into a bitmap, then later stages test
  * membership against it). [[graft.osm.Extract]] builds every id set
  * of an extract with [[idSets]] and selects its rows with
  * [[IdSet.filter]], [[Closure]] grows its sets with [[IdSet.filterNot]],
  * and q56 uses [[filterIn]].
  *
  * `big WHERE key IN (ids)` normally plans as a `left_semi` join —
  * broadcast-hash at best (a boxed-Long hash set per executor), a full
  * shuffle of `big` at worst. When `ids` is small enough to bitmap
  * (OSM seed sets are dense integers — millions of IDs compress to a
  * few MB), this instead:
  *
  *   1. aggregates `ids` into one canonical compressed bitmap
  *      (map-side partial bitmaps merge in a tree reduce, [[idSets]]);
  *   2. passes it as a foldable literal, so
  *      [[graft.functions.BitmapContains]] parses it once per plan and
  *      whole-stage codegen probes it with two binary searches per row
  *      — `big` is filtered map-side with ZERO shuffle and no
  *      per-executor hash-set build.
  *
  * If the bitmap exceeds `maxBytes` (default [[MaxBytes]], 32 MiB —
  * planet-scale way/relation seed sets stay far under this; ~270M dense
  * IDs fit) the set stays distributed and filters by the plain
  * `left_semi` join rather than ship an oversized plan, mirroring the
  * size-gated broadcast rule in [[graft.llm.Dedup]].
  */
object BitmapSemi {

  val MaxBytes: Int = 32 << 20

  /** A set of BIGINT ids: a driver-held [[Bitmap]], or over the cap the
    * distributed [[Frame]] of its ids. */
  sealed trait IdSet {

    /** Rows of `big` whose `key` is in the set. */
    def filter(big: DataFrame, key: Column): DataFrame

    /** Rows of `big` whose `key` is not in the set, null keys included
      * (as a `left_anti` join keeps them). */
    def filterNot(big: DataFrame, key: Column): DataFrame

    /** The ids as one distinct BIGINT column `id`. */
    def ids(spark: SparkSession): DataFrame

    /** Known to be empty: work that only reads rows of this set can be
      * skipped. */
    def isEmpty: Boolean
  }

  /** An id set as a canonical [[graft.functions.IdBitmapImpl]] bitmap. */
  final case class Bitmap(bytes: Array[Byte]) extends IdSet {
    @transient private lazy val probe = new IdBitmapProbe(bytes)

    def isEmpty: Boolean = probe.chunks == 0

    def filter(big: DataFrame, key: Column): DataFrame =
      if (isEmpty) big.where(lit(false)) else big.where(contains(big, key))

    def filterNot(big: DataFrame, key: Column): DataFrame =
      if (isEmpty) big
      else big.where(key.cast("long").isNull || !contains(big, key))

    private def contains(big: DataFrame, key: Column): Column = {
      GraftFunctions.register(big.sparkSession)
      call_function("bitmap_contains", lit(bytes), key.cast("long"))
    }

    /** The ids, ascending, read on the driver. */
    def iterator: Iterator[Long] =
      Iterator.range(0, probe.chunks).flatMap(probe.chunkIds(_))

    /** One row per id, read out of the bitmap chunk by chunk. */
    def ids(spark: SparkSession): DataFrame = {
      import spark.implicits._
      val p = probe
      val slices = math.max(1,
        math.min(p.chunks, spark.sparkContext.defaultParallelism))
      spark.range(0, p.chunks, 1, slices)
        .flatMap(i => p.chunkIds(i.intValue)).toDF("id")
    }
  }

  /** An id set too large to bitmap: `df`'s BIGINT column `id`, which may
    * repeat ids. */
  final case class Frame(df: DataFrame) extends IdSet {
    def isEmpty: Boolean = false

    def filter(big: DataFrame, key: Column): DataFrame =
      big.join(df.select(col("id").as("__bs_id")).distinct(),
        key.cast("long") === col("__bs_id"), "left_semi")

    def filterNot(big: DataFrame, key: Column): DataFrame =
      big.join(df.select(col("id").as("__bs_id")).distinct(),
        key.cast("long") === col("__bs_id"), "left_anti")

    def ids(spark: SparkSession): DataFrame = df.distinct()
  }

  private val emptyBytes = new IdBitmapImpl.Buffer().serialize
  val empty: IdSet = Bitmap(emptyBytes)

  /** The bitmap of `ids`, built on the driver. */
  def bitmapOf(ids: Iterator[Long]): Bitmap = {
    val b = new IdBitmapImpl.Buffer
    ids.foreach(b.add)
    Bitmap(b.serialize)
  }

  /** `a ∪ b`: merged on the driver when both are bitmaps and the union
    * fits `maxBytes`, else the union of their id frames. */
  def union(spark: SparkSession, a: IdSet, b: IdSet,
            maxBytes: Int = MaxBytes): IdSet = (a, b) match {
    case _ if b.isEmpty => a
    case _ if a.isEmpty => b
    case (Bitmap(x), Bitmap(y)) =>
      val u = IdBitmapImpl.union(x, y)
      if (u.length <= maxBytes) Bitmap(u)
      else Frame(a.ids(spark).union(b.ids(spark)))
    case _ => Frame(a.ids(spark).union(b.ids(spark)))
  }

  /** The id sets of `cols` over the rows of `src`, all from ONE scan in
    * ONE Spark job: each partition builds its partial bitmaps and a
    * tree reduce merges them (a SQL `bitmap_agg` would cost two jobs
    * under adaptive execution — its single-row shuffle runs as a job of
    * its own). A column is BIGINT-castable, or an array of such, whose
    * elements each count; nulls are ignored. Each set is a [[Bitmap]]
    * if it fits `maxBytes`, else a [[Frame]] over `src`; a partial over
    * the cap is dropped where it is built, so no oversized bitmap is
    * shipped. The job runs inside a SQL execution of the scan's plan,
    * as the plan's own actions do, so its tasks compile and load their
    * generated classes through the session's class loader (see
    * [[DriverBudget.collectUnder]]). */
  def idSets(src: DataFrame, cols: Seq[Column],
             maxBytes: Int = MaxBytes): Seq[IdSet] = {
    val k = cols.size
    val cap = maxBytes
    val merge = (a: Array[Array[Byte]], b: Array[Array[Byte]]) =>
      Array.tabulate(k)(i =>
        if (a(i) == null || b(i) == null) null
        else {
          val u = IdBitmapImpl.union(a(i), b(i))
          if (u.length <= cap) u else null
        })
    val zero = Array.fill(k)(if (emptyBytes.length <= cap) emptyBytes
      else null)
    val named = src.select(cols.zipWithIndex.map { case (c, i) =>
      c.as(s"_c$i") }: _*)
    val isArray = named.schema.fields.map(_.dataType.isInstanceOf[ArrayType])
    def ids(i: Int): Column =
      col(s"_c$i").cast(if (isArray(i)) "array<bigint>" else "bigint")
    val scan = named.select(cols.indices.map(ids): _*)
    val merged = SQLExecution.withNewExecutionId(scan.queryExecution,
      Some("idSets")) {
      scan.queryExecution.toRdd.mapPartitions { rows =>
        val bufs = Array.fill(k)(new IdBitmapImpl.Buffer)
        rows.foreach { r =>
          var i = 0
          while (i < k) {
            if (r.isNullAt(i)) ()
            else if (isArray(i)) {
              val a = r.getArray(i)
              var j = 0
              while (j < a.numElements) {
                if (!a.isNullAt(j)) bufs(i).add(a.getLong(j))
                j += 1
              }
            } else bufs(i).add(r.getLong(i))
            i += 1
          }
        }
        Iterator.single(bufs.map { b =>
          val bytes = b.serialize
          if (bytes.length <= cap) bytes else null
        })
      }.treeAggregate(zero)(merge, merge)
    }
    cols.indices.map { i =>
      if (merged(i) == null) Frame(named.select(
        (if (isArray(i)) explode(ids(i)) else ids(i)).as("id"))
        .where(col("id").isNotNull))
      else Bitmap(merged(i))
    }
  }

  /** Rows of `big` whose `key` appears in `ids.idCol`. */
  def filterIn(big: DataFrame, key: Column, ids: DataFrame, idCol: String,
               maxBytes: Int = MaxBytes): DataFrame =
    idSets(ids, Seq(col(idCol)), maxBytes).head.filter(big, key)
}
