package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types._

import java.nio.{ByteBuffer, ByteOrder}

/** Compressed 64-bit ID-set bitmap — the engine's stand-in for the
  * reference's CRoaring `Roaring64Map` ID sets (`src/extract.cpp:149-151`,
  * SURVEY §2.9): OSM element IDs are dense, so a chunked bitmap is
  * 10-100x smaller than the raw ID list and membership is O(1).
  *
  * Layout mirrors Roaring's two-level scheme (public format, Chambi et
  * al., "Better bitmap performance with Roaring bitmaps"): IDs are
  * chunked by their high 48 bits; each chunk holds the low 16 bits
  * either as a sorted u16 array (sparse, card <= 4096) or an 8 KiB
  * bit field (dense). Wire format (little-endian):
  *
  * {{{
  *   i32 nContainers
  *   repeat (sorted by unsigned key):
  *     i64 key (id >>> 16), i8 mode (0=array 1=bitmap), i32 card,
  *     payload: array -> card * u16 sorted; bitmap -> 1024 * i64
  * }}}
  *
  * Serialization is canonical (containers key-sorted, arrays sorted),
  * so equal sets yield equal bytes regardless of build/merge order —
  * required for a deterministic aggregate result.
  */
object IdBitmapImpl {

  /** array -> bitmap conversion threshold, as in Roaring: past 4096
    * entries the 8 KiB bit field is smaller than the u16 array. */
  private val ArrayMax = 4096
  private val Words = 1024 // 65536 bits

  /** One 65536-element chunk; array mode until > ArrayMax, then bitmap. */
  final class Container {
    var card: Int = 0
    var arr: Array[Char] = new Array[Char](8) // sorted u16s while array-mode
    var words: Array[Long] = _ // non-null once bitmap-mode

    def add(v: Char): Unit =
      if (words != null) {
        val w = v >>> 6
        val bit = 1L << (v & 63)
        if ((words(w) & bit) == 0L) { words(w) |= bit; card += 1 }
      } else {
        var lo = 0; var hi = card - 1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (arr(mid) < v) lo = mid + 1
          else if (arr(mid) > v) hi = mid - 1
          else return // present
        }
        if (card == ArrayMax) { toBitmap(); add(v) }
        else {
          if (card == arr.length)
            arr = java.util.Arrays.copyOf(arr, arr.length * 2)
          System.arraycopy(arr, lo, arr, lo + 1, card - lo)
          arr(lo) = v
          card += 1
        }
      }

    private def toBitmap(): Unit = {
      words = new Array[Long](Words)
      var i = 0
      while (i < card) {
        val v = arr(i)
        words(v >>> 6) |= 1L << (v & 63)
        i += 1
      }
      arr = null
    }

    def mergeFrom(o: Container): Unit =
      if (o.words != null) {
        if (words == null) toBitmap()
        var w = 0; var c = 0
        while (w < Words) {
          words(w) |= o.words(w)
          c += java.lang.Long.bitCount(words(w))
          w += 1
        }
        card = c
      } else {
        var i = 0
        while (i < o.card) { add(o.arr(i)); i += 1 }
      }

    def byteSize: Int =
      8 + 1 + 4 + (if (words != null) Words * 8 else card * 2)
  }

  /** Aggregation buffer: chunk key -> container. */
  final class Buffer {
    val map = new java.util.HashMap[Long, Container]

    def add(id: Long): Unit = {
      val key = id >>> 16
      var c = map.get(key)
      if (c == null) { c = new Container; map.put(key, c) }
      c.add((id & 0xFFFF).toChar)
    }

    def mergeFrom(o: Buffer): Unit = {
      val it = o.map.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val mine = map.get(e.getKey)
        if (mine == null) map.put(e.getKey, e.getValue)
        else mine.mergeFrom(e.getValue)
      }
    }

    def serialize: Array[Byte] = {
      val keys = map.keySet().toArray(new Array[java.lang.Long](0))
        .map(_.longValue())
      java.util.Arrays.sort(keys) // keys are id>>>16, so non-negative
      var size = 4
      keys.foreach(k => size += map.get(k).byteSize)
      val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(keys.length)
      keys.foreach { k =>
        val c = map.get(k)
        bb.putLong(k)
        if (c.words != null) {
          bb.put(1: Byte).putInt(c.card)
          var w = 0
          while (w < Words) { bb.putLong(c.words(w)); w += 1 }
        } else {
          bb.put(0: Byte).putInt(c.card)
          var i = 0
          while (i < c.card) { bb.putChar(c.arr(i)); i += 1 }
        }
      }
      bb.array()
    }
  }

  /** The canonical bitmap of the union of two serialized bitmaps. */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val u = deserialize(a)
    u.mergeFrom(deserialize(b))
    u.serialize
  }

  def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val buf = new Buffer
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val key = bb.getLong
      val mode = bb.get()
      val card = bb.getInt
      val c = new Container
      c.card = card
      if (mode == 1) {
        c.arr = null
        c.words = new Array[Long](Words)
        var w = 0
        while (w < Words) { c.words(w) = bb.getLong; w += 1 }
      } else {
        c.arr = new Array[Char](math.max(8, card))
        var j = 0
        while (j < card) { c.arr(j) = bb.getChar; j += 1 }
      }
      buf.map.put(key, c)
      i += 1
    }
    buf
  }
}

/** Read-side parsed bitmap: flat sorted key index over the serialized
  * payload, O(log nContainers) + O(log card | 1) membership with zero
  * per-row allocation. Built once per plan (the bytes are a foldable
  * literal) and shipped into generated code via `addReferenceObj`. */
final class IdBitmapProbe(bytes: Array[Byte]) extends Serializable {
  // only `bytes` is serialized; the index is rebuilt lazily per JVM
  // (ByteBuffer itself is not java-serializable)
  @transient private lazy val bb =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
  @transient private lazy val index
  : (Array[Long], Array[Int], Array[Byte], Array[Int]) = {
    val n = bb.getInt(0)
    val keys = new Array[Long](n)
    val offs = new Array[Int](n) // payload offset; mode+card before it
    val modes = new Array[Byte](n)
    val cards = new Array[Int](n)
    var i = 0
    var pos = 4
    while (i < n) {
      keys(i) = bb.getLong(pos); pos += 8
      modes(i) = bb.get(pos); pos += 1
      cards(i) = bb.getInt(pos); pos += 4
      offs(i) = pos
      pos += (if (modes(i) == 1) 1024 * 8 else cards(i) * 2)
      i += 1
    }
    (keys, offs, modes, cards)
  }
  @transient private lazy val keys = index._1
  @transient private lazy val offs = index._2
  @transient private lazy val modes = index._3
  @transient private lazy val cards = index._4
  private def n: Int = keys.length

  /** Number of chunks; [[chunkIds]] enumerates each. */
  def chunks: Int = n

  /** The ids of chunk `i`, ascending within the chunk. */
  def chunkIds(i: Int): Array[Long] = {
    val base = keys(i) << 16
    val out = new Array[Long](cards(i))
    var k = 0
    if (modes(i) == 1) {
      var w = 0
      while (w < 1024) {
        var bits = bb.getLong(offs(i) + (w << 3))
        while (bits != 0L) {
          out(k) = base | ((w << 6) + java.lang.Long.numberOfTrailingZeros(bits))
          k += 1
          bits &= bits - 1
        }
        w += 1
      }
    } else
      while (k < out.length) {
        out(k) = base | bb.getChar(offs(i) + k * 2).toLong
        k += 1
      }
    out
  }

  def cardinality: Long = {
    var s = 0L; var i = 0
    while (i < n) { s += cards(i); i += 1 }
    s
  }

  def contains(id: Long): Boolean = {
    val key = id >>> 16
    var lo = 0; var hi = n - 1
    var at = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid) < key) lo = mid + 1
      else if (keys(mid) > key) hi = mid - 1
      else { at = mid; lo = hi + 1 }
    }
    if (at < 0) return false
    val v = (id & 0xFFFF).toInt
    if (modes(at) == 1) {
      (bb.getLong(offs(at) + ((v >>> 6) << 3)) & (1L << (v & 63))) != 0L
    } else {
      var alo = 0; var ahi = cards(at) - 1
      val base = offs(at)
      while (alo <= ahi) {
        val mid = (alo + ahi) >>> 1
        val x = bb.getChar(base + mid * 2).toInt
        if (x < v) alo = mid + 1
        else if (x > v) ahi = mid - 1
        else return true
      }
      false
    }
  }
}

/** `bitmap_agg(id BIGINT) -> BINARY`: aggregate IDs into a canonical
  * [[IdBitmapImpl]] bitmap. Partial aggregation applies (map-side
  * combine): partials serialize/merge like any imperative agg, so the
  * shuffle carries compressed chunk bytes, not raw IDs. */
case class BitmapAgg(child: Expression,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[IdBitmapImpl.Buffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bitmap_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bitmap_agg expects BIGINT, got ${child.dataType}")

  override def createAggregationBuffer(): IdBitmapImpl.Buffer =
    new IdBitmapImpl.Buffer

  override def update(buf: IdBitmapImpl.Buffer,
                      input: InternalRow): IdBitmapImpl.Buffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: IdBitmapImpl.Buffer,
                     other: IdBitmapImpl.Buffer): IdBitmapImpl.Buffer = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: IdBitmapImpl.Buffer): Any = buf.serialize

  override def serialize(buf: IdBitmapImpl.Buffer): Array[Byte] =
    buf.serialize

  override def deserialize(bytes: Array[Byte]): IdBitmapImpl.Buffer =
    IdBitmapImpl.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BitmapAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** `bitmap_contains(bitmap literal BINARY, id BIGINT) -> BOOLEAN`:
  * membership in a driver-built bitmap. The bitmap must be foldable (it
  * is collected once and passed as a literal, like `ivf_assign`'s
  * centroid matrix); the probe structure is parsed once per plan and
  * generated code references only that probe object, never the literal,
  * so the code is the same for every bitmap and only the probe ships
  * with it. Plan strings name the bitmap by its size, not its hex bytes.
  * The per-row cost is two binary searches, no deserialization, no
  * boxing. This is the broadcast-bitmap semi-join:
  * `big.where(bitmap_contains(lit(bm), $"id"))` filters map-side with
  * ZERO shuffle of the big table, where a `left_semi` join would
  * shuffle or at best broadcast-hash-join it. */
case class BitmapContains(bitmap: Expression, id: Expression)
  extends BinaryExpression {

  override def left: Expression = bitmap
  override def right: Expression = id
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bitmap_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    if (bitmap.dataType == BinaryType && bitmap.foldable &&
      id.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "bitmap_contains expects (foldable BINARY, BIGINT)")

  @transient private lazy val bytes: Array[Byte] =
    bitmap.eval().asInstanceOf[Array[Byte]]
  @transient private lazy val probe: IdBitmapProbe = new IdBitmapProbe(bytes)

  override def toString: String =
    if (bytes == null) s"$prettyName(null, $id)"
    else s"$prettyName(<bitmap of ${probe.cardinality} ids, " +
      s"${bytes.length} B>, $id)"

  override def nullSafeEval(bm: Any, idV: Any): Any =
    probe.contains(idV.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    if (bytes == null) return ExprCode.forNullValue(BooleanType)
    val ref = ctx.addReferenceObj("graftIdBitmap", probe,
      classOf[IdBitmapProbe].getName)
    val idC = id.genCode(ctx)
    ev.copy(code = code"""
      ${idC.code}
      boolean ${ev.isNull} = ${idC.isNull};
      boolean ${ev.value} = false;
      if (!${ev.isNull}) { ${ev.value} = $ref.contains(${idC.value}); }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(bitmap = newLeft, id = newRight)
}

/** `bitmap_cardinality(bitmap BINARY) -> BIGINT`: number of IDs in a
  * serialized bitmap (the reference's `bitmap.cardinality()` progress
  * stats, `src/extract.cpp:178,239`). */
case class BitmapCardinality(bitmap: Expression) extends UnaryExpression {

  override def child: Expression = bitmap
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_cardinality"

  override def checkInputDataTypes(): TypeCheckResult =
    if (bitmap.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bitmap_cardinality expects BINARY, got ${bitmap.dataType}")

  override def nullSafeEval(bm: Any): Any =
    new IdBitmapProbe(bm.asInstanceOf[Array[Byte]]).cardinality

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, bm =>
      s"new ${classOf[IdBitmapProbe].getName}($bm).cardinality()")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(bitmap = newChild)
}
