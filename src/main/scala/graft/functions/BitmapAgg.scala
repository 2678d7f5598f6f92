package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact-distinct bitmap sketch family over dense non-negative integer
  * ids (the ClickHouse `groupBitmap` / Roaring shape, as a paged plain
  * bitmap).
  *
  * Why this exists next to `COUNT(DISTINCT)`: Spark plans a distinct
  * aggregate as a two-phase Expand — every (group, key) pair shuffles.
  * A bitmap aggregate ships ONE fixed-size-ish buffer per (partition,
  * group) instead: update is a local bit-set, partial merge is a
  * page-wise OR, and the final cardinality is a popcount. For 100 TB of
  * facts keyed by a dictionary-encoded id space (users, customers,
  * documents), the shuffle volume drops from O(rows) to
  * O(partitions · groups · |id-space|/8 bytes) — and unlike HLL the
  * answer is exact. Spark 4.1's own `bitmap_construct_agg` has a
  * `BinaryType` buffer and plans as `SortAggregate`; README
  * "Decisions" has the measured comparison.
  *
  * Three pieces:
  *   - [[BitmapAgg]] `bitmap_agg(key)` → binary: build a bitmap from
  *     raw ids.
  *   - [[BitmapOrAgg]] `bitmap_or_agg(bytes)` → binary: second-level
  *     OR-merge of serialized bitmaps — the sketch-algebra path that
  *     answers "distinct over the union" from pre-aggregated daily
  *     bitmaps without rescanning raw data (same re-aggregation model
  *     as the KMV and count-min families).
  *   - [[BitmapCardinality]] `bitmap_cardinality(bytes)` → bigint:
  *     popcount.
  *
  * Layout: ids are paged by `id >>> 16`; each page covers 65,536 ids in
  * 1,024 long words, allocated lazily, so a sparse or clustered id
  * space costs only the pages it touches. Serialization stores each
  * page sparse (word-index + word pairs) or dense (all 1,024 words),
  * whichever is smaller. Domain is non-negative ids only — the
  * dictionary-id contract; a negative id fails loudly rather than
  * silently aliasing.
  */
private[graft] object BitmapUtil {
  final val WordsPerPage = 1024            // 65,536 bits / page
  final val Magic = 0x42b17a90             // "bitmap" tag; fail fast on foreign bytes

  type Pages = java.util.HashMap[Long, Array[Long]]

  def newPages(): Pages = new java.util.HashMap[Long, Array[Long]]()

  def add(pages: Pages, id: Long): Unit = {
    if (id < 0) throw new IllegalArgumentException(
      s"bitmap_agg expects non-negative ids (dictionary-id domain), got: $id")
    val pageId = id >>> 16
    var page = pages.get(pageId)
    if (page == null) { page = new Array[Long](WordsPerPage); pages.put(pageId, page) }
    val bit = (id & 0xFFFFL).toInt
    page(bit >>> 6) |= 1L << (bit & 63)
  }

  def or(into: Pages, from: Pages): Pages = {
    val it = from.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val dst = into.get(e.getKey)
      if (dst == null) into.put(e.getKey, e.getValue.clone())
      else {
        val src = e.getValue
        var i = 0
        while (i < WordsPerPage) { dst(i) |= src(i); i += 1 }
      }
    }
    into
  }

  /** |A ∩ B| without materializing the intersection: walk the smaller
    * page map, AND word-wise against the other side's matching page,
    * popcount as we go. Completes the sketch algebra — OR answers
    * "distinct over a union" (rollups), AND answers "distinct in BOTH"
    * (audience overlap, funnel step intersection) — again from
    * pre-aggregated bitmaps, never the raw rows. */
  def andCardinality(a: Pages, b: Pages): Long = {
    val (small, big) = if (a.size() <= b.size()) (a, b) else (b, a)
    var n = 0L
    val it = small.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val other = big.get(e.getKey)
      if (other != null) {
        val page = e.getValue
        var i = 0
        while (i < WordsPerPage) {
          n += java.lang.Long.bitCount(page(i) & other(i)); i += 1
        }
      }
    }
    n
  }

  def cardinality(pages: Pages): Long = {
    var n = 0L
    val it = pages.values().iterator()
    while (it.hasNext) {
      val page = it.next()
      var i = 0
      while (i < WordsPerPage) { n += java.lang.Long.bitCount(page(i)); i += 1 }
    }
    n
  }

  /** Sparse pages cost 12 B per non-zero word, dense 8 KiB flat; pick
    * per page. Header: magic, nPages; per page: pageId, nWords
    * (-1 = dense). */
  def toBytes(pages: Pages): Array[Byte] = {
    var size = 8
    val it0 = pages.values().iterator()
    while (it0.hasNext) {
      val nw = nonZeroWords(it0.next())
      size += 12 + (if (nw > 682) WordsPerPage * 8 else nw * 12)
    }
    val bb = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(Magic).putInt(pages.size())
    val it = pages.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val page = e.getValue
      val nw = nonZeroWords(page)
      bb.putLong(e.getKey)
      if (nw > 682) {
        bb.putInt(-1)
        var i = 0
        while (i < WordsPerPage) { bb.putLong(page(i)); i += 1 }
      } else {
        bb.putInt(nw)
        var i = 0
        while (i < WordsPerPage) {
          if (page(i) != 0L) { bb.putInt(i); bb.putLong(page(i)) }
          i += 1
        }
      }
    }
    bb.array()
  }

  private def nonZeroWords(page: Array[Long]): Int = {
    var n = 0; var i = 0
    while (i < WordsPerPage) { if (page(i) != 0L) n += 1; i += 1 }
    n
  }

  def fromBytes(bytes: Array[Byte]): Pages = {
    if (bytes.length < 8)
      throw new IllegalArgumentException(s"not a bitmap sketch: ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (bb.getInt() != Magic)
      throw new IllegalArgumentException("not a bitmap sketch: bad magic")
    val nPages = bb.getInt()
    val pages = newPages()
    var p = 0
    while (p < nPages) {
      val pageId = bb.getLong()
      val nw = bb.getInt()
      val page = new Array[Long](WordsPerPage)
      if (nw == -1) {
        var i = 0
        while (i < WordsPerPage) { page(i) = bb.getLong(); i += 1 }
      } else {
        var i = 0
        while (i < nw) { val w = bb.getInt(); page(w) = bb.getLong(); i += 1 }
      }
      pages.put(pageId, page)
      p += 1
    }
    pages
  }
}

/** `bitmap_agg(key)` → binary bitmap (see file doc). */
case class BitmapAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BitmapUtil.Pages]
    with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bitmap_agg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bitmap_agg expects a bigint/int id, got: ${t.simpleString}")
  }

  override def createAggregationBuffer(): BitmapUtil.Pages = BitmapUtil.newPages()

  override def update(pages: BitmapUtil.Pages, input: InternalRow): BitmapUtil.Pages = {
    child.eval(input) match {
      case null => pages
      case l: java.lang.Long => BitmapUtil.add(pages, l.longValue); pages
      case i: Integer => BitmapUtil.add(pages, i.longValue); pages
      case other => throw new IllegalStateException(
        s"unsupported bitmap_agg id: ${other.getClass}")
    }
  }

  override def merge(a: BitmapUtil.Pages, b: BitmapUtil.Pages): BitmapUtil.Pages =
    BitmapUtil.or(a, b)

  override def eval(pages: BitmapUtil.Pages): Any = BitmapUtil.toBytes(pages)
  override def serialize(pages: BitmapUtil.Pages): Array[Byte] = BitmapUtil.toBytes(pages)
  override def deserialize(bytes: Array[Byte]): BitmapUtil.Pages = BitmapUtil.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `bitmap_or_agg(bytes)` → binary: OR-merge serialized bitmaps. */
case class BitmapOrAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BitmapUtil.Pages]
    with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bitmap_or_agg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bitmap_or_agg expects bitmap bytes, got: ${t.simpleString}")
  }

  override def createAggregationBuffer(): BitmapUtil.Pages = BitmapUtil.newPages()

  override def update(pages: BitmapUtil.Pages, input: InternalRow): BitmapUtil.Pages = {
    child.eval(input) match {
      case null => pages
      case bytes: Array[Byte] => BitmapUtil.or(pages, BitmapUtil.fromBytes(bytes))
      case other => throw new IllegalStateException(
        s"unsupported bitmap_or_agg input: ${other.getClass}")
    }
  }

  override def merge(a: BitmapUtil.Pages, b: BitmapUtil.Pages): BitmapUtil.Pages =
    BitmapUtil.or(a, b)

  override def eval(pages: BitmapUtil.Pages): Any = BitmapUtil.toBytes(pages)
  override def serialize(pages: BitmapUtil.Pages): Array[Byte] = BitmapUtil.toBytes(pages)
  override def deserialize(bytes: Array[Byte]): BitmapUtil.Pages = BitmapUtil.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapOrAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapOrAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `bitmap_and_cardinality(a, b)` → bigint |A ∩ B|.
  *
  * A scalar pair operation, not an aggregate: the bitmaps it runs on are
  * already per-group outputs of `bitmap_agg` (one row per cohort), so
  * the intersection happens on the tiny aggregated table — the raw fact
  * rows are scanned exactly once, by the upstream aggregate.
  */
case class BitmapAndCardinality(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with GraftBinaryCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "bitmap_and_cardinality"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bitmap_and_cardinality expects two bitmap byte columns, got: $other")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Long.valueOf(BitmapUtil.andCardinality(
      BitmapUtil.fromBytes(l.asInstanceOf[Array[Byte]]),
      BitmapUtil.fromBytes(r.asInstanceOf[Array[Byte]])))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `bitmap_cardinality(bytes)` → bigint popcount. */
case class BitmapCardinality(child: Expression)
    extends UnaryExpression with GraftUnaryCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "bitmap_cardinality"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bitmap_cardinality expects bitmap bytes, got: ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(
      BitmapUtil.cardinality(BitmapUtil.fromBytes(v.asInstanceOf[Array[Byte]])))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
