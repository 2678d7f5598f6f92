package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch — approximate per-key frequencies in sub-linear
  * space, the classic companion to Misra-Gries for frequency analytics
  * over corpora too wide for an exact groupBy to be cheap.
  *
  * Two pieces, sharing [[CountMinUtil]] so build and probe can never
  * drift:
  *   - [[CountMinAgg]] (`count_min_agg(key, depth, width)`): mergeable
  *     `TypedImperativeAggregate` over a depth×width counter grid.
  *     Partial aggregation adds per-partition grids element-wise, so
  *     the build is one pass + a (depth·width·8)-byte shuffle per
  *     partition — never a row shuffle.
  *   - [[CountMinQuery]] (`count_min_query(sketch, key)`): point
  *     estimate = min over the key's depth cells. Never underestimates
  *     (every cell holds the true count plus non-negative collision
  *     mass); overestimates by more than e·N/width with probability
  *     ≤ e^-depth.
  *
  * Hashing is XXH64 double-hashing (Kirsch–Mitzenmacher g_r = h1 +
  * r·h2). Deterministic by
  * design: estimates are a pure function of the multiset of keys, so
  * the driver lane can gate them (q_countmin) like any exact query.
  */
private[functions] object CountMinUtil {
  private final val SEED1 = 0L
  private final val SEED2 = 0x9e3779b97f4a7c15L

  def hashes(v: Any): (Long, Long) = v match {
    case l: Long => (XXH64.hashLong(l, SEED1), XXH64.hashLong(l, SEED2))
    case i: Integer => (XXH64.hashLong(i.longValue, SEED1), XXH64.hashLong(i.longValue, SEED2))
    case s: UTF8String =>
      (XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, SEED1),
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, SEED2))
    case other => throw new IllegalStateException(s"unsupported count-min key: ${other.getClass}")
  }

  def add(grid: Array[Long], depth: Int, width: Int, v: Any): Unit = {
    val (h1, h2) = hashes(v)
    var r = 0
    while (r < depth) {
      val c = java.lang.Long.remainderUnsigned(h1 + r * h2, width).toInt
      grid(r * width + c) += 1L
      r += 1
    }
  }

  def estimate(grid: Array[Long], depth: Int, width: Int, v: Any): Long = {
    val (h1, h2) = hashes(v)
    var est = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = java.lang.Long.remainderUnsigned(h1 + r * h2, width).toInt
      val cell = grid(r * width + c)
      if (cell < est) est = cell
      r += 1
    }
    est
  }

  /** Header: depth (int LE), width (int LE), then the counters LE. */
  def toBytes(grid: Array[Long], depth: Int, width: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + grid.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(depth).putInt(width)
    var i = 0
    while (i < grid.length) { bb.putLong(grid(i)); i += 1 }
    bb.array()
  }

  /** (depth, width, grid); clear error on non-sketch bytes. */
  def fromBytes(bytes: Array[Byte]): (Int, Int, Array[Long]) = {
    if (bytes.length < 8 || (bytes.length - 8) % 8 != 0)
      throw new IllegalArgumentException(
        s"not a count_min_agg sketch: ${bytes.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val depth = bb.getInt()
    val width = bb.getInt()
    val grid = new Array[Long]((bytes.length - 8) / 8)
    if (depth <= 0 || depth > 16 || width <= 0 || grid.length != depth.toLong * width)
      throw new IllegalArgumentException(
        s"not a count_min_agg sketch: header ($depth x $width) " +
          s"does not match ${grid.length} counters")
    var i = 0
    while (i < grid.length) { grid(i) = bb.getLong(); i += 1 }
    (depth, width, grid)
  }
}

/** `count_min_agg(key, depth, width)` → binary sketch (see file doc). */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {
  require(depth > 0 && depth <= 16, s"count_min_agg depth out of range: $depth")
  require(width > 0 && width <= (1 << 22), s"count_min_agg width out of range: $width")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "count_min_agg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"count_min_agg expects a bigint/int/string key, got: ${t.simpleString}")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(grid: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) CountMinUtil.add(grid, depth, width, v)
    grid
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(grid: Array[Long]): Any = CountMinUtil.toBytes(grid, depth, width)

  override def serialize(grid: Array[Long]): Array[Byte] =
    CountMinUtil.toBytes(grid, depth, width)

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val (d, w, grid) = CountMinUtil.fromBytes(bytes)
    require(d == depth && w == width,
      s"count_min_agg buffer shape mismatch: got ${d}x$w, expected ${depth}x$width")
    grid
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `count_min_query(sketch, key)` → BIGINT point estimate. */
case class CountMinQuery(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryCodegen {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "count_min_query"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType | IntegerType | StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"count_min_query expects (binary, bigint/int/string), got: " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  // The sketch bytes are the same broadcast value for every row of a
  // partition; decode once per thread keyed by reference identity.
  @transient private lazy val decoded =
    new ThreadLocal[(AnyRef, (Int, Int, Array[Long]))]

  override def nullSafeEval(sketch: Any, key: Any): Any = {
    val bytes = sketch.asInstanceOf[Array[Byte]]
    var memo = decoded.get()
    if (memo == null || (memo._1 ne bytes)) {
      memo = (bytes, CountMinUtil.fromBytes(bytes))
      decoded.set(memo)
    }
    val (depth, width, grid) = memo._2
    java.lang.Long.valueOf(CountMinUtil.estimate(grid, depth, width, key))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
