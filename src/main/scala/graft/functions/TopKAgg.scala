package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `topk_pairs(score, id, k)`: exact top-k (score desc, id asc) as a
  * MERGEABLE aggregate with O(k) state — the aggregate form of top-k.
  *
  * Versus the window formulation (`row_number() <= k`), which sorts
  * every group member: the aggregate keeps a k-bounded ordered buffer
  * per group, combines map-side, and ships k rows per partition per
  * group across the shuffle. That bound is also exactly what makes it
  * legal inside a STREAMING windowed aggregation — state per (window,
  * key) is k entries, not the member list (`s_window_topk`).
  *
  * Determinism: ties on score break by id ascending, so the result is
  * input-order- and partition-count-invariant (pinned by the
  * partition-invariance gate in QueriesSmokeSpec). The buffer is a set
  * of pairs, so a duplicate delivery is idempotent; Spark's
  * `CollectTopK` keeps every copy, which is why this stays (README
  * "Decisions").
  */
case class TopKPairs(
    left: Expression,
    right: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeMap[(Double, Long), Unit]]
    with BinaryLike[Expression] {
  require(k > 0 && k <= 100000, s"topk_pairs k out of range: $k")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_pairs"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"topk_pairs expects (double, bigint), got: (${s.simpleString}, ${i.simpleString})")
    }

  override def createAggregationBuffer(): java.util.TreeMap[(Double, Long), Unit] =
    new java.util.TreeMap[(Double, Long), Unit](TopKPairs.BestFirst)

  private def trim(buf: java.util.TreeMap[(Double, Long), Unit]): Unit =
    while (buf.size() > k) buf.remove(buf.lastKey())

  override def update(buf: java.util.TreeMap[(Double, Long), Unit],
                      input: InternalRow): java.util.TreeMap[(Double, Long), Unit] = {
    val s = left.eval(input)
    val i = right.eval(input)
    if (s != null && i != null) {
      val score = s.asInstanceOf[Double]
      // NaN would sort ABOVE every finite score under Double.compare,
      // diverging from the SQL row_number ORDER BY ... DESC oracle
      // (where NaN comparisons are false) — drop NaN scores like NULLs.
      if (!java.lang.Double.isNaN(score)) {
        buf.put((score, i.asInstanceOf[Long]), ())
        trim(buf)
      }
    }
    buf
  }

  override def merge(a: java.util.TreeMap[(Double, Long), Unit],
                     b: java.util.TreeMap[(Double, Long), Unit]): java.util.TreeMap[(Double, Long), Unit] = {
    a.putAll(b)
    trim(a)
    a
  }

  override def eval(buf: java.util.TreeMap[(Double, Long), Unit]): Any = {
    val out = new Array[Any](buf.size())
    val it = buf.keySet().iterator()
    var i = 0
    while (it.hasNext) {
      val (s, id) = it.next()
      out(i) = InternalRow(s, id)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeMap[(Double, Long), Unit]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size() * 16)
    bb.putInt(buf.size())
    val it = buf.keySet().iterator()
    while (it.hasNext) {
      val (s, id) = it.next()
      bb.putDouble(s)
      bb.putLong(id)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[(Double, Long), Unit] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      buf.put((bb.getDouble, bb.getLong), ())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TopKPairs {
  /** Best-first ordering (score desc, id asc); serializable so the
    * aggregate's buffer ships with the task closure. */
  object BestFirst extends java.util.Comparator[(Double, Long)] with java.io.Serializable {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }
}

/** `bottom_k_longs(v, k)`: the k smallest DISTINCT bigint values per
  * group, ascending — the KMV-sketch build as a MERGEABLE aggregate
  * with O(k) state (the TopKPairs pattern, specialized to a distinct
  * long set).
  *
  * Versus the `distinct + row_number() <= k` window formulation: the
  * window shuffles and full-sorts EVERY group member (plus a separate
  * exchange for the distinct), while this aggregate dedups and trims to
  * k inside the map-side partial, so at most k longs per group per map
  * task cross the shuffle — the property that makes a bottom-k sketch
  * build scale to 100 TB group sizes. Dedup inside the buffer (a
  * TreeSet) makes a preceding `.distinct()` on (group, v) redundant:
  * distinct-then-bottom-k ≡ bottom-k-with-dedup.
  *
  * Determinism: the result is the unique set of k smallest distinct
  * values — input-order- and partition-count-invariant by construction.
  */
case class BottomKLongs(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  require(k > 0 && k <= 100000, s"bottom_k_longs k out of range: $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bottom_k_longs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bottom_k_longs expects bigint, got: ${t.simpleString}")
  }

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def trim(buf: java.util.TreeSet[java.lang.Long]): Unit =
    while (buf.size() > k) buf.remove(buf.last())

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val l = v.asInstanceOf[Long]
      // skip values that cannot enter a full buffer — avoids the
      // add+trim churn on the (common) case of a saturated sketch
      if (buf.size() < k || l < buf.last()) {
        buf.add(l)
        trim(buf)
      }
    }
    buf
  }

  override def merge(a: java.util.TreeSet[java.lang.Long],
                     b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    a.addAll(b)
    trim(a)
    a
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size())
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size() * 8)
    bb.putInt(buf.size())
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKLongs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKLongs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
