package graft.functions

import graft.variant._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The Spark-facing variant column type: a plain struct of two binary
  * buffers, mirroring the reference's Arrow layout
  * (/root/reference/arrow-open-variant/src/json.rs:67-80) minus the
  * dictionary-encoding (SURVEY §1.6 — Spark has no DataFrame-level
  * dictionary type; rows are self-contained instead, SURVEY §7.3).
  */
object VariantSchema {
  val TYPE: StructType = StructType(Seq(
    StructField("metadata", BinaryType, nullable = false),
    StructField("value", BinaryType, nullable = false)))

  def isVariantStruct(dt: DataType): Boolean = dt match {
    case s: StructType =>
      s.length == 2 && s(0).name == "metadata" && s(0).dataType == BinaryType &&
        s(1).name == "value" && s(1).dataType == BinaryType
    case _ => false
  }

  /** The one type check of an expression that reads a variant struct. */
  def checkStruct(name: String, dt: DataType): TypeCheckResult =
    if (isVariantStruct(dt)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects a variant struct, got: ${dt.simpleString}")
}

/** `variant_from_json(jsonStr)` / `try_variant_from_json(jsonStr)`:
  * parse a JSON string/binary column into a variant struct.
  * Semantics follow the reference kernel (json.rs:38-81): top-level JSON
  * `null` → SQL NULL; malformed JSON → error (or NULL in `try` mode);
  * non-string input rejected at analysis (json.rs:108-112).
  */
case class VariantFromJson(child: Expression, failOnError: Boolean = true)
    extends UnaryExpression with GraftUnaryCodegen {

  override def dataType: DataType = VariantSchema.TYPE
  override def nullable: Boolean = true
  override def prettyName: String =
    if (failOnError) "variant_from_json" else "try_variant_from_json"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"Input data type not supported in variant_from_json: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val c = JsonFused.cursor(input)
    val memo = VariantFromJson.lastParse.get()
    val pair =
      if (memo.holds(null, c.b, c.i, c.end - c.i)) memo.result
      else try { // a throw keeps the old memo
        val parsed = VariantJsonCodec.fromJsonBytes(c.b, c.i, c.end - c.i)
        memo.keep(null, c.b, c.i, c.end - c.i, parsed)
        parsed
      } catch { case _: Exception if !failOnError => return null }
    pair match {
      case (m, v) => new GenericInternalRow(Array[Any](m, v))
      case _ => null
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VariantFromJson {
  /** Catalyst duplicates expressions across Filter/Project boundaries
    * (predicate pushdown re-substitutes the parse under the filter, so a
    * `filter(variant_get(v,…) > x).select(variant_get(v,…))` plan parses
    * each row twice — SURVEY §4.2). Both copies evaluate on the same
    * thread back-to-back per row, so a process-wide, thread-local
    * last-input memo collapses the duplicate work. Also de-dupes
    * repeated identical JSON payloads across adjacent rows.
    */
  private[functions] val lastParse: ThreadLocal[LastInput] = ThreadLocal.withInitial(() => new LastInput)
}

/** A thread-local memo of the last input: a copy of it in one reused
  * buffer (the caller's array may be a row buffer rewritten in place),
  * the key it was read under and the result. An input over
  * [[VariantEncoder.MaxKept]] bytes is not kept (the memo forgets what it
  * held), so a huge row does not stay resident per thread. */
private[functions] final class LastInput {
  private var input = new Array[Byte](256)
  private var len = -1 // nothing kept
  private var key: AnyRef = null
  var result: Any = null

  def holds(key: AnyRef, b: Array[Byte], off: Int, n: Int): Boolean =
    n == len && key == this.key && java.util.Arrays.equals(input, 0, n, b, off, off + n)

  def keep(key: AnyRef, b: Array[Byte], off: Int, n: Int, result: Any): Unit =
    if (n > VariantEncoder.MaxKept) { len = -1; this.result = null }
    else {
      if (n > input.length) input = new Array[Byte](math.max(n, math.min(2 * input.length, VariantEncoder.MaxKept)))
      System.arraycopy(b, off, input, 0, n)
      len = n; this.key = key; this.result = result
    }

  /** Bytes held between rows, a parse's `(metadata, value)` included. */
  private[functions] def keptBytes: Long = input.length + (result match {
    case (m: Array[Byte], v: Array[Byte]) => m.length + v.length
    case _ => 0
  })
}

/** Shared eval helpers for variant extraction expressions. */
object VariantExtract {

  /** Cast an extracted variant view to a Spark internal value of
    * `target`; null when the variant value cannot represent the target
    * (lenient mode) or throws (strict).
    */
  def cast(meta: MetadataView, v: VariantView, target: DataType, failOnError: Boolean): Any = {
    if (v == null) return null
    // A variant-null VALUE stays a variant null when the target is
    // variant (is_variant_null must see it); it becomes SQL NULL for
    // every scalar target.
    target match {
      case s: StructType if VariantSchema.isVariantStruct(s) =>
        return new GenericInternalRow(Array[Any](meta.bytes, v.copyBytes))
      case _ => ()
    }
    if (v.isNull) return null
    try {
      target match {
        case LongType =>
          if (v.isLong) v.getLong
          // non-integral numerics TRUNCATE toward zero — parity with
          // Spark's builtin VariantGet Cast semantics (probe: 3.7 ->
          // bigint = 3), pinned by NativeDispatchDivergenceSpec
          else if (v.isDecimal)
            v.getDecimal.setScale(0, java.math.RoundingMode.DOWN).longValueExact()
          else if (v.isDouble) doubleToLongExact(v.getDouble)
          else if (v.isBoolean) (if (v.getBoolean) 1L else 0L)
          else if (v.isString) v.getString.trim.toLong
          else if (v.isDictString) v.getDictKey(meta).trim.toLong
          else fail(v, target)
        case IntegerType | ShortType | ByteType =>
          val l = cast(meta, v, LongType, failOnError)
          if (l == null) null
          else {
            val x = l.asInstanceOf[Long]
            target match {
              case IntegerType => Math.toIntExact(x)
              case ShortType => if (x == x.toShort.toLong) x.toShort else fail(v, target)
              case _ => if (x == x.toByte.toLong) x.toByte else fail(v, target)
            }
          }
        case FloatType =>
          val d = cast(meta, v, DoubleType, failOnError)
          if (d == null) null else d.asInstanceOf[Double].toFloat
        case DoubleType =>
          if (v.isDouble) v.getDouble
          else if (v.isLong) v.getLong.toDouble
          else if (v.isDecimal) v.getDecimal.doubleValue()
          else if (v.isString) v.getString.trim.toDouble
          else if (v.isDictString) v.getDictKey(meta).trim.toDouble
          else fail(v, target)
        case BooleanType =>
          if (v.isBoolean) v.getBoolean
          else if (v.isString) v.getString.trim.toBoolean
          else if (v.isDictString) v.getDictKey(meta).trim.toBoolean
          else fail(v, target)
        case _: StringType =>
          // a string's payload as stored: no decode and re-encode
          if (v.isString) UTF8String.fromBytes(v.getStringBytes)
          else UTF8String.fromString(asString(meta, v))
        case d: DecimalType =>
          val bd =
            if (v.isDecimal) v.getDecimal
            else if (v.isLong) java.math.BigDecimal.valueOf(v.getLong)
            else if (v.isDouble) java.math.BigDecimal.valueOf(v.getDouble)
            else if (v.isString) new java.math.BigDecimal(v.getString.trim)
            else if (v.isDictString) new java.math.BigDecimal(v.getDictKey(meta).trim)
            else return fail(v, target)
          val dec = org.apache.spark.sql.types.Decimal(bd)
          if (dec.changePrecision(d.precision, d.scale)) dec else fail(v, target)
        case BinaryType =>
          if (v.isBinary) v.getBinary
          else if (v.isString) v.getString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          else if (v.isDictString || v.isDictBinary)
            v.getDictKey(meta).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          else fail(v, target)
        case DateType =>
          if (v.basicType == VariantConst.BASIC_PRIMITIVE && v.typeInfo == VariantConst.P_DATE)
            v.getDateDays
          else fail(v, target)
        case TimestampType | TimestampNTZType =>
          if (v.basicType == VariantConst.BASIC_PRIMITIVE &&
            (v.typeInfo == VariantConst.P_TIMESTAMP || v.typeInfo == VariantConst.P_TIMESTAMP_NTZ))
            v.getTimestampMicros
          else fail(v, target)
        case ArrayType(elem, _) =>
          // element-wise recursive cast — parity with Spark's builtin
          // VariantGet array targets (NativeDispatchDivergenceSpec)
          if (!v.isArray) fail(v, target)
          else {
            val a = v.getArray
            val n = a.numElements
            val out = new Array[Any](n)
            var i = 0
            while (i < n) { out(i) = cast(meta, a.elementAt(i), elem, failOnError); i += 1 }
            new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
          }
        case MapType(_: StringType, valueType, _) =>
          if (!v.isObject) fail(v, target)
          else {
            val o = v.getObject
            val n = o.numElements
            val ks = new Array[Any](n)
            val vs = new Array[Any](n)
            var i = 0
            while (i < n) {
              ks(i) = UTF8String.fromString(meta.getKey(o.fieldIdAt(i)))
              vs(i) = cast(meta, o.valueAt(i), valueType, failOnError)
              i += 1
            }
            org.apache.spark.sql.catalyst.util.ArrayBasedMapData(ks, vs)
          }
        case st: StructType => // non-variant struct target: match by name
          if (!v.isObject) fail(v, target)
          else {
            val o = v.getObject
            val out = new Array[Any](st.length)
            var i = 0
            while (i < st.length) {
              val id = meta.findKey(st(i).name)
              val fv = if (id < 0) null else o.getField(id)
              out(i) =
                if (fv == null) null
                else cast(meta, fv, st(i).dataType, failOnError)
              i += 1
            }
            new GenericInternalRow(out)
          }
        case other =>
          throw new UnsupportedOperationException(
            s"variant_get target type not supported: ${other.simpleString}")
      }
    } catch {
      case e: UnsupportedOperationException => throw e
      case _: Exception if !failOnError => null
    }
  }

  private def fail(v: VariantView, target: DataType): Any =
    throw new IllegalArgumentException(
      s"Cannot cast variant ${v.typeName} to ${target.simpleString}")

  /** Scala's `.toLong` SATURATES out-of-range doubles (1e300 ->
    * Long.MaxValue) and maps NaN -> 0, while Spark's builtin VariantGet
    * errors in strict mode / NULLs under try_variant_get (probed:
    * INVALID_VARIANT_CAST for 1e300, NaN, Infinity -> bigint/int).
    * Throwing here routes through the enclosing lenient-mode catch, so
    * both dispatch routes agree (NativeDispatchDivergenceSpec).
    */
  private[functions] def doubleToLongExact(d: Double): Long = {
    if (d.isNaN || d < Long.MinValue.toDouble || d > Long.MaxValue.toDouble)
      throw new ArithmeticException(s"double $d out of bigint range")
    d.toLong
  }

  /** Scalar → bare string; object/array → compact JSON. */
  def asString(meta: MetadataView, v: VariantView): String = {
    import VariantConst._
    v.basicType match {
      case BASIC_SHORT_STR => v.getString
      case BASIC_OBJECT | BASIC_ARRAY =>
        VariantJsonCodec.toJsonString(meta.bytes, v.copyBytes)
      case _ =>
        v.typeInfo match {
          case P_TRUE => "true"
          case P_FALSE => "false"
          case P_INT8 | P_INT16 | P_INT32 | P_INT64 => v.getLong.toString
          case P_DOUBLE | P_FLOAT => v.getDouble.toString
          case P_DECIMAL4 | P_DECIMAL8 | P_DECIMAL16 => v.getDecimal.toPlainString
          case P_LONG_STR => v.getString
          case P_STRING_FROM_DICT => v.getDictKey(meta)
          case P_BINARY => java.util.Base64.getEncoder.encodeToString(v.getBinary)
          case P_BINARY_FROM_DICT => java.util.Base64.getEncoder.encodeToString(
            v.getDictKey(meta).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case P_DATE => java.time.LocalDate.ofEpochDay(v.getDateDays.toLong).toString
          case P_TIMESTAMP | P_TIMESTAMP_NTZ =>
            val m = v.getTimestampMicros
            java.time.Instant.ofEpochSecond(
              Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000L).toString
          case t => throw new IllegalStateException(s"unknown type id $t")
        }
    }
  }
}

/** `to_spark_variant(v)`: reinterpret our variant struct as Spark 4.1's
  * native `VariantType`. No re-encoding happens — both sides implement
  * the same Open Variant binary spec (SURVEY §1.3), so the two buffers
  * pass through verbatim and Spark's builtin variant functions read our
  * bytes directly (DifferentialSpec proves extraction parity). This is
  * the interop bridge a user migrating between the builtin and this
  * library needs.
  */
case class ToSparkVariant(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = VariantType
  override def nullable: Boolean = true
  override def prettyName: String = "to_spark_variant"
  override def checkInputDataTypes(): TypeCheckResult =
    VariantSchema.checkStruct(prettyName, child.dataType)
  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    new org.apache.spark.unsafe.types.VariantVal(row.getBinary(1), row.getBinary(0))
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `from_spark_variant(v)`: the inverse bridge — Spark's native variant
  * value as our (metadata, value) struct, again byte-verbatim.
  */
case class FromSparkVariant(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = VariantSchema.TYPE
  override def nullable: Boolean = true
  override def prettyName: String = "from_spark_variant"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case VariantType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"from_spark_variant expects variant, got: ${other.simpleString}")
  }
  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[org.apache.spark.unsafe.types.VariantVal]
    new GenericInternalRow(Array[Any](v.getMetadata, v.getValue))
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Every variant reader is this one expression: `variant_get` and
  * `try_variant_get`, `variant_get_all`, `variant_typeof`,
  * `is_variant_null`, `variant_get_multi`, `variant_keys`,
  * `variant_size` and `schema_of_variant`. It walks `path` through the
  * variant struct's View layer and hands what it finds to `consumer`'s
  * variant reader; [[JsonConsumer]] is the table the fused forms share,
  * and the plan name is the consumer's. Each path step is the reference's
  * polymorphic `VariantRef::field` (read.rs:87-93): a `find_string`
  * binary search, then a `get_field` binary search (metadata.rs:162-184,
  * read.rs:156-171). A miss at any step reads SQL NULL.
  */
case class VariantRead(child: Expression, path: String, consumer: JsonConsumer)
    extends UnaryExpression with GraftUnaryCodegen {

  /** The steps of each path the consumer reads, from the root. */
  @transient private lazy val steps: Array[Array[PathStep]] =
    consumer.paths.map(p => VariantPath.parse(path + p.drop(1))).toArray

  /** Decoded-metadata amortization (SURVEY §4.2.3): rows read back from
    * parquet/shuffle repeat the same metadata bytes file- or
    * partition-wide, so the key→id binary searches of every path resolve
    * once and are reused until the bytes change — the Spark-native
    * restoration of the reference's batch-shared dictionary
    * (/root/reference/arrow-open-variant/src/json.rs:51-63).
    * Slots: 0 = metadata bytes, 1 = resolved ids per path.
    */
  @transient private lazy val idCache: ThreadLocal[Array[AnyRef]] =
    ThreadLocal.withInitial(() => new Array[AnyRef](2))

  override def dataType: DataType = consumer.dataType
  // is_variant_null answers false where the others answer SQL NULL
  override def nullable: Boolean = consumer != JsonConsumer.IsNull
  override def prettyName: String = consumer.prettyName
  override def checkInputDataTypes(): TypeCheckResult =
    VariantSchema.checkStruct(prettyName, child.dataType)

  private def nullResult: Any = if (nullable) null else false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) nullResult else nullSafeEval(v)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (nullable) super.doGenCode(ctx, ev)
    else {
      val c = child.genCode(ctx)
      val ref = ctx.addReferenceObj("graftExpr", this, getClass.getName)
      ev.copy(code = c.code + code"boolean ${ev.value} = !${c.isNull} && " +
        code"((Boolean) $ref.evalChildValue(${c.value})).booleanValue();", isNull = FalseLiteral)
    }

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    val metaBytes = row.getBinary(0)
    val valBytes = row.getBinary(1)
    if (valBytes == null) return nullResult
    val meta = new MetadataView(metaBytes, 0)
    val cache = idCache.get()
    val ids =
      if (cache(0) != null &&
          java.util.Arrays.equals(cache(0).asInstanceOf[Array[Byte]], metaBytes))
        cache(1).asInstanceOf[Array[Array[Int]]]
      else {
        val r = steps.map(VariantPath.resolveIds(meta, _))
        // getBinary returns a fresh copy per call — safe to hold
        cache(0) = metaBytes
        cache(1) = r
        r
      }
    consumer.readVariant(meta, new VariantView(valBytes, 0), steps, ids)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `variant_to_json(v)`: compact JSON text of the whole variant (parity
  * extension — inverse of the reference's only kernel).
  */
case class VariantToJson(child: Expression) extends UnaryExpression with GraftUnaryCodegen {
  override def dataType: DataType = StringType
  override def prettyName: String = "variant_to_json"
  override def checkInputDataTypes(): TypeCheckResult =
    VariantSchema.checkStruct(prettyName, child.dataType)
  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    UTF8String.fromString(
      VariantJsonCodec.toJsonString(row.getBinary(0), row.getBinary(1)))
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `to_variant(anyCol)`: encode a typed Spark value (scalar, struct,
  * array, map<string,_>) as a variant — parity extension enabling
  * variant creation from relational data (SURVEY §3.2 "writer path").
  */
case class ToVariant(child: Expression) extends UnaryExpression with GraftUnaryCodegen {
  override def dataType: DataType = VariantSchema.TYPE
  override def prettyName: String = "to_variant"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case NullType | BooleanType | ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType | _: DecimalType | StringType | BinaryType |
          DateType | TimestampType | TimestampNTZType => true
      case ArrayType(et, _) => ok(et)
      case MapType(StringType, vt, _) => ok(vt)
      case s: StructType => s.fields.forall(f => ok(f.dataType))
      case _ => false
    }
    if (ok(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"to_variant does not support type: ${child.dataType.simpleString}")
  }

  private def convert(value: Any, dt: DataType, enc: VariantEncoder): Unit = {
    val buf = enc.buf
    if (value == null) { VariantWriter.writeNull(buf); return }
    dt match {
      case NullType => VariantWriter.writeNull(buf)
      case BooleanType => VariantWriter.writeBoolean(buf, value.asInstanceOf[Boolean])
      case ByteType => VariantWriter.writeLong(buf, value.asInstanceOf[Byte].toLong)
      case ShortType => VariantWriter.writeLong(buf, value.asInstanceOf[Short].toLong)
      case IntegerType => VariantWriter.writeLong(buf, value.asInstanceOf[Int].toLong)
      case LongType => VariantWriter.writeLong(buf, value.asInstanceOf[Long])
      case FloatType => VariantWriter.writeFloat(buf, value.asInstanceOf[Float])
      case DoubleType => VariantWriter.writeDouble(buf, value.asInstanceOf[Double])
      case _: DecimalType =>
        val dec = value.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal
        VariantWriter.writeDecimal(buf, dec.unscaledValue(), dec.scale())
      case StringType => VariantWriter.writeStringBytes(buf, value.asInstanceOf[UTF8String].getBytes)
      case BinaryType => VariantWriter.writeBinary(buf, value.asInstanceOf[Array[Byte]])
      case DateType => VariantWriter.writeDate(buf, value.asInstanceOf[Int])
      case TimestampType => VariantWriter.writeTimestamp(buf, value.asInstanceOf[Long])
      case TimestampNTZType => VariantWriter.writeTimestampNtz(buf, value.asInstanceOf[Long])
      case s: StructType =>
        val row = value.asInstanceOf[InternalRow]
        enc.beginObject()
        var i = 0
        while (i < s.length) {
          enc.key(s(i).name)
          convert(if (row.isNullAt(i)) null else row.get(i, s(i).dataType), s(i).dataType, enc)
          i += 1
        }
        enc.endObject()
      case ArrayType(et, _) =>
        val arr = value.asInstanceOf[ArrayData]
        enc.beginArray()
        var i = 0
        while (i < arr.numElements()) {
          convert(if (arr.isNullAt(i)) null else arr.get(i, et), et, enc)
          i += 1
        }
        enc.endArray()
      case MapType(StringType, vt, _) =>
        val map = value.asInstanceOf[MapData]
        val keys = map.keyArray()
        val vals = map.valueArray()
        enc.beginObject()
        var i = 0
        while (i < map.numElements()) {
          enc.key(keys.getUTF8String(i).toString)
          convert(if (vals.isNullAt(i)) null else vals.get(i, vt), vt, enc)
          i += 1
        }
        enc.endObject()
      case other =>
        throw new UnsupportedOperationException(s"to_variant: ${other.simpleString}")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val enc = VariantEncoder.get()
    convert(input, child.dataType, enc)
    val (metaBytes, valueBytes) = enc.result()
    new GenericInternalRow(Array[Any](metaBytes, valueBytes))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
