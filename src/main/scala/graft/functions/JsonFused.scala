package graft.functions

import graft.variant.{FastJsonLex, SchemaInfer, VariantMetadata}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused forms of `variant_keys` / `variant_size` / `variant_typeof` /
  * `schema_of_variant[_agg]` over a raw JSON column: one byte walk
  * instead of parse → metadata build → variant encode → decode.
  * Installed by [[VariantGetFusionRule]] when the child is
  * `variant_from_json`; the unfused expressions remain the semantic
  * reference. Each byte walk reproduces their output exactly
  * (dictionary-sorted key order included — the parity property tests in
  * FusedPropertySpec pin this). Byte walk, else the codec's parse: a row
  * the walk declines is evaluated by the unfused pipeline itself
  * ([[JsonFused.evalUnfused]]), so the codec owns every error.
  */
private[functions] object JsonFused {
  /** Stable sort of strings by UTF-8 byte order — the metadata
    * dictionary order the unfused path exposes (Metadata.scala
    * compareUtf8). Returns the permutation, not the sorted array, so
    * callers can carry payloads alongside keys.
    */
  def sortedOrder(names: Array[String]): Array[Integer] = {
    val utf8 = names.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val order = Array.tabulate[Integer](names.length)(i => i)
    java.util.Arrays.sort(order, (x: Integer, y: Integer) => {
      val c = VariantMetadata.compareUtf8(utf8(x), utf8(y))
      // ties broken by original position → stable
      if (c != 0) c else Integer.compare(x, y)
    })
    order
  }

  def toBytes(input: Any): Array[Byte] = input match {
    case s: UTF8String => s.getBytes
    case b: Array[Byte] => b
  }

  /** A row a byte walk declined, evaluated by the unfused plan the fused
    * form replaced: `consumer(variant_from_json(s))`. The parse is the
    * `VariantFromJson` expression itself — same memo, same error mapping —
    * so fused and unfused agree by construction on every such row.
    */
  def evalUnfused(consumer: UnaryExpression with GraftUnaryCodegen, bytes: Array[Byte]): Any = {
    val row = consumer.child.asInstanceOf[VariantFromJson].evalChildValue(bytes)
    if (row == null) null else consumer.evalChildValue(row)
  }

  /** Schema-lattice inference straight off the bytes — the fused
    * equivalent of encode-then-`SchemaInfer.infer` (FastJsonLex miss
    * contract). Parity by construction with the codec's JSON→variant
    * coercions: long-fitting ints → SLong, i128-fitting big ints →
    * SDecimal(0) (both by [[graft.variant.FastJsonLex.integer]]), floats
    * → SDouble; duplicate object keys overwrite in arrival order, which
    * is exactly what `infer` produces over the encoding (TreeMap insert,
    * last wins). Strings only need validation, never decoding. */
  def fastInferSchema(c: graft.variant.FastJsonLex.Cursor, depth: Int): SchemaInfer.SType = {
    import graft.variant.{FastJsonLex => L}
    import SchemaInfer._
    val b = c.b
    (c.peek & 0xff) match {
      case 'n' => L.literal(c, "null"); SNull
      case 't' => L.literal(c, "true"); SBool
      case 'f' => L.literal(c, "false"); SBool
      case '"' => c.i += 1; L.skipString(c); SString
      case '[' =>
        L.openContainer(depth)
        c.i += 1
        var elem: SType = SNull
        c.skipWs()
        if (c.i < c.end && b(c.i) == ']') c.i += 1
        else {
          var more = true
          while (more) {
            c.skipWs()
            elem = merge(elem, fastInferSchema(c, depth + 1))
            c.skipWs()
            (c.peek & 0xff) match {
              case ',' => c.i += 1
              case ']' => c.i += 1; more = false
              case _ => throw L.Miss
            }
          }
        }
        SArray(elem)
      case '{' =>
        L.openContainer(depth)
        c.i += 1
        var fields = scala.collection.immutable.TreeMap.empty[String, SType]
        c.skipWs()
        if (c.i < c.end && b(c.i) == '}') c.i += 1
        else {
          var more = true
          while (more) {
            c.skipWs()
            c.expect('"')
            val close = L.scanSimpleString(c)
            if (close < 0) throw L.Miss // escaped key: unfused pipeline
            L.checkName(close - c.i)
            val key = new String(b, c.i, close - c.i,
              java.nio.charset.StandardCharsets.UTF_8)
            c.i = close + 1
            c.skipWs()
            c.expect(':')
            c.skipWs()
            fields += (key -> fastInferSchema(c, depth + 1)) // last dup wins
            c.skipWs()
            (c.peek & 0xff) match {
              case ',' => c.i += 1
              case '}' => c.i += 1; more = false
              case _ => throw L.Miss
            }
          }
        }
        SObject(fields)
      case x if x == '-' || (x >= '0' && x <= '9') =>
        val start = c.i
        if (!L.scanNumber(c)) SDouble
        else if (L.integer(c, start) == null) SLong
        else SDecimal(0)
      case _ => throw L.Miss
    }
  }

  /** Whole-document byte-level schema inference: the SType, or null for
    * a top-level JSON null; Miss on anything doubtful. */
  def fastSchemaOfDoc(bytes: Array[Byte]): SchemaInfer.SType = {
    import graft.variant.{FastJsonLex => L}
    val c = new L.Cursor(bytes, 0, bytes.length)
    c.skipWs()
    if (c.i >= c.end) throw L.Miss
    val t =
      if ((c.peek & 0xff) == 'n') { L.literal(c, "null"); null }
      else fastInferSchema(c, 0)
    c.skipWs()
    if (c.i != c.end) throw L.Miss
    t
  }
}

/** `schema_of_variant(variant_from_json(s))` fused: render the inferred
  * type straight off the bytes — no metadata build, no encode. Same
  * walker as the fused aggregate, so lattice semantics are shared.
  */
case class JsonSchemaOf(child: Expression, parseFailOnError: Boolean)
    extends UnaryExpression with GraftUnaryCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_schema_of_fused"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"json_schema_of expects string/binary, got: ${other.simpleString}")
  }

  @transient private lazy val unfused = SchemaOfVariant(VariantFromJson(child, parseFailOnError))

  override def nullSafeEval(input: Any): Any = {
    val bytes = JsonFused.toBytes(input)
    try {
      val t = JsonFused.fastSchemaOfDoc(bytes)
      if (t == null) null else UTF8String.fromString(t.render)
    } catch { case FastJsonLex.Miss => JsonFused.evalUnfused(unfused, bytes) }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `schema_of_variant_agg(variant_from_json(s))` fused: the lattice
  * merge runs directly on each row's bytes — no metadata build, no
  * variant encode, no decode walk. Buffer, merge, and wire form are
  * shared with [[SchemaOfVariantAgg]] (same `SchemaInfer` lattice), so
  * partial aggregation and the serialized-schema consumers
  * (`Shred.inferFields`) behave identically. A row the byte walk
  * declines goes through the unfused aggregate's `update`, so rows that
  * fail to parse follow its rule: with `parseFailOnError=false` the row
  * becomes SQL null and is skipped; otherwise the error propagates.
  */
case class SchemaOfJsonAgg(
    child: Expression,
    parseFailOnError: Boolean,
    renderOutput: Boolean = true,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[graft.variant.SchemaInfer.SType]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import graft.variant.SchemaInfer

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "schema_of_json_agg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"schema_of_json_agg expects string/binary, got: ${other.simpleString}")
  }

  override def createAggregationBuffer(): SchemaInfer.SType = SchemaInfer.SNull

  @transient private lazy val unfused = SchemaOfVariantAgg(VariantFromJson(child, parseFailOnError))

  override def update(buffer: SchemaInfer.SType, input: InternalRow): SchemaInfer.SType = {
    val in = child.eval(input)
    if (in == null) return buffer
    try {
      val t = JsonFused.fastSchemaOfDoc(JsonFused.toBytes(in))
      if (t == null) buffer else SchemaInfer.merge(buffer, t)
    } catch { case FastJsonLex.Miss => unfused.update(buffer, input) }
  }

  override def merge(a: SchemaInfer.SType, b: SchemaInfer.SType): SchemaInfer.SType =
    SchemaInfer.merge(a, b)

  override def eval(buffer: SchemaInfer.SType): Any =
    UTF8String.fromString(
      if (renderOutput) buffer.render else SchemaInfer.serialize(buffer))

  override def serialize(buffer: SchemaInfer.SType): Array[Byte] =
    SchemaInfer.serialize(buffer).getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def deserialize(bytes: Array[Byte]): SchemaInfer.SType =
    SchemaInfer.deserialize(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))

  override def withNewMutableAggBufferOffset(newOffset: Int): SchemaOfJsonAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SchemaOfJsonAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `variant_typeof(variant_from_json(s))` fused: the root's type name
  * from the FIRST byte, the remainder only validated — no encode. Type
  * names replicate the unfused path exactly, including the
  * narrowest-int-encoding names and big-int → decimal(38,0).
  */
case class JsonTypeOf(child: Expression, parseFailOnError: Boolean)
    extends UnaryExpression with GraftUnaryCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_typeof_fused"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"json_typeof expects string/binary, got: ${other.simpleString}")
  }

  @transient private lazy val unfused = VariantTypeOf(VariantFromJson(child, parseFailOnError))

  override def nullSafeEval(input: Any): Any = {
    val bytes = JsonFused.toBytes(input)
    try fastTypeOf(bytes)
    catch { case FastJsonLex.Miss => JsonFused.evalUnfused(unfused, bytes) }
  }

  /** Byte-level root-type read: classify off the first byte, validate
    * the whole document with the lexer, mirror the narrowest-int names
    * and name a scale-0 decimal beyond 63 bits `decimal(38,0)`. */
  private def fastTypeOf(bytes: Array[Byte]): Any = {
    import graft.variant.{FastJsonLex => L}
    val c = new L.Cursor(bytes, 0, bytes.length)
    c.skipWs()
    if (c.i >= c.end) throw L.Miss // empty: the unfused parse's error
    val name: String = (c.peek & 0xff) match {
      case 'n' => L.literal(c, "null"); null // top-level null → SQL NULL
      case '{' => L.skipValue(c); "object"
      case '[' => L.skipValue(c); "array"
      case '"' => c.i += 1; L.skipString(c); "string"
      case 't' => L.literal(c, "true"); "boolean"
      case 'f' => L.literal(c, "false"); "boolean"
      case x if x == '-' || (x >= '0' && x <= '9') =>
        val start = c.i
        if (!L.scanNumber(c)) "double"
        else if (L.integer(c, start) != null) "decimal(38,0)"
        else {
          val v = c.longValue
          // names of the narrowest-int encodings the writer picks
          if (v >= Byte.MinValue && v <= Byte.MaxValue) "tinyint"
          else if (v >= Short.MinValue && v <= Short.MaxValue) "smallint"
          else if (v >= Int.MinValue && v <= Int.MaxValue) "int"
          else "bigint"
        }
      case _ => throw L.Miss
    }
    c.skipWs()
    if (c.i != c.end) throw L.Miss // trailing: the unfused parse's error
    if (name == null) null else UTF8String.fromString(name)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `variant_keys(variant_from_json(s))` fused: root-object key names in
  * dictionary (sorted UTF-8) order; NULL for non-objects and top-level
  * JSON null.
  */
case class JsonKeys(child: Expression, parseFailOnError: Boolean)
    extends UnaryExpression with GraftUnaryCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "json_keys_fused"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"json_keys expects string/binary, got: ${other.simpleString}")
  }

  @transient private lazy val unfused = VariantKeys(VariantFromJson(child, parseFailOnError))

  override def nullSafeEval(input: Any): Any = {
    val bytes = JsonFused.toBytes(input)
    try fastKeys(bytes)
    catch { case FastJsonLex.Miss => JsonFused.evalUnfused(unfused, bytes) }
  }

  /** Byte-level keys read: collect escape-free root keys, skip values
    * with full validation, sort like the dictionary would. Any escaped
    * key misses to the unfused pipeline. */
  private def fastKeys(bytes: Array[Byte]): Any = {
    import graft.variant.{FastJsonLex => L}
    val c = new L.Cursor(bytes, 0, bytes.length)
    c.skipWs()
    if (c.i >= c.end) throw L.Miss
    if ((c.peek & 0xff) != '{') {
      // non-object root (incl. top-level null): validate whole doc → NULL
      if ((c.peek & 0xff) == 'n') L.literal(c, "null") else L.skipValue(c)
      c.skipWs()
      if (c.i != c.end) throw L.Miss
      return null
    }
    c.i += 1
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    c.skipWs()
    if (c.i < c.end && c.b(c.i) == '}') c.i += 1
    else {
      var more = true
      while (more) {
        c.skipWs()
        c.expect('"')
        val close = L.scanSimpleString(c)
        if (close < 0) throw L.Miss // escaped key: unfused pipeline
        L.checkName(close - c.i)
        names += new String(c.b, c.i, close - c.i,
          java.nio.charset.StandardCharsets.UTF_8)
        c.i = close + 1
        c.skipWs()
        c.expect(':')
        c.skipWs()
        L.skipValue(c, 1) // inside the root object
        c.skipWs()
        (c.peek & 0xff) match {
          case ',' => c.i += 1
          case '}' => c.i += 1; more = false
          case _ => throw L.Miss
        }
      }
    }
    c.skipWs()
    if (c.i != c.end) throw L.Miss
    val arr = names.toArray
    val order = JsonFused.sortedOrder(arr)
    val out = new Array[Any](arr.length)
    var i = 0
    while (i < arr.length) { out(i) = UTF8String.fromString(arr(order(i))); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `variant_size(variant_from_json(s))` fused: field count for root
  * objects, element count for root arrays, NULL for scalars/JSON null.
  */
case class JsonSize(child: Expression, parseFailOnError: Boolean)
    extends UnaryExpression with GraftUnaryCodegen {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "json_size_fused"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"json_size expects string/binary, got: ${other.simpleString}")
  }

  @transient private lazy val unfused = VariantSize(VariantFromJson(child, parseFailOnError))

  override def nullSafeEval(input: Any): Any = {
    val bytes = JsonFused.toBytes(input)
    try fastSize(bytes)
    catch { case FastJsonLex.Miss => JsonFused.evalUnfused(unfused, bytes) }
  }

  /** Byte-level size read: count root members, skip their values with
    * full validation; scalars validate → NULL. */
  private def fastSize(bytes: Array[Byte]): Any = {
    import graft.variant.{FastJsonLex => L}
    val c = new L.Cursor(bytes, 0, bytes.length)
    c.skipWs()
    if (c.i >= c.end) throw L.Miss
    val first = c.peek & 0xff
    val out: Any =
      if (first == '{' || first == '[') {
        val isObj = first == '{'
        c.i += 1
        var n = 0
        c.skipWs()
        if (c.i < c.end && (c.b(c.i) & 0xff) == (if (isObj) '}' else ']')) c.i += 1
        else {
          var more = true
          while (more) {
            c.skipWs()
            if (isObj) {
              c.expect('"'); L.skipName(c)
              c.skipWs(); c.expect(':'); c.skipWs()
            }
            L.skipValue(c, 1) // inside the root container
            n += 1
            c.skipWs()
            (c.peek & 0xff) match {
              case ',' => c.i += 1
              case '}' if isObj => c.i += 1; more = false
              case ']' if !isObj => c.i += 1; more = false
              case _ => throw L.Miss
            }
          }
        }
        n
      } else {
        if (first == 'n') L.literal(c, "null") else L.skipValue(c)
        null
      }
    c.skipWs()
    if (c.i != c.end) throw L.Miss
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
