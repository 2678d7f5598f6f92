package graft.functions

import graft.variant.{PathStep, VariantJsonCodec, VariantPath}
import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused `variant_get(variant_from_json(s), path, primitiveType)`:
  * a single streaming pass that navigates the JSON tokens directly to
  * the path and casts the scalar — no metadata dictionary, no variant
  * buffer, no intermediate struct. Installed by [[VariantGetFusionRule]]
  * (the optimization sketched in SURVEY §4.2.2); the unfused pipeline is
  * the semantic reference and the fusion is only applied for scalar
  * target types whose cast rules it reproduces exactly.
  */
case class JsonPathExtract(
    child: Expression,
    path: String,
    targetType: DataType,
    parseFailOnError: Boolean,
    castFailOnError: Boolean)
    extends UnaryExpression with GraftUnaryCodegen {

  @transient private lazy val steps: Array[PathStep] = VariantPath.parse(path)

  override def dataType: DataType = targetType
  override def nullable: Boolean = true
  override def prettyName: String = "json_path_extract"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"json_path_extract expects string/binary, got: ${other.simpleString}")
  }

  /** Memo identity: two Catalyst copies of the same logical extraction
    * (e.g. the Filter and Project copies created by predicate pushdown)
    * share results iff every semantic field matches.
    */
  @transient private lazy val memoKey =
    (path, targetType, parseFailOnError, castFailOnError)

  override def nullSafeEval(input: Any): Any = {
    val bytes: Array[Byte] = input match {
      case s: UTF8String => s.getBytes
      case b: Array[Byte] => b
    }
    // Same pushdown-duplication story as VariantFromJson.lastParse: the
    // Filter and Project copies of this expression evaluate back-to-back
    // on the same thread per row, so a thread-local last-input memo
    // halves the parse work (SURVEY §4.2).
    val memo = JsonPathExtract.lastExtract.get()
    if (memo(0) != null && memo(1) == memoKey) {
      val prev = memo(0).asInstanceOf[Array[Byte]]
      // Reference identity first (free), content equality second. Both
      // producer paths hand us an array nobody mutates afterwards —
      // UTF8String.getBytes / UnsafeRow.getBinary copy out of row
      // buffers, and the no-copy UTF8String case aliases the string's
      // own immutable backing array — so no stale-alias hazard.
      if ((prev eq bytes) || java.util.Arrays.equals(prev, bytes)) {
        val r = memo(2)
        return if (r eq JsonPathExtract.NULL_RESULT) null else r
      }
    }
    val result = evalBytes(bytes)
    memo(0) = bytes // stored by reference: see immutability note above
    memo(1) = memoKey
    memo(2) = if (result == null) JsonPathExtract.NULL_RESULT else result.asInstanceOf[AnyRef]
    result
  }

  private def evalBytes(bytes: Array[Byte]): Any = {
    // Byte-level navigation first (FastJsonLex): skip sibling values
    // without tokenizing them, cast the leaf straight off the bytes, and
    // validate the document remainder — byte-for-byte the token path's
    // semantics (parse errors outrank cast errors because any parse
    // anomaly throws Miss and the Jackson path below re-runs the row
    // and owns the error). Misses: escaped keys, subtree→string
    // re-encodes, >18-digit integer leaves, any malformed input.
    try return fastEvalBytes(bytes)
    catch { case graft.variant.FastJsonLex.Miss => () }
    jacksonEvalBytes(bytes)
  }

  private def fastEvalBytes(bytes: Array[Byte]): Any = {
    import graft.variant.{FastJsonLex => L}
    val c = new L.Cursor(bytes, 0, bytes.length)
    c.skipWs()
    if (c.i >= c.end) throw L.Miss // empty input: Jackson's error
    // navigate; track the containers the path has opened (true = object)
    val open = new Array[Boolean](steps.length)
    var nOpen = 0
    var si = 0
    var found = true
    var pendingValue = true // cursor sits ON an unconsumed value
    while (found && si < steps.length) {
      steps(si) match {
        case k: PathStep.Key =>
          if ((c.peek & 0xff) != '{') found = false // pendingValue stays true
          else {
            c.i += 1
            c.skipWs()
            if (c.i < c.end && c.b(c.i) == '}') {
              c.i += 1; found = false; pendingValue = false
            } else {
              var matched = false
              var more = true
              while (more && !matched) {
                c.skipWs()
                c.expect('"')
                val close = L.scanSimpleString(c)
                if (close < 0) throw L.Miss // escaped key: Jackson path
                val kOff = c.i
                val kLen = close - c.i
                L.checkName(kLen)
                c.i = close + 1
                c.skipWs()
                c.expect(':')
                c.skipWs()
                if (L.sliceEq(c.b, kOff, kLen, k.utf8)) matched = true
                else {
                  L.skipValue(c)
                  c.skipWs()
                  (c.peek & 0xff) match {
                    case ',' => c.i += 1
                    case '}' => c.i += 1; more = false
                    case _ => throw L.Miss
                  }
                }
              }
              if (matched) { open(nOpen) = true; nOpen += 1 }
              else { found = false; pendingValue = false }
            }
          }
        case PathStep.Index(idx) =>
          if ((c.peek & 0xff) != '[' || idx < 0) found = false
          else {
            c.i += 1
            c.skipWs()
            if (c.i < c.end && c.b(c.i) == ']') {
              c.i += 1; found = false; pendingValue = false
            } else {
              var i = 0
              var matched = false
              var more = true
              while (more && !matched) {
                c.skipWs()
                if (i == idx) matched = true
                else {
                  L.skipValue(c)
                  c.skipWs()
                  (c.peek & 0xff) match {
                    case ',' => c.i += 1; i += 1
                    case ']' => c.i += 1; more = false
                    case _ => throw L.Miss
                  }
                }
              }
              if (matched) { open(nOpen) = false; nOpen += 1 }
              else { found = false; pendingValue = false }
            }
          }
        case _ => throw L.Miss // wildcards: never fused into this expression
      }
      if (found) si += 1
    }
    // consume/cast the value at the cursor; cast-class errors are thrown
    // only AFTER the rest of the document validates (token-path parity)
    var castErr: Throwable = null
    val out =
      if (!found) { if (pendingValue) L.skipValue(c); null }
      else {
        try fastCastValue(c)
        catch {
          case e: Exception if (e ne L.Miss) && !castFailOnError => null
          case e: Exception if e ne L.Miss => castErr = e; null
        }
      }
    // close out every container the navigation opened, validating
    var lvl = nOpen - 1
    while (lvl >= 0) {
      c.skipWs()
      var closed = false
      while (!closed) {
        (c.peek & 0xff) match {
          case ',' =>
            c.i += 1
            c.skipWs()
            if (open(lvl)) {
              c.expect('"'); L.skipName(c)
              c.skipWs(); c.expect(':'); c.skipWs()
            }
            L.skipValue(c)
            c.skipWs()
          case '}' if open(lvl) => c.i += 1; closed = true
          case ']' if !open(lvl) => c.i += 1; closed = true
          case _ => throw L.Miss
        }
      }
      lvl -= 1
    }
    c.skipWs()
    if (c.i != c.end) throw L.Miss // trailing garbage: Jackson's error
    if (castErr != null) throw castErr
    out
  }

  /** Cast the JSON value at the cursor to `targetType`, consuming it
    * FULLY before any cast-class error is thrown (so the caller can
    * always validate the document remainder). Cast rules mirror
    * [[castToken]] exactly; hard cases (subtree→string canonical
    * re-encode, >18-digit integers) miss to the Jackson path. */
  private def fastCastValue(c: graft.variant.FastJsonLex.Cursor): Any = {
    import graft.variant.{FastJsonLex => L}
    val b = c.b
    (c.peek & 0xff) match {
      case 'n' => L.literal(c, "null"); null
      case 't' | 'f' =>
        val v = (c.peek & 0xff) == 't'
        L.literal(c, if (v) "true" else "false")
        targetType match {
          case BooleanType => v
          case LongType => if (v) 1L else 0L
          case IntegerType => if (v) 1 else 0
          case _: StringType => UTF8String.fromString(if (v) "true" else "false")
          case _ => mismatch("boolean")
        }
      case '"' =>
        c.i += 1
        val close = L.scanSimpleString(c)
        if (close >= 0) {
          val off = c.i
          val len = close - c.i
          c.i = close + 1
          targetType match {
            case _: StringType => UTF8String.fromBytes(b, off, len)
            case _ => castStringTo(new String(b, off, len,
              java.nio.charset.StandardCharsets.UTF_8))
          }
        } else {
          val scratch = new graft.variant.ByteBuf(32)
          L.unescapeString(c, scratch)
          targetType match {
            case _: StringType =>
              UTF8String.fromBytes(scratch.result(), 0, scratch.length)
            case _ => castStringTo(new String(scratch.rawBytes, 0, scratch.length,
              java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      case '{' | '[' =>
        targetType match {
          case _: StringType => throw L.Miss // canonical re-encode: Jackson path
          case _ =>
            val isObj = (c.peek & 0xff) == '{'
            L.skipValue(c) // consume BEFORE the cast error
            mismatch(if (isObj) "object" else "array")
        }
      case x if x == '-' || (x >= '0' && x <= '9') =>
        val start = c.i
        val neg = x == '-'
        val isInt = L.scanNumber(c) // consumed
        if (isInt) {
          if (c.i - c.numStart > 18) throw L.Miss // BigInteger rules: Jackson
          var v = 0L
          var k = c.numStart
          while (k < c.i) { v = v * 10 + (b(k) - '0'); k += 1 }
          if (neg) v = -v
          targetType match {
            case LongType => v
            case IntegerType => Math.toIntExact(v)
            case DoubleType => v.toDouble
            case d: DecimalType => toDecimal(java.math.BigDecimal.valueOf(v), d)
            case _: StringType => UTF8String.fromString(java.lang.Long.toString(v))
            case _ => mismatch("bigint")
          }
        } else {
          val dv = java.lang.Double.parseDouble(new String(b, start, c.i - start,
            java.nio.charset.StandardCharsets.US_ASCII))
          targetType match {
            case DoubleType => dv
            // truncate-toward-zero, matching VariantExtract.cast;
            // out-of-range/NaN throws instead of saturating (builtin
            // parity — lenient mode maps the throw to NULL)
            case LongType => VariantExtract.doubleToLongExact(dv)
            case IntegerType => Math.toIntExact(VariantExtract.doubleToLongExact(dv))
            case d: DecimalType => toDecimal(java.math.BigDecimal.valueOf(dv), d)
            case _: StringType => UTF8String.fromString(java.lang.Double.toString(dv))
            case _ => mismatch("double")
          }
        }
      case _ => throw L.Miss
    }
  }

  /** The VALUE_STRING cast arm of [[castToken]] for non-string targets. */
  private def castStringTo(s: String): Any = targetType match {
    case LongType => s.trim.toLong
    case IntegerType => Math.toIntExact(s.trim.toLong)
    case DoubleType => s.trim.toDouble
    case BooleanType => s.trim.toBoolean
    case d: DecimalType => toDecimal(new java.math.BigDecimal(s.trim), d)
    case _ => mismatch("string")
  }

  private def jacksonEvalBytes(bytes: Array[Byte]): Any = {
    try {
      val p = JsonPathExtract.factory.createParser(bytes, 0, bytes.length)
      try {
        var tok = p.nextToken()
        if (tok == null)
          throw new VariantJsonCodec.JsonParseException("Failed to parse JSON: empty input", null)
        // walk the path on the token stream
        var si = 0
        var found = true
        while (found && si < steps.length) {
          steps(si) match {
            case k: PathStep.Key =>
              if (tok != JsonToken.START_OBJECT) found = false
              else {
                var hit = false
                var t = p.nextToken()
                while (!hit && t == JsonToken.FIELD_NAME) {
                  val name = p.currentName()
                  t = p.nextToken() // value token
                  if (name == k.name) hit = true
                  else { JsonFused.skipValue(p); t = p.nextToken() }
                }
                if (hit) tok = p.currentToken()
                else found = false
              }
            case PathStep.Index(idx) =>
              if (tok != JsonToken.START_ARRAY || idx < 0) found = false
              else {
                var i = 0
                var t = p.nextToken()
                while (i < idx && t != JsonToken.END_ARRAY) {
                  JsonFused.skipValue(p); t = p.nextToken(); i += 1
                }
                if (t == JsonToken.END_ARRAY) found = false
                else tok = t
              }
          }
          si += 1
        }
        // Cast AT the value's position, but surface parse errors FIRST:
        // the unfused pipeline parses the whole document before any cast
        // runs, so a malformed tail outranks a failing cast. Parse-class
        // errors from the cast itself (the i128 bound) throw immediately
        // — they sit earlier in the stream than anything the validation
        // drain can find.
        var castErr: Throwable = null
        val out =
          if (!found) null
          else try castToken(p, tok) catch {
            case e: VariantJsonCodec.JsonParseException => throw e
            case e: Throwable => castErr = e; null
          }
        JsonFused.finishDocument(p)
        if (castErr != null) throw castErr
        out
      } finally p.close()
    } catch {
      case e: VariantJsonCodec.JsonParseException =>
        if (parseFailOnError) throw e else null
      case e: com.fasterxml.jackson.core.JacksonException =>
        if (parseFailOnError)
          throw new VariantJsonCodec.JsonParseException(s"Failed to parse JSON: ${e.getMessage}", e)
        else null
    }
  }

  /** Cast rules mirror VariantExtract.cast for the scalar targets the
    * fusion rule admits.
    */
  private def castToken(p: JsonParser, tok: JsonToken): Any = {
    try {
      tok match {
        case JsonToken.VALUE_NULL => null
        case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE =>
          val b = tok == JsonToken.VALUE_TRUE
          targetType match {
            case BooleanType => b
            case LongType => if (b) 1L else 0L
            case IntegerType => if (b) 1 else 0
            case _: StringType => UTF8String.fromString(if (b) "true" else "false")
            case _ => mismatch("boolean")
          }
        case JsonToken.VALUE_NUMBER_INT =>
          val isBig = p.getNumberType == JsonParser.NumberType.BIG_INTEGER
          // > i128 is a PARSE error in the unfused pipeline
          // (VariantJsonCodec.fromJsonBytes), not a cast error — keep the
          // same error class so parseFailOnError governs it.
          if (isBig && p.getBigIntegerValue.bitLength() >= 128)
            throw new VariantJsonCodec.JsonParseException(
              s"Could not fit value ${p.getBigIntegerValue} into an i128", null)
          targetType match {
            case LongType =>
              if (isBig) new java.math.BigDecimal(p.getBigIntegerValue).longValueExact() else p.getLongValue
            case IntegerType =>
              Math.toIntExact(if (isBig) new java.math.BigDecimal(p.getBigIntegerValue).longValueExact() else p.getLongValue)
            case DoubleType =>
              if (isBig) new java.math.BigDecimal(p.getBigIntegerValue).doubleValue() else p.getLongValue.toDouble
            case d: DecimalType =>
              val bd = if (isBig) new java.math.BigDecimal(p.getBigIntegerValue)
                else java.math.BigDecimal.valueOf(p.getLongValue)
              toDecimal(bd, d)
            // decimal16 scale-0 prints via toPlainString == BigInteger.toString
            case _: StringType => UTF8String.fromString(
              if (isBig) p.getBigIntegerValue.toString else java.lang.Long.toString(p.getLongValue))
            case _ => mismatch("bigint")
          }
        case JsonToken.VALUE_NUMBER_FLOAT =>
          targetType match {
            case DoubleType => p.getDoubleValue
            // non-integral → integral TRUNCATES toward zero, matching
            // VariantExtract.cast (round-10 builtin-parity change) so
            // fused and unfused extraction stay value-identical;
            // out-of-range/NaN throws instead of saturating
            case LongType => VariantExtract.doubleToLongExact(p.getDoubleValue)
            case IntegerType => Math.toIntExact(VariantExtract.doubleToLongExact(p.getDoubleValue))
            case d: DecimalType => toDecimal(java.math.BigDecimal.valueOf(p.getDoubleValue), d)
            // unfused: codec stores Float64, asString prints Double.toString
            case _: StringType => UTF8String.fromString(java.lang.Double.toString(p.getDoubleValue))
            case _ => mismatch("double")
          }
        case JsonToken.VALUE_STRING =>
          val s = p.getText
          targetType match {
            case LongType => s.trim.toLong
            case IntegerType => Math.toIntExact(s.trim.toLong)
            case DoubleType => s.trim.toDouble
            case BooleanType => s.trim.toBoolean
            case d: DecimalType => toDecimal(new java.math.BigDecimal(s.trim), d)
            case _: StringType => UTF8String.fromString(s)
            case _ => mismatch("string")
          }
        case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
          targetType match {
            // object/array → canonical compact JSON: encode the subtree
            // with the SAME codec the unfused path uses and print it, so
            // output is byte-identical to VariantExtract.asString
            // (sorted keys included).
            case _: StringType =>
              val (m, vb) = VariantJsonCodec.valueFromParser(p)
              UTF8String.fromString(VariantJsonCodec.toJsonString(m, vb))
            case _ => mismatch(if (tok == JsonToken.START_OBJECT) "object" else "array")
          }
        case other => mismatch(other.toString)
      }
    } catch {
      case e: VariantJsonCodec.JsonParseException => throw e
      case e: Exception if !castFailOnError => null
    }
  }

  private def toDecimal(bd: java.math.BigDecimal, d: DecimalType): Any = {
    val dec = org.apache.spark.sql.types.Decimal(bd)
    if (dec.changePrecision(d.precision, d.scale)) dec else mismatch("decimal")
  }

  private def mismatch(from: String): Any =
    throw new IllegalArgumentException(
      s"Cannot cast variant $from to ${targetType.simpleString}")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsonPathExtract {
  private[functions] val factory = new com.fasterxml.jackson.core.JsonFactory()

  /** Sentinel distinguishing "memoized null result" from "no memo". */
  private val NULL_RESULT = new Object

  /** Thread-local (input bytes, memo key, result) of the last evaluation —
    * shared across expression INSTANCES because pushdown duplicates the
    * same extraction into Filter and Project as separate copies.
    */
  private val lastExtract: ThreadLocal[Array[AnyRef]] =
    ThreadLocal.withInitial(() => new Array[AnyRef](3))

  /** Targets whose cast semantics the fused path replicates exactly.
    * String targets: scalar tokens print the same text as
    * VariantExtract.asString; object/array subtrees round-trip through
    * the codec's canonical printer. Variant/binary targets keep the
    * unfused pipeline.
    */
  def fusableTarget(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | BooleanType | _: DecimalType => true
    case _: StringType => true
    case _ => false
  }
}

/** Fused `variant_get_all(variant_from_json(s), path, scalarType)`:
  * one streaming token walk into the decoded value tree (the
  * JsonMergePatchFused path — no intermediate variant encode+decode),
  * then the wildcard walk runs over the tree and each matched LEAF is
  * cast through the SAME `VariantExtract.cast` the unfused expression
  * uses (the leaf re-encodes into a tiny scalar buffer first, so cast
  * semantics cannot drift by construction). Scalar targets only — a
  * variant-typed result would re-encode subtrees canonically and
  * differ byte-wise from the unfused raw-slice semantics. Duplicate
  * keys inside one document collapse last-value-first-position here
  * (docToVNode's LinkedHashMap) where the unfused walk sees the
  * canonical encoding's kept-both fields — the same documented
  * divergence class JsonMergePatchFused accepts.
  */
case class JsonGetAllFused(
    child: Expression,
    path: String,
    elemType: DataType,
    parseFailOnError: Boolean)
    extends UnaryExpression with GraftUnaryCodegen {

  import VariantMergePatch._

  @transient private lazy val steps: Array[PathStep] = VariantPath.parse(path)

  override def dataType: DataType = ArrayType(elemType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "json_get_all_fused"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"json_get_all_fused expects string/binary, got: ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = JsonFused.toBytes(input)
    val root =
      try docToVNode(bytes)
      catch {
        case e: VariantJsonCodec.JsonParseException =>
          if (parseFailOnError) throw e else return null
      }
    if (root == null) return null // top-level JSON null == SQL NULL parse
    val hits = scala.collection.mutable.ArrayBuffer.empty[VNode]
    def go(n: VNode, i: Int): Unit = {
      if (i == steps.length) { hits += n; return }
      steps(i) match {
        case k: PathStep.Key => n match {
          case VObj(f) => f.get(k.name).foreach(go(_, i + 1))
          case _ => ()
        }
        case PathStep.Index(idx) => n match {
          case VArr(items) if idx >= 0 && idx < items.length => go(items(idx), i + 1)
          case _ => ()
        }
        case PathStep.Wildcard => n match {
          case VArr(items) => items.foreach(go(_, i + 1))
          case _ => ()
        }
        case PathStep.KeyWildcard => n match {
          case VObj(f) =>
            // the unfused walk iterates the ENCODED object, whose field
            // order is canonical sorted-key (UTF-8 byte order, the
            // metadata dictionary's collation) — sort the parse-order
            // tree the same way so fused emission order matches
            f.toSeq
              .sortWith { case ((a, _), (b, _)) =>
                java.util.Arrays.compareUnsigned(
                  a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
                  b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
              }
              .foreach { case (_, v) => go(v, i + 1) }
          case _ => ()
        }
      }
    }
    go(root, 0)
    val out = new Array[Any](hits.length)
    var i = 0
    while (i < hits.length) {
      val row = encode(hits(i)) // tiny per-leaf buffer, not the document
      out(i) = VariantExtract.cast(
        new graft.variant.MetadataView(row.getBinary(0), 0),
        new graft.variant.VariantView(row.getBinary(1), 0),
        elemType, failOnError = false)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Optimizer rule: collapse `VariantGet(VariantFromJson(s), path, t)`
  * into the single-pass [[JsonPathExtract]] when `t` is a scalar target.
  * Runs in the operator-optimization batch via
  * `injectOptimizerRule(GraftExtensions)`; the rewrite is a pure
  * expression-local transformation, so it composes with pushdown — a
  * pushed-down filter containing the fused form stays fused.
  */
object VariantGetFusionRule extends Rule[LogicalPlan] {

  /** Expression-local fusion: the parse is nested directly under the
    * consumer (CollapseProject already inlined it).
    */
  private def fuseLocal(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case VariantGet(VariantFromJson(src, parseFail), path, t, castFail)
        if JsonPathExtract.fusableTarget(t) =>
      JsonPathExtract(src, path, t, parseFail, castFail)
    case VariantGetAll(VariantFromJson(src, parseFail), path, t)
        if JsonPathExtract.fusableTarget(t) =>
      JsonGetAllFused(src, path, t, parseFail)
    case VariantKeys(VariantFromJson(src, parseFail)) => JsonKeys(src, parseFail)
    case VariantSize(VariantFromJson(src, parseFail)) => JsonSize(src, parseFail)
    case VariantTypeOf(VariantFromJson(src, parseFail)) => JsonTypeOf(src, parseFail)
    case SchemaOfVariant(VariantFromJson(src, parseFail)) => JsonSchemaOf(src, parseFail)
    // reaches generators too: Generate.generator is an expression field
    case VariantExplode(VariantFromJson(src, parseFail)) => JsonExplodeKV(src, parseFail)
    // reaches aggregate functions: AggregateExpression.aggregateFunction
    // is an expression field of the Aggregate node
    case SchemaOfVariantAgg(VariantFromJson(src, parseFail), render, o1, o2) =>
      SchemaOfJsonAgg(src, parseFail, render, o1, o2)
    // merge patch over two parses: single token walk per document into
    // the value tree, merge, ONE canonical encode (no intermediate
    // variant encode+decode round trips)
    case VariantMergePatch(VariantFromJson(t, failT), VariantFromJson(p, failP)) =>
      JsonMergePatchFused(t, p, failT, failP)
    // strip over a parse: one token walk into the tree, drop keys, one
    // canonical encode
    case VariantStripKeys(VariantFromJson(src, parseFail), keys) =>
      JsonStripKeysFused(src, keys, parseFail)
    // diff over two parses: mirror of the merge fusion
    case VariantDiff(VariantFromJson(a, failA), VariantFromJson(b, failB)) =>
      JsonDiffFused(a, b, failA, failB)
  }

  /** Fusion THROUGH a Project boundary. CollapseProject refuses to
    * inline a non-cheap `variant_from_json(src) AS v` referenced more
    * than once (e.g. `select(variant_keys(v), variant_size(v))`), so the
    * local pattern never sees the parse. Here each fusable consumer of
    * such an alias is rewritten to its fused form over a NEW alias of the
    * raw `src` appended to the child project; the original variant alias
    * survives for any non-fusable consumer and column pruning drops it
    * when none remain. N fused consumers cost N streaming token walks —
    * still strictly cheaper than one parse+encode plus N decode walks.
    */
  /** Node kinds whose expressions evaluate directly against child.output
    * in every position, so an appended child column is always visible.
    * (An Aggregate's result expressions see only grouping keys and
    * aggregate results — appending a project column there produces an
    * unresolvable reference.)
    */
  private def expressionsSeeChildOutput(node: UnaryNode): Boolean = node match {
    case _: Project | _: Filter | _: Generate => true
    case _ => false
  }

  private def fuseThroughProject(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // Aggregate parent: result expressions see only grouping keys and
    // aggregate results, so the generic appended-column rewrite below
    // would produce unresolvable references there. But expressions
    // INSIDE an AggregateExpression's function evaluate against
    // child.output, so fusion is safe when confined to those subtrees —
    // `agg(schema_of_variant_agg(v))` / `agg(sum(variant_get(v, ...)))`
    // over a Project-defined variant alias.
    case agg: Aggregate if agg.child.isInstanceOf[Project] =>
      val proj = agg.child.asInstanceOf[Project]
      val vfjAliases: Map[ExprId, (Alias, VariantFromJson)] =
        proj.projectList.collect {
          case a @ Alias(v: VariantFromJson, _) => a.exprId -> ((a, v))
        }.toMap
      if (vfjAliases.isEmpty) agg
      else {
        val rawAliases = scala.collection.mutable.LinkedHashMap.empty[ExprId, Alias]
        def rawAttr(id: ExprId): Attribute = rawAliases.getOrElseUpdate(id, {
          val (a, v) = vfjAliases(id)
          Alias(v.child, a.name + "_json")()
        }).toAttribute
        var changed = false
        val fuseInFunction: PartialFunction[Expression, Expression] = {
          case s: SchemaOfVariantAgg if s.child.isInstanceOf[AttributeReference] &&
              vfjAliases.contains(s.child.asInstanceOf[AttributeReference].exprId) =>
            changed = true
            val id = s.child.asInstanceOf[AttributeReference].exprId
            SchemaOfJsonAgg(rawAttr(id), vfjAliases(id)._2.failOnError,
              s.renderOutput, s.mutableAggBufferOffset, s.inputAggBufferOffset)
          case VariantGet(attr: AttributeReference, path, t, castFail)
              if vfjAliases.contains(attr.exprId) && JsonPathExtract.fusableTarget(t) =>
            changed = true
            JsonPathExtract(rawAttr(attr.exprId), path, t,
              vfjAliases(attr.exprId)._2.failOnError, castFail)
          case VariantKeys(attr: AttributeReference) if vfjAliases.contains(attr.exprId) =>
            changed = true
            JsonKeys(rawAttr(attr.exprId), vfjAliases(attr.exprId)._2.failOnError)
          case VariantSize(attr: AttributeReference) if vfjAliases.contains(attr.exprId) =>
            changed = true
            JsonSize(rawAttr(attr.exprId), vfjAliases(attr.exprId)._2.failOnError)
          case VariantTypeOf(attr: AttributeReference) if vfjAliases.contains(attr.exprId) =>
            changed = true
            JsonTypeOf(rawAttr(attr.exprId), vfjAliases(attr.exprId)._2.failOnError)
          case SchemaOfVariant(attr: AttributeReference) if vfjAliases.contains(attr.exprId) =>
            changed = true
            JsonSchemaOf(rawAttr(attr.exprId), vfjAliases(attr.exprId)._2.failOnError)
        }
        // Rewrite (a) inside aggregate functions, and (b) GROUPING
        // expressions together with their result-side occurrences — in
        // LOCKSTEP. Result expressions evaluate against grouping keys
        // and aggregate results only, so a fusable pattern there may be
        // replaced ONLY when it (or its enclosing subtree) semantically
        // equals a WHOLE grouping expression that was itself rewritten —
        // then both sides become the identical fused form and the plan
        // stays resolvable. Rewriting a pattern applied ON TOP of a bare
        // grouping attribute (e.g. `variant_get(v)` in the result list
        // with `group by v`) would reference the appended child column
        // from a position that cannot see it — the round-2 crash, and
        // again via CollapseProject merging a parent Project into the
        // aggregate list.
        val groupRewrites: Seq[(Expression, Expression)] =
          agg.groupingExpressions.flatMap { g =>
            val r = g.transform(fuseInFunction)
            if (r eq g) None else Some(g -> r)
          }
        val newGrouping = agg.groupingExpressions.map { g =>
          groupRewrites.collectFirst { case (orig, r) if orig eq g => r }.getOrElse(g)
        }
        val newAggList = agg.aggregateExpressions.map { ne =>
          ne.transform {
            case ae: AggregateExpression =>
              val newFn = ae.aggregateFunction.transform(fuseInFunction)
                .asInstanceOf[AggregateFunction]
              if (newFn eq ae.aggregateFunction) ae
              else ae.copy(aggregateFunction = newFn)
            case e if groupRewrites.exists(_._1.semanticEquals(e)) =>
              groupRewrites.find(_._1.semanticEquals(e)).get._2
          }.asInstanceOf[NamedExpression]
        }
        if (!changed) agg
        else agg.copy(
          groupingExpressions = newGrouping,
          aggregateExpressions = newAggList,
          child = proj.copy(projectList = proj.projectList ++ rawAliases.values))
      }

    case node: UnaryNode
        if node.child.isInstanceOf[Project] && expressionsSeeChildOutput(node) =>
      val proj = node.child.asInstanceOf[Project]
      val vfjAliases: Map[ExprId, (Alias, VariantFromJson)] =
        proj.projectList.collect {
          case a @ Alias(v: VariantFromJson, _) => a.exprId -> ((a, v))
        }.toMap
      if (vfjAliases.isEmpty) node
      else {
        val rawAliases = scala.collection.mutable.LinkedHashMap.empty[ExprId, Alias]
        def rawAttr(id: ExprId): Attribute = rawAliases.getOrElseUpdate(id, {
          val (a, v) = vfjAliases(id)
          Alias(v.child, a.name + "_json")()
        }).toAttribute
        var changed = false
        val newNode = node.transformExpressions {
          case VariantGet(attr: AttributeReference, path, t, castFail)
              if vfjAliases.contains(attr.exprId) && JsonPathExtract.fusableTarget(t) =>
            changed = true
            JsonPathExtract(rawAttr(attr.exprId), path, t,
              vfjAliases(attr.exprId)._2.failOnError, castFail)
          case VariantGetAll(attr: AttributeReference, path, t)
              if vfjAliases.contains(attr.exprId) && JsonPathExtract.fusableTarget(t) =>
            changed = true
            JsonGetAllFused(rawAttr(attr.exprId), path, t,
              vfjAliases(attr.exprId)._2.failOnError)
          case VariantKeys(attr: AttributeReference) if vfjAliases.contains(attr.exprId) =>
            changed = true
            JsonKeys(rawAttr(attr.exprId), vfjAliases(attr.exprId)._2.failOnError)
          case VariantSize(attr: AttributeReference) if vfjAliases.contains(attr.exprId) =>
            changed = true
            JsonSize(rawAttr(attr.exprId), vfjAliases(attr.exprId)._2.failOnError)
          case VariantTypeOf(attr: AttributeReference) if vfjAliases.contains(attr.exprId) =>
            changed = true
            JsonTypeOf(rawAttr(attr.exprId), vfjAliases(attr.exprId)._2.failOnError)
          case SchemaOfVariant(attr: AttributeReference) if vfjAliases.contains(attr.exprId) =>
            changed = true
            JsonSchemaOf(rawAttr(attr.exprId), vfjAliases(attr.exprId)._2.failOnError)
          case VariantExplode(attr: AttributeReference) if vfjAliases.contains(attr.exprId) =>
            changed = true
            JsonExplodeKV(rawAttr(attr.exprId), vfjAliases(attr.exprId)._2.failOnError)
        }
        if (!changed) node
        else newNode.withNewChildren(Seq(
          proj.copy(projectList = proj.projectList ++ rawAliases.values)))
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    fuseThroughProject(fuseLocal(plan))
}
