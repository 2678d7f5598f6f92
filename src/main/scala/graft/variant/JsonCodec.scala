package graft.variant

import com.fasterxml.jackson.core.JsonFactory
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeType

/** JSON ⇄ variant conversion. JSON → variant gives the bytes of the
  * reference kernel `variant_from_json` (arrow-open-variant/src/json.rs:38-81),
  * whose two passes (collect keys, json.rs:115-163; convert,
  * json.rs:202-246) [[fromTree]] keeps as the independent reference;
  * production walks the input once into [[VariantEncoder]]. Coercions
  * match the reference: int → integer; big int → Decimal16 scale 0, error
  * beyond 128 bits (json.rs:213-218); float → Float64; top-level `null` →
  * SQL null (json.rs:184-196), nested nulls stay variant Null. Metadata
  * is per ROW, not per batch (SURVEY §7.3): rows stay self-contained
  * across shuffles, persistence and streaming.
  */
object VariantJsonCodec {
  private val mapper = new ObjectMapper()
  private val factory = new JsonFactory()
  private val NullValue = Array[Byte](VariantConst.primitiveHeader(VariantConst.P_NULL).toByte)

  /** Parse error wrapper — same trigger condition as the reference's
    * whole-batch ComputeError (json.rs:43-47), scoped to the row.
    */
  final class JsonParseException(msg: String, cause: Throwable)
      extends RuntimeException(msg, cause)

  def parseTree(utf8: Array[Byte], off: Int, len: Int): JsonNode =
    try mapper.readTree(factory.createParser(utf8, off, len))
    catch {
      case e: Exception =>
        throw new JsonParseException(s"Failed to parse JSON: ${e.getMessage}", e)
    }

  /** JSON text → (metadata, value), null for a top-level JSON `null`.
    * One pass over the raw bytes (`fastConvert`) into this thread's
    * [[VariantEncoder]], whatever the key order; no JsonNode tree. Rows
    * the byte lexer declines (escaped keys, lone surrogates, malformed or
    * oversized input, integers ≥ 2^127) take the Jackson walk into the
    * same encoder, which owns all error semantics.
    */
  def fromJsonBytes(utf8: Array[Byte], off: Int, len: Int): (Array[Byte], Array[Byte]) =
    try fastFromJsonBytes(utf8, off, off + len)
    catch { case FastJsonLex.Miss => jacksonFromJsonBytes(utf8, off, len) }

  /** The Jackson token walk: the fallback for every row the byte lexer
    * declines, and the semantics it is fuzzed against (FastJsonSpec). */
  private[graft] def jacksonFromJsonBytes(
      utf8: Array[Byte], off: Int, len: Int): (Array[Byte], Array[Byte]) = {
    try {
      val p = factory.createParser(utf8, off, len)
      if (p.nextToken() == null) throw new JsonParseException("Failed to parse JSON: empty input", null)
      val enc = VariantEncoder.get()
      convertStream(p, enc)
      if (p.nextToken() != null)
        throw new JsonParseException("Failed to parse JSON: trailing tokens", null)
      p.close()
      sqlNull(enc.result())
    } catch {
      case e: JsonParseException => throw e
      case e: IllegalArgumentException => throw e
      case e: Exception =>
        throw new JsonParseException(s"Failed to parse JSON: ${e.getMessage}", e)
    }
  }

  /** Recursive-descent token → variant walk; parser is positioned ON
    * the value's first token when called.
    */
  private def convertStream(p: com.fasterxml.jackson.core.JsonParser, enc: VariantEncoder): Unit = {
    import com.fasterxml.jackson.core.{JsonToken => T}
    val buf = enc.buf
    p.currentToken() match {
      case T.VALUE_NULL => VariantWriter.writeNull(buf)
      case T.VALUE_TRUE => VariantWriter.writeBoolean(buf, true)
      case T.VALUE_FALSE => VariantWriter.writeBoolean(buf, false)
      case T.VALUE_NUMBER_INT =>
        p.getNumberType match {
          case com.fasterxml.jackson.core.JsonParser.NumberType.BIG_INTEGER =>
            val bi = p.getBigIntegerValue
            if (bi.bitLength() >= 128)
              throw new JsonParseException(s"Could not fit value $bi into an i128", null)
            VariantWriter.writeDecimal(buf, bi, 0)
          case _ => VariantWriter.writeLong(buf, p.getLongValue)
        }
      case T.VALUE_NUMBER_FLOAT => VariantWriter.writeDouble(buf, p.getDoubleValue)
      case T.VALUE_STRING => VariantWriter.writeString(buf, p.getText)
      case T.START_ARRAY =>
        enc.beginArray()
        while (p.nextToken() != T.END_ARRAY) convertStream(p, enc)
        enc.endArray()
      case T.START_OBJECT =>
        enc.beginObject()
        while (p.nextToken() != T.END_OBJECT) {
          enc.key(p.currentName()) // currentToken == FIELD_NAME
          p.nextToken()
          convertStream(p, enc)
        }
        enc.endObject()
      case other =>
        throw new JsonParseException(s"Unsupported JSON token: $other", null)
    }
  }

  def fromJson(json: String): (Array[Byte], Array[Byte]) = {
    val b = json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    fromJsonBytes(b, 0, b.length)
  }

  // Byte-level JSON walk, without Jackson's UTF-16 decode and token
  // objects. It accepts a strict SUBSET of what Jackson's default
  // features accept; anything else (malformed JSON, integers ≥ 2^127,
  // escaped keys, lone surrogates, invalid UTF-8, leading zeros) throws
  // FastJsonLex.Miss and re-runs through the Jackson walk above.
  // Differential-fuzzed byte-for-byte against it in FastJsonSpec.

  /** Test hook: run ONLY the byte lexer, Left(()) when it declines the row. */
  private[graft] def fastOnlyForTest(
      utf8: Array[Byte]): Either[Unit, (Array[Byte], Array[Byte])] =
    try Right(fastFromJsonBytes(utf8, 0, utf8.length))
    catch { case FastJsonLex.Miss => Left(()) }

  /** Byte-path entry. Throws FastJsonLex.Miss to route the row to the
    * Jackson walk. */
  private def fastFromJsonBytes(b: Array[Byte], off: Int, end: Int): (Array[Byte], Array[Byte]) = {
    val c = new FastJsonLex.Cursor(b, off, end)
    c.skipWs() // empty input misses: Jackson's "empty input" error
    val walk = new ByteWalk(c, VariantEncoder.get())
    walk.value()
    c.skipWs()
    if (c.i != end) throw FastJsonLex.Miss // trailing bytes: Jackson's error
    sqlNull(walk.enc.result())
  }

  /** A top-level JSON null is SQL NULL (json.rs:184-196). */
  private def sqlNull(pair: (Array[Byte], Array[Byte])) =
    if (java.util.Arrays.equals(pair._2, NullValue)) null else pair

  /** The byte walk: hands the values at the cursor to `enc`, one visitor
    * for every container of the row; throws FastJsonLex.Miss on anything
    * the lexer declines. */
  private final class ByteWalk(c: FastJsonLex.Cursor, val enc: VariantEncoder) extends FastJsonLex.Visit {
    private var depth = 0 // containers around the cursor

    /** A member: its key (objects only), then its value. */
    def apply(index: Int, keyOff: Int, keyLen: Int): Boolean = {
      if (keyOff >= 0) enc.key(c.b, keyOff, keyLen)
      value()
      false
    }

    def value(): Unit = (c.peek & 0xff) match {
      case x if x == '[' || x == '{' =>
        if (x == '{') enc.beginObject() else enc.beginArray()
        depth += 1
        FastJsonLex.members(c, depth - 1, this)
        depth -= 1
        if (x == '{') enc.endObject() else enc.endArray()
      case _ => FastJsonLex.scalar(c, enc.buf)
    }
  }

  def fromTree(tree: JsonNode): (Array[Byte], Array[Byte]) = {
    val keys = new java.util.ArrayList[String]()
    collectKeys(tree, keys)
    val (metaBytes, ids) = VariantMetadata.build(keys)
    val buf = new ByteBuf(64)
    convert(tree, buf, ids)
    (metaBytes, buf.result())
  }

  /** Gather every object key at every nesting depth (json.rs:115-163). */
  private def collectKeys(node: JsonNode, out: java.util.ArrayList[String]): Unit = {
    node.getNodeType match {
      case JsonNodeType.OBJECT =>
        val it = node.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          out.add(e.getKey)
          collectKeys(e.getValue, out)
        }
      case JsonNodeType.ARRAY =>
        val it = node.elements()
        while (it.hasNext) collectKeys(it.next(), out)
      case _ => ()
    }
  }

  /** Recursive JSON→variant conversion (json.rs:202-246). */
  private def convert(node: JsonNode, buf: ByteBuf, ids: java.util.HashMap[String, Integer]): Unit = {
    node.getNodeType match {
      case JsonNodeType.NULL | JsonNodeType.MISSING => VariantWriter.writeNull(buf)
      case JsonNodeType.BOOLEAN => VariantWriter.writeBoolean(buf, node.booleanValue())
      case JsonNodeType.NUMBER =>
        if (node.isIntegralNumber) {
          if (node.canConvertToLong) VariantWriter.writeLong(buf, node.longValue())
          else {
            val bi = node.bigIntegerValue()
            if (bi.bitLength() >= 128)
              throw new JsonParseException(
                s"Could not fit value $bi into an i128", null)
            VariantWriter.writeDecimal(buf, bi, 0)
          }
        } else VariantWriter.writeDouble(buf, node.doubleValue())
      case JsonNodeType.STRING => VariantWriter.writeString(buf, node.textValue())
      case JsonNodeType.ARRAY =>
        val ab = new VariantArrayBuilder(buf)
        val it = node.elements()
        while (it.hasNext) {
          val el = it.next()
          convert(el, ab.elementBuffer(), ids)
        }
        ab.finish()
      case JsonNodeType.OBJECT =>
        val ob = new VariantObjectBuilder(buf)
        val it = node.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          val id = ids.get(e.getKey)
          if (id == null)
            throw new IllegalStateException(
              s"Key '${e.getKey}' not present in metadata dictionary")
          convert(e.getValue, ob.fieldBuffer(id), ids)
        }
        ob.finish()
      case other =>
        throw new JsonParseException(s"Unsupported JSON node type: $other", null)
    }
  }

  /** Variant → compact JSON text (parity extension; the reference has no
    * inverse printer). Uses a Jackson generator so output formatting is
    * canonical.
    */
  def toJsonString(metaBytes: Array[Byte], valueBytes: Array[Byte]): String = {
    val sw = new java.io.StringWriter()
    val gen = factory.createGenerator(sw)
    writeJson(new MetadataView(metaBytes, 0), new VariantView(valueBytes, 0), gen)
    gen.close()
    sw.toString
  }

  private def writeJson(meta: MetadataView, v: VariantView,
                        gen: com.fasterxml.jackson.core.JsonGenerator): Unit = {
    import VariantConst._
    v.basicType match {
      case BASIC_SHORT_STR => gen.writeString(v.getString)
      case BASIC_OBJECT =>
        val o = v.getObject
        gen.writeStartObject()
        var i = 0
        while (i < o.numElements) {
          gen.writeFieldName(meta.getKey(o.fieldIdAt(i)))
          writeJson(meta, o.valueAt(i), gen)
          i += 1
        }
        gen.writeEndObject()
      case BASIC_ARRAY =>
        val a = v.getArray
        gen.writeStartArray()
        var i = 0
        while (i < a.numElements) {
          writeJson(meta, a.elementAt(i), gen)
          i += 1
        }
        gen.writeEndArray()
      case _ =>
        v.typeInfo match {
          case P_NULL => gen.writeNull()
          case P_TRUE => gen.writeBoolean(true)
          case P_FALSE => gen.writeBoolean(false)
          case P_INT8 | P_INT16 | P_INT32 | P_INT64 => gen.writeNumber(v.getLong)
          case P_DOUBLE | P_FLOAT => gen.writeNumber(v.getDouble)
          case P_DECIMAL4 | P_DECIMAL8 | P_DECIMAL16 =>
            val d = v.getDecimal
            if (d.scale() == 0) gen.writeNumber(d.unscaledValue()) else gen.writeNumber(d)
          case P_LONG_STR => gen.writeString(v.getString)
          case P_STRING_FROM_DICT => gen.writeString(v.getDictKey(meta))
          case P_BINARY =>
            gen.writeString(java.util.Base64.getEncoder.encodeToString(v.getBinary))
          case P_BINARY_FROM_DICT =>
            gen.writeString(java.util.Base64.getEncoder.encodeToString(
              v.getDictKey(meta).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          case P_DATE =>
            gen.writeString(java.time.LocalDate.ofEpochDay(v.getDateDays.toLong).toString)
          case P_TIMESTAMP | P_TIMESTAMP_NTZ =>
            val micros = v.getTimestampMicros
            val inst = java.time.Instant.ofEpochSecond(
              Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
            gen.writeString(inst.toString)
          case t => throw new IllegalStateException(s"unknown type id $t")
        }
    }
  }
}
