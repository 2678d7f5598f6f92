package graft.variant

import com.fasterxml.jackson.core.JsonFactory
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeType

/** JSON ⇄ variant conversion.
  *
  * JSON → variant mirrors the reference kernel `variant_from_json`
  * (/root/reference/arrow-open-variant/src/json.rs:38-81) per row:
  * parse → collect all object keys (json.rs:115-163) → build metadata →
  * recursively convert (json.rs:202-246). Coercions match the reference:
  * JSON int → integer; big int → Decimal16 scale 0, error beyond 128 bits
  * (json.rs:213-218); JSON float → Float64; top-level JSON `null` → SQL
  * null (json.rs:184-196) while nested nulls stay variant Null
  * (json.rs:27-29).
  *
  * Metadata is built per ROW, not per batch — the deliberate Spark-native
  * divergence (SURVEY §7.3): rows stay self-contained across shuffles,
  * persistence, and streaming.
  */
object VariantJsonCodec {
  private val mapper = new ObjectMapper()
  private val factory = new JsonFactory()

  final val VARIANT_NULL: Array[Byte] = {
    val b = new ByteBuf(1); VariantWriter.writeNull(b); b.result()
  }

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

  /** Key → dictionary-id lookup for one encode walk over the raw bytes.
    * `id` returns -1 when the row departs from a guessed shape; the
    * caller then re-runs the walk with a [[KeyInterner]].
    */
  private abstract class KeyIds {
    def id(b: Array[Byte], off: Int, len: Int): Int
  }

  /** First-seen key interner: keys get temporary ids in arrival order;
    * `remapTo` translates them to the final sorted-dictionary ids.
    */
  private final class KeyInterner extends KeyIds {
    val keys = new java.util.ArrayList[String]()
    private val map = new java.util.HashMap[String, Integer]()
    def intern(k: String): Int = {
      val existing = map.get(k)
      if (existing != null) existing.intValue()
      else {
        val id = keys.size()
        map.put(k, id)
        keys.add(k)
        id
      }
    }
    def id(b: Array[Byte], off: Int, len: Int): Int =
      intern(new String(b, off, len, java.nio.charset.StandardCharsets.UTF_8))
    def remapTo(finalIds: java.util.HashMap[String, Integer]): Array[Int] = {
      val remap = new Array[Int](keys.size())
      var i = 0
      while (i < keys.size()) { remap(i) = finalIds.get(keys.get(i)); i += 1 }
      remap
    }
  }

  /** Per-thread guess of the NEXT row's first-seen key sequence: real
    * scans are runs of structurally-identical rows, so the previous
    * row's (arrival keys → final dictionary ids, metadata bytes) almost
    * always applies verbatim. A hit skips the dictionary build (sort +
    * hash map + byte emission) AND the sorted-order re-encode — keys
    * resolve straight to final ids and `VariantObjectBuilder.finish()`
    * id-sorts fields, so one pass emits the canonical binary.
    * This recovers the reference's per-batch shared-metadata
    * amortization (arrow-open-variant/src/json.rs:51-63) without giving
    * up self-contained rows (SURVEY §7.3): the metadata BYTES are shared
    * by reference thread-locally, each row still carries them. Measured
    * 0.30 → ~1 M rows/s single-thread on small homogeneous objects
    * (CodecBench); a miss costs one extra walk of that row only.
    */
  private final class Speculation {
    var keyBytes: Array[Array[Byte]] = new Array[Array[Byte]](0) // first-seen arrival order, UTF-8
    var finalIds: Array[Int] = new Array[Int](0) // their sorted-dictionary ids
    var meta: Array[Byte] = VariantMetadata.EMPTY

    def adopt(arrival: java.util.ArrayList[String], remap: Array[Int],
              metaBytes: Array[Byte]): Unit = {
      keyBytes = new Array[Array[Byte]](arrival.size())
      var i = 0
      while (i < keyBytes.length) {
        keyBytes(i) = arrival.get(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        i += 1
      }
      finalIds = remap
      meta = metaBytes
    }
  }
  private val lastRowShape: ThreadLocal[Speculation] =
    ThreadLocal.withInitial(() => new Speculation)

  /** Key lookup against the guessed shape, by byte comparison. A key
    * seen EARLIER in this row resolves by linear scan over the seen
    * prefix (small, and exactly first-seen interning); a new key must be
    * the guess's next key, else -1.
    */
  private final class ShapeGuess(spec: Speculation) extends KeyIds {
    private var n = 0 // keys of the guess seen so far
    def complete: Boolean = n == spec.keyBytes.length
    def id(b: Array[Byte], off: Int, len: Int): Int = {
      var k = 0
      while (k < n) {
        if (FastJsonLex.sliceEq(b, off, len, spec.keyBytes(k))) return spec.finalIds(k)
        k += 1
      }
      if (n < spec.keyBytes.length && FastJsonLex.sliceEq(b, off, len, spec.keyBytes(n))) {
        n += 1
        spec.finalIds(n - 1)
      } else -1
    }
  }

  /** JSON text → (metadata, value); returns null for a top-level JSON
    * `null` (the SQL-null rule, json.rs:184-196).
    *
    * One streaming pass over the raw bytes in the common case: the byte
    * walk (`fastConvert`) resolves keys against the guessed shape and
    * emits final ids directly. When the row departs from the guess, the
    * same walk re-runs with first-seen interning and `finish` builds the
    * dictionary and, only when arrival order was not already the sorted
    * order, re-encodes the compact binary with final ids (a memcpy-heavy
    * walk over our own buffer). No JsonNode tree is materialized. Rows
    * the byte lexer declines (escaped keys, lone surrogates, malformed
    * or oversized input, integers ≥ 2^127) take the plain Jackson walk,
    * which owns all error semantics. The hot path of `variant_from_json`:
    * at 100 TB the parse IS the workload.
    */
  def fromJsonBytes(utf8: Array[Byte], off: Int, len: Int): (Array[Byte], Array[Byte]) =
    try fastFromJsonBytes(utf8, off, off + len, lastRowShape.get())
    catch { case FastJsonLex.Miss => jacksonFromJsonBytes(utf8, off, len) }

  /** The Jackson token walk — the fallback for every row the byte lexer
    * declines, and the semantics reference the lexer is
    * differential-fuzzed against (FastJsonSpec).
    */
  private[graft] def jacksonFromJsonBytes(
      utf8: Array[Byte], off: Int, len: Int): (Array[Byte], Array[Byte]) = {
    import com.fasterxml.jackson.core.JsonToken
    try {
      val p = factory.createParser(utf8, off, len)
      val tok = p.nextToken()
      if (tok == null) throw new JsonParseException("Failed to parse JSON: empty input", null)
      val interner = new KeyInterner
      val buf = new ByteBuf(64)
      if (tok != JsonToken.VALUE_NULL) convertStream(p, buf, interner)
      if (p.nextToken() != null)
        throw new JsonParseException("Failed to parse JSON: trailing tokens", null)
      p.close()
      if (tok == JsonToken.VALUE_NULL) null
      else finish(interner, buf, lastRowShape.get())
    } catch {
      case e: JsonParseException => throw e
      case e: IllegalArgumentException => throw e
      case e: Exception =>
        throw new JsonParseException(s"Failed to parse JSON: ${e.getMessage}", e)
    }
  }

  /** Shared tail of both walks for a row encoded with first-seen temp
    * ids: build the row's dictionary, adopt its shape as the next guess,
    * and re-encode with final ids unless arrival order already was
    * dictionary order. The re-encode runs from our own binary so frame
    * id widths and field sort reflect final ids (in-place id rewriting
    * could change a frame's id byte width — the builders re-derive
    * widths, keeping the encoding canonical).
    */
  private def finish(interner: KeyInterner, buf: ByteBuf,
                     spec: Speculation): (Array[Byte], Array[Byte]) = {
    val (metaBytes, finalIds) = VariantMetadata.build(interner.keys)
    val remap = interner.remapTo(finalIds)
    spec.adopt(interner.keys, remap, metaBytes)
    var identity = true
    var i = 0
    while (identity && i < remap.length) { identity = remap(i) == i; i += 1 }
    if (identity) (metaBytes, buf.result())
    else {
      val out = new ByteBuf(buf.length + 16)
      reencode(buf.rawBytes, 0, out, remap)
      (metaBytes, out.result())
    }
  }

  /** Re-emit a temp-id-encoded value with final dictionary ids. Scalars
    * copy verbatim; object/array frames rebuild through the canonical
    * builders (sorted fields, minimal widths).
    */
  private def reencode(src: Array[Byte], pos: Int, out: ByteBuf, remap: Array[Int]): Unit = {
    val v = new VariantView(src, pos)
    v.basicType match {
      case VariantConst.BASIC_OBJECT =>
        val o = v.getObject
        val ob = new VariantObjectBuilder(out)
        var i = 0
        while (i < o.numElements) {
          reencode(src, o.valueAt(i).pos, ob.fieldBuffer(remap(o.fieldIdAt(i))), remap)
          i += 1
        }
        ob.finish()
      case VariantConst.BASIC_ARRAY =>
        val a = v.getArray
        val ab = new VariantArrayBuilder(out)
        var i = 0
        while (i < a.numElements) {
          reencode(src, a.elementAt(i).pos, ab.elementBuffer(), remap)
          i += 1
        }
        ab.finish()
      case _ => out.addBytes(src, pos, v.sizeInBytes)
    }
  }

  /** Recursive-descent token → variant writer; parser is positioned ON
    * the value's first token when called. Object keys intern to
    * first-seen temp ids (remapped by the caller when necessary).
    */
  private def convertStream(p: com.fasterxml.jackson.core.JsonParser, buf: ByteBuf,
                            interner: KeyInterner): Unit = {
    import com.fasterxml.jackson.core.{JsonToken => T}
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
        val ab = new VariantArrayBuilder(buf)
        while (p.nextToken() != T.END_ARRAY) {
          convertStream(p, ab.elementBuffer(), interner)
        }
        ab.finish()
      case T.START_OBJECT =>
        val ob = new VariantObjectBuilder(buf)
        while (p.nextToken() != T.END_OBJECT) {
          // currentToken == FIELD_NAME
          val id = interner.intern(p.currentName())
          p.nextToken()
          convertStream(p, ob.fieldBuffer(id), interner)
        }
        ob.finish()
      case other =>
        throw new JsonParseException(s"Unsupported JSON token: $other", null)
    }
  }

  def fromJson(json: String): (Array[Byte], Array[Byte]) = {
    val b = json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    fromJsonBytes(b, 0, b.length)
  }

  // ===================================================================
  // Byte-level JSON walk (round 7). The reference's kernel is
  // json→variant; with the plan fused and the encoder single-pass, the
  // remaining cost was Jackson's tokenizer (UTF-8→UTF-16 decode, token
  // objects, feature checks). This lexer works directly on the UTF-8
  // input: escape-free strings become one byte-slice copy, integers
  // parse inline, and object keys match the guessed shape by BYTE
  // comparison. Contract: it accepts a strict SUBSET of what Jackson's
  // default feature set accepts; anything outside (malformed JSON,
  // integers ≥ 2^127, escaped keys, lone surrogates, invalid UTF-8,
  // leading zeros) throws the stackless FastMiss and the row re-runs
  // through the plain Jackson walk above, which owns all error
  // semantics. Differential-fuzzed byte-for-byte against the Jackson
  // walk in FastJsonSpec.
  // ===================================================================

  /** Test hook: run ONLY the byte lexer (production speculation state),
    * Left(()) when it declines the row. */
  private[graft] def fastOnlyForTest(
      utf8: Array[Byte]): Either[Unit, (Array[Byte], Array[Byte])] =
    try Right(fastFromJsonBytes(utf8, 0, utf8.length, lastRowShape.get()))
    catch { case FastJsonLex.Miss => Left(()) }

  /** Shared byte-level lexing core lives in [[FastJsonLex]] (also used
    * by the fused extraction fast path). Aliases keep this file's walk
    * code readable. */
  private def FastMiss = FastJsonLex.Miss
  private type FastCursor = FastJsonLex.Cursor

  /** Emit one JSON number through the writer, with Jackson's integer
    * rule ([[FastJsonLex.integer]]): fits a long → int64, else Decimal16
    * scale 0; integers ≥ 2^127 miss so the Jackson walk raises its i128
    * error. */
  private def fastNumber(c: FastCursor, buf: ByteBuf): Unit = {
    val start = c.i
    if (FastJsonLex.scanNumber(c)) {
      val big = FastJsonLex.integer(c, start)
      if (big == null) VariantWriter.writeLong(buf, c.longValue)
      else VariantWriter.writeDecimal(buf, big, 0)
    } else {
      // IEEE-correct, identical to Jackson's double conversion
      VariantWriter.writeDouble(buf, java.lang.Double.parseDouble(
        new String(c.b, start, c.i - start, java.nio.charset.StandardCharsets.US_ASCII)))
    }
  }

  /** Byte-path entry: the walk against the guessed shape, then, if the
    * row departs from it, the same walk with first-seen interning.
    * Throws FastMiss to route the row to the Jackson walk. */
  private def fastFromJsonBytes(b: Array[Byte], off: Int, end: Int,
                                spec: Speculation): (Array[Byte], Array[Byte]) = {
    val c = new FastJsonLex.Cursor(b, off, end)
    c.skipWs()
    if (c.i >= end) throw FastMiss // empty → Jackson's "empty input" error
    if (b(c.i) == 'n') { // top-level null → SQL NULL (json.rs:184-196)
      FastJsonLex.literal(c, "null")
      c.skipWs()
      if (c.i != end) throw FastMiss // trailing → Jackson's error
      return null
    }
    val valueStart = c.i
    val guess = new ShapeGuess(spec)
    val guessed = new ByteBuf(64)
    if (fastConvert(c, guessed, guess) && guess.complete) {
      c.skipWs()
      if (c.i != end) throw FastMiss
      return (spec.meta, guessed.result())
    }
    c.i = valueStart
    val interner = new KeyInterner
    val buf = new ByteBuf(64)
    fastConvert(c, buf, interner)
    c.skipWs()
    if (c.i != end) throw FastMiss
    finish(interner, buf, spec)
  }

  /** The byte walk: encodes the value at the cursor into `buf`, keys
    * through `keys`. Returns false the moment `keys` reports a departure
    * from the guessed shape (the caller discards `buf`); throws FastMiss
    * on anything the lexer declines. */
  private def fastConvert(c: FastCursor, buf: ByteBuf, keys: KeyIds,
                          depth: Int = 0): Boolean = {
    val b = c.b
    (c.peek & 0xff) match {
      case 'n' => FastJsonLex.literal(c, "null"); VariantWriter.writeNull(buf)
      case 't' => FastJsonLex.literal(c, "true"); VariantWriter.writeBoolean(buf, true)
      case 'f' => FastJsonLex.literal(c, "false"); VariantWriter.writeBoolean(buf, false)
      case '"' =>
        c.i += 1
        val close = FastJsonLex.scanSimpleString(c)
        if (close >= 0) {
          VariantWriter.writeStringSlice(buf, b, c.i, close - c.i)
          c.i = close + 1
        } else {
          val scratch = new ByteBuf(32)
          FastJsonLex.unescapeString(c, scratch)
          VariantWriter.writeStringSlice(buf, scratch.rawBytes, 0, scratch.length)
        }
      case '[' =>
        FastJsonLex.openContainer(depth)
        c.i += 1
        val ab = new VariantArrayBuilder(buf)
        c.skipWs()
        if (c.i < c.end && b(c.i) == ']') c.i += 1
        else {
          var more = true
          while (more) {
            c.skipWs()
            if (!fastConvert(c, ab.elementBuffer(), keys, depth + 1)) return false
            c.skipWs()
            (c.peek & 0xff) match {
              case ',' => c.i += 1
              case ']' => c.i += 1; more = false
              case _ => throw FastMiss
            }
          }
        }
        ab.finish()
      case '{' =>
        FastJsonLex.openContainer(depth)
        c.i += 1
        val ob = new VariantObjectBuilder(buf)
        c.skipWs()
        if (c.i < c.end && b(c.i) == '}') c.i += 1
        else {
          var more = true
          while (more) {
            c.skipWs()
            c.expect('"')
            val close = FastJsonLex.scanSimpleString(c)
            if (close < 0) throw FastMiss // escaped keys: rare, Jackson path
            FastJsonLex.checkName(close - c.i)
            val id = keys.id(b, c.i, close - c.i)
            if (id < 0) return false
            c.i = close + 1
            c.skipWs()
            c.expect(':')
            c.skipWs()
            if (!fastConvert(c, ob.fieldBuffer(id), keys, depth + 1)) return false
            c.skipWs()
            (c.peek & 0xff) match {
              case ',' => c.i += 1
              case '}' => c.i += 1; more = false
              case _ => throw FastMiss
            }
          }
        }
        ob.finish()
      case x if x == '-' || (x >= '0' && x <= '9') => fastNumber(c, buf)
      case _ => throw FastMiss
    }
    true
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
