package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.types.DataType
import graft.variant._

/** `variant_merge_patch(target, patch)` — RFC 7386 JSON merge patch over
  * two variants, a structural editing operator the text-JSON world gets
  * from `json_merge_patch` (DuckDB/MySQL/SQLite): object fields merge
  * recursively, a `null` in the patch DELETES the key, and any
  * non-object patch value (scalars, arrays, JSON null at the root)
  * replaces the target wholesale.
  *
  * Works directly on the decoded value trees (no JSON text round trip):
  * both inputs decode through the View layer — including foreign
  * encodings with dictionary-reference scalars (ids 17/18), which
  * materialize on decode — then the merged tree re-encodes through the
  * canonical writer, so output bytes are canonical regardless of input
  * encoding (same guarantee as `variant_from_json`).
  *
  * Reference anchor: the codec surface this builds on is
  * arrow-open-variant's read/write layer (read.rs:113-279,
  * write.rs:197-279); the reference has no merge operator — parity
  * extension, like `variant_to_json`.
  */
case class VariantMergePatch(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryCodegen {

  import VariantMergePatch._

  override def dataType: DataType = VariantSchema.TYPE
  override def nullable: Boolean = true
  override def prettyName: String = "variant_merge_patch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (VariantSchema.isVariantStruct(left.dataType) &&
        VariantSchema.isVariantStruct(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"variant_merge_patch expects two variant structs, got: " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  // Catalyst duplicates a merge referenced by several aggregate/group
  // expressions into each of them (the same duplication the parse memo
  // absorbs for variant_from_json, JsonPathExtract.scala) — a content-
  // keyed last-input memo collapses the copies to one merge per row.
  @transient private lazy val lastMerge: ThreadLocal[Array[AnyRef]] =
    ThreadLocal.withInitial(() => new Array[AnyRef](5))

  override def nullSafeEval(l: Any, r: Any): Any = {
    val lr = l.asInstanceOf[InternalRow]
    val rr = r.asInstanceOf[InternalRow]
    val tm = lr.getBinary(0); val tv = lr.getBinary(1)
    val pm = rr.getBinary(0); val pv = rr.getBinary(1)
    val memo = lastMerge.get()
    if (memo(0) != null &&
        java.util.Arrays.equals(memo(0).asInstanceOf[Array[Byte]], tm) &&
        java.util.Arrays.equals(memo(1).asInstanceOf[Array[Byte]], tv) &&
        java.util.Arrays.equals(memo(2).asInstanceOf[Array[Byte]], pm) &&
        java.util.Arrays.equals(memo(3).asInstanceOf[Array[Byte]], pv)) {
      return memo(4)
    }
    val merged = encode(merge(decode(tm, tv), decode(pm, pv)))
    memo(0) = tm.clone(); memo(1) = tv.clone()
    memo(2) = pm.clone(); memo(3) = pv.clone()
    memo(4) = merged
    merged
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `variant_strip_keys(v, keys)` — project named TOP-LEVEL keys OUT of a
  * variant object: the semi-structured twin of dropping columns, and the
  * PII-scrubbing primitive for variant pipelines (`d_pii_redact` does it
  * for text; this does it structurally, no JSON round trip). Non-object
  * variants pass through unchanged — stripping keys from a scalar or
  * array is a no-op, not an error (mirrors SQL's forgiving semantics for
  * `json_merge_patch(v, '{"k":null}')`, which is the textbook way to
  * delete a key and the semantics DuckDB applies). Output re-encodes
  * through the canonical writer, so equal content ⇒ equal bytes,
  * whatever the input encoding.
  */
case class VariantStripKeys(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryCodegen {

  import VariantMergePatch._

  override def dataType: DataType = VariantSchema.TYPE
  override def nullable: Boolean = true
  override def prettyName: String = "variant_strip_keys"

  override def checkInputDataTypes(): TypeCheckResult =
    (VariantSchema.isVariantStruct(left.dataType), right.dataType) match {
      case (true, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"variant_strip_keys expects (variant, array<string>), got: " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val lr = l.asInstanceOf[InternalRow]
    val keys = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    decode(lr.getBinary(0), lr.getBinary(1)) match {
      case VObj(fields) =>
        val out = fields.clone()
        var i = 0
        while (i < keys.numElements()) {
          if (!keys.isNullAt(i)) out.remove(keys.getUTF8String(i).toString)
          i += 1
        }
        encode(VObj(out))
      case other => encode(other) // non-object: value unchanged, but
                                  // re-encoded so the canonical-bytes
                                  // guarantee holds for every input
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `variant_diff(a, b)` — structural diff as an RFC 7386 merge patch:
  * the minimal patch `p` with `variant_merge_patch(a, p) ≡ b` (see
  * [[VariantMergePatch.diff]] for the two RFC-inherent caveats:
  * null-valued fields of `b` are unreachable by ANY patch, and
  * non-object endpoints replace wholesale). The CDC primitive for
  * semi-structured columns: store `diff(yesterday, today)` instead of
  * `today`, re-apply with merge_patch. Output re-encodes through the
  * canonical writer — equal diffs have equal bytes.
  *
  * Reference anchor: like variant_merge_patch, a parity extension on
  * top of arrow-open-variant's codec surface (read.rs:113-279,
  * write.rs:197-279); the reference has no structural-diff operator.
  */
case class VariantDiff(left: Expression, right: Expression)
    extends BinaryExpression with GraftBinaryCodegen {

  import VariantMergePatch._

  override def dataType: DataType = VariantSchema.TYPE
  override def nullable: Boolean = true
  override def prettyName: String = "variant_diff"

  override def checkInputDataTypes(): TypeCheckResult =
    if (VariantSchema.isVariantStruct(left.dataType) &&
        VariantSchema.isVariantStruct(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"variant_diff expects two variant structs, got: " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val lr = l.asInstanceOf[InternalRow]
    val rr = r.asInstanceOf[InternalRow]
    encode(diff(
      decode(lr.getBinary(0), lr.getBinary(1)),
      decode(rr.getBinary(0), rr.getBinary(1))))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused `variant_merge_patch(variant_from_json(t), variant_from_json(p))`
  * — both documents go straight into the decoded value tree
  * ([[VariantMergePatch.docToVNode]]: byte walk, else the codec's parse)
  * and the merged tree encodes ONCE, so the unfused chain's per-row
  * intermediate work (2 variant encodes + 2 decodes) disappears on every
  * row the byte walk takes. Installed by [[VariantGetFusionRule]]; the
  * unfused pair stays the semantic reference and the fusion parity is
  * pinned by VariantMergeFuzzSpec.
  *
  * Semantics match the unfused chain exactly:
  *  - top-level JSON `null` parses to SQL NULL (JsonCodec's SQL-null
  *    rule), and a NULL on either side makes the merge NULL;
  *  - parse failure throws (variant_from_json) or nulls the result
  *    (try_variant_from_json), each side per its own flag, left first —
  *    the unfused children evaluate left-to-right, and the right one not
  *    at all after a SQL-null left;
  *  - every parse error is the codec's own (the byte walk declines any
  *    doubtful row and the codec re-parses it);
  *  - duplicate keys inside one document collapse to the LAST value at
  *    the FIRST position — byte-for-byte what decode()'s LinkedHashMap
  *    does to the encoder's kept-both fields.
  */
case class JsonMergePatchFused(left: Expression, right: Expression,
                               failLeft: Boolean, failRight: Boolean)
    extends BinaryExpression with GraftBinaryCodegen {

  import VariantMergePatch._

  override def dataType: DataType = VariantSchema.TYPE
  override def nullable: Boolean = true
  override def prettyName: String = "variant_merge_patch_fused"

  // Same duplication-absorbing memo as the unfused expression: Catalyst
  // copies the merge into every aggregate/group expression referencing
  // it; content-keyed last-input memoization collapses the copies to one
  // parse+merge+encode per row. Slot 2 holds the result; NULL_RESULT
  // disambiguates a memoized SQL-null from a cold memo.
  @transient private lazy val lastMerge: ThreadLocal[Array[AnyRef]] =
    ThreadLocal.withInitial(() => new Array[AnyRef](3))

  override def nullSafeEval(l: Any, r: Any): Any = {
    val tb = JsonFused.toBytes(l)
    val pb = JsonFused.toBytes(r)
    val memo = lastMerge.get()
    if (memo(0) != null &&
        java.util.Arrays.equals(memo(0).asInstanceOf[Array[Byte]], tb) &&
        java.util.Arrays.equals(memo(1).asInstanceOf[Array[Byte]], pb)) {
      return if (memo(2) eq JsonMergePatchFused.NULL_RESULT) null else memo(2)
    }
    val t = JsonMergePatchFused.parseSide(tb, failLeft)
    val p = JsonMergePatchFused.parseRight(t, pb, failRight)
    val merged: AnyRef =
      if (JsonMergePatchFused.isNull(p)) null
      else encode(merge(t.asInstanceOf[VNode], p.asInstanceOf[VNode]))
    memo(0) = tb.clone(); memo(1) = pb.clone()
    memo(2) = if (merged == null) JsonMergePatchFused.NULL_RESULT else merged
    merged
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JsonMergePatchFused {
  /** Memoized-SQL-null marker (never escapes the memo). */
  private[functions] val NULL_RESULT: AnyRef = new Object
  /** try_-side parse-failure marker (never escapes nullSafeEval). */
  private[functions] val FAILED: AnyRef = new Object

  /** One parsed side of a fused form: its tree, Scala null for a
    * top-level JSON null, or [[FAILED]] when the parse fails and the
    * side is a `try_` parse — `VariantFromJson`'s error mapping. */
  private[functions] def parseSide(utf8: Array[Byte], failOnError: Boolean): AnyRef =
    try VariantMergePatch.docToVNode(utf8)
    catch { case _: Exception if !failOnError => FAILED }

  /** The right side of a two-parse form, parsed only when the left one
    * gave a tree: the unfused binary expression never evaluates its
    * right child after a SQL-null left, so a bad right document cannot
    * raise there. */
  private[functions] def parseRight(left: AnyRef, utf8: Array[Byte], failOnError: Boolean): AnyRef =
    if (isNull(left)) left else parseSide(utf8, failOnError)

  /** The side is SQL NULL: a top-level JSON null or a failed `try_` parse. */
  private[functions] def isNull(side: AnyRef): Boolean = side == null || (side eq FAILED)
}

/** Fused `variant_diff(variant_from_json(a), variant_from_json(b))` —
  * both documents go straight into the value tree (byte walk, else the
  * codec's parse) and the minimal RFC 7386 patch encodes ONCE — mirror
  * of [[JsonMergePatchFused]] for the diff direction.
  * Installed by [[VariantGetFusionRule]]; fused ≡ unfused parity is
  * pinned in VariantMergeFuzzSpec.
  */
case class JsonDiffFused(left: Expression, right: Expression,
                         failLeft: Boolean, failRight: Boolean)
    extends BinaryExpression with GraftBinaryCodegen {

  import VariantMergePatch._

  override def dataType: DataType = VariantSchema.TYPE
  override def nullable: Boolean = true
  override def prettyName: String = "variant_diff_fused"

  @transient private lazy val lastDiff: ThreadLocal[Array[AnyRef]] =
    ThreadLocal.withInitial(() => new Array[AnyRef](3))

  override def nullSafeEval(l: Any, r: Any): Any = {
    val ab = JsonFused.toBytes(l)
    val bb = JsonFused.toBytes(r)
    val memo = lastDiff.get()
    if (memo(0) != null &&
        java.util.Arrays.equals(memo(0).asInstanceOf[Array[Byte]], ab) &&
        java.util.Arrays.equals(memo(1).asInstanceOf[Array[Byte]], bb)) {
      return if (memo(2) eq JsonMergePatchFused.NULL_RESULT) null else memo(2)
    }
    val a = JsonMergePatchFused.parseSide(ab, failLeft)
    val b = JsonMergePatchFused.parseRight(a, bb, failRight)
    val out: AnyRef =
      if (JsonMergePatchFused.isNull(b)) null
      else encode(diff(a.asInstanceOf[VNode], b.asInstanceOf[VNode]))
    memo(0) = ab.clone(); memo(1) = bb.clone()
    memo(2) = if (out == null) JsonMergePatchFused.NULL_RESULT else out
    out
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused `variant_strip_keys(variant_from_json(j), keys)` — the JSON
  * document goes straight into the value tree (byte walk, else the
  * codec's parse; same contract as JsonMergePatchFused), the
  * named top-level keys drop from the tree, and the result encodes
  * ONCE — the unfused chain's intermediate variant encode+decode
  * disappears. Installed by [[VariantGetFusionRule]]; semantics match
  * the unfused pair exactly (top-level JSON null → SQL NULL; parse
  * failure throws or nulls per the from_json flag; non-objects
  * re-encode unchanged, canonical bytes either way).
  */
case class JsonStripKeysFused(left: Expression, right: Expression, failFast: Boolean)
    extends BinaryExpression with GraftBinaryCodegen {

  import VariantMergePatch._

  override def dataType: DataType = VariantSchema.TYPE
  override def nullable: Boolean = true
  override def prettyName: String = "variant_strip_keys_fused"

  // same duplication-absorbing memo as the merge fusion: Catalyst copies
  // the strip into every consumer expression; last-input memoization
  // collapses the copies to one parse+strip+encode per row. The key set
  // is compared by CONTENT (a snapshot Array[String], like the merge
  // fusion's byte copy) — an ArrayData instance can be reused with
  // mutated contents across rows, so reference identity is not a safe
  // memo key even though the keys are almost always a literal.
  @transient private lazy val lastStrip: ThreadLocal[Array[AnyRef]] =
    ThreadLocal.withInitial(() => new Array[AnyRef](3))

  private def keySnapshot(
      keys: org.apache.spark.sql.catalyst.util.ArrayData): Array[String] = {
    val out = new Array[String](keys.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = if (keys.isNullAt(i)) null else keys.getUTF8String(i).toString
      i += 1
    }
    out
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val tb = JsonFused.toBytes(l)
    val keys = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val keyArr = keySnapshot(keys)
    val memo = lastStrip.get()
    if (memo(0) != null &&
        java.util.Arrays.equals(
          memo(1).asInstanceOf[Array[String]].asInstanceOf[Array[AnyRef]],
          keyArr.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.equals(memo(0).asInstanceOf[Array[Byte]], tb)) {
      return if (memo(2) eq JsonMergePatchFused.NULL_RESULT) null else memo(2)
    }
    val t = JsonMergePatchFused.parseSide(tb, failFast)
    val out: AnyRef =
      if (JsonMergePatchFused.isNull(t)) null
      else t.asInstanceOf[VNode] match {
        case VObj(fields) =>
          val kept = fields.clone()
          var i = 0
          while (i < keyArr.length) {
            if (keyArr(i) != null) kept.remove(keyArr(i))
            i += 1
          }
          encode(VObj(kept))
        case other => encode(other)
      }
    memo(0) = tb.clone(); memo(1) = keyArr
    memo(2) = if (out == null) JsonMergePatchFused.NULL_RESULT else out
    out
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VariantMergePatch {
  import VariantConst._

  /** Decoded variant value tree. Scalars materialize fully (dictionary
    * references resolve on decode), so re-encoding never needs the
    * source metadata.
    */
  sealed trait VNode
  case object VNull extends VNode
  final case class VBool(b: Boolean) extends VNode
  final case class VLong(l: Long) extends VNode
  final case class VDouble(d: Double) extends VNode
  final case class VFloat(f: Float) extends VNode
  final case class VDecimal(unscaled: java.math.BigInteger, scale: Int) extends VNode
  final case class VStr(s: String) extends VNode
  final case class VBin(b: Array[Byte]) extends VNode
  final case class VDate(days: Int) extends VNode
  final case class VTs(micros: Long) extends VNode
  final case class VTsNtz(micros: Long) extends VNode
  final case class VArr(items: Vector[VNode]) extends VNode
  // insertion-ordered; canonical encoding sorts by key at write time
  final case class VObj(fields: scala.collection.mutable.LinkedHashMap[String, VNode]) extends VNode

  def decode(metaBytes: Array[Byte], valueBytes: Array[Byte]): VNode = {
    val meta = new MetadataView(metaBytes, 0)
    decodeValue(new VariantView(valueBytes, 0), meta)
  }

  /** Parse a whole JSON document straight into the value tree — the
    * fused path's replacement for parse→encode→decode. Returns Scala
    * null for a top-level JSON `null` (the SQL-null rule, JsonCodec
    * fromJsonBytes). Byte walk first; a row it declines (escaped keys,
    * integers ≥ 2^127, any malformed input) is the codec's own parse,
    * decoded — so every error, and the tree of every row the walk
    * declines, is exactly the unfused pipeline's.
    */
  def docToVNode(utf8: Array[Byte]): VNode =
    try fastDocToVNode(utf8)
    catch {
      case graft.variant.FastJsonLex.Miss =>
        val pair = VariantJsonCodec.fromJsonBytes(utf8, 0, utf8.length)
        if (pair == null) null else decode(pair._1, pair._2)
    }

  private def fastDocToVNode(utf8: Array[Byte]): VNode = {
    import graft.variant.{FastJsonLex => L}
    val c = new L.Cursor(utf8, 0, utf8.length)
    c.skipWs()
    if (c.i >= c.end) throw L.Miss // empty: the codec's error
    val v =
      if ((c.peek & 0xff) == 'n') { L.literal(c, "null"); null } // top-level null rule
      else fastVNode(c, 0)
    c.skipWs()
    if (c.i != c.end) throw L.Miss // trailing: the codec's error
    v
  }

  private def fastVNode(c: graft.variant.FastJsonLex.Cursor, depth: Int): VNode = {
    import graft.variant.{FastJsonLex => L}
    val b = c.b
    (c.peek & 0xff) match {
      case 'n' => L.literal(c, "null"); VNull
      case 't' => L.literal(c, "true"); VBool(true)
      case 'f' => L.literal(c, "false"); VBool(false)
      case '"' =>
        c.i += 1
        val close = L.scanSimpleString(c)
        if (close >= 0) {
          val s = new String(b, c.i, close - c.i, java.nio.charset.StandardCharsets.UTF_8)
          c.i = close + 1
          VStr(s)
        } else {
          val scratch = new graft.variant.ByteBuf(32)
          L.unescapeString(c, scratch)
          VStr(new String(scratch.rawBytes, 0, scratch.length,
            java.nio.charset.StandardCharsets.UTF_8))
        }
      case '[' =>
        L.openContainer(depth)
        c.i += 1
        val out = Vector.newBuilder[VNode]
        c.skipWs()
        if (c.i < c.end && b(c.i) == ']') c.i += 1
        else {
          var more = true
          while (more) {
            c.skipWs()
            out += fastVNode(c, depth + 1)
            c.skipWs()
            (c.peek & 0xff) match {
              case ',' => c.i += 1
              case ']' => c.i += 1; more = false
              case _ => throw L.Miss
            }
          }
        }
        VArr(out.result())
      case '{' =>
        L.openContainer(depth)
        c.i += 1
        val out = new scala.collection.mutable.LinkedHashMap[String, VNode]
        c.skipWs()
        if (c.i < c.end && b(c.i) == '}') c.i += 1
        else {
          var more = true
          while (more) {
            c.skipWs()
            c.expect('"')
            val close = L.scanSimpleString(c)
            if (close < 0) throw L.Miss // escaped key: the codec's parse
            L.checkName(close - c.i)
            val key = new String(b, c.i, close - c.i,
              java.nio.charset.StandardCharsets.UTF_8)
            c.i = close + 1
            c.skipWs()
            c.expect(':')
            c.skipWs()
            out.put(key, fastVNode(c, depth + 1)) // last dup wins, like the tree
            c.skipWs()
            (c.peek & 0xff) match {
              case ',' => c.i += 1
              case '}' => c.i += 1; more = false
              case _ => throw L.Miss
            }
          }
        }
        VObj(out)
      case x if x == '-' || (x >= '0' && x <= '9') =>
        // the codec's coercions: 63-bit ints → long, below 2^127 →
        // decimal scale 0; `integer` misses at 2^127 (the codec's error)
        val start = c.i
        if (L.scanNumber(c)) {
          val big = L.integer(c, start)
          if (big == null) VLong(c.longValue) else VDecimal(big, 0)
        } else VDouble(java.lang.Double.parseDouble(new String(b, start,
          c.i - start, java.nio.charset.StandardCharsets.US_ASCII)))
      case _ => throw L.Miss
    }
  }

  private def decodeValue(v: VariantView, meta: MetadataView): VNode = {
    if (v.isObject) {
      val ov = v.getObject
      val out = new scala.collection.mutable.LinkedHashMap[String, VNode]
      var i = 0
      while (i < ov.numElements) {
        out.put(meta.getKey(ov.fieldIdAt(i)), decodeValue(ov.valueAt(i), meta))
        i += 1
      }
      VObj(out)
    } else if (v.isArray) {
      val av = v.getArray
      val b = Vector.newBuilder[VNode]
      var i = 0
      while (i < av.numElements) { b += decodeValue(av.elementAt(i), meta); i += 1 }
      VArr(b.result())
    } else if (v.isNull) VNull
    else if (v.isBoolean) VBool(v.getBoolean)
    else if (v.isLong) VLong(v.getLong)
    else if (v.isDictString) VStr(v.getDictKey(meta))
    else if (v.isDictBinary)
      // dictionary-referenced binary round-trips through the metadata
      // string table (UTF-8) — same fidelity as the table itself
      VBin(v.getDictKey(meta).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    else if (v.isString) VStr(v.getString)
    else if (v.isBinary) VBin(v.getBinary)
    else if (v.isDecimal) { val d = v.getDecimal; VDecimal(d.unscaledValue(), d.scale()) }
    else v.typeInfo match {
      case P_DOUBLE => VDouble(v.getDouble)
      case P_FLOAT => VFloat(v.getDouble.toFloat)
      case P_DATE => VDate(v.getDateDays)
      case P_TIMESTAMP => VTs(v.getTimestampMicros)
      case P_TIMESTAMP_NTZ => VTsNtz(v.getTimestampMicros)
      case t => throw new IllegalArgumentException(s"variant_merge_patch: unsupported type id $t")
    }
  }

  /** RFC 7386 §2: recursive object merge; patch null deletes; non-object
    * patch replaces. */
  def merge(target: VNode, patch: VNode): VNode = patch match {
    case VObj(pf) =>
      val base = target match {
        case VObj(tf) => tf.clone()
        case _ => new scala.collection.mutable.LinkedHashMap[String, VNode]
      }
      pf.foreach { case (k, pv) =>
        if (pv == VNull) base.remove(k)
        else base.put(k, merge(base.getOrElse(k, VNull), pv))
      }
      VObj(base)
    case other => other
  }

  /** Structural value equality for diffing. Case-class `==` is almost
    * right; the exceptions are byte arrays (reference equality) and the
    * wish for key-order-INSENSITIVE object comparison (canonical
    * encoding sorts keys at write time, so insertion order is not
    * identity). Scalar equality is strict on type AND value — a VLong 1
    * and a VDouble 1.0 differ, matching byte-level canonical identity.
    */
  def nodeEq(a: VNode, b: VNode): Boolean = (a, b) match {
    case (VBin(x), VBin(y)) => java.util.Arrays.equals(x, y)
    case (VArr(x), VArr(y)) =>
      x.length == y.length && x.indices.forall(i => nodeEq(x(i), y(i)))
    case (VObj(x), VObj(y)) =>
      x.size == y.size && x.forall { case (k, v) => y.get(k).exists(nodeEq(v, _)) }
    case _ => a == b
  }

  /** The INVERSE of [[merge]]: the minimal RFC 7386 patch `p` with
    * `merge(a, p) == b` — up to the two gaps RFC 7386 itself has:
    *
    *  - an explicit JSON-null FIELD VALUE in `b` is unreachable (a null
    *    in a patch always means delete), so the roundtrip target is `b`
    *    with null-valued object fields recursively stripped (stopping
    *    at arrays, which merge wholesale) — exactly what `merge` itself
    *    produces from any patch carrying that subtree. A null-valued
    *    key of `b` therefore emits a DELETE when `a` has the key and is
    *    omitted when it doesn't (VariantDiffSpec pins the stripped-b
    *    roundtrip on all 300 fuzz pairs);
    *  - a non-object on EITHER side admits only wholesale replacement
    *    (there is no object no-op patch for a scalar target: merging
    *    `{}` onto a scalar yields `{}`), so the diff is `b` itself.
    *
    * Within objects: unchanged keys are omitted, object-vs-object
    * children recurse (and are omitted when the sub-diff is empty),
    * anything else that changed is replaced by `b`'s value, and keys of
    * `a` missing from `b` map to null (delete).
    */
  def diff(a: VNode, b: VNode): VNode = (a, b) match {
    case (VObj(af), VObj(bf)) =>
      val out = new scala.collection.mutable.LinkedHashMap[String, VNode]
      bf.foreach { case (k, bv) =>
        if (bv == VNull) {
          // explicit-null field of b is unreachable as a VALUE (a null
          // patch entry always means delete) — the roundtrip target
          // strips it, so if a HAS the key, delete it; if not, no-op
          if (af.contains(k)) out.put(k, VNull)
        } else {
          af.get(k) match {
            case Some(av) if nodeEq(av, bv) => ()
            case Some(av @ VObj(_)) if bv.isInstanceOf[VObj] =>
              diff(av, bv) match {
                case VObj(sub) if sub.isEmpty => () // equal up to unreachable nulls
                case sub => out.put(k, sub)
              }
            case _ => out.put(k, bv) // added, or changed (incl. type change)
          }
        }
      }
      af.keysIterator.foreach { k => if (!bf.contains(k)) out.put(k, VNull) }
      VObj(out)
    case _ => b
  }

  private def collectKeys(n: VNode, out: java.util.ArrayList[String]): Unit = n match {
    case VObj(fields) =>
      fields.foreach { case (k, v) => out.add(k); collectKeys(v, out) }
    case VArr(items) => items.foreach(collectKeys(_, out))
    case _ => ()
  }

  def encode(n: VNode): InternalRow = {
    val keys = new java.util.ArrayList[String]()
    collectKeys(n, keys)
    val (metaBytes, ids) = VariantMetadata.build(keys)
    val buf = new ByteBuf(64)
    write(n, buf, ids)
    new GenericInternalRow(Array[Any](metaBytes, buf.result()))
  }

  private def write(n: VNode, buf: ByteBuf,
                    ids: java.util.HashMap[String, Integer]): Unit = n match {
    case VNull => VariantWriter.writeNull(buf)
    case VBool(b) => VariantWriter.writeBoolean(buf, b)
    case VLong(l) => VariantWriter.writeLong(buf, l)
    case VDouble(d) => VariantWriter.writeDouble(buf, d)
    case VFloat(f) => VariantWriter.writeFloat(buf, f)
    case VDecimal(u, s) => VariantWriter.writeDecimal(buf, u, s)
    case VStr(s) => VariantWriter.writeString(buf, s)
    case VBin(b) => VariantWriter.writeBinary(buf, b)
    case VDate(d) => VariantWriter.writeDate(buf, d)
    case VTs(m) => VariantWriter.writeTimestamp(buf, m)
    case VTsNtz(m) => VariantWriter.writeTimestampNtz(buf, m)
    case VArr(items) =>
      val ab = new VariantArrayBuilder(buf)
      items.foreach(it => write(it, ab.elementBuffer(), ids))
      ab.finish()
    case VObj(fields) =>
      val ob = new VariantObjectBuilder(buf)
      fields.foreach { case (k, v) => write(v, ob.fieldBuffer(ids.get(k)), ids) }
      ob.finish()
  }
}
