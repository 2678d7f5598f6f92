package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.variant._

/** One structural edit of a variant value tree — `variant_merge_patch`,
  * `variant_diff` or `variant_strip_keys` ([[VariantEdit.Edit]]) — over
  * two operands. Each tree operand ([[VariantEdit.Side]]) is a variant
  * struct, decoded through the View layer (dictionary-reference scalars,
  * ids 17/18, materialize on decode), or raw JSON parsed straight into
  * the tree ([[VariantMergePatch.docToVNode]]) with its own parse mode.
  * Strip's right operand is a key list. The edited tree encodes once
  * through the canonical writer, so output bytes are canonical whatever
  * the input encoding (the guarantee `variant_from_json` gives).
  *
  * The JSON operands are what [[VariantGetFusionRule]] installs in place
  * of a `variant_from_json` child: the unfused chain's per-row
  * intermediate encode + decode disappears, and the plan name gains
  * `_fused`. Semantics equal the unfused chain (VariantMergeFuzzSpec):
  *  - the left operand is parsed first, and the right one is not even
  *    evaluated after a SQL-null left tree, as a binary expression skips
  *    its right child after the unfused left parse's SQL NULL;
  *  - a top-level JSON `null` is SQL NULL (the codec's SQL-null rule),
  *    and so is a failed `try_` parse, per side;
  *  - every parse error is the codec's own (the byte walk declines any
  *    doubtful row and the codec re-parses it);
  *  - a duplicate key inside one document keeps the LAST value at the
  *    FIRST position, as decode()'s LinkedHashMap does to the encoder's
  *    kept-both fields.
  *
  * Reference anchor: the codec surface this builds on is
  * arrow-open-variant's read/write layer (read.rs:113-279,
  * write.rs:197-279); the reference has no merge, diff or strip operator
  * — parity extensions, like `variant_to_json`.
  */
case class VariantEdit(
    edit: VariantEdit.Edit,
    left: Expression,
    right: Expression,
    leftSide: VariantEdit.Side,
    rightSide: VariantEdit.Side)
    extends BinaryExpression with GraftBinaryCodegen {

  import VariantEdit._
  import VariantMergePatch._

  override def dataType: DataType = VariantSchema.TYPE
  override def nullable: Boolean = true
  override def prettyName: String =
    if (leftSide.isInstanceOf[Side.Json] || rightSide.isInstanceOf[Side.Json])
      edit.prettyName + "_fused"
    else edit.prettyName

  override def checkInputDataTypes(): TypeCheckResult =
    if (leftSide != Side.Keys && (rightSide == Side.Keys) == (edit == Strip) &&
        leftSide.accepts(left.dataType) && rightSide.accepts(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (${leftSide.describe}, ${rightSide.describe}), got: " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  private def jsonLeft: Boolean = leftSide.isInstanceOf[Side.Json]

  // A JSON left side is parsed before the right operand is evaluated, so
  // a left document whose tree is SQL NULL skips the right operand, as
  // the unfused plan's null parse does.
  override def eval(input: InternalRow): Any =
    if (!jsonLeft) super.eval(input)
    else {
      val l = left.eval(input)
      val read = if (l == null) null else readLeft(l)
      val r = if (read == null) null else right.eval(input)
      if (r == null) null else editRead(read, r)
    }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!jsonLeft) super.doGenCode(ctx, ev)
    else {
      val ref = ctx.addReferenceObj("graftExpr", this, getClass.getName)
      val (l, r) = (left.genCode(ctx), right.genCode(ctx))
      val (read, res) = (ctx.freshName("leftRead"), ctx.freshName("graftRes"))
      ev.copy(code = code"""
        |${l.code}
        |Object[] $read = ${l.isNull} ? null : $ref.readLeft(${l.value});
        |Object $res = null;
        |if ($read != null) {
        |  ${r.code}
        |  if (!${r.isNull}) $res = $ref.editRead($read, ${r.value});
        |}
        |boolean ${ev.isNull} = $res == null;
        |InternalRow ${ev.value} = (InternalRow) $res;
        """.stripMargin)
    }

  /** The left operand's memo parts and tree, or null for a SQL-null tree. */
  def readLeft(l: Any): Array[AnyRef] = {
    val lp = leftSide.parts(l)
    val lt = leftSide.read(lp)
    if (lt == null) null else Array[AnyRef](lp, lt)
  }

  /** The edit of a [[readLeft]] result and the right operand. */
  def editRead(read: Array[AnyRef], r: Any): Any =
    edited(read(0).asInstanceOf[Array[AnyRef]], read(1), r)

  override def nullSafeEval(l: Any, r: Any): Any = edited(leftSide.parts(l), null, r)

  /** The memoized edit of the left parts `lp` (with their tree `lt` once
    * read) and the right operand `r`. */
  private def edited(lp: Array[AnyRef], lt: AnyRef, r: Any): Any = {
    val rp = rightSide.parts(r)
    val key = Array[AnyRef](edit, leftSide, rightSide, lp, rp)
    val memo = lastEdit.get()
    if (java.util.Arrays.deepEquals(memo(0).asInstanceOf[Array[AnyRef]], key)) {
      return if (memo(1) eq NULL_RESULT) null else memo(1)
    }
    val l = (if (lt != null) lt else leftSide.read(lp)).asInstanceOf[VNode]
    val rt = if (l == null) null else rightSide.read(rp)
    val out = if (rt == null) null else encode(edit(l, rt))
    memo(0) = snapshot(key)
    memo(1) = if (out == null) NULL_RESULT else out
    out
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VariantEdit {
  import VariantMergePatch._

  /** The unfused form: variant operands, and the key list for strip. */
  def apply(edit: Edit, left: Expression, right: Expression): VariantEdit =
    VariantEdit(edit, left, right, Side.Variant, if (edit == Strip) Side.Keys else Side.Variant)

  /** A tree combine and its plan name. Serializable itself, not only
    * through its case objects: Java deserialization needs the first
    * non-serializable superclass to have a no-argument constructor. */
  sealed abstract class Edit(val prettyName: String) extends Serializable {
    /** The edited tree; `r` is the right operand as its side reads it. */
    def apply(l: VNode, r: AnyRef): VNode
  }

  /** `variant_merge_patch(target, patch)`: RFC 7386 merge patch — object
    * fields merge recursively, a `null` in the patch DELETES the key,
    * and any non-object patch value replaces the target wholesale. */
  case object Merge extends Edit("variant_merge_patch") {
    def apply(l: VNode, r: AnyRef): VNode = merge(l, r.asInstanceOf[VNode])
  }

  /** `variant_diff(a, b)`: the minimal RFC 7386 patch `p` with
    * `variant_merge_patch(a, p) ≡ b` (see [[VariantMergePatch.diff]] for
    * the two RFC-inherent caveats) — the CDC primitive for
    * semi-structured columns: store `diff(yesterday, today)`, re-apply
    * with merge_patch. */
  case object Diff extends Edit("variant_diff") {
    def apply(l: VNode, r: AnyRef): VNode = diff(l, r.asInstanceOf[VNode])
  }

  /** `variant_strip_keys(v, keys)`: named TOP-LEVEL keys projected OUT of
    * an object — the semi-structured twin of dropping columns, and the
    * PII-scrubbing primitive for variant pipelines. A non-object passes
    * through unchanged (re-encoded, so the canonical-bytes guarantee
    * holds): DuckDB's `json_merge_patch(v, '{"k":null}')` semantics. */
  case object Strip extends Edit("variant_strip_keys") {
    def apply(l: VNode, r: AnyRef): VNode = l match {
      case VObj(fields) =>
        val kept = fields.clone()
        r.asInstanceOf[Array[AnyRef]].foreach(k => if (k != null) kept.remove(k.asInstanceOf[String]))
        VObj(kept)
      case other => other
    }
  }

  /** How an operand reaches the edit: `parts` is its content as the
    * memo compares it (byte arrays by content), `read` the tree, or the
    * key list, that the edit takes — Scala null for SQL NULL. */
  sealed abstract class Side(val describe: String) extends Serializable {
    def accepts(dt: DataType): Boolean
    def parts(in: Any): Array[AnyRef]
    def read(parts: Array[AnyRef]): AnyRef
  }

  object Side {
    /** A variant struct, decoded. */
    case object Variant extends Side("variant") {
      def accepts(dt: DataType): Boolean = VariantSchema.isVariantStruct(dt)
      def parts(in: Any): Array[AnyRef] = {
        val row = in.asInstanceOf[InternalRow]
        Array(row.getBinary(0), row.getBinary(1))
      }
      def read(p: Array[AnyRef]): AnyRef =
        decode(p(0).asInstanceOf[Array[Byte]], p(1).asInstanceOf[Array[Byte]])
    }

    /** Raw JSON text, parsed into the tree with `VariantFromJson`'s error
      * mapping: a failed parse throws, or is SQL NULL under `try_`. */
    final case class Json(failOnError: Boolean) extends Side("string/binary") {
      def accepts(dt: DataType): Boolean = dt == StringType || dt == BinaryType
      def parts(in: Any): Array[AnyRef] = Array(in.asInstanceOf[AnyRef])
      def read(p: Array[AnyRef]): AnyRef =
        try docToVNode(p(0))
        catch { case _: Exception if !failOnError => null }
    }

    /** Strip's key list; a null element names no key. */
    case object Keys extends Side("array<string>") {
      def accepts(dt: DataType): Boolean = dt match {
        case ArrayType(StringType, _) => true
        case _ => false
      }
      def parts(in: Any): Array[AnyRef] = {
        val keys = in.asInstanceOf[ArrayData]
        Array.tabulate[AnyRef](keys.numElements())(i =>
          if (keys.isNullAt(i)) null else keys.getUTF8String(i).toString)
      }
      def read(p: Array[AnyRef]): AnyRef = p
    }
  }

  /** Memoized-SQL-null marker (never escapes the memo). */
  private val NULL_RESULT: AnyRef = new Object

  /** Thread-local (key, result) of the last edit, shared across
    * expression INSTANCES: Catalyst copies an edit into every aggregate,
    * group or pushed-down filter expression that references it, and the
    * copies evaluate back-to-back on one thread per row. The key is the
    * edit, both side modes and both operands' contents, so one memo
    * serves every edit and mode. */
  private val lastEdit: ThreadLocal[Array[AnyRef]] =
    ThreadLocal.withInitial(() => new Array[AnyRef](2))

  /** A kept copy of a memo key: struct rows' bytes and JSON operands
    * (read in place) can be reused buffers; key names and modes are
    * immutable. */
  private def snapshot(key: Array[AnyRef]): Array[AnyRef] = key.map {
    case b: Array[Byte] => b.clone()
    case s: UTF8String => s.clone()
    case parts: Array[AnyRef] => snapshot(parts)
    case x => x
  }
}

/** The decoded value tree every [[VariantEdit]] works on: its JSON
  * reader, variant decoder, the merge and diff edits, and the canonical
  * encoder. */
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

  /** Parse a whole JSON document (string or binary) straight into the value tree — the
    * fused path's replacement for parse→encode→decode. Returns Scala
    * null for a top-level JSON `null` (the SQL-null rule, JsonCodec
    * fromJsonBytes). The one fused walk ([[JsonFused.walk]] at the root,
    * [[jsonTree]] as its consumer) first; a row it declines (escaped
    * keys, integers ≥ 2^127, any malformed input) is the codec's own
    * parse, decoded — so every error, and the tree of every row the walk
    * declines, is exactly the unfused pipeline's.
    */
  def docToVNode(input: Any): VNode = {
    val c = JsonFused.cursor(input)
    val off = c.i
    try JsonFused.walk(c, Array.empty, jsonTree).asInstanceOf[VNode]
    catch {
      case FastJsonLex.Miss =>
        val pair = VariantJsonCodec.fromJsonBytes(c.b, off, c.end - off)
        if (pair == null) null else decode(pair._1, pair._2)
    }
  }

  /** The JSON value at the cursor as a tree: containers walked here (a
    * duplicate key keeps the last value at the first position, as
    * decode() does), every scalar decoded from its
    * [[JsonFused.scalar]] encoding, so the codec's coercions hold. */
  private def jsonTree(c: FastJsonLex.Cursor, depth: Int): VNode = (c.peek & 0xff) match {
    case '[' =>
      val out = Vector.newBuilder[VNode]
      FastJsonLex.members(c, depth, (_, _, _) => { out += jsonTree(c, depth + 1); false })
      VArr(out.result())
    case '{' =>
      val out = new scala.collection.mutable.LinkedHashMap[String, VNode]
      FastJsonLex.members(c, depth, (_, off, len) => {
        out.put(new String(c.b, off, len, java.nio.charset.StandardCharsets.UTF_8), jsonTree(c, depth + 1))
        false
      })
      VObj(out)
    case _ => decodeValue(JsonFused.scalar(c), JsonFused.NoKeys)
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
      case t => throw new IllegalArgumentException(s"cannot decode variant: unsupported primitive type id $t")
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

  def encode(n: VNode): InternalRow = {
    val enc = VariantEncoder.get()
    write(n, enc)
    val (metaBytes, valueBytes) = enc.result()
    new GenericInternalRow(Array[Any](metaBytes, valueBytes))
  }

  private def write(n: VNode, enc: VariantEncoder): Unit = n match {
    case VNull => VariantWriter.writeNull(enc.buf)
    case VBool(b) => VariantWriter.writeBoolean(enc.buf, b)
    case VLong(l) => VariantWriter.writeLong(enc.buf, l)
    case VDouble(d) => VariantWriter.writeDouble(enc.buf, d)
    case VFloat(f) => VariantWriter.writeFloat(enc.buf, f)
    case VDecimal(u, s) => VariantWriter.writeDecimal(enc.buf, u, s)
    case VStr(s) => VariantWriter.writeString(enc.buf, s)
    case VBin(b) => VariantWriter.writeBinary(enc.buf, b)
    case VDate(d) => VariantWriter.writeDate(enc.buf, d)
    case VTs(m) => VariantWriter.writeTimestamp(enc.buf, m)
    case VTsNtz(m) => VariantWriter.writeTimestampNtz(enc.buf, m)
    case VArr(items) =>
      enc.beginArray()
      items.foreach(write(_, enc))
      enc.endArray()
    case VObj(fields) =>
      enc.beginObject()
      fields.foreach { case (k, v) => enc.key(k); write(v, enc) }
      enc.endObject()
  }
}
