package graft.functions

import graft.variant.{ByteBuf, FastJsonLex => L, MetadataView, PathStep, SchemaInfer, VariantEncoder, VariantMetadata, VariantView}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one fused byte walk behind every `<consumer>(variant_from_json(s))`
  * form ([[JsonPathExtract]], [[SchemaOfJsonAgg]], the value-tree reader
  * of a fused [[VariantEdit]]): navigate to a path,
  * hand the value there to a consumer, close out and validate the rest of
  * the document — no metadata build, no row encode, no decode. A scalar
  * there is written by the codec's own rule ([[L.scalar]]) into one
  * scratch buffer per thread and read through the variant reader's own
  * code ([[scalar]]); only containers have walkers of their own, whose
  * output the parity property tests in FusedPropertySpec pin
  * (dictionary-sorted key order included). Byte walk, else the codec's
  * parse: a row the walk declines is evaluated by the unfused pipeline
  * itself ([[JsonFused.evalUnfused]]), so the codec owns every error.
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

  /** The dictionary a [[scalar]] view reads against: a scalar names no key. */
  val NoKeys = new MetadataView(VariantMetadata.EMPTY, 0)

  private val scratch = ThreadLocal.withInitial[ByteBuf](() => new ByteBuf(64))

  /** The JSON scalar at the cursor, consumed and encoded by the codec's
    * rule into this thread's scratch buffer: a view valid until the
    * thread's next call, read against [[NoKeys]]. A container misses. */
  def scalar(c: L.Cursor): VariantView = {
    var buf = scratch.get()
    if (buf.rawBytes.length > VariantEncoder.MaxKept) { buf = new ByteBuf(64); scratch.set(buf) }
    buf.reset()
    L.scalar(c, buf)
    new VariantView(buf.rawBytes, 0)
  }

  /** A cursor over a string or binary input's bytes: an on-heap string
    * is read in place, not copied. */
  def cursor(input: Any): L.Cursor = input match {
    case s: UTF8String => s.getBaseObject match {
      case a: Array[Byte] =>
        val off = (s.getBaseOffset - org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt
        new L.Cursor(a, off, off + s.numBytes)
      case _ => val b = s.getBytes; new L.Cursor(b, 0, b.length)
    }
    case b: Array[Byte] => new L.Cursor(b, 0, b.length)
  }

  /** A row the walk declined, evaluated by the unfused plan the fused
    * form replaced: a chain of unary expressions over
    * `variant_from_json(s)`. The parse is the `VariantFromJson`
    * expression itself — same memo, same error mapping — and a SQL NULL
    * anywhere in the chain is the result, so fused and unfused agree by
    * construction on every such row.
    */
  def evalUnfused(unfused: Expression, input: Any): Any = unfused match {
    case parse: VariantFromJson => parse.evalChildValue(input)
    case e: UnaryExpression with GraftUnaryCodegen =>
      val in = evalUnfused(e.child, input)
      if (in == null) null else e.evalChildValue(in)
  }

  /** The walk: navigate `steps` from the document root, hand the value
    * there to `read` (with the count of containers around it), close out
    * the containers the navigation opened and reject trailing bytes. A
    * path that does not resolve reads SQL NULL, and so does a top-level
    * JSON null (the parse's SQL NULL). An error `read` raises other than
    * Miss (a cast error) is thrown only after the rest of the document
    * validates, so parse errors outrank it as in the unfused plan. Miss
    * on anything the lexer declines, empty input and wildcards included.
    */
  def walk(c: L.Cursor, steps: Array[PathStep], read: (L.Cursor, Int) => Any): Any = {
    c.skipWs()
    val isObj = new Array[Boolean](steps.length) // the containers opened
    var nOpen = 0
    var found = true
    var pending = true // the cursor sits on an unconsumed value
    while (found && nOpen < steps.length) {
      val depth = nOpen
      def skip(): Boolean = { L.skipValue(c, depth + 1); false }
      val hit: L.Visit = steps(depth) match {
        case k: PathStep.Key =>
          if ((c.peek & 0xff) != '{') null
          else (_, off, len) => L.sliceEq(c.b, off, len, k.utf8) || skip()
        case PathStep.Index(idx) =>
          if ((c.peek & 0xff) != '[') null else (i, _, _) => i == idx || skip()
        case _ => throw L.Miss // wildcards: the unfused plan raises
      }
      if (hit == null) found = false // a step into a scalar
      else if (L.members(c, depth, hit) >= 0) { found = false; pending = false }
      else { isObj(depth) = steps(depth).isInstanceOf[PathStep.Key]; nOpen += 1 }
    }
    var err: Exception = null
    val out =
      if (!found) { if (pending) L.skipValue(c, nOpen); null }
      else if (steps.isEmpty && (c.peek & 0xff) == 'n') { L.literal(c, "null"); null }
      else try read(c, nOpen) catch { case e: Exception if e ne L.Miss => err = e; null }
    var lvl = nOpen - 1
    while (lvl >= 0) {
      c.skipWs()
      var closed = false
      while (!closed) {
        (c.peek & 0xff) match {
          case ',' =>
            c.i += 1
            c.skipWs()
            if (isObj(lvl)) {
              c.expect('"'); L.skipName(c)
              c.skipWs(); c.expect(':'); c.skipWs()
            }
            L.skipValue(c, lvl + 1)
            c.skipWs()
          case '}' if isObj(lvl) => c.i += 1; closed = true
          case ']' if !isObj(lvl) => c.i += 1; closed = true
          case _ => throw L.Miss
        }
      }
      lvl -= 1
    }
    c.skipWs()
    if (c.i != c.end) throw L.Miss // trailing bytes: the unfused parse's error
    if (err != null) throw err
    out
  }

  /** Schema-lattice inference straight off the bytes — the fused
    * equivalent of encode-then-`SchemaInfer.infer`: containers are
    * walked here (duplicate object keys overwrite in arrival order, as
    * `infer`'s TreeMap insert does over the encoding), every scalar is
    * `infer` of its [[scalar]] encoding. */
  def fastInferSchema(c: L.Cursor, depth: Int): SchemaInfer.SType = {
    import SchemaInfer._
    (c.peek & 0xff) match {
      case '[' =>
        var elem: SType = SNull
        L.members(c, depth, (_, _, _) => { elem = merge(elem, fastInferSchema(c, depth + 1)); false })
        SArray(elem)
      case '{' =>
        var fields = scala.collection.immutable.TreeMap.empty[String, SType]
        L.members(c, depth, (_, off, len) => {
          // last dup wins
          fields += (new String(c.b, off, len, java.nio.charset.StandardCharsets.UTF_8) ->
            fastInferSchema(c, depth + 1))
          false
        })
        SObject(fields)
      case _ => infer(NoKeys, scalar(c))
    }
  }
}

/** `schema_of_variant_agg(variant_from_json(s))` fused: the lattice
  * merge runs directly on each row's bytes through the one fused walk
  * (root path, [[JsonFused.fastInferSchema]] as its consumer) — no
  * metadata build, no variant encode, no decode walk. Buffer, merge, and
  * wire form are [[SchemaLatticeAgg]]'s, as for [[SchemaOfVariantAgg]],
  * so partial aggregation and the serialized-schema consumers
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
    inputAggBufferOffset: Int = 0) extends SchemaLatticeAgg {

  override def prettyName: String = "schema_of_json_agg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"schema_of_json_agg expects string/binary, got: ${other.simpleString}")
  }

  @transient private lazy val unfused = SchemaOfVariantAgg(VariantFromJson(child, parseFailOnError))

  override def update(buffer: SchemaInfer.SType, input: InternalRow): SchemaInfer.SType = {
    val in = child.eval(input)
    if (in == null) return buffer
    try {
      JsonFused.walk(JsonFused.cursor(in), Array.empty, JsonFused.fastInferSchema) match {
        case null => buffer
        case t: SchemaInfer.SType => SchemaInfer.merge(buffer, t)
      }
    } catch { case L.Miss => unfused.update(buffer, input) }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SchemaOfJsonAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SchemaOfJsonAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
