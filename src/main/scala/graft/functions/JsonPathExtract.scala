package graft.functions

import graft.variant.{FastJsonLex => L, MetadataView, PathStep, SchemaInfer, VariantJsonCodec, VariantPath, VariantView}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one fused form of `<consumer>(variant_from_json(s))`: a single
  * [[JsonFused.walk]] navigates the JSON text to `path` and hands the
  * value there to `consumer` — a scalar cast, keys, size, typeof or
  * schema — with no metadata dictionary, no row encode and no
  * intermediate struct. Installed by [[VariantGetFusionRule]] (the
  * optimization sketched in SURVEY §4.2.2). A row the walk declines is
  * evaluated by the unfused plan itself, which stays the semantic
  * reference: the [[VariantRead]] of `consumer` at `path` over the parse.
  * A scalar at the path is read by that reader's own code over the
  * scalar's encoding ([[JsonConsumer]]); the byte sources differ (a
  * memo and a cursor here, an id cache and a View there), so each stays
  * its own class; `graft.functions.Json*` names the fused forms.
  */
case class JsonPathExtract(
    child: Expression,
    path: String,
    consumer: JsonConsumer,
    parseFailOnError: Boolean)
    extends UnaryExpression with GraftUnaryCodegen {

  @transient private lazy val steps: Array[PathStep] = VariantPath.parse(path)

  override def dataType: DataType = consumer.dataType
  override def nullable: Boolean = true
  override def prettyName: String = consumer.fusedName

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string/binary, got: ${other.simpleString}")
  }

  /** Memo identity: two Catalyst copies of the same logical extraction
    * (e.g. the Filter and Project copies created by predicate pushdown)
    * share results iff every semantic field matches.
    */
  @transient private lazy val memoKey = (path, consumer, parseFailOnError)

  override def nullSafeEval(input: Any): Any = {
    val c = JsonFused.cursor(input)
    val off = c.i
    val n = c.end - off
    // Same pushdown-duplication story as VariantFromJson.lastParse: the
    // Filter and Project copies of this expression evaluate back-to-back
    // on the same thread per row, so a thread-local last-input memo
    // halves the parse work (SURVEY §4.2).
    val memo = JsonPathExtract.lastExtract.get()
    if (memo.holds(memoKey, c.b, off, n)) return memo.result
    val result =
      try JsonFused.walk(c, steps, read)
      catch { case L.Miss => JsonFused.evalUnfused(unfused, input) }
    memo.keep(memoKey, c.b, off, n, result)
    result
  }

  @transient private lazy val read: (L.Cursor, Int) => Any = consumer.read

  /** The unfused plan this expression replaced: it evaluates every row
    * the byte walk declines. */
  @transient private lazy val unfused =
    VariantRead(VariantFromJson(child, parseFailOnError), path, consumer)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsonPathExtract {
  /** The last evaluation on this thread — shared across expression
    * INSTANCES because pushdown duplicates the same extraction into
    * Filter and Project as separate copies.
    */
  private val lastExtract: ThreadLocal[LastInput] = ThreadLocal.withInitial(() => new LastInput)
}

/** One row per variant reader: what [[VariantRead]] does with the
  * variant at its path (`readVariant`), and for the rows with a fused
  * form, what [[JsonPathExtract]] does with the JSON value there (`read`)
  * — the same result off the raw bytes. A JSON scalar is read by the
  * row's own variant reader (`at`, over [[JsonFused.scalar]]); only
  * containers have JSON walkers of their own. `prettyName` is the reader's plan
  * name and `fusedName` the fused form's, null for a row with no JSON
  * reader. Serializable itself, not only through its case subclasses:
  * expressions ship to executors, and Java deserialization needs the
  * first non-serializable superclass to have a no-argument constructor.
  */
sealed abstract class JsonConsumer(val prettyName: String, val fusedName: String, val dataType: DataType)
    extends Serializable {
  /** The paths it reads, relative to the read's own path. */
  def paths: Seq[String] = Seq("$")

  /** The variant reader: the result for the document `root`, given the
    * steps of each of [[paths]] from the root and their key ids. */
  def readVariant(meta: MetadataView, root: VariantView,
                  steps: Array[Array[PathStep]], ids: Array[Array[Int]]): Any

  /** The JSON reader: consume the value at the cursor fully (`depth` =
    * the containers around it) and return what `readVariant` returns for
    * it. A row without one declines every document. */
  def read(c: L.Cursor, depth: Int): Any = throw L.Miss

  /** True when the row has a fused form, [[fused]]. */
  def fusable: Boolean = fusedName != null

  /** The fused form of this row at `path` over `variant_from_json(src)`. */
  def fused(src: Expression, path: String, parseFailOnError: Boolean): Expression =
    JsonPathExtract(src, path, this, parseFailOnError)
}

object JsonConsumer {
  /** Targets a [[Cast]] reads off the JSON bytes. Variant and binary
    * targets keep the unfused pipeline.
    */
  def fusableTarget(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | BooleanType | _: DecimalType => true
    case _: StringType => true
    case _ => false
  }

  /** A row that reads the one value at the path: `at` gets it, null when
    * the path misses. A nested JSON null is a variant null here (typeof
    * `"null"`); a top-level one is the parse's SQL NULL, which neither
    * reader sees.
    */
  sealed abstract class AtPath(prettyName: String, fusedName: String, dataType: DataType)
      extends JsonConsumer(prettyName, fusedName, dataType) {
    def at(meta: MetadataView, v: VariantView): Any
    final def readVariant(meta: MetadataView, root: VariantView,
                          steps: Array[Array[PathStep]], ids: Array[Array[Int]]): Any =
      at(meta, VariantPath.walkWithIds(root, steps(0), ids(0)))
  }

  /** `variant_keys`: object key names in dictionary (sorted UTF-8)
    * order; NULL for non-objects. */
  case object Keys extends AtPath("variant_keys", "json_keys_fused",
      ArrayType(StringType, containsNull = false)) {
    def at(meta: MetadataView, v: VariantView): Any =
      if (v == null || !v.isObject) null
      else {
        val o = v.getObject
        new GenericArrayData(Array.tabulate[Any](o.numElements)(i =>
          UTF8String.fromString(meta.getKey(o.fieldIdAt(i)))))
      }
    override def read(c: L.Cursor, depth: Int): Any =
      if ((c.peek & 0xff) != '{') { L.skipValue(c, depth); null }
      else {
        val names = scala.collection.mutable.ArrayBuffer.empty[String]
        L.members(c, depth, (_, off, len) => {
          names += new String(c.b, off, len, java.nio.charset.StandardCharsets.UTF_8)
          L.skipValue(c, depth + 1)
          false
        })
        val arr = names.toArray
        val order = JsonFused.sortedOrder(arr)
        new GenericArrayData(Array.tabulate[Any](arr.length)(i => UTF8String.fromString(arr(order(i)))))
      }
  }

  /** `variant_size`: field count of an object, element count of an
    * array, NULL for scalars. */
  case object Size extends AtPath("variant_size", "json_size_fused", IntegerType) {
    def at(meta: MetadataView, v: VariantView): Any =
      if (v == null) null
      else if (v.isObject) v.getObject.numElements
      else if (v.isArray) v.getArray.numElements
      else null
    override def read(c: L.Cursor, depth: Int): Any = (c.peek & 0xff) match {
      case '{' | '[' => L.members(c, depth, null)
      case _ => L.skipValue(c, depth); null
    }
  }

  /** `variant_typeof`: the type name. The JSON reader names a
    * container from its first byte, the value only validated, and a
    * scalar by `typeName` of its [[JsonFused.scalar]] encoding. */
  case object TypeOf extends AtPath("variant_typeof", "json_typeof_fused", StringType) {
    def at(meta: MetadataView, v: VariantView): Any =
      if (v == null) null else UTF8String.fromString(v.typeName)
    override def read(c: L.Cursor, depth: Int): Any = (c.peek & 0xff) match {
      case '{' => L.skipValue(c, depth); UTF8String.fromString("object")
      case '[' => L.skipValue(c, depth); UTF8String.fromString("array")
      case _ => at(JsonFused.NoKeys, JsonFused.scalar(c))
    }
  }

  /** `schema_of_variant`: the rendered schema lattice of the value; the
    * JSON reader is the walker the fused aggregate uses. */
  case object SchemaOf extends AtPath("schema_of_variant", "json_schema_of_fused", StringType) {
    def at(meta: MetadataView, v: VariantView): Any =
      if (v == null) null else UTF8String.fromString(SchemaInfer.infer(meta, v).render)
    override def read(c: L.Cursor, depth: Int): Any =
      UTF8String.fromString(JsonFused.fastInferSchema(c, depth).render)
  }

  /** `is_variant_null`: true iff the value is the variant (JSON) `null`
    * primitive, distinct from SQL NULL (SURVEY §1.4): a missing path and
    * a SQL NULL input are false. Its fused form is the typeof one: a
    * variant null is typeof 'null', and SQL NULL (missing, a top-level
    * JSON null, a failed try_ parse) is false. */
  case object IsNull extends AtPath("is_variant_null", null, BooleanType) {
    def at(meta: MetadataView, v: VariantView): Any = v != null && v.isNull
    override def fusable: Boolean = true
    override def fused(src: Expression, path: String, parseFailOnError: Boolean): Expression =
      Coalesce(Seq(EqualTo(TypeOf.fused(src, path, parseFailOnError), Literal("null")), Literal(false)))
  }

  /** `variant_get_all`: every match of a path with `[*]` / `.*`
    * wildcards, as an array in document order (array indices ascending,
    * depth-first across wildcard branches) — FLATTEN-then-aggregate in
    * one walk with no row explosion. A miss prunes its branch; zero
    * matches read an EMPTY array. Element casts are try casts. */
  final case class All(elemType: DataType)
      extends JsonConsumer("variant_get_all", null, ArrayType(elemType, containsNull = true)) {
    def readVariant(meta: MetadataView, root: VariantView,
                    steps: Array[Array[PathStep]], ids: Array[Array[Int]]): Any = {
      val hits = new scala.collection.mutable.ArrayBuffer[VariantView](8)
      VariantPath.walkAll(meta, root, steps(0), ids(0), hits)
      new GenericArrayData(Array.tabulate[Any](hits.length)(i =>
        VariantExtract.cast(meta, hits(i), elemType, failOnError = false)))
    }
  }

  /** `variant_get_multi`: many (path, type, name) fields in one read,
    * with one id resolution per metadata for the whole set — the
    * shredding workhorse. No JSON reader: a fused struct of byte walks
    * cannot produce the NULL struct this returns for a null parse. */
  final case class Multi(fields: Seq[(String, DataType, String)])
      extends JsonConsumer("variant_get_multi", null,
        StructType(fields.map { case (_, dt, name) => StructField(name, dt, nullable = true) })) {
    require(fields.nonEmpty, "variant_get_multi needs at least one field")
    override def paths: Seq[String] = fields.map(_._1)
    def readVariant(meta: MetadataView, root: VariantView,
                    steps: Array[Array[PathStep]], ids: Array[Array[Int]]): Any =
      new GenericInternalRow(Array.tabulate[Any](fields.length)(i => VariantExtract.cast(
        meta, VariantPath.walkWithIds(root, steps(i), ids(i)), fields(i)._2, failOnError = false)))
  }

  /** `variant_get` (strict casts) or `try_variant_get`: the value at the
    * path cast to `targetType`. A variant target reads the value itself;
    * a [[fusableTarget]] also casts off the JSON bytes, through the same
    * `VariantExtract.cast`: a scalar as its [[JsonFused.scalar]]
    * encoding, an object or array as the codec's encoding of its slice,
    * each consumed fully before a cast error is raised. */
  final case class Cast(targetType: DataType, castFailOnError: Boolean)
      extends AtPath(if (castFailOnError) "variant_get" else "try_variant_get",
        "json_path_extract", targetType) {
    def at(meta: MetadataView, v: VariantView): Any =
      VariantExtract.cast(meta, v, targetType, castFailOnError)
    override def fusable: Boolean = fusableTarget(targetType)

    override def read(c: L.Cursor, depth: Int): Any = (c.peek & 0xff) match {
      case '{' | '[' =>
        val start = c.i
        L.skipValue(c, depth)
        val (m, v) =
          try VariantJsonCodec.fromJsonBytes(c.b, start, c.i - start)
          catch { case _: Exception => throw L.Miss }
        at(new MetadataView(m, 0), new VariantView(v, 0))
      case _ => at(JsonFused.NoKeys, JsonFused.scalar(c))
    }
  }
}

/** Optimizer rule: collapse a consumer over `variant_from_json(s)` into
  * its fused form — the consumer's own for a [[VariantRead]] whose
  * [[JsonConsumer]] row has a JSON reader ([[JsonPathExtract]]; a
  * variant-typed get between the read and the parse only lengthens the
  * path), the root typeof for `IS [NOT] NULL` of the parse,
  * [[SchemaOfJsonAgg]] for the schema aggregate, and JSON operand sides
  * for a [[VariantEdit]] (merge, diff, strip) over a left parse. Runs in the
  * operator-optimization batch via `injectOptimizerRule(GraftExtensions)`;
  * the rewrite is a pure expression-local transformation, so it composes
  * with pushdown — a pushed-down filter containing the fused form stays
  * fused.
  */
object VariantGetFusionRule extends Rule[LogicalPlan] {

  /** The one single-input fusion table: `e` reads a parse operand `p`
    * through one of these forms; returns `p` and a builder of the fused
    * form over the raw JSON `src` parsed per `parseFail`, or None when
    * `e` has none. Each caller fuses only when `p` is a parse.
    */
  private def fusion(e: Expression): Option[(Expression, (Expression, Boolean) => Expression)] =
    e match {
      case VariantRead(v, path, c) if c.fusable =>
        // under any row but a get, a variant-typed get is navigation only:
        // the walk does it. A get over a get stays as written, the one
        // spelling that keeps a get on the View reader (RobustnessSpec).
        val (p, at) = v match {
          case VariantRead(p, inner, JsonConsumer.Cast(t, _))
              if VariantSchema.isVariantStruct(t) && !c.isInstanceOf[JsonConsumer.Cast] =>
            (p, inner + path.drop(1))
          case p => (p, path)
        }
        Some((p, (src: Expression, fail: Boolean) => c.fused(src, at, fail)))
      // the root typeof is SQL NULL exactly when the parse is: null
      // input, top-level JSON null, a malformed doc in try mode
      case n @ (_: IsNull | _: IsNotNull) =>
        Some((n.children.head, (src: Expression, fail: Boolean) =>
          n.withNewChildren(Seq(JsonConsumer.TypeOf.fused(src, "$", fail)))))
      // reaches aggregate functions: AggregateExpression.aggregateFunction
      // is an expression field of the Aggregate node
      case s: SchemaOfVariantAgg =>
        Some((s.child, (src: Expression, fail: Boolean) => SchemaOfJsonAgg(src, fail,
          s.renderOutput, s.mutableAggBufferOffset, s.inputAggBufferOffset)))
      case _ => None
    }

  /** Expression-local fusion: the parse is nested directly under the
    * consumer (CollapseProject already inlined it).
    */
  private def fuseLocal(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions(
    Function.unlift { (e: Expression) =>
      fusion(e).collect { case (VariantFromJson(src, parseFail), fused) => fused(src, parseFail) }
    }.orElse {
      // an edit over a parse: each parsed document straight into the
      // value tree (docToVNode), the edit, ONE canonical encode — no
      // intermediate variant encode + decode
      case e @ VariantEdit(_, VariantFromJson(src, fail), r, _, rs) =>
        val (right, rightSide) = r match {
          case VariantFromJson(rsrc, rfail) => (rsrc, VariantEdit.Side.Json(rfail))
          case other => (other, rs)
        }
        e.copy(left = src, right = right, leftSide = VariantEdit.Side.Json(fail), rightSide = rightSide)
    })

  /** Fusion THROUGH a Project boundary. CollapseProject refuses to
    * inline a non-cheap `variant_from_json(src) AS v` referenced more
    * than once (e.g. `select(variant_keys(v), variant_size(v))`), so the
    * local pattern never sees the parse. [[rule]] rewrites each fusable
    * consumer of such an alias to its fused form over a NEW alias of the
    * raw `src`, which [[child]] appends to the project; the original
    * variant alias survives for any non-fusable consumer and column
    * pruning drops it when none remain. N fused consumers cost N byte
    * walks, each falling back to the codec's parse only on a row it
    * declines — cheaper than one parse+encode plus N decode walks.
    * Consumers with no fused form (`variant_get_all`, `variant_explode`)
    * keep reading the one shared parse.
    */
  private final class AliasFusion(proj: Project) {
    private val parses: Map[ExprId, (Alias, VariantFromJson)] =
      proj.projectList.collect {
        case a @ Alias(v: VariantFromJson, _) => a.exprId -> ((a, v))
      }.toMap
    private val rawAliases = scala.collection.mutable.LinkedHashMap.empty[ExprId, Alias]

    def isEmpty: Boolean = parses.isEmpty
    /** True once [[rule]] has fused a consumer. */
    def changed: Boolean = rawAliases.nonEmpty
    def child: Project = proj.copy(projectList = proj.projectList ++ rawAliases.values)

    val rule: PartialFunction[Expression, Expression] = Function.unlift { (e: Expression) =>
      fusion(e).collect { case (attr: AttributeReference, fused) if parses.contains(attr.exprId) =>
        val (a, v) = parses(attr.exprId)
        fused(rawAliases.getOrElseUpdate(attr.exprId,
          Alias(v.child, a.name + "_json")()).toAttribute, v.failOnError)
      }
    }
  }

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
      val fusion = new AliasFusion(agg.child.asInstanceOf[Project])
      if (fusion.isEmpty) agg
      else {
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
            val r = g.transform(fusion.rule)
            if (r eq g) None else Some(g -> r)
          }
        val newGrouping = agg.groupingExpressions.map { g =>
          groupRewrites.collectFirst { case (orig, r) if orig eq g => r }.getOrElse(g)
        }
        val newAggList = agg.aggregateExpressions.map { ne =>
          ne.transform {
            case ae: AggregateExpression =>
              val newFn = ae.aggregateFunction.transform(fusion.rule)
                .asInstanceOf[AggregateFunction]
              if (newFn eq ae.aggregateFunction) ae
              else ae.copy(aggregateFunction = newFn)
            case e if groupRewrites.exists(_._1.semanticEquals(e)) =>
              groupRewrites.find(_._1.semanticEquals(e)).get._2
          }.asInstanceOf[NamedExpression]
        }
        if (!fusion.changed) agg
        else agg.copy(
          groupingExpressions = newGrouping,
          aggregateExpressions = newAggList,
          child = fusion.child)
      }

    case node: UnaryNode
        if node.child.isInstanceOf[Project] && expressionsSeeChildOutput(node) =>
      val fusion = new AliasFusion(node.child.asInstanceOf[Project])
      if (fusion.isEmpty) node
      else {
        val newNode = node.transformExpressions(fusion.rule)
        if (!fusion.changed) node
        else newNode.withNewChildren(Seq(fusion.child))
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    fuseThroughProject(fuseLocal(plan))
}
