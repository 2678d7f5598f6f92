package graft.functions

import graft.variant.{PathStep, VariantJsonCodec, VariantPath}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused `variant_get(variant_from_json(s), path, primitiveType)`:
  * a single byte walk that navigates the JSON text directly to the path
  * and casts the scalar — no metadata dictionary, no variant buffer, no
  * intermediate struct. Installed by [[VariantGetFusionRule]] (the
  * optimization sketched in SURVEY §4.2.2) only for scalar target types
  * whose cast rules the walk reproduces exactly. A row the walk declines
  * is evaluated by the unfused pipeline itself, which stays the semantic
  * reference.
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

  /** The unfused plan this expression replaced: it evaluates every row
    * the byte walk declines. */
  @transient private lazy val unfused =
    VariantGet(VariantFromJson(child, parseFailOnError), path, targetType, castFailOnError)

  // Byte-level navigation (FastJsonLex): skip sibling values without
  // tokenizing them, cast the leaf straight off the bytes, and validate
  // the document remainder. Parse errors outrank cast errors because any
  // parse anomaly throws Miss and the unfused pipeline re-runs the row
  // and owns the error. Misses: escaped keys, integers ≥ 2^127, any
  // malformed input.
  private def evalBytes(bytes: Array[Byte]): Any =
    try fastEvalBytes(bytes)
    catch { case graft.variant.FastJsonLex.Miss => JsonFused.evalUnfused(unfused, bytes) }

  private def fastEvalBytes(bytes: Array[Byte]): Any = {
    import graft.variant.{FastJsonLex => L}
    val c = new L.Cursor(bytes, 0, bytes.length)
    c.skipWs()
    if (c.i >= c.end) throw L.Miss // empty input: the unfused parse's error
    // navigate; track the containers the path has opened (true = object).
    // Every skip passes the count of containers enclosing the skipped
    // value, so the lexer's depth bound is the whole document's.
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
                if (close < 0) throw L.Miss // escaped key: unfused pipeline
                val kOff = c.i
                val kLen = close - c.i
                L.checkName(kLen)
                c.i = close + 1
                c.skipWs()
                c.expect(':')
                c.skipWs()
                if (L.sliceEq(c.b, kOff, kLen, k.utf8)) matched = true
                else {
                  L.skipValue(c, nOpen + 1)
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
                  L.skipValue(c, nOpen + 1)
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
    // only AFTER the rest of the document validates (unfused parity)
    var castErr: Throwable = null
    val out =
      if (!found) { if (pendingValue) L.skipValue(c, nOpen); null }
      else {
        try fastCastValue(c, nOpen)
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
            L.skipValue(c, lvl + 1)
            c.skipWs()
          case '}' if open(lvl) => c.i += 1; closed = true
          case ']' if !open(lvl) => c.i += 1; closed = true
          case _ => throw L.Miss
        }
      }
      lvl -= 1
    }
    c.skipWs()
    if (c.i != c.end) throw L.Miss // trailing garbage: the unfused parse's error
    if (castErr != null) throw castErr
    out
  }

  /** Cast the JSON value at the cursor to `targetType`, consuming it
    * FULLY before any cast-class error is thrown (so the caller can
    * always validate the document remainder). Cast rules mirror
    * `VariantExtract.cast` on the value the unfused parse would encode.
    * `depth` counts the containers enclosing the value. */
  private def fastCastValue(c: graft.variant.FastJsonLex.Cursor, depth: Int): Any = {
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
        val start = c.i
        L.skipValue(c, depth) // consume BEFORE the cast error
        targetType match {
          // canonical compact JSON, as the unfused asString prints it:
          // encode the slice with the same codec and print it back
          case _: StringType =>
            val (m, v) =
              try VariantJsonCodec.fromJsonBytes(b, start, c.i - start)
              catch { case _: Exception => throw L.Miss }
            UTF8String.fromString(VariantJsonCodec.toJsonString(m, v))
          case _ => mismatch(if (b(start) == '{') "object" else "array")
        }
      case x if x == '-' || (x >= '0' && x <= '9') =>
        val start = c.i
        if (L.scanNumber(c)) {
          val big = L.integer(c, start)
          if (big == null) {
            val v = c.longValue
            targetType match {
              case LongType => v
              case IntegerType => Math.toIntExact(v)
              case DoubleType => v.toDouble
              case d: DecimalType => toDecimal(java.math.BigDecimal.valueOf(v), d)
              case _: StringType => UTF8String.fromString(java.lang.Long.toString(v))
              case _ => mismatch("bigint")
            }
          } else {
            // a scale-0 decimal beyond 63 bits, as the unfused parse stores it
            val bd = new java.math.BigDecimal(big)
            targetType match {
              case LongType => bd.longValueExact() // always throws, like the unfused cast
              case IntegerType => Math.toIntExact(bd.longValueExact())
              case DoubleType => bd.doubleValue()
              case d: DecimalType => toDecimal(bd, d)
              case _: StringType => UTF8String.fromString(big.toString)
              case _ => mismatch("bigint")
            }
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

  /** A JSON string cast to a non-string target, as `VariantExtract.cast`
    * casts a string variant. */
  private def castStringTo(s: String): Any = targetType match {
    case LongType => s.trim.toLong
    case IntegerType => Math.toIntExact(s.trim.toLong)
    case DoubleType => s.trim.toDouble
    case BooleanType => s.trim.toBoolean
    case d: DecimalType => toDecimal(new java.math.BigDecimal(s.trim), d)
    case _ => mismatch("string")
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
  /** Sentinel distinguishing "memoized null result" from "no memo". */
  private val NULL_RESULT = new Object

  /** Thread-local (input bytes, memo key, result) of the last evaluation —
    * shared across expression INSTANCES because pushdown duplicates the
    * same extraction into Filter and Project as separate copies.
    */
  private val lastExtract: ThreadLocal[Array[AnyRef]] =
    ThreadLocal.withInitial(() => new Array[AnyRef](3))

  /** Targets whose cast semantics the fused path replicates exactly.
    * String targets: scalar values print the same text as
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

/** Optimizer rule: collapse `VariantGet(VariantFromJson(s), path, t)`
  * into the single-pass [[JsonPathExtract]] when `t` is a scalar target.
  * Runs in the operator-optimization batch via
  * `injectOptimizerRule(GraftExtensions)`; the rewrite is a pure
  * expression-local transformation, so it composes with pushdown — a
  * pushed-down filter containing the fused form stays fused.
  */
object VariantGetFusionRule extends Rule[LogicalPlan] {

  /** The one single-input fusion table: `consumer`, whose only child is
    * a parse of `src` failing per `parseFail`, becomes its fused form
    * over the raw `src`; None when it has none. `src` is by-name, so a
    * caller builds it only on a hit.
    */
  private def fuseConsumer(
      consumer: Expression, src: => Expression, parseFail: Boolean): Option[Expression] =
    consumer match {
      case VariantGet(_, path, t, castFail) if JsonPathExtract.fusableTarget(t) =>
        Some(JsonPathExtract(src, path, t, parseFail, castFail))
      case _: VariantKeys => Some(JsonKeys(src, parseFail))
      case _: VariantSize => Some(JsonSize(src, parseFail))
      case _: VariantTypeOf => Some(JsonTypeOf(src, parseFail))
      case _: SchemaOfVariant => Some(JsonSchemaOf(src, parseFail))
      // reaches aggregate functions: AggregateExpression.aggregateFunction
      // is an expression field of the Aggregate node
      case s: SchemaOfVariantAgg =>
        Some(SchemaOfJsonAgg(src, parseFail, s.renderOutput,
          s.mutableAggBufferOffset, s.inputAggBufferOffset))
      case _ => None
    }

  /** Expression-local fusion: the parse is nested directly under the
    * consumer (CollapseProject already inlined it).
    */
  private def fuseLocal(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions(
    Function.unlift { (e: Expression) =>
      e.children match {
        case Seq(VariantFromJson(src, parseFail)) => fuseConsumer(e, src, parseFail)
        case _ => None
      }
    }.orElse {
      // merge patch over two parses: each document straight into the
      // value tree (docToVNode), merge, ONE canonical encode (no
      // intermediate variant encode+decode round trips)
      case VariantMergePatch(VariantFromJson(t, failT), VariantFromJson(p, failP)) =>
        JsonMergePatchFused(t, p, failT, failP)
      // strip over a parse: the document into the tree, drop keys, one
      // canonical encode
      case VariantStripKeys(VariantFromJson(src, parseFail), keys) =>
        JsonStripKeysFused(src, keys, parseFail)
      // diff over two parses: mirror of the merge fusion
      case VariantDiff(VariantFromJson(a, failA), VariantFromJson(b, failB)) =>
        JsonDiffFused(a, b, failA, failB)
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
      e.children match {
        case Seq(attr: AttributeReference) if parses.contains(attr.exprId) =>
          val (a, v) = parses(attr.exprId)
          fuseConsumer(e, rawAliases.getOrElseUpdate(attr.exprId,
            Alias(v.child, a.name + "_json")()).toAttribute, v.failOnError)
        case _ => None
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
