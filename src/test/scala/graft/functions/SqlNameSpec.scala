package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import graft.TestSpark

/** Which SQL names graft takes over from Spark. A session built through
  * `Tables.configure` registers every `VariantFunctions.sqlFunctions`
  * name over Spark's builtin of the same name, so a shared name is a
  * decision, not an accident.
  */
class SqlNameSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("graft SQL names shadow Spark builtins only for the five variant readers") {
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    val shared = VariantFunctions.sqlFunctions.map(_._1).filter(builtin).toSet
    assert(shared === Set("variant_get", "try_variant_get", "is_variant_null",
      "schema_of_variant", "schema_of_variant_agg"))
  }

  test("Spark's bitmap_or_agg keeps its SQL name and reads Spark's bitmaps") {
    val n = spark.sql(
      """SELECT bitmap_count(bitmap_or_agg(b)) FROM (
        |  SELECT bitmap_construct_agg(bitmap_bit_position(id)) AS b
        |  FROM range(1, 11) GROUP BY id % 2)""".stripMargin).head().getLong(0)
    assert(n === 10L)
  }
}
