package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Robustness corners: the parse memo under concurrency, the lenient
  * cast matrix, and parallel correctness of the full parse path.
  */
class RobustnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("parse memo is thread-safe: 32-way parallel parse of distinct payloads stays correct") {
    // many partitions, each thread interleaving distinct JSON docs; a
    // broken memo would cross-contaminate results between rows
    val n = 20000
    val df = spark.range(n).repartition(32)
      .withColumn("j", concat(lit("""{"k": """), col("id"), lit("}")))
      .withColumn("k", VariantFunctions.variant_get(
        VariantFunctions.variant_from_json(col("j")), "$.k", LongType))
    val bad = df.filter(col("k") =!= col("id")).count()
    assert(bad == 0)
    // and the sum matches closed form
    val s = df.agg(sum(col("k"))).collect()(0).getLong(0)
    assert(s == n.toLong * (n - 1) / 2)
  }

  test("concurrent query execution matches sequential results") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // queries spanning the fused path, the id cache, text ops, and joins
    // — run twice concurrently each; a thread-unsafe memo/cache would
    // cross-contaminate rows between queries
    val names = Seq("v_sum_by_type", "v_keys_size", "d_token_stats",
      "q_broadcast_join", "v_get_string", "v_typeof_counts")
    def run(n: String): Seq[String] =
      graft.Queries.queryMap(n)(spark, TestSpark.SF).collect().map(_.toString).toSeq
    val sequential = names.map(n => n -> run(n)).toMap
    val futures = (names ++ names).map(n => Future(n -> run(n)))
    val concurrent = Await.result(Future.sequence(futures), 5.minutes)
    concurrent.foreach { case (n, rows) =>
      assert(rows == sequential(n), s"query $n diverged under concurrency")
    }
  }

  test("variant_get id cache stays correct under alternating metadata") {
    // three interleaved shapes → the per-thread (metadata bytes → ids)
    // cache thrashes every row; results must still be exact
    val df = spark.range(3000).repartition(8)
      .withColumn("j", expr(
        """CASE id % 3
          |  WHEN 0 THEN concat('{"a": ', id, '}')
          |  WHEN 1 THEN concat('{"b": ', id, '}')
          |  ELSE concat('{"a": ', id, ', "b": ', id * 2, '}')
          |END""".stripMargin))
      // route through a variant-target get so the unfused VariantRead
      // (the expression carrying the id cache) does the extraction
      .withColumn("v", VariantFunctions.variant_get(
        VariantFunctions.variant_from_json(col("j")), "$"))
      .withColumn("a", VariantFunctions.variant_get(col("v"), "$.a", LongType))
      .withColumn("b", VariantFunctions.variant_get(col("v"), "$.b", LongType))
    val bad = df.filter(
      (col("id") % 3 === 0 && !(col("a") <=> col("id")) ) ||
      (col("id") % 3 === 1 && !(col("b") <=> col("id")) ) ||
      (col("id") % 3 === 2 && (!(col("a") <=> col("id")) || !(col("b") <=> col("id") * 2))))
      .count()
    assert(bad == 0)
  }

  test("lenient cast matrix: try extraction yields NULL, never an error") {
    val cases = Seq(
      ("""{"x": "not a number"}""", "bigint"),
      ("""{"x": "not a number"}""", "double"),
      ("""{"x": [1]}""", "bigint"),
      ("""{"x": {"y": 1}}""", "boolean"),
      ("""{"x": 1.5}""", "boolean"),
      ("""{"x": 99999999999999999999999999999999999999999}""", "decimal(38,0)"),
      ("""{"x": true}""", "double"))
    cases.foreach { case (doc, tpe) =>
      val r = spark.sql(
        s"""SELECT try_variant_get(try_variant_from_json('$doc'), '$$.x', '$tpe') AS v""")
        .collect()(0)
      assert(r.isNullAt(0), s"expected NULL for $doc as $tpe")
    }
  }

  test("widening casts that must succeed") {
    val r = spark.sql(
      """SELECT variant_get(variant_from_json('{"x": 5}'), '$.x', 'double') AS a,
        |       variant_get(variant_from_json('{"x": 5}'), '$.x', 'decimal(10,2)') AS b,
        |       variant_get(variant_from_json('{"x": true}'), '$.x', 'bigint') AS c,
        |       variant_get(variant_from_json('{"x": "  42 "}'), '$.x', 'bigint') AS d
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 5.0)
    assert(r.getDecimal(1).toPlainString == "5.00")
    assert(r.getLong(2) == 1L)
    assert(r.getLong(3) == 42L)
  }

  // Blocks fusion by routing through a variant-target identity
  // extraction — a get over a variant get is not rewritten by the rule.
  private def unfusedVariant(c: org.apache.spark.sql.Column) =
    VariantFunctions.variant_get(VariantFunctions.variant_from_json(c), "$")

  test("fused string-target extraction matches unfused canonical printing") {
    val docs = Seq(
      """{"x": "plain"}""",
      """{"x": 42}""",
      """{"x": 99999999999999999999999999}""",
      """{"x": 2.5}""",
      """{"x": 1e3}""",
      """{"x": true}""",
      """{"x": null}""",
      """{"y": 1}""",
      """{"x": {"zz": 1, "aa": [1, "s", null], "mm": {"q": 2.5}}}""",
      """{"x": [3, {"b": 1, "a": 2}, "t"]}""",
      """{"x": "unié😀"}""",
      """{"x": "needs \"escaping\"\n"}""").toDF("j")
    val fused = docs.select(VariantFunctions.variant_get(
        VariantFunctions.variant_from_json(col("j")), "$.x", StringType).as("s"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    val unfused = docs.select(VariantFunctions.variant_get(
        unfusedVariant(col("j")), "$.x", StringType).as("s"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(fused == unfused, s"fused $fused vs unfused $unfused")
  }

  test("fused keys/size/explode match the unfused pipeline") {
    val docs = Seq(
      """{"b": 1, "a": {"y": 2, "x": [1, "s", null]}, "c": [1.5, true]}""",
      """{"z": "str", "aa": 3, "A": 4}""",
      """[1, {"q": 2}, "three", null]""",
      """"scalar"""",
      """42""",
      """null""",
      """{}""",
      """[]""").toDF("j")
    def collectKeys(c: org.apache.spark.sql.Column) =
      docs.select(VariantFunctions.variant_keys(c).as("ks")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[String](0)).toSeq
    assert(collectKeys(VariantFunctions.variant_from_json(col("j"))) ==
      collectKeys(unfusedVariant(col("j"))))
    def collectSize(c: org.apache.spark.sql.Column) =
      docs.select(VariantFunctions.variant_size(c).as("sz")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getInt(0)).toSeq
    assert(collectSize(VariantFunctions.variant_from_json(col("j"))) ==
      collectSize(unfusedVariant(col("j"))))
    def collectExplode(c: org.apache.spark.sql.Column) =
      docs.select(VariantFunctions.variant_explode(c))
        .select(col("pos"), col("key"),
          VariantFunctions.variant_to_json(col("value")).as("vj"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(collectExplode(VariantFunctions.variant_from_json(col("j"))) ==
      collectExplode(unfusedVariant(col("j"))))
  }

  test("fused and unfused paths agree on the lenient matrix") {
    // fused: literal parse composed directly (rule fires for scalars);
    // unfused: via an intermediate non-fusable variant target
    val docs = Seq("""{"x": 1}""", """{"x": "7"}""", """{"x": 2.5}""",
      """{"x": null}""", """{"y": 1}""", """{"x": [3]}""").toDF("j")
    val fused = docs.select(VariantFunctions.variant_get(
        VariantFunctions.try_variant_from_json(col("j")), "$.x", LongType).as("v"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
    val unfused = docs
      .withColumn("vv", VariantFunctions.variant_get(
        VariantFunctions.try_variant_from_json(col("j")), "$.x"))
      .select(VariantFunctions.variant_get(col("vv"), "$", LongType).as("v"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
    assert(fused == unfused, s"fused $fused vs unfused $unfused")
  }

  test("deep nesting: recursive operators work at depth 500; >1000 fails cleanly") {
    // diff/flatten/get_all/merge all recurse over the document tree —
    // pin that (a) realistic-deep documents (500 levels) work through
    // every recursive operator, and (b) absurd depth is rejected by the
    // tokenizer's nesting limit as a clean parse error, never a
    // StackOverflowError tearing down the executor.
    def nested(depth: Int): String =
      ("""{"a": """ * depth) + "1" + ("}" * depth)
    val d500 = nested(500)
    val path500 = "$" + (".a" * 500)
    val r = spark.sql(
      s"""SELECT variant_get(variant_from_json('$d500'), '$path500', 'bigint') AS g,
         |       variant_to_json(variant_diff(variant_from_json('$d500'),
         |                                    variant_from_json('$d500'))) AS dj
         |""".stripMargin).head()
    assert(r.getLong(0) === 1L)
    assert(r.getString(1) === "{}")
    val flatRows = spark.sql(
      s"SELECT variant_flatten(variant_from_json('$d500'))").count()
    assert(flatRows === 501L) // 500 objects + 1 leaf
    val deepAll = spark.sql(
      s"""SELECT variant_get_all(variant_from_json('$d500'), '$path500', 'bigint') AS r""")
      .head().getSeq[Any](0)
    assert(deepAll === Seq(1L))
    // beyond the tokenizer's nesting constraint: clean error (strict)
    // and NULL (try), not a stack overflow
    val d2k = nested(2000)
    val err = intercept[Exception] {
      spark.sql(s"SELECT variant_get(variant_from_json('$d2k'), '$$.a', 'bigint')").head()
    }
    assert(!err.isInstanceOf[StackOverflowError])
    val viaTry = spark.sql(
      s"SELECT try_variant_from_json('$d2k') IS NULL AS n").head().getBoolean(0)
    assert(viaTry)
  }

  test("wildcard walk survives wide documents: 10k-element arrays") {
    val arr = (1 to 10000).mkString("[", ",", "]")
    val got = spark.sql(
      s"""SELECT aggregate(variant_get_all(variant_from_json('{"xs": $arr}'), '$$.xs[*]', 'bigint'),
         |                 0L, (a, x) -> a + x) AS s""".stripMargin)
      .head().getLong(0)
    assert(got === (1 to 10000).map(_.toLong).sum)
  }
}
