package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ReviewProbeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  import graft.functions.{VariantFunctions => vf}

  test("probe: filter-at-root over multi-consumer variant alias keeps schema") {
    val df = Seq("""{"a":1,"b":2}""", """{"a":9}""").toDF("j")
      // rand() blocks predicate pushdown through the Project, so the
      // Filter stays above it and fuseThroughProject hits the Filter node
      .select(col("j"), vf.variant_from_json(col("j")).as("v"), rand().as("r"))
      .filter(vf.variant_size(col("v")) > lit(1))
    println("ANALYZED OUTPUT: " + df.queryExecution.analyzed.output.map(_.name))
    println("OPTIMIZED OUTPUT: " + df.queryExecution.optimizedPlan.output.map(_.name))
    println("OPTIMIZED PLAN:\n" + df.queryExecution.optimizedPlan)
    val rows = df.collect()
    println("ROW WIDTH: " + rows.headOption.map(_.length))
    println("RDD WIDTH: " + df.queryExecution.toRdd.map(_.numFields).collect().toSeq)
    assert(df.queryExecution.optimizedPlan.output.map(_.name) ==
      df.queryExecution.analyzed.output.map(_.name),
      "optimizer changed plan output")
  }

  test("probe: fused typeof/keys on malformed trailing input vs unfused") {
    // Round-2 review probe, now a pinned regression: the fused
    // single-pass forms must reject exactly the documents the unfused
    // whole-document parse rejects — trailing roots, trailing garbage,
    // truncated containers (the byte walk declines them and the unfused
    // pipeline raises the error, JsonFused.evalUnfused).
    val bad = Seq("1 2", """{"a":1} x""", "[1,2,", """{"a":1""", "")
    bad.foreach { doc =>
      val docs = Seq(doc).toDF("j")
      val fused = docs.select(
        vf.variant_typeof(vf.variant_from_json(col("j"))).as("t"),
        vf.variant_keys(vf.variant_from_json(col("j"))).as("k"))
      // the rule does not fuse through the Spark-variant bridge, so this
      // keeps the full parse → encode pipeline
      val unfusedV = vf.from_spark_variant(vf.to_spark_variant(vf.variant_from_json(col("j"))))
      val unfused = docs.select(
        vf.variant_typeof(unfusedV).as("t"),
        vf.variant_keys(unfusedV).as("k"))
      intercept[Exception] { unfused.collect() }
      intercept[Exception] { fused.collect() }
      // lenient parse: both sides yield the same null row
      val fusedTry = docs.select(
        vf.variant_typeof(vf.try_variant_from_json(col("j"))).as("t"),
        vf.variant_keys(vf.try_variant_from_json(col("j"))).as("k"))
      assert(fusedTry.collect().toSeq == Seq(org.apache.spark.sql.Row(null, null)), doc)
    }
  }
}
