package graft.functions

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property pin: for arbitrary JSON trees, the FUSED single-pass
  * forms ([[JsonPathExtract]], [[JsonKeys]], [[JsonSize]],
  * [[JsonTypeOf]], [[JsonSchemaOf]], [[SchemaOfJsonAgg]]) equal the
  * unfused parse → encode → decode pipeline for every target the fusion
  * rule admits. Direct interpreted eval — no SparkSession — so hundreds
  * of samples run in milliseconds.
  */
class FusedPropertySpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val nf = JsonNodeFactory.instance

  private val genScalar: Gen[com.fasterxml.jackson.databind.JsonNode] = Gen.oneOf(
    Gen.const(nf.nullNode: com.fasterxml.jackson.databind.JsonNode),
    Gen.oneOf(true, false).map(nf.booleanNode(_): com.fasterxml.jackson.databind.JsonNode),
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(nf.numberNode(_): com.fasterxml.jackson.databind.JsonNode),
    Gen.chooseNum(-1e12, 1e12).map(nf.numberNode(_): com.fasterxml.jackson.databind.JsonNode),
    Gen.alphaNumStr.map(nf.textNode(_): com.fasterxml.jackson.databind.JsonNode),
    Gen.identifier.map(s => nf.textNode(s * 10): com.fasterxml.jackson.databind.JsonNode))

  private def genNode(depth: Int): Gen[com.fasterxml.jackson.databind.JsonNode] =
    if (depth <= 0) genScalar
    else Gen.frequency(
      4 -> genScalar,
      2 -> Gen.chooseNum(0, 5).flatMap(n =>
        Gen.listOfN(n, genNode(depth - 1)).map { els =>
          val a: ArrayNode = nf.arrayNode()
          els.foreach(a.add)
          a: com.fasterxml.jackson.databind.JsonNode
        }),
      2 -> Gen.chooseNum(0, 5).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.identifier, genNode(depth - 1))).map { kvs =>
          val o: ObjectNode = nf.objectNode()
          kvs.foreach { case (k, v) => o.set[com.fasterxml.jackson.databind.JsonNode](k, v) }
          o: com.fasterxml.jackson.databind.JsonNode
        }))

  private def forAllSamples[A](gen: Gen[A], n: Int = 300)(check: A => Unit): Unit = {
    var seed = Seed(42L)
    (1 to n).foreach { _ =>
      gen.apply(Gen.Parameters.default, seed).foreach(check)
      seed = seed.next
    }
  }

  private def unfused(json: String, path: String, t: DataType): Any =
    VariantGet(VariantFromJson(Literal(json)), path, t, failOnError = false).eval(null)

  private def fused(json: String, path: String, t: DataType): Any =
    JsonPathExtract(Literal(json), path, t,
      parseFailOnError = true, castFailOnError = false).eval(null)

  test("fused extraction equals unfused for every admissible target over random trees") {
    val targets = Seq(StringType, LongType, DoubleType, BooleanType,
      IntegerType, DecimalType(38, 6))
    forAllSamples(genNode(3)) { node =>
      val json = s"""{"x": ${mapper.writeValueAsString(node)}}"""
      targets.foreach { t =>
        val u = unfused(json, "$.x", t)
        val f = fused(json, "$.x", t)
        assert(u == f, s"target ${t.simpleString} json=$json unfused=$u fused=$f")
      }
      // nested path into objects/arrays too
      val deep = s"""{"a": [{"b": ${mapper.writeValueAsString(node)}}]}"""
      val u = unfused(deep, "$.a[0].b", StringType)
      val f = fused(deep, "$.a[0].b", StringType)
      assert(u == f, s"deep json=$deep unfused=$u fused=$f")
    }
  }

  /** Documents at the edges of the byte walks: an escaped key and a
    * 2^127 integer inside a skipped sibling (declined, so the unfused
    * pipeline evaluates them), an object under a string-target path
    * (printed from an encoded slice), and nesting one level past the
    * 1000 the parser accepts (declined). */
  private val missCorpus = Seq(
    "{\"\\" + "u0061\": 9}",
    """{"a": 1, "z": [170141183460469231731687303715884105728]}""",
    """{"a": {"k": [1, {"b": 2}]}}""",
    """{"a": 1, "b": """ + "[" * 1000 + "1" + "]" * 1000 + "}")

  test("fused schema inference equals unfused lattice over random trees") {
    import graft.variant.{FastJsonLex, MetadataView, SchemaInfer, VariantView}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.unsafe.types.UTF8String
    val src = BoundReference(0, StringType, nullable = true)
    var misses = 0
    def check(json: String): Unit =
      try {
        val f = JsonFused.fastSchemaOfDoc(json.getBytes("UTF-8"))
        val enc = VariantFromJson(Literal(json)).eval(null)
        if (enc == null) {
          // top-level JSON null is SQL null in both pipelines
          assert(f == null, s"schema json=$json fused=$f")
        } else {
          val row = enc.asInstanceOf[InternalRow]
          val u = SchemaInfer.infer(
            new MetadataView(row.getBinary(0), 0), new VariantView(row.getBinary(1), 0))
          assert(SchemaInfer.serialize(u) == SchemaInfer.serialize(f),
            s"schema json=$json unfused=${u.render} fused=${f.render}")
        }
      } catch {
        case FastJsonLex.Miss =>
          // the walk declined: the fused aggregate must still equal the
          // unfused one on this row
          misses += 1
          Seq(true, false).foreach { strict =>
            val unfusedAgg = SchemaOfVariantAgg(VariantFromJson(src, strict))
            val fusedAgg = SchemaOfJsonAgg(src, strict)
            val row = InternalRow(UTF8String.fromString(json))
            def run(f: => Any): Any = try f catch { case e: Exception => e.getClass }
            val u = run(unfusedAgg.eval(unfusedAgg.update(unfusedAgg.createAggregationBuffer(), row)))
            val f = run(fusedAgg.eval(fusedAgg.update(fusedAgg.createAggregationBuffer(), row)))
            assert(u == f, s"agg strict=$strict json=$json unfused=$u fused=$f")
          }
      }
    forAllSamples(genNode(3))(node => check(mapper.writeValueAsString(node)))
    missCorpus.foreach(check)
    // the escaped key, the 2^127 sibling and the deep nesting miss
    assert(misses >= 3, s"only $misses docs reached the unfused path")
  }

  test("fused scalar schema_of equals unfused over random trees and malformed docs") {
    forAllSamples(genNode(3)) { node =>
      val json = mapper.writeValueAsString(node)
      val u = SchemaOfVariant(VariantFromJson(Literal(json))).eval(null)
      val f = JsonSchemaOf(Literal(json), parseFailOnError = true).eval(null)
      assert(u == f, s"schema_of json=$json unfused=$u fused=$f")
    }
    Seq("1 2", """{"a":1} x""", "[1,2,", "").foreach { bad =>
      intercept[Exception](JsonSchemaOf(Literal(bad), parseFailOnError = true).eval(null))
      assert(JsonSchemaOf(Literal(bad), parseFailOnError = false).eval(null) == null, bad)
    }
  }

  test("fused schema agg equals unfused agg over row batches (nulls and bad rows skipped)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.unsafe.types.UTF8String
    val src = BoundReference(0, StringType, nullable = true)
    val unfusedAgg = SchemaOfVariantAgg(VariantFromJson(src, failOnError = false))
    val fusedAgg = SchemaOfJsonAgg(src, parseFailOnError = false)
    forAllSamples(Gen.listOfN(8, genNode(2)), n = 100) { nodes =>
      val rows = nodes.map(n => mapper.writeValueAsString(n)) ++
        Seq(null, "null", "{not json") // SQL null, JSON null, parse failure
      var ub = unfusedAgg.createAggregationBuffer()
      var fb = fusedAgg.createAggregationBuffer()
      rows.foreach { s =>
        val row = InternalRow(if (s == null) null else UTF8String.fromString(s))
        ub = unfusedAgg.update(ub, row)
        fb = fusedAgg.update(fb, row)
      }
      assert(unfusedAgg.eval(ub) == fusedAgg.eval(fb),
        s"agg rows=$rows unfused=${unfusedAgg.eval(ub)} fused=${fusedAgg.eval(fb)}")
    }
  }

  test("cast corners: numeric strings, whitespace, root-path extraction agree fused vs unfused") {
    val docs = Seq(
      """{"x": "42"}""", """{"x": " 42 "}""", """{"x": "4.5"}""",
      """{"x": "1e3"}""", """{"x": "true"}""", """{"x": "abc"}""",
      """{"x": ""}""", """{"x": "-0"}""", """{"x": "9223372036854775807"}""")
    val targets = Seq(LongType, IntegerType, DoubleType, BooleanType,
      DecimalType(38, 2), StringType)
    docs.foreach { json =>
      targets.foreach { t =>
        // lenient cast: both null on failure, equal value on success
        val u = unfused(json, "$.x", t)
        val f = fused(json, "$.x", t)
        assert(u == f, s"target ${t.simpleString} json=$json unfused=$u fused=$f")
      }
    }
    // '$' root path: cast the whole document
    Seq("""{"a": 1, "b": [2, 3]}""", """[1, "s"]""", "42", """"str"""").foreach { json =>
      val u = unfused(json, "$", StringType)
      val f = fused(json, "$", StringType)
      assert(u == f, s"root json=$json unfused=$u fused=$f")
    }
  }

  test("big-integer boundaries: i128-fitting ints agree everywhere; beyond-i128 is a parse error") {
    import graft.variant.VariantJsonCodec
    val fits = Seq(
      BigInt(Long.MaxValue) + 1, // just past i64 → decimal16 scale 0
      (BigInt(1) << 127) - 1, // i128 max
      -(BigInt(1) << 127), // i128 min
      BigInt(Long.MinValue) - 1)
    fits.foreach { bi =>
      val json = s"""{"x": $bi}"""
      // string-target extraction prints the big int identically
      val u = unfused(json, "$.x", StringType)
      val f = fused(json, "$.x", StringType)
      assert(u == f && u.toString == bi.toString, s"$bi: unfused=$u fused=$f")
      // schema inference sees decimal(38,0) on both paths
      val us = SchemaOfVariant(VariantFromJson(Literal(json))).eval(null)
      val fs = JsonSchemaOf(Literal(json), parseFailOnError = true).eval(null)
      assert(us == fs && us.toString == "object<x: decimal(38,0)>", s"$bi: $us vs $fs")
    }
    val beyond = Seq((BigInt(1) << 127).toString, ((BigInt(1) << 200) * -1).toString)
    beyond.foreach { big =>
      val json = s"""{"x": $big}"""
      intercept[Exception](VariantFromJson(Literal(json)).eval(null))
      val e = intercept[Exception](fused(json, "$.x", StringType))
      assert(e.isInstanceOf[VariantJsonCodec.JsonParseException], e.toString)
      intercept[Exception](JsonSchemaOf(Literal(json), parseFailOnError = true).eval(null))
      intercept[Exception](JsonTypeOf(Literal(json), parseFailOnError = true).eval(null))
      // lenient: null everywhere, no crash
      assert(JsonPathExtract(Literal(json), "$.x", StringType,
        parseFailOnError = false, castFailOnError = false).eval(null) == null)
    }
  }

  test("fused forms reject exactly the malformed documents the unfused parse rejects") {
    import graft.variant.VariantJsonCodec
    val bad = Seq("1 2", """{"a":1} x""", "[1,2,", """{"a":1""", "", "tru",
      """{"a":1}{"b":2}""", """[1] [2]""", """{"a":1,}""")
    bad.foreach { json =>
      // unfused reference behavior: whole-document parse throws
      intercept[Exception](VariantFromJson(Literal(json)).eval(null))
      intercept[Exception](
        JsonPathExtract(Literal(json), "$.a", LongType,
          parseFailOnError = true, castFailOnError = true).eval(null))
      intercept[Exception](JsonKeys(Literal(json), parseFailOnError = true).eval(null))
      intercept[Exception](JsonSize(Literal(json), parseFailOnError = true).eval(null))
      intercept[Exception](JsonTypeOf(Literal(json), parseFailOnError = true).eval(null))
      // lenient: all null / empty, like try_variant_from_json
      assert(JsonPathExtract(Literal(json), "$.a", LongType,
        parseFailOnError = false, castFailOnError = true).eval(null) == null, json)
      assert(JsonKeys(Literal(json), parseFailOnError = false).eval(null) == null, json)
      assert(JsonTypeOf(Literal(json), parseFailOnError = false).eval(null) == null, json)
      assert(VariantExplode(VariantFromJson(Literal(json), false))
        .eval(null).iterator.isEmpty, json)
    }
    // parse errors outrank cast errors, exactly as in the unfused order
    val parseBeatsCast = """{"x": "abc"} ["""
    val e = intercept[Exception](
      JsonPathExtract(Literal(parseBeatsCast), "$.x", LongType,
        parseFailOnError = true, castFailOnError = true).eval(null))
    assert(e.isInstanceOf[VariantJsonCodec.JsonParseException], e.toString)
    // well-formed + failing cast still raises the cast error
    val castOnly = intercept[Exception](
      JsonPathExtract(Literal("""{"x": "abc"}"""), "$.x", LongType,
        parseFailOnError = true, castFailOnError = true).eval(null))
    assert(!castOnly.isInstanceOf[VariantJsonCodec.JsonParseException], castOnly.toString)

    // the miss corpus (plus the deepest empty nesting the parser accepts):
    // every fused form returns what the unfused expression returns, or
    // throws the same exception class, in both parse modes
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // a value, or the class of the exception evaluation threw
    def outcome(f: => Any): Any =
      try f match {
        case a: ArrayData => a.toSeq[Any](StringType)
        case v => v
      } catch { case e: Exception => e.getClass }
    val src = BoundReference(0, StringType, nullable = true)
    def agg(a: org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
        graft.variant.SchemaInfer.SType], json: String): Any =
      outcome(a.eval(a.update(a.createAggregationBuffer(), InternalRow(UTF8String.fromString(json)))))
    (missCorpus ++ Seq("[" * 1001 + "]" * 1001)).foreach { json =>
      Seq(true, false).foreach { strict =>
        val s = Literal(json)
        val parse = VariantFromJson(s, strict)
        val pairs: Seq[(String, Expression, Expression)] = Seq(
          ("keys", JsonKeys(s, strict), VariantKeys(parse)),
          ("size", JsonSize(s, strict), VariantSize(parse)),
          ("typeof", JsonTypeOf(s, strict), VariantTypeOf(parse)),
          ("schema_of", JsonSchemaOf(s, strict), SchemaOfVariant(parse)),
          ("get $.a", JsonPathExtract(s, "$.a", StringType, strict, castFailOnError = true),
            VariantGet(parse, "$.a", StringType, failOnError = true)))
        pairs.foreach { case (name, fused, unfused) =>
          val f = outcome(fused.eval(null))
          val u = outcome(unfused.eval(null))
          assert(f == u, s"$name strict=$strict json=${json.take(60)} fused=$f unfused=$u")
        }
        val fa = agg(SchemaOfJsonAgg(src, strict), json)
        val ua = agg(SchemaOfVariantAgg(VariantFromJson(src, strict)), json)
        assert(fa == ua, s"schema agg strict=$strict json=${json.take(60)} fused=$fa unfused=$ua")
      }
    }
  }

  test("fast-nav edges: misses, sibling validation, escaped keys via fallback") {
    // the round-7 byte-level navigation: every shape that exercises its
    // miss/drain logic must agree with the unfused pipeline
    def both(json: String, path: String, t: org.apache.spark.sql.types.DataType) = {
      val u = unfused(json, path, t)
      val f = fused(json, path, t)
      assert(u == f, s"json=$json path=$path unfused=$u fused=$f")
      f
    }
    assert(both("""{"b": 2}""", "$.a", LongType) == null)          // missing key
    assert(both("""{"a": [1]}""", "$.a[3]", LongType) == null)     // index OOB
    assert(both("""{"a": {}}""", "$.a.b", LongType) == null)       // empty object
    assert(both("""{"a": 5}""", "$.a.b", LongType) == null)        // key step on scalar
    assert(both("""{"z": [1, {"q": 7}, 3], "a": 2}""", "$.z[1].q", LongType) == 7L)
    // escaped key in the DOC ({"a": 9}) still matches path $.a via
    // the unfused fallback (fast path declines escaped keys)
    assert(both("{\"\\" + "u0061\": 9}", "$.a", LongType) == 9L)
    // sibling AFTER the found value is still validated (parse beats cast)
    intercept[Exception](
      JsonPathExtract(Literal("""{"a": 1, "b": }"""), "$.a", LongType,
        parseFailOnError = true, castFailOnError = true).eval(null))
    // duplicate keys are the documented UB divergence class (the fused
    // byte walk takes the FIRST match; the unfused encoding's walk
    // resolves to the other copy) — pin only the byte walk's choice, not
    // unfused parity
    assert(fused("""{"a": 1, "a": 2}""", "$.a", LongType) == 1L)
    // whitespace soup navigation
    assert(both("  {  \"a\" : [ 10 ,  {\"b\":\t20} ] } ", "$.a[1].b", LongType) == 20L)
  }

  test("fused keys/size equal unfused over random trees") {
    forAllSamples(genNode(3)) { node =>
      val json = mapper.writeValueAsString(node)
      val uK = VariantKeys(VariantFromJson(Literal(json))).eval(null)
      val fK = JsonKeys(Literal(json), parseFailOnError = true).eval(null)
      assert(uK == fK || (uK != null && fK != null &&
        uK.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].array.toSeq ==
          fK.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].array.toSeq),
        s"keys json=$json unfused=$uK fused=$fK")
      val uS = VariantSize(VariantFromJson(Literal(json))).eval(null)
      val fS = JsonSize(Literal(json), parseFailOnError = true).eval(null)
      assert(uS == fS, s"size json=$json unfused=$uS fused=$fS")
      val uT = VariantTypeOf(VariantFromJson(Literal(json))).eval(null)
      val fT = JsonTypeOf(Literal(json), parseFailOnError = true).eval(null)
      assert(uT == fT, s"typeof json=$json unfused=$uT fused=$fT")
    }
  }
}
