package graft.functions

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property pin: for arbitrary JSON trees, the FUSED single-pass
  * forms ([[JsonPathExtract]] with each [[JsonConsumer]], and
  * [[SchemaOfJsonAgg]]) equal the unfused parse → encode → decode
  * pipeline for every target the fusion rule admits. Direct interpreted
  * eval — no SparkSession — so hundreds of samples run in milliseconds.
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

  private def unfused(json: String, path: String, t: DataType, castFailOnError: Boolean = false): Any =
    VariantRead(VariantFromJson(Literal(json)), path, JsonConsumer.Cast(t, castFailOnError)).eval(null)

  /** A fused consumer at the root path. */
  private def root(c: JsonConsumer, json: Expression, parseFailOnError: Boolean) =
    JsonPathExtract(json, "$", c, parseFailOnError)

  /** A value, or the class of the exception evaluation threw. */
  private def outcome(f: => Any): Any =
    try f match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toSeq[Any](StringType)
      case v => v
    } catch { case e: Exception => e.getClass }

  private def fused(json: String, path: String, t: DataType, castFailOnError: Boolean = false): Any =
    JsonPathExtract(Literal(json), path, JsonConsumer.Cast(t, castFailOnError),
      parseFailOnError = true).eval(null)

  /** A value, or the class and message of the exception evaluation threw. */
  private def valueOrError(f: => Any): Any =
    try f catch { case e: Exception => (e.getClass, e.getMessage) }

  test("fused extraction equals unfused for every admissible target over random trees") {
    /** Lenient and strict casts of `path` agree: the same value, or the
      * same exception class and message. */
    def check(json: String, path: String, targets: Seq[DataType]): Unit =
      for (t <- targets; strict <- Seq(false, true)) {
        val u = valueOrError(unfused(json, path, t, strict))
        val f = valueOrError(fused(json, path, t, strict))
        assert(u == f, s"target ${t.simpleString} strict=$strict json=${json.take(80)} unfused=$u fused=$f")
      }
    val targets = Seq(StringType, LongType, DoubleType, BooleanType,
      IntegerType, DecimalType(38, 6))
    forAllSamples(genNode(3)) { node =>
      check(s"""{"x": ${mapper.writeValueAsString(node)}}""", "$.x", targets)
      // nested path into objects/arrays too
      check(s"""{"a": [{"b": ${mapper.writeValueAsString(node)}}]}""", "$.a[0].b", Seq(StringType))
    }
    // the corners of the cast table: narrow and wide ints, an overflowing
    // double, a 20-digit decimal, strings that parse, pad or overflow,
    // containers, a long string, escapes and a 4-byte UTF-8 character
    val corners = Seq("5", "300", "70000", "5000000000", "1e300", "true", "\"abc\"", "\" 12 \"",
      "[1]", "{\"a\":1}", "99999999999999999999", "\"1e400\"", "\"" + "l" * 70 + "\"", "\"pi\\u00f1a \\ud83d\\ude00\"",
      "\"😀\"")
    corners.foreach(v => check(s"""{"x": $v}""", "$.x",
      Seq(BooleanType, IntegerType, LongType, DoubleType, DecimalType(10, 2), StringType)))
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
        val f = JsonFused.walk(JsonFused.cursor(json.getBytes("UTF-8")), Array.empty, JsonFused.fastInferSchema)
          .asInstanceOf[SchemaInfer.SType]
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
      val u = VariantRead(VariantFromJson(Literal(json)), "$", JsonConsumer.SchemaOf).eval(null)
      val f = root(JsonConsumer.SchemaOf, Literal(json), parseFailOnError = true).eval(null)
      assert(u == f, s"schema_of json=$json unfused=$u fused=$f")
    }
    Seq("1 2", """{"a":1} x""", "[1,2,", "").foreach { bad =>
      intercept[Exception](root(JsonConsumer.SchemaOf, Literal(bad), parseFailOnError = true).eval(null))
      assert(root(JsonConsumer.SchemaOf, Literal(bad), parseFailOnError = false).eval(null) == null, bad)
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
      val us = VariantRead(VariantFromJson(Literal(json)), "$", JsonConsumer.SchemaOf).eval(null)
      val fs = root(JsonConsumer.SchemaOf, Literal(json), parseFailOnError = true).eval(null)
      assert(us == fs && us.toString == "object<x: decimal(38,0)>", s"$bi: $us vs $fs")
    }
    val beyond = Seq((BigInt(1) << 127).toString, ((BigInt(1) << 200) * -1).toString)
    beyond.foreach { big =>
      val json = s"""{"x": $big}"""
      intercept[Exception](VariantFromJson(Literal(json)).eval(null))
      val e = intercept[Exception](fused(json, "$.x", StringType))
      assert(e.isInstanceOf[VariantJsonCodec.JsonParseException], e.toString)
      intercept[Exception](root(JsonConsumer.SchemaOf, Literal(json), parseFailOnError = true).eval(null))
      intercept[Exception](root(JsonConsumer.TypeOf, Literal(json), parseFailOnError = true).eval(null))
      // lenient: null everywhere, no crash
      assert(JsonPathExtract(Literal(json), "$.x", JsonConsumer.Cast(StringType, castFailOnError = false),
        parseFailOnError = false).eval(null) == null)
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
        JsonPathExtract(Literal(json), "$.a", JsonConsumer.Cast(LongType, castFailOnError = true),
          parseFailOnError = true).eval(null))
      intercept[Exception](root(JsonConsumer.Keys, Literal(json), parseFailOnError = true).eval(null))
      intercept[Exception](root(JsonConsumer.Size, Literal(json), parseFailOnError = true).eval(null))
      intercept[Exception](root(JsonConsumer.TypeOf, Literal(json), parseFailOnError = true).eval(null))
      // lenient: all null / empty, like try_variant_from_json
      assert(JsonPathExtract(Literal(json), "$.a", JsonConsumer.Cast(LongType, castFailOnError = true),
        parseFailOnError = false).eval(null) == null, json)
      assert(root(JsonConsumer.Keys, Literal(json), parseFailOnError = false).eval(null) == null, json)
      assert(root(JsonConsumer.TypeOf, Literal(json), parseFailOnError = false).eval(null) == null, json)
      assert(VariantExplode(VariantFromJson(Literal(json), false))
        .eval(null).iterator.isEmpty, json)
    }
    // parse errors outrank cast errors, exactly as in the unfused order
    val parseBeatsCast = """{"x": "abc"} ["""
    val e = intercept[Exception](
      JsonPathExtract(Literal(parseBeatsCast), "$.x", JsonConsumer.Cast(LongType, castFailOnError = true),
        parseFailOnError = true).eval(null))
    assert(e.isInstanceOf[VariantJsonCodec.JsonParseException], e.toString)
    // well-formed + failing cast still raises the cast error
    val castOnly = intercept[Exception](
      JsonPathExtract(Literal("""{"x": "abc"}"""), "$.x", JsonConsumer.Cast(LongType, castFailOnError = true),
        parseFailOnError = true).eval(null))
    assert(!castOnly.isInstanceOf[VariantJsonCodec.JsonParseException], castOnly.toString)

    // the miss corpus (plus the deepest empty nesting the parser accepts):
    // every fused form returns what the unfused expression returns, or
    // throws the same exception class, in both parse modes
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.unsafe.types.UTF8String
    val src = BoundReference(0, StringType, nullable = true)
    def agg(a: org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
        graft.variant.SchemaInfer.SType], json: String): Any =
      outcome(a.eval(a.update(a.createAggregationBuffer(), InternalRow(UTF8String.fromString(json)))))
    (missCorpus ++ Seq("[" * 1001 + "]" * 1001)).foreach { json =>
      Seq(true, false).foreach { strict =>
        val s = Literal(json)
        val parse = VariantFromJson(s, strict)
        val pairs: Seq[(String, Expression, Expression)] = Seq(
          ("keys", root(JsonConsumer.Keys, s, strict), VariantRead(parse, "$", JsonConsumer.Keys)),
          ("size", root(JsonConsumer.Size, s, strict), VariantRead(parse, "$", JsonConsumer.Size)),
          ("typeof", root(JsonConsumer.TypeOf, s, strict), VariantRead(parse, "$", JsonConsumer.TypeOf)),
          ("schema_of", root(JsonConsumer.SchemaOf, s, strict), VariantRead(parse, "$", JsonConsumer.SchemaOf)),
          ("get $.a", JsonPathExtract(s, "$.a", JsonConsumer.Cast(StringType, castFailOnError = true), strict),
            VariantRead(parse, "$.a", JsonConsumer.Cast(StringType, castFailOnError = true))))
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
      JsonPathExtract(Literal("""{"a": 1, "b": }"""), "$.a",
        JsonConsumer.Cast(LongType, castFailOnError = true), parseFailOnError = true).eval(null))
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
      val uK = VariantRead(VariantFromJson(Literal(json)), "$", JsonConsumer.Keys).eval(null)
      val fK = root(JsonConsumer.Keys, Literal(json), parseFailOnError = true).eval(null)
      assert(uK == fK || (uK != null && fK != null &&
        uK.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].array.toSeq ==
          fK.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].array.toSeq),
        s"keys json=$json unfused=$uK fused=$fK")
      val uS = VariantRead(VariantFromJson(Literal(json)), "$", JsonConsumer.Size).eval(null)
      val fS = root(JsonConsumer.Size, Literal(json), parseFailOnError = true).eval(null)
      assert(uS == fS, s"size json=$json unfused=$uS fused=$fS")
      val uT = VariantRead(VariantFromJson(Literal(json)), "$", JsonConsumer.TypeOf).eval(null)
      val fT = root(JsonConsumer.TypeOf, Literal(json), parseFailOnError = true).eval(null)
      assert(uT == fT, s"typeof json=$json unfused=$uT fused=$fT")
    }
  }

  test("keys, size, typeof and schema_of at non-root paths equal the unfused consumer over a variant get") {
    val consumers: Seq[(JsonConsumer, Expression => Expression)] = Seq(
      (JsonConsumer.Keys, VariantRead(_, "$", JsonConsumer.Keys)),
      (JsonConsumer.Size, VariantRead(_, "$", JsonConsumer.Size)),
      (JsonConsumer.TypeOf, VariantRead(_, "$", JsonConsumer.TypeOf)),
      (JsonConsumer.SchemaOf, VariantRead(_, "$", JsonConsumer.SchemaOf)))
    // a found key, an array index, a nested JSON null, a missing key, an
    // index past the end, a path through a scalar and through an array
    val paths = Seq("$.x", "$.y[0]", "$.y[1]", "$.x.k", "$.missing", "$.y[7]", "$.n.k", "$.y.k",
      "$.b", "$.a")
    def check(json: String): Unit = Seq(true, false).foreach { strict =>
      val s = Literal(json)
      paths.foreach { path =>
        consumers.foreach { case (c, unfusedOf) =>
          val f = outcome(JsonPathExtract(s, path, c, strict).eval(null))
          val u = outcome(unfusedOf(VariantRead(VariantFromJson(s, strict), path,
            JsonConsumer.Cast(VariantSchema.TYPE, castFailOnError = false))).eval(null))
          assert(f == u, s"${c.prettyName} $path strict=$strict json=${json.take(60)} fused=$f unfused=$u")
        }
      }
    }
    forAllSamples(Gen.zip(genNode(3), genNode(2))) { case (x, y) =>
      check(s"""{"x": ${mapper.writeValueAsString(x)}, "n": 5, "y": [${mapper.writeValueAsString(y)}, null]}""")
    }
    (missCorpus ++ Seq("[" * 1001 + "]" * 1001, """{"a": """ + "[" * 999 + "]" * 999 + "}",
      "", "null", """{"x": 1} 2""", """{"x": [1, 2]}}""", """{"y": [3, null], "x": {}}""")).foreach(check)
    // a nested JSON null is a variant null; a top-level one is SQL NULL
    val nested = Literal("""{"a": null}""")
    assert(JsonPathExtract(nested, "$.a", JsonConsumer.TypeOf, true).eval(null).toString == "null")
    assert(JsonPathExtract(nested, "$.a", JsonConsumer.SchemaOf, true).eval(null).toString == "void")
    assert(JsonPathExtract(Literal("null"), "$", JsonConsumer.TypeOf, true).eval(null) == null)
    assert(JsonPathExtract(Literal("null"), "$", JsonConsumer.SchemaOf, true).eval(null) == null)
  }

  test("IS NULL and IS NOT NULL over the parse equal their fused root-typeof forms") {
    import org.apache.spark.sql.catalyst.expressions.{IsNotNull, IsNull}
    val docs = Seq[String](null, "null", " null ", "", "1 2", """{"a":1,}""", "tru", "[1] x", "0",
      """{"a": null}""", "[]") ++ missCorpus ++ Seq("[" * 1001 + "]" * 1001)
    def check(json: String): Unit = Seq(true, false).foreach { strict =>
      val s = Literal.create(json, StringType)
      val typeOf = JsonPathExtract(s, "$", JsonConsumer.TypeOf, strict)
      Seq[(String, Expression => Expression)](("IS NULL", IsNull(_)), ("IS NOT NULL", IsNotNull(_)))
        .foreach { case (name, pred) =>
          val f = outcome(pred(typeOf).eval(null))
          val u = outcome(pred(VariantFromJson(s, strict)).eval(null))
          assert(f == u, s"$name strict=$strict json=${String.valueOf(json).take(60)} fused=$f unfused=$u")
        }
    }
    forAllSamples(genNode(3))(node => check(mapper.writeValueAsString(node)))
    docs.foreach(check)
  }

  test("is_variant_null over a parse equals its fused root or path typeof form") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
    /** The expression the fusion rule makes of `e`. */
    def fuse(e: Expression): Expression =
      VariantGetFusionRule(Project(Seq(Alias(e, "r")()), OneRowRelation()))
        .asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
    // a top-level null, a nested null, a missing key, malformed docs
    val docs = Seq[String](null, "null", """{"a": null}""", """{"a": 1, "b": [null]}""", "{}",
      "1 2", """{"a":1,}""", "", "tru", """{"a": null} x""") ++ missCorpus
    def check(json: String): Unit = Seq(true, false).foreach { strict =>
      val parse = VariantFromJson(Literal.create(json, StringType), strict)
      Seq("$", "$.a", "$.b[0]", "$.zzz").foreach { path =>
        val unfused = VariantRead(if (path == "$") parse
          else VariantRead(parse, path, JsonConsumer.Cast(VariantSchema.TYPE, castFailOnError = false)),
          "$", JsonConsumer.IsNull)
        val fused = fuse(unfused)
        assert(fused.find(_.isInstanceOf[JsonPathExtract]).isDefined, fused)
        val f = outcome(fused.eval(null))
        val u = outcome(unfused.eval(null))
        assert(f == u, s"$path strict=$strict json=${String.valueOf(json).take(60)} fused=$f unfused=$u")
      }
    }
    docs.foreach(check)
    forAllSamples(genNode(3))(node => check(s"""{"a": ${mapper.writeValueAsString(node)}}"""))
    // the nested null is the one true answer
    assert(fuse(VariantRead(VariantRead(VariantFromJson(Literal("""{"a": null}""")), "$.a",
      JsonConsumer.Cast(VariantSchema.TYPE, castFailOnError = false)), "$", JsonConsumer.IsNull)).eval(null) == true)

    // the unfused reader in a plan: a NULL struct, a NULL native column
    // and a missing path answer false, a nested null true, with
    // whole-stage codegen on and with it off (and no codegen at all)
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = graft.TestSpark.spark
    val v = expr("to_variant(named_struct('a', CASE WHEN id < 0 THEN 1 END, 'b', id))")
    val exprs = Seq(
      expr("is_variant_null(CASE WHEN id < 0 THEN variant_from_json('{}') END)"),
      expr("is_variant_null(CASE WHEN id < 0 THEN parse_json('1') END)"),
      Bridge.column(VariantRead(Bridge.expression(v), "$.zzz", JsonConsumer.IsNull)),
      VariantFunctions.is_variant_null(VariantFunctions.variant_get(v, "$.zzz")),
      Bridge.column(VariantRead(Bridge.expression(v), "$.a", JsonConsumer.IsNull)))
    Seq(("true", "FALLBACK"), ("false", "FALLBACK"), ("false", "NO_CODEGEN")).foreach {
      case (wholeStage, factory) =>
        spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
        spark.conf.set("spark.sql.codegen.factoryMode", factory)
        try {
          val rows = spark.range(2).select(exprs: _*).collect()
          rows.foreach(r => assert(r.toSeq == Seq(false, false, false, false, true),
            s"wholeStage=$wholeStage factory=$factory: $r"))
        } finally {
          spark.conf.unset("spark.sql.codegen.wholeStage")
          spark.conf.unset("spark.sql.codegen.factoryMode")
        }
    }
  }
}
