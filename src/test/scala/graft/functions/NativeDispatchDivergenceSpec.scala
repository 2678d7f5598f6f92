package graft.functions

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Divergence matrix for the round-9 NativeVariantDispatch rule
  * (round-10 ADVICE): the same `variant_get` name routes a native
  * `VariantType` column to Spark's builtin VariantGet but an
  * our-codec column to our VariantGet — so the two implementations
  * MUST agree on the tricky extraction semantics (cast-on-extract,
  * missing paths, quoted/bracketed path segments, null handling,
  * failOnError) or the same query changes meaning when a table
  * switches representation. Every case here evaluates the identical
  * (json, path, type) through BOTH routes and asserts either equal
  * values or that both routes reject (throw / yield null together).
  *
  * Accepted, documented differences are pinned explicitly at the
  * bottom rather than silently skipped.
  */
class NativeDispatchDivergenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Evaluates fn(json) through one route; Left(errClass) on throw. */
  private def route(fn: String, json: String, path: String, tpe: String,
                    native: Boolean): Either[String, Any] = {
    val src = if (native) "parse_json(j)" else "variant_from_json(j)"
    val j = json.replace("'", "''")
    val p = path.replace("'", "''")
    try Right(spark.sql(
      s"SELECT $fn($src, '$p', '$tpe') AS r FROM VALUES ('$j') AS t(j)")
      .collect()(0).get(0))
    catch { case e: Throwable =>
      Left(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300)) }
  }

  private def agree(fn: String, json: String, path: String, tpe: String): Unit = {
    val n = route(fn, json, path, tpe, native = true)
    val o = route(fn, json, path, tpe, native = false)
    (n, o) match {
      case (Right(a), Right(b)) =>
        assert(normalize(a) === normalize(b),
          s"$fn($json, $path, $tpe): native=$a ours=$b")
      case (Left(_), Left(_)) => // both reject — agreement
      case _ =>
        fail(s"$fn($json, $path, $tpe): native=$n ours=$o (one threw, one didn't)")
    }
  }

  private def normalize(v: Any): Any = v match {
    case s: collection.Seq[_] => s.map(normalize).toList
    case a: Array[_] => a.map(normalize).toList
    case d: java.math.BigDecimal => d.stripTrailingZeros
    case other => other
  }

  private val doc =
    s"""{"k": 7, "s": "12", "f": 3.0, "neg": -5, "b": true, "big": 9007199254740993,
      |"dec": 1.5, "nul": null, "a": [1, 2, 3], "nested": {"x": {"y": 42}},
      |"sp ace": 11, "txt": "abc", "long": "${"é" * 40}x", "emo": "a😀b"}""".stripMargin.replace("\n", " ")

  test("divergence matrix: cast-on-extract agrees across representations") {
    // string-to-number, number-to-string, widening/narrowing numerics
    for ((path, tpe) <- Seq(
      ("$.s", "bigint"),        // "12" -> 12 (string-to-number)
      ("$.s", "int"),
      ("$.s", "double"),
      ("$.k", "string"),        // 7 -> "7" (number-to-string)
      ("$.k", "double"),
      ("$.k", "smallint"),
      ("$.f", "bigint"),        // 3.0 -> 3 (exact double narrows)
      ("$.dec", "bigint"),      // 1.5 -> 1 (decimal truncates toward zero)
      ("$.dec", "int"),
      ("$.neg", "bigint"),
      ("$.b", "boolean"),
      ("$.b", "string"),        // true -> "true"
      ("$.big", "bigint"),      // > 2^53 stays exact
      ("$.big", "string"),
      ("$.dec", "decimal(5,2)"),
      ("$.dec", "double"),
      ("$.txt", "string"),
      ("$.long", "string"),     // over 63 bytes: a long-string encoding
      ("$.emo", "string")))     // a 4-byte UTF-8 character
      agree("variant_get", doc, path, tpe)
  }

  test("divergence matrix: missing paths and JSON null agree") {
    for ((path, tpe) <- Seq(
      ("$.missing", "bigint"),       // absent key -> SQL NULL
      ("$.nested.missing", "string"),
      ("$.a[9]", "bigint"),          // out-of-bounds index
      ("$.k.sub", "bigint"),         // path into a scalar
      ("$.a.k", "bigint"),           // object step into an array
      ("$.nul", "bigint"),           // JSON null -> SQL NULL under cast
      ("$.nul", "string"))) {
      agree("variant_get", doc, path, tpe)
      // and both must actually be NULL, not merely equal
      assert(route("variant_get", doc, path, tpe, native = true) === Right(null),
        s"$path should extract to NULL")
    }
  }

  test("divergence matrix: quoted / bracketed path segments agree") {
    for ((path, tpe) <- Seq(
      ("$['k']", "bigint"),           // bracket form of a plain key
      ("$[\"k\"]", "bigint"),         // double-quoted bracket form
      ("$['sp ace']", "bigint"),      // key containing a space
      ("$.a[0]", "bigint"),
      ("$.a[2]", "bigint"),
      ("$['nested']['x']['y']", "bigint"),
      ("$.nested['x'].y", "bigint"))) // mixed dot/bracket
      agree("variant_get", doc, path, tpe)
    // sanity: the bracket forms actually resolve (not both-null)
    assert(route("variant_get", doc, "$['sp ace']", "bigint", native = true)
      === Right(11L))
    assert(route("variant_get", doc, "$['nested']['x']['y']", "bigint", native = true)
      === Right(42L))
  }

  test("divergence matrix: try_variant_get yields NULL on bad casts in both routes") {
    for ((path, tpe) <- Seq(
      ("$.txt", "bigint"),   // "abc" -> not a number
      ("$.txt", "boolean"),
      ("$.a", "bigint"),     // array -> scalar
      ("$.nested", "bigint"))) {
      assert(route("try_variant_get", doc, path, tpe, native = true) === Right(null),
        s"native try_variant_get($path, $tpe)")
      assert(route("try_variant_get", doc, path, tpe, native = false) === Right(null),
        s"ours try_variant_get($path, $tpe)")
    }
  }

  test("divergence matrix: variant_get rejects un-castable values identically") {
    // both registrations run with failOnError=false (try-semantics on
    // cast failure, matching try_variant_get) — so a bad cast is NULL
    // through BOTH routes rather than a throw; this pin keeps the two
    // routes from drifting apart on that decision
    for ((path, tpe) <- Seq(("$.txt", "bigint"), ("$.a", "bigint")))
      agree("variant_get", doc, path, tpe)
  }

  test("divergence matrix: array extraction and nested struct targets agree") {
    agree("variant_get", doc, "$.a", "array<bigint>")
    agree("variant_get", doc, "$.a", "array<string>")
    agree("variant_get", doc, "$.nested.x", "struct<y: bigint>")
    agree("variant_get", doc, "$.nested", "string") // object under string cast
  }

  test("ACCEPTED divergence: decimal-to-string keeps stored scale in our codec") {
    // JSON `3.0` is stored as decimal(scale=1) by both parsers, but the
    // string render differs: Spark's builtin strips trailing zeros
    // ("3"), ours preserves the stored scale ("3.0") — deliberately, to
    // round-trip scale (the reference DROPS decimal scale, read.rs:48-54;
    // keeping it is a recorded deviation) and because variant_to_json of
    // the whole surface renders scale-preserving, which the DuckDB
    // oracle lanes pin. Documented at NativeVariantDispatch's scaladoc.
    assert(route("variant_get", doc, "$.f", "string", native = true) === Right("3"))
    assert(route("variant_get", doc, "$.f", "string", native = false) === Right("3.0"))
    // the NUMERIC interpretations still agree (matrix above): only the
    // textual render differs, and only for trailing-zero decimals
    agree("variant_get", doc, "$.f", "double")
    agree("variant_get", doc, "$.f", "bigint")
  }

  test("divergence matrix: overflow/NaN doubles to integral agree (round-11 ADVICE)") {
    // Scala .toLong SATURATES (1e300 -> Long.MaxValue) where the builtin
    // NULLs under try-semantics — the class of gap this matrix exists
    // for. Both routes must yield NULL for out-of-range doubles and
    // both must keep in-range extremes exact.
    val ovDoc = """{"huge": 1e300, "nhuge": -1e300, "over": 1e40,
      |"edge": 9.007199254740992e15, "dhuge": 1.0E300}""".stripMargin.replace("\n", " ")
    for ((path, tpe) <- Seq(
      ("$.huge", "bigint"), ("$.huge", "int"), ("$.huge", "smallint"),
      ("$.nhuge", "bigint"), ("$.over", "bigint"), ("$.over", "int"),
      ("$.edge", "bigint"),       // 2^53 — in range, exact
      ("$.huge", "double")))      // double target unaffected
      agree("variant_get", ovDoc, path, tpe)
    // and the overflow rows are NULL (not saturated) through both routes
    for (native <- Seq(true, false)) {
      assert(route("try_variant_get", ovDoc, "$.huge", "bigint", native) === Right(null),
        s"1e300->bigint native=$native must be NULL, not Long.MaxValue")
      assert(route("try_variant_get", ovDoc, "$.nhuge", "bigint", native) === Right(null))
    }
    assert(route("variant_get", ovDoc, "$.edge", "bigint", native = false)
      === Right(9007199254740992L))
  }

  test("divergence matrix: malformed paths reject in both routes") {
    for (path <- Seq("", "$.", "$[", "$[x]", "k", "$..k"))
      agree("variant_get", doc, path, "bigint")
  }
}
