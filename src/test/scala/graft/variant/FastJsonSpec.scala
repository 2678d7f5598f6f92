package graft.variant

import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzz of the byte-level JSON fast path against the
  * Jackson reference path: whenever the lexer ACCEPTS a row, its
  * (metadata, value) output must be byte-identical to Jackson's; and it
  * must never accept what Jackson rejects. Misses are always legal (the
  * row silently re-runs through Jackson) — but the common-shape corpus
  * asserts a minimum hit rate so the fast path can't silently die.
  */
class FastJsonSpec extends AnyFunSuite {

  private def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** fast-only result vs jackson result; asserts agreement; returns
    * whether the fast path accepted. */
  private def check(doc: String): Boolean = {
    val bytes = utf8(doc)
    val fast = VariantJsonCodec.fastOnlyForTest(bytes)
    val jackson =
      try Right(VariantJsonCodec.jacksonFromJsonBytes(bytes, 0, bytes.length))
      catch { case e: Exception => Left(e) }
    (fast, jackson) match {
      case (Left(()), _) => false // miss: Jackson owns the row, any outcome fine
      case (Right(f), Right(j)) =>
        if (f == null || j == null) {
          assert((f == null) == (j == null), s"null-doc disagreement on: $doc")
        } else {
          assert(java.util.Arrays.equals(f._1, j._1),
            s"metadata mismatch on: $doc")
          assert(java.util.Arrays.equals(f._2, j._2),
            s"value mismatch on: $doc")
        }
        true
      case (Right(_), Left(e)) =>
        fail(s"fast path ACCEPTED what Jackson rejects (${e.getMessage}): $doc")
    }
  }

  test("hand-picked corpus: scalars, strings, escapes, unicode, numbers, nesting") {
    val docs = Seq(
      "1", "-1", "0", "-0", "123456789012345678", "0.5", "-0.5", "1e5", "1E-5",
      "2.5e+3", "1.7976931348623157e308", "4.9e-324", "3.141592653589793",
      "true", "false", "\"\"", "\"abc\"", "\"" + "x" * 100 + "\"",
      """"tab\tnl\nq\"bs\\sol\/"""", "\"\\u0041\\u00e9\\u4e2d\\ud83d\\ude00\"",
      "\"caf\u00e9 \u4e2d\u6587 \ud83d\ude00\"", // raw multibyte UTF-8
      "{}", "[]", "[[]]", "[{}]", """{"a": {}}""", "[1, 2, 3]",
      """{"a": 1, "b": "two", "c": [true, null, 2.5], "d": {"x": -7}}""",
      """{"z": 1, "a": 2}""", // unsorted arrival → reencode path
      """{"b": {"q": 1}, "a": 2}""",
      """  {  "a" :  [ 1 ,  2 ]  }  """, // whitespace everywhere
      """{"dup": 1, "dup": 2}""", // duplicate keys: streaming keeps both
      """{"": 1}""", // empty key
      "[0.0, -0.0, 1e0, 10e1, 5E2]",
      "null")
    var hits = 0
    docs.foreach { d => if (check(d)) hits += 1 }
    assert(hits >= docs.length - 1, s"fast path hit only $hits/${docs.length}")
  }

  test("documented misses route to Jackson: big ints, lone surrogates, escaped keys") {
    // >18-digit integers below 2^127 stay on the byte path, byte-identical
    assert(check("1234567890123456789"), "19-digit int should stay on the fast path")
    // 2^127 and beyond: Jackson's i128 error owns these
    assert(VariantJsonCodec.fastOnlyForTest(
      utf8("170141183460469231731687303715884105728")).isLeft)
    assert(VariantJsonCodec.fastOnlyForTest(
      utf8("-170141183460469231731687303715884105729")).isLeft)
    intercept[Exception](VariantJsonCodec.fromJson("170141183460469231731687303715884105728"))
    val (_, v) = VariantJsonCodec.fromJson("12345678901234567890")
    assert(new VariantView(v, 0).getDecimal.toBigInteger
      === new java.math.BigInteger("12345678901234567890"))
    // lone surrogate escape → miss (Jackson's lenient substitution owns it)
    assert(VariantJsonCodec.fastOnlyForTest(utf8("\"\\ud800x\"")).isLeft)
    // escaped object key → miss
    assert(VariantJsonCodec.fastOnlyForTest(utf8("""{"a\tb": 1}""")).isLeft)
  }

  test("big-integer boundaries: long range, decimal range, byte-identical to Jackson") {
    val two = java.math.BigInteger.TWO
    val one = java.math.BigInteger.ONE
    val bounds = Seq(
      two.pow(63).subtract(one), two.pow(63).subtract(one).negate(), // ±(2^63-1): int64
      two.pow(63).negate(), // -2^63: int64
      two.pow(63), // 2^63: decimal
      two.pow(127).subtract(one), two.pow(127).negate()) // largest/smallest decimal
    bounds.foreach { bi =>
      assert(check(bi.toString), s"$bi should stay on the fast path")
      assert(check(s"""{"n": $bi, "m": [$bi]}"""), s"$bi in a container should stay on the fast path")
    }
  }

  test("malformed inputs are never accepted by the fast path") {
    val bad = Seq(
      "", "   ", "{", "}", "[", "]", "{]", "[}", "{\"a\"}", "{\"a\":}",
      "{\"a\":1,}", "[1,]", "[1 2]", "{\"a\" 1}", "nul", "tru", "falsee",
      "01", "1.", ".5", "+1", "1e", "1e+", "--1", "\"unterminated",
      "\"ctrl\u0001char\"", "\"bad\\escape\"", "\"\\u12g4\"", "1 2",
      "{\"a\":1}x", "\u00ff\u00fe")
    // (a RAW 0x80 byte \u2014 not the U+0080 char, which utf8() would encode
    // validly \u2014 is covered in the invalid-UTF-8 test below)
    bad.foreach { d =>
      assert(VariantJsonCodec.fastOnlyForTest(utf8(d)).isLeft,
        s"fast path accepted malformed: ${d.take(30)}")
    }
  }

  test("invalid UTF-8 byte sequences in strings are declined") {
    def doc(strBytes: Array[Byte]): Array[Byte] = {
      val pre = utf8("{\"k\": \"")
      val post = utf8("\"}")
      pre ++ strBytes ++ post
    }
    val badSeqs = Seq(
      Array(0x80.toByte),                             // bare continuation
      Array(0xc0.toByte, 0xaf.toByte),                // overlong 2-byte
      Array(0xc2.toByte),                             // truncated
      Array(0xe0.toByte, 0x80.toByte, 0x80.toByte),   // overlong 3-byte
      Array(0xed.toByte, 0xa0.toByte, 0x80.toByte),   // surrogate U+D800
      Array(0xf4.toByte, 0x90.toByte, 0x80.toByte, 0x80.toByte), // > U+10FFFF
      Array(0xf5.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte)) // invalid lead
    badSeqs.foreach { s =>
      assert(VariantJsonCodec.fastOnlyForTest(doc(s)).isLeft,
        s"fast path accepted invalid UTF-8: ${s.map(b => f"${b & 0xff}%02x").mkString(" ")}")
    }
    // and every VALID multibyte class is accepted + byte-identical
    Seq("\u00e9", "\u0800", "\ud83d\ude00", "\ufffd").foreach { ok =>
      assert(check(s"""{"k": "$ok"}"""), s"valid UTF-8 declined: $ok")
    }
  }

  test("5000 random documents: byte-identical whenever accepted; shape speculation stressed") {
    val rnd = new scala.util.Random(20260814L)
    val keyPool = Seq("a", "bb", "c\u00e9", "dd", "e", "\u4e2d", "key_longer_than_others")
    def genValue(depth: Int): String = rnd.nextInt(if (depth >= 3) 7 else 9) match {
      case 0 => rnd.nextInt(2000).toString
      case 1 => "-" + rnd.nextInt(1000)
      case 2 => s"${rnd.nextInt(100)}.${rnd.nextInt(1000)}"
      case 3 => s"${rnd.nextInt(10)}e${if (rnd.nextBoolean()) "-" else ""}${rnd.nextInt(20)}"
      case 4 =>
        val sb = new StringBuilder("\"")
        (0 until rnd.nextInt(12)).foreach { _ =>
          rnd.nextInt(8) match {
            case 0 => sb.append("\\n")
            case 1 => sb.append("\\\"")
            case 2 => sb.append("\\u00e9")
            case 3 => sb.append("\u4e2d")
            case 4 => sb.append("\ud83d\ude00")
            case _ => sb.append(('a' + rnd.nextInt(26)).toChar)
          }
        }
        sb.append("\"").toString
      case 5 => Seq("true", "false", "null")(rnd.nextInt(3))
      case 6 =>
        if (rnd.nextBoolean()) "918273645546372819" // 18 digits: the inline-parsed maximum
        else (if (rnd.nextBoolean()) "-" else "") + (1 + rnd.nextInt(9)) + // 19-39 digits
          Seq.fill(18 + rnd.nextInt(21))(rnd.nextInt(10)).mkString
      case 7 =>
        (0 until rnd.nextInt(4)).map(_ => genValue(depth + 1)).mkString("[", ", ", "]")
      case _ =>
        rnd.shuffle(keyPool).take(rnd.nextInt(4))
          .map(k => s""""$k": ${genValue(depth + 1)}""").mkString("{", ", ", "}")
    }
    var hits = 0
    var total = 0
    (1 to 5000).foreach { i =>
      // runs of identical shapes (metadata reuse) mixed with shape breaks
      val doc =
        if (i % 7 == 0) genValue(0)
        else s"""{"a": ${rnd.nextInt(100)}, "b": "s${rnd.nextInt(10)}", "c": ${rnd.nextInt(2) == 1}}"""
      total += 1
      if (check(doc)) hits += 1
    }
    assert(hits.toDouble / total > 0.95, s"hit rate ${hits.toDouble / total}")
  }

  test("Jackson StreamReadConstraints shapes: oversized numbers/names/strings miss") {
    // >1000-char number literal (Jackson's max-number-length): the fast
    // path must MISS so the Jackson fallback's rejection is the behavior
    val bigNum = "0." + "1" * 1000 // 1002 chars, non-integer
    assert(VariantJsonCodec.fastOnlyForTest(utf8(bigNum)).isLeft,
      "fast path accepted a >1000-char number")
    intercept[Exception](VariantJsonCodec.fromJson(bigNum)) // Jackson rejects it
    // ...also when the number is merely SKIPPED inside a larger doc
    assert(VariantJsonCodec.fastOnlyForTest(
      utf8(s"""{"a": $bigNum, "b": 1}""")).isLeft)
    // >50k-char object key (Jackson's max-name-length)
    val bigKey = "k" * 50001
    assert(VariantJsonCodec.fastOnlyForTest(utf8(s"""{"$bigKey": 1}""")).isLeft,
      "fast path accepted a >50k-char key")
    intercept[Exception](VariantJsonCodec.fromJson(s"""{"$bigKey": 1}"""))
    // >20M-char string value (Jackson's max-string-length)
    val sb = new java.lang.StringBuilder(20000010)
    sb.append("\"")
    var i = 0
    while (i < 20000001) { sb.append('x'); i += 1 }
    sb.append("\"")
    assert(VariantJsonCodec.fastOnlyForTest(utf8(sb.toString)).isLeft,
      "fast path accepted a >20M-char string")
    // at/below the bounds the fast path still owns the row, byte-identical
    assert(check("0." + "1" * 900), "900-char number should stay on the fast path")
    val okKey = "k" * 50000
    assert(check(s"""{"$okKey": 1}"""), "50k-char key should stay on the fast path")
  }

  test("cap constants pin Jackson's RUNTIME StreamReadConstraints defaults") {
    // The fast path's contract is "never accept what Jackson rejects".
    // The three caps + depth bound are mirrored as compile-time
    // constants; this pin compares them against the values Jackson
    // actually ships at RUNTIME, so a Jackson upgrade that changes its
    // defaults fails here instead of silently drifting the contract.
    // (A failure means: review — a LOWER Jackson cap would make the fast
    // path accept what Jackson rejects, which is a correctness bug; a
    // HIGHER one merely over-rejects and routes rows to the fallback.)
    val c = com.fasterxml.jackson.core.StreamReadConstraints.defaults()
    assert(FastJsonLex.MAX_NUM_LEN === c.getMaxNumberLength,
      "MAX_NUM_LEN drifted from Jackson's runtime maxNumberLength")
    assert(FastJsonLex.MAX_NAME_LEN === c.getMaxNameLength,
      "MAX_NAME_LEN drifted from Jackson's runtime maxNameLength")
    assert(FastJsonLex.MAX_STRING_LEN === c.getMaxStringLength,
      "MAX_STRING_LEN drifted from Jackson's runtime maxStringLength")
    assert(FastJsonLex.MAX_DEPTH === c.getMaxNestingDepth,
      "MAX_DEPTH drifted from Jackson's runtime maxNestingDepth")
  }

  test("adversarial boundary corpus: depth at/over the limit, near-cap names") {
    // depth exactly at Jackson's nesting limit: both engines accept and
    // agree byte-for-byte (check() asserts equality when the fast path
    // owns the row; a miss would silently weaken this, so pin the hit)
    val d = FastJsonLex.MAX_DEPTH
    val atLimit = "[" * d + "1" + "]" * d
    assert(check(atLimit), s"depth-$d doc should stay on the fast path")
    // one past the limit: the fast path must MISS (Jackson's error is
    // the behavior) and Jackson must reject
    val overLimit = "[" * (d + 1) + "1" + "]" * (d + 1)
    assert(VariantJsonCodec.fastOnlyForTest(utf8(overLimit)).isLeft,
      s"fast path accepted depth ${d + 1} > MAX_DEPTH")
    intercept[Exception](VariantJsonCodec.fromJson(overLimit))
    // the same bound with an EMPTY innermost container: opening the
    // container is what counts, so the pair splits exactly at the limit
    assert(check("[" * d + "]" * d), s"empty depth-$d doc should stay on the fast path")
    val emptyOver = "[" * (d + 1) + "]" * (d + 1)
    assert(VariantJsonCodec.fastOnlyForTest(utf8(emptyOver)).isLeft,
      s"fast path accepted an empty container at depth ${d + 1}")
    intercept[Exception](VariantJsonCodec.fromJson(emptyOver))
    // same at object-nesting depth
    val objOver = """{"k":""" * (d + 1) + "1" + "}" * (d + 1)
    assert(VariantJsonCodec.fastOnlyForTest(utf8(objOver)).isLeft,
      "fast path accepted object nesting past MAX_DEPTH")
    // name one byte under the cap stays on the fast path, byte-identical
    assert(check(s"""{"${"k" * (FastJsonLex.MAX_NAME_LEN - 1)}": 1}"""),
      "cap-1 key should stay on the fast path")
  }

  test("full pipeline equality on the existing corpus: fromJson(fast on) round-trips") {
    // end-to-end: text → variant → canonical JSON must equal Jackson's
    // canonical rendering of the same text (the JsonCodecSpec invariant,
    // re-asserted here with the fast path in the loop)
    val docs = Seq(
      """{"name": "caf\u00e9", "tags": ["a", "b"], "n": 3, "ok": true, "x": null}""",
      """{"z": {"y": {"x": [1, 2.5, "3"]}}}""",
      """[{"a": 1}, {"b": 2}]""")
    docs.foreach { d =>
      val (m, v) = VariantJsonCodec.fromJson(d)
      assert(VariantJsonCodec.toJsonString(m, v) === TestJson.canonical(d))
    }
  }
}
