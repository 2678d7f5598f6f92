package graft.variant

import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's JSON kernel tests
  * (/root/reference/arrow-open-variant/src/json.rs:248-530): one test per
  * JSON type, the A.3 document corpus verbatim, and the error surface.
  */
class JsonCodecSpec extends AnyFunSuite {

  private def parse(json: String): (MetadataView, VariantView) = {
    val pair = VariantJsonCodec.fromJson(json)
    assert(pair != null, s"unexpected SQL null for: $json")
    (new MetadataView(pair._1, 0), new VariantView(pair._2, 0))
  }

  /** The encoder's bytes equal the two-pass reference's. */
  private def assertReferenceBytes(json: String): Unit = {
    val b = json.getBytes("UTF-8")
    val fast = VariantJsonCodec.fromJson(json)
    val ref = VariantJsonCodec.fromTree(VariantJsonCodec.parseTree(b, 0, b.length))
    assert(java.util.Arrays.equals(fast._1, ref._1), s"metadata diverged for: ${json.take(80)}")
    assert(java.util.Arrays.equals(fast._2, ref._2), s"value diverged for: ${json.take(80)}")
  }

  private def roundTrip(json: String): String = {
    val pair = VariantJsonCodec.fromJson(json)
    VariantJsonCodec.toJsonString(pair._1, pair._2)
  }

  test("deep nesting: sub-limit documents round-trip; past Jackson's depth limit both paths reject") {
    // 500-deep nested arrays encode and match the two-pass reference
    val deep = "[" * 500 + "1" + "]" * 500
    val fast = VariantJsonCodec.fromJson(deep)
    val b = deep.getBytes("UTF-8")
    val ref = VariantJsonCodec.fromTree(VariantJsonCodec.parseTree(b, 0, b.length))
    assert(java.util.Arrays.equals(fast._2, ref._2))
    // past the stream-read depth limit: a parse error, not a crash
    val tooDeep = "[" * 1500 + "1" + "]" * 1500
    intercept[VariantJsonCodec.JsonParseException](VariantJsonCodec.fromJson(tooDeep))
  }

  test("speculative encoder: randomized document sequences (partial key-prefix matches) stay canonical") {
    // Random key subsets in random order from a small pool: neighbouring
    // rows often repeat the last row's keys (the encoder then reuses its
    // metadata array) or differ from them by one key or their order,
    // which must build a fresh one. Objects avoid duplicate keys (tree
    // encoder keeps last, streaming keeps both — documented divergence).
    val rnd = new scala.util.Random(20260812)
    val pool = Array("a", "b", "c", "dd", "é", "k😀")
    def randVal(depth: Int): String =
      if (depth > 0 && rnd.nextInt(4) == 0) randDoc(depth - 1)
      else rnd.nextInt(5) match {
        case 0 => rnd.nextLong().toString
        case 1 => s""""s${rnd.nextInt(100)}""""
        case 2 => "null"
        case 3 => (rnd.nextInt(1000) / 7.5).toString
        case 4 => s"[${rnd.nextInt(100)}, ${rnd.nextInt(100)}]"
      }
    def randDoc(depth: Int): String = {
      val keys = rnd.shuffle(pool.toList).take(1 + rnd.nextInt(pool.length))
      keys.map(k => s""""$k": ${randVal(depth)}""").mkString("{", ", ", "}")
    }
    (1 to 1500).foreach { _ =>
      val json = randDoc(2)
      val fast = VariantJsonCodec.fromJson(json)
      val b = json.getBytes("UTF-8")
      val ref = VariantJsonCodec.fromTree(VariantJsonCodec.parseTree(b, 0, b.length))
      assert(java.util.Arrays.equals(fast._1, ref._1), s"metadata diverged for: $json")
      assert(java.util.Arrays.equals(fast._2, ref._2), s"value diverged for: $json")
    }
  }

  test("speculative encoder: any document SEQUENCE yields the two-pass canonical bytes") {
    // The encoder reuses the last row's metadata (thread-local) when the
    // row's keys arrive as they did there, so correctness is
    // SEQUENCE-sensitive: drive runs of one shape, shape switches, key
    // subsets/supersets, reordered arrivals, scalars and nested docs
    // through one thread and require byte-identity with the two-pass
    // tree encoder for every doc.
    val shapes = Seq(
      """{"k": %d, "s": "v%d", "f": 1.5}""", // arrival ≠ sorted (f<k<s)
      """{"a": %d, "b": %d}""", // arrival = sorted (identity remap)
      """{"b": %d, "a": %d}""", // same set, reversed arrival
      """{"k": %d}""", // subset of shape 0
      """{"k": %d, "s": "x", "f": 2.5, "zz": %d}""", // superset
      """{"n": {"k": %d, "q": [1, %d, {"k": 3}]}, "k": 7}""", // nested, repeated key
      """[%d, "s", {"w": %d}]""", // array root
      """%d""", // scalar root (empty dictionary)
      // multi-byte UTF-8 keys: dictionary order is byte order
      // (Z < a < é), exercised through the metadata reuse
      """{"é": %d, "Z": "z%d", "a": true}""",
      """{"k😀": %d, "k": %d}""" // supplementary-plane key
    )
    val rnd = new scala.util.Random(7)
    (1 to 400).foreach { i =>
      // runs of the same shape with occasional switches
      val shape = shapes(if (i % 11 == 0) rnd.nextInt(shapes.length) else (i / 50) % shapes.length)
      val json = shape.format(i, i * 3)
      val fast = VariantJsonCodec.fromJson(json)
      val ref = VariantJsonCodec.fromTree(VariantJsonCodec.parseTree(
        json.getBytes("UTF-8"), 0, json.getBytes("UTF-8").length))
      assert(java.util.Arrays.equals(fast._1, ref._1), s"metadata diverged for: $json")
      assert(java.util.Arrays.equals(fast._2, ref._2), s"value diverged for: $json")
    }
  }

  test("top-level null → SQL null; nested null stays variant Null (json.rs:275-294)") {
    assert(VariantJsonCodec.fromJson("null") == null)
    val (meta, v) = parse("""{"x": null}""")
    val x = v.getObject.getField(meta.findKey("x"))
    assert(x.isNull)
  }

  test("booleans (json.rs:296-309)") {
    assert(parse("true")._2.getBoolean)
    assert(!parse("false")._2.getBoolean)
  }

  test("integers (json.rs:311-319)") {
    assert(parse("-42")._2.getLong == -42L)
    assert(parse("9223372036854775807")._2.getLong == Long.MaxValue)
  }

  test("big int → decimal16 scale 0 (json.rs:321-329)") {
    val i128max = "170141183460469231731687303715884105727"
    val v = parse(i128max)._2
    assert(v.isDecimal)
    assert(v.getDecimal.toPlainString == i128max)
  }

  test("int > i128 is an error (json.rs:213-218)") {
    val tooBig = "170141183460469231731687303715884105728" // 2^127
    val e = intercept[Exception](parse(tooBig))
    assert(e.getMessage.contains("i128"))
  }

  test("floats (json.rs:331-339)") {
    assert(parse("45.454545")._2.getDouble == 45.454545)
    assert(parse("-1.5e300")._2.getDouble == -1.5e300)
  }

  test("strings (json.rs:341-349)") {
    assert(parse("\"some string\"")._2.getString == "some string")
    assert(parse("\"2024-01-01\"")._2.getString == "2024-01-01")
  }

  test("objects: key order independence (json.rs:360-397)") {
    val p1 = VariantJsonCodec.fromJson("""{"a": 1, "b": 2, "c": 3}""")
    val p2 = VariantJsonCodec.fromJson("""{"b": 2, "c": 3, "a": 1}""")
    assert(java.util.Arrays.equals(p1._1, p2._1))
    assert(java.util.Arrays.equals(p1._2, p2._2))
    val (meta, v) = parse("""{"a": 1, "b": 2, "c": 3, "d": {"e": 4}}""")
    val o = v.getObject
    assert(o.getField(meta.findKey("a")).getLong == 1L)
    val d = o.getField(meta.findKey("d"))
    assert(d.isObject)
    assert(d.getObject.getField(meta.findKey("e")).getLong == 4L)
  }

  test("arrays: heterogeneous + nested (json.rs:403-461)") {
    val (_, v1) = parse("""[1, "b", 3.0]""")
    val a1 = v1.getArray
    assert(a1.elementAt(0).getLong == 1L)
    assert(a1.elementAt(1).getString == "b")
    assert(a1.elementAt(2).getDouble == 3.0)

    val (meta2, v2) = parse("""["a", {"b": 2}, [3, 4]]""")
    val a2 = v2.getArray
    assert(a2.elementAt(0).getString == "a")
    assert(a2.elementAt(1).getObject.getField(meta2.findKey("b")).getLong == 2L)
    assert(a2.elementAt(2).getArray.elementAt(1).getLong == 4L)

    val (meta3, v3) = parse("""[[3, 4, {"c": 5}]]""")
    assert(v3.getArray.elementAt(0).getArray.elementAt(2)
      .getObject.getField(meta3.findKey("c")).getLong == 5L)

    val (meta4, v4) = parse("""[{"d": [6, 7]}]""")
    assert(v4.getArray.elementAt(0).getObject.getField(meta4.findKey("d"))
      .getArray.elementAt(1).getLong == 7L)
  }

  test("malformed JSON error (json.rs:518-529)") {
    val e = intercept[VariantJsonCodec.JsonParseException](parse("""{"a": """))
    assert(e.getMessage.contains("Failed to parse JSON"))
  }

  test("round-trip corpus: parse → print matches Jackson canonical form") {
    val docs = Seq(
      """{"a": 1, "b": 2, "c": 3}""",
      """{"a": 1, "b": 2, "c": 3, "d": {"e": 4}}""",
      """[1, "b", 3.0]""",
      """["a", {"b": 2}, [3, 4]]""",
      """[[3, 4, {"c": 5}]]""",
      """[{"d": [6, 7]}]""",
      """{"k": 87}""",
      """{"nested": {"deep": {"deeper": [1, 2, {"x": true}]}}}""",
      """{"s": "héllo 🎉", "neg": -128, "big": 9223372036854775807}""",
      """[]""",
      """{}""",
      """{"empty_obj": {}, "empty_arr": []}""")
    for (doc <- docs) {
      assert(roundTrip(doc) == TestJson.canonical(doc), s"for: $doc")
    }
  }

  test("object key resolution order: keys sorted in metadata regardless of appearance") {
    val (meta, v) = parse("""{"zebra": 1, "apple": 2}""")
    assert(meta.findKey("apple") == 0)
    assert(meta.findKey("zebra") == 1)
    val o = v.getObject
    assert(o.fieldIdAt(0) == 0) // sorted field ids
    assert(o.getField(0).getLong == 2L)
  }

  test("wide objects and long arrays through the JSON path (is_large + wide ids)") {
    val obj = (0 until 300).map(i => f""""k$i%04d": $i""").mkString("{", ", ", "}")
    val (meta, v) = parse(obj)
    val o = v.getObject
    assert(o.isLarge && o.numElements == 300)
    (0 until 300 by 37).foreach { i =>
      assert(o.getField(meta.findKey(f"k$i%04d")).getLong == i.toLong)
    }
    val arr = (0 until 400).mkString("[", ", ", "]")
    val (_, va) = parse(arr)
    assert(va.getArray.isLarge && va.getArray.numElements == 400)
    assert(va.getArray.elementAt(399).getLong == 399L)
    assert(roundTrip(obj) == TestJson.canonical(obj))
    assert(roundTrip(arr) == arr.replace(" ", ""))
    def keys(n: Int) = (0 until n).map(i => f""""k$i%04d": $i""")
    val boundaries = Seq(obj, arr) ++
      // field ids move from 1 to 2 bytes at id 128
      Seq(127, 128, 129).map(n => keys(n).mkString("{", ", ", "}")) ++
      // wide ids in a small object: its two keys sort after 300 others
      Seq((keys(300) :+ """"zz": {"zz1": 1, "zz2": [2]}""").mkString("{", ", ", "}")) ++
      // the count byte holds 255 elements; 256 makes the array large
      Seq(255, 256).map(n => (0 until n).mkString("[", ", ", "]")) ++
      // children past 32,767 bytes take 4-byte offsets
      Seq(s"""{"a": "${"x" * 40000}", "b": [1, "${"y" * 33000}"]}""",
        // 20,000 keys in reverse order: every field sorts across the object
        (0 until 20000).reverse.map(i => f""""k$i%05d": $i""").mkString("{", ", ", "}"),
        // an escaped key: the Jackson walk through the same encoder
        """{"a\"b": 1, "c": {"d\u00e9": [true, {"a\"b": null}]}, "b": 2}""")
    assert(VariantJsonCodec.fastOnlyForTest(boundaries.last.getBytes("UTF-8")).isLeft)
    boundaries.foreach(assertReferenceBytes)
  }

  test("a ~2 MB row then a small one: reference bytes, and the large row's buffers are freed") {
    val big = (0 until 44000).map(i => s"""{"id": $i, "name": "n$i", "v": ${i * 1.5}}""")
      .mkString("""{"rows": [""", ", ", "]}")
    assert(big.length > 2000000)
    assertReferenceBytes(big)
    assert(VariantEncoder.current.retainedBytes <= VariantEncoder.MaxKept)
    assertReferenceBytes("""{"small": [1, 2]}""")
    assert(VariantEncoder.current.retainedBytes <= VariantEncoder.MaxKept)
  }

  test("deep nesting (500 levels) round-trips without stack issues") {
    val depth = 500
    val json = ("""{"a": """ * depth) + "1" + ("}" * depth)
    val (meta, v) = parse(json)
    var cur = v
    (0 until depth).foreach { _ => cur = cur.getObject.getField(meta.findKey("a")) }
    assert(cur.getLong == 1L)
    assert(roundTrip(json) == json.replace(""": """, ":").replace(""" """, ""))
  }

  test("duplicate keys across nesting levels dedup in metadata") {
    val (meta, v) = parse("""{"a": {"a": {"a": 1}}}""")
    assert(meta.dictionarySize == 1)
    assert(v.getObject.getField(0).getObject.getField(0).getObject.getField(0).getLong == 1L)
  }
}
