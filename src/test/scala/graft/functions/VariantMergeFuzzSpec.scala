package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Differential fuzz for `variant_merge_patch`: 300 seeded random
  * document pairs merged by our variant-tree implementation vs an
  * INDEPENDENT model built on Jackson JSON trees (no shared code with
  * VariantMerge) — the two only agree if the RFC semantics, the
  * decode, and the canonical re-encode are all right.
  */
class VariantMergeFuzzSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import com.fasterxml.jackson.databind.node.{ObjectNode, NullNode}
  private val mapper = new ObjectMapper()

  /** RFC 7386 on Jackson trees — the reference model. */
  private def modelMerge(target: JsonNode, patch: JsonNode): JsonNode =
    if (!patch.isObject) patch.deepCopy[JsonNode]()
    else {
      val out = (if (target.isObject) target.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
                 else mapper.createObjectNode())
      val it = patch.fields()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.isNull) out.remove(e.getKey)
        else out.set[JsonNode](e.getKey, modelMerge(
          Option(out.get(e.getKey)).getOrElse(NullNode.getInstance()), e.getValue))
      }
      out
    }

  /** Canonical text of a Jackson tree: keys sorted, compact — matches
    * our printer's formatting for the value space the generator emits
    * (ints, booleans, strings, arrays, objects, nulls). */
  private def canonical(n: JsonNode): String =
    if (n.isObject) {
      import scala.jdk.CollectionConverters._
      n.asInstanceOf[ObjectNode].fields().asScala.toSeq
        .sortBy(_.getKey)
        .map(e => "\"" + e.getKey + "\":" + canonical(e.getValue))
        .mkString("{", ",", "}")
    } else if (n.isArray) {
      (0 until n.size()).map(i => canonical(n.get(i))).mkString("[", ",", "]")
    } else n.toString

  /** Random JSON value; keys drawn from a small pool so target/patch
    * collide often (collisions are where merge semantics live). */
  private def gen(rnd: scala.util.Random, depth: Int): String = {
    val keys = Seq("a", "b", "c", "d", "e")
    rnd.nextInt(if (depth >= 3) 4 else 6) match {
      case 0 => rnd.nextInt(200).toString
      case 1 => "\"s" + rnd.nextInt(10) + "\""
      case 2 => if (rnd.nextBoolean()) "true" else "false"
      case 3 => "null"
      case 4 => // array
        (0 until rnd.nextInt(3)).map(_ => gen(rnd, depth + 1)).mkString("[", ",", "]")
      case _ => // object
        rnd.shuffle(keys).take(rnd.nextInt(4))
          .map(k => "\"" + k + "\":" + gen(rnd, depth + 1)).mkString("{", ",", "}")
    }
  }

  test("300 random pairs agree with an independent Jackson model") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    // targets/patches biased toward objects so recursion gets exercised
    val pairs = (1 to 300).map { i =>
      val t = "{" + Seq("a", "b", "c").map(k => "\"" + k + "\":" + gen(rnd, 1)).mkString(",") + "}"
      val p = "{" + rnd.shuffle(Seq("a", "b", "c", "d")).take(rnd.nextInt(4) + 1)
        .map(k => "\"" + k + "\":" + gen(rnd, 1)).mkString(",") + "}"
      (i, t, p)
    }
    val got = pairs.toDF("i", "t", "p")
      .selectExpr("i", "variant_to_json(variant_merge_patch(" +
        "variant_from_json(t), variant_from_json(p))) AS j")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    pairs.foreach { case (i, t, p) =>
      val expected = canonical(modelMerge(mapper.readTree(t), mapper.readTree(p)))
      assert(got(i) === expected, s"pair $i: target=$t patch=$p")
    }
  }

  // -------------------------------------------------------------------
  // Fusion parity: the optimizer rewrites the SQL surface to
  // the fused merge (JSON operand sides), so the suite above now
  // exercises the FUSED plan; this block pins fused ≡ unfused
  // byte-for-byte by direct expression eval (no optimizer), keeping the
  // unfused path tested.
  // -------------------------------------------------------------------
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
  import org.apache.spark.sql.types.StringType
  import VariantEdit.Side.Json

  /** An edit over two raw JSON operands, as the fusion rule builds it. */
  private def fusedEdit(edit: VariantEdit.Edit, l: Expression, r: Expression,
                        failLeft: Boolean, failRight: Boolean) =
    VariantEdit(edit, l, r, Json(failLeft), Json(failRight))

  /** Strip over a raw JSON operand, as the fusion rule builds it. */
  private def fusedStrip(j: Expression, keys: Expression, failFast: Boolean) =
    VariantEdit(VariantEdit.Strip, j, keys, Json(failFast), VariantEdit.Side.Keys)

  private def evalPair(t: String, p: String): (Any, Any) = {
    val lt = Literal.create(t, StringType)
    val lp = Literal.create(p, StringType)
    val unfused = VariantEdit(VariantEdit.Merge, VariantFromJson(lt), VariantFromJson(lp)).eval(InternalRow.empty)
    val fused = fusedEdit(VariantEdit.Merge, lt, lp, failLeft = true, failRight = true).eval(InternalRow.empty)
    (unfused, fused)
  }

  private def assertSameBytes(t: String, p: String): Unit = {
    val (u, f) = evalPair(t, p)
    if (u == null || f == null) {
      assert(u == null && f == null, s"null mismatch: target=$t patch=$p unfused=$u fused=$f")
    } else {
      val ur = u.asInstanceOf[InternalRow]; val fr = f.asInstanceOf[InternalRow]
      assert(java.util.Arrays.equals(ur.getBinary(0), fr.getBinary(0)),
        s"metadata bytes differ: target=$t patch=$p")
      assert(java.util.Arrays.equals(ur.getBinary(1), fr.getBinary(1)),
        s"value bytes differ: target=$t patch=$p")
    }
  }

  test("fused and unfused merge agree byte-for-byte on 300 random pairs") {
    val rnd = new scala.util.Random(20260813L)
    (1 to 300).foreach { _ =>
      val t = gen(rnd, 0)
      val p = gen(rnd, 0)
      assertSameBytes(t, p)
    }
  }

  test("fused parity on edge documents: top-level null, scalars, numbers, dup keys") {
    // SQL-null rule: a top-level JSON null on either side nulls the merge
    assertSameBytes("null", """{"a":1}""")
    assertSameBytes("""{"a":1}""", "null")
    // non-object patches replace wholesale
    assertSameBytes("""{"a":1}""", "3.5")
    assertSameBytes("42", """{"a":1}""")
    // number coercions: big int → decimal scale 0, float → double
    assertSameBytes("""{"a": 99999999999999999999999999}""", """{"b": 1e3}""")
    assertSameBytes("""{"a": 1.25}""", """{"a": 170141183460469231731687303715884105727}""")
    // duplicate keys collapse identically (last value, first position)
    assertSameBytes("""{"a":1,"b":2,"a":3}""", """{"b":{"x":1,"x":2}}""")
  }

  test("fused parity on errors: malformed, trailing tokens, i128 overflow, try_ semantics") {
    def unfusedFails(t: String, p: String): Boolean =
      try { VariantEdit(VariantEdit.Merge, VariantFromJson(Literal.create(t, StringType)),
        VariantFromJson(Literal.create(p, StringType))).eval(InternalRow.empty); false }
      catch { case _: graft.variant.VariantJsonCodec.JsonParseException => true }
    def fusedFails(t: String, p: String): Boolean =
      try { fusedEdit(VariantEdit.Merge, Literal.create(t, StringType), Literal.create(p, StringType),
        failLeft = true, failRight = true).eval(InternalRow.empty); false }
      catch { case _: graft.variant.VariantJsonCodec.JsonParseException => true }
    for ((t, p) <- Seq(
        ("""{"a":}""", """{"b":1}"""),            // malformed target
        ("""{"a":1}""", """{"b":"""),             // malformed patch
        ("""{"a":1} 2""", """{"b":1}"""),         // trailing tokens
        ("""{"a":1}""", "null null"),             // trailing after top null
        ("""{"a": 340282366920938463463374607431768211456}""", "{}"))) { // ≥ i128
      assert(unfusedFails(t, p) && fusedFails(t, p), s"error parity: target=$t patch=$p")
    }
    // try_ form: a failed side nulls the result instead of throwing
    val tryFused = fusedEdit(VariantEdit.Merge,
      Literal.create("""{"a":}""", StringType), Literal.create("""{"b":1}""", StringType),
      failLeft = false, failRight = true).eval(InternalRow.empty)
    assert(tryFused == null)
  }

  // -------------------------------------------------------------------
  // Strip-keys fusion parity (round 8): same contract as the merge
  // fusion — fused ≡ unfused byte-for-byte, same SQL-null and error
  // semantics.
  // -------------------------------------------------------------------
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private def stripPair(j: String, keys: Seq[String]): (Any, Any) = {
    val lj = Literal.create(j, StringType)
    val lk = Literal(new GenericArrayData(keys.map(UTF8String.fromString).toArray),
      org.apache.spark.sql.types.ArrayType(StringType))
    val unfused = VariantEdit(VariantEdit.Strip, VariantFromJson(lj), lk).eval(InternalRow.empty)
    val fused = fusedStrip(lj, lk, failFast = true).eval(InternalRow.empty)
    (unfused, fused)
  }

  private def assertStripSame(j: String, keys: Seq[String]): Unit = {
    val (u, f) = stripPair(j, keys)
    if (u == null || f == null) {
      assert(u == null && f == null, s"null mismatch: j=$j keys=$keys")
    } else {
      val ur = u.asInstanceOf[InternalRow]; val fr = f.asInstanceOf[InternalRow]
      assert(java.util.Arrays.equals(ur.getBinary(0), fr.getBinary(0)),
        s"metadata bytes differ: j=$j keys=$keys")
      assert(java.util.Arrays.equals(ur.getBinary(1), fr.getBinary(1)),
        s"value bytes differ: j=$j keys=$keys")
    }
  }

  test("fused and unfused strip_keys agree byte-for-byte on 300 random docs") {
    val rnd = new scala.util.Random(20260815L)
    (1 to 300).foreach { _ =>
      val j = gen(rnd, 0)
      // strip a mix of hit-or-miss keys (the generator draws keys k0..k9)
      val keys = Seq("k" + rnd.nextInt(10), "k" + rnd.nextInt(10), "absent")
      assertStripSame(j, keys)
    }
  }

  test("strip_keys fusion parity on edges: top-level null, non-objects, all-keys, errors") {
    assertStripSame("null", Seq("a"))
    assertStripSame("42", Seq("a"))
    assertStripSame("[1,2]", Seq("a"))
    assertStripSame("""{"a":1,"b":{"a":2}}""", Seq("a")) // nested "a" survives
    assertStripSame("""{"a":1,"b":2}""", Seq("a", "b")) // empty object result
    assertStripSame("""{"a":1}""", Seq()) // no-op strip
    def fusedStripFails(j: String): Boolean =
      try { fusedStrip(Literal.create(j, StringType),
        Literal(new GenericArrayData(Array(UTF8String.fromString("a"))),
          org.apache.spark.sql.types.ArrayType(StringType)),
        failFast = true).eval(InternalRow.empty); false }
      catch { case _: graft.variant.VariantJsonCodec.JsonParseException => true }
    assert(fusedStripFails("""{"a":}"""))
    assert(fusedStripFails("""{"a":1} 2"""))
    val tryFused = fusedStrip(Literal.create("""{"a":}""", StringType),
      Literal(new GenericArrayData(Array(UTF8String.fromString("a"))),
        org.apache.spark.sql.types.ArrayType(StringType)),
      failFast = false).eval(InternalRow.empty)
    assert(tryFused == null)
  }

  // -------------------------------------------------------------------
  // Diff fusion parity (round 8): mirror of the merge block.
  // -------------------------------------------------------------------
  private def diffPair(a: String, b: String): (Any, Any) = {
    val la = Literal.create(a, StringType)
    val lb = Literal.create(b, StringType)
    val unfused = VariantEdit(VariantEdit.Diff, VariantFromJson(la), VariantFromJson(lb)).eval(InternalRow.empty)
    val fused = fusedEdit(VariantEdit.Diff, la, lb, failLeft = true, failRight = true).eval(InternalRow.empty)
    (unfused, fused)
  }

  test("fused and unfused diff agree byte-for-byte on 300 random pairs") {
    val rnd = new scala.util.Random(20260816L)
    (1 to 300).foreach { _ =>
      val a = gen(rnd, 0)
      val b = gen(rnd, 0)
      val (u, f) = diffPair(a, b)
      if (u == null || f == null) assert(u == null && f == null, s"null mismatch: a=$a b=$b")
      else {
        val ur = u.asInstanceOf[InternalRow]; val fr = f.asInstanceOf[InternalRow]
        assert(java.util.Arrays.equals(ur.getBinary(0), fr.getBinary(0)), s"metadata differ: a=$a b=$b")
        assert(java.util.Arrays.equals(ur.getBinary(1), fr.getBinary(1)), s"value differ: a=$a b=$b")
      }
    }
    // edges: top-level nulls, identical docs (empty patch), wholesale replace
    for ((a, b) <- Seq(("null", """{"x":1}"""), ("""{"x":1}""", "null"),
        ("""{"x":1,"y":2}""", """{"x":1,"y":2}"""), ("""{"x":1}""", "[1,2]"))) {
      val (u, f) = diffPair(a, b)
      if (u == null || f == null) assert(u == null && f == null, s"null mismatch: a=$a b=$b")
      else {
        val ur = u.asInstanceOf[InternalRow]; val fr = f.asInstanceOf[InternalRow]
        assert(java.util.Arrays.equals(ur.getBinary(1), fr.getBinary(1)), s"value differ: a=$a b=$b")
      }
    }
  }

  // -------------------------------------------------------------------
  // docToVNode: the byte walk, else the codec's parse decoded. Pinned
  // against decode(fromJsonBytes) on random docs plus the walk's edges,
  // and the three fused forms against their unfused pairs on the same
  // corpus.
  // -------------------------------------------------------------------
  private val edgeDocs: Seq[String] = Seq(
    "{\"\\" + "u0061\": 1, \"b\": {\"c\\n\": 2}}",              // escaped keys
    """{"n": 1234567890123456789, "m": -9223372036854775808}""", // 19 digits, 63 bits
    """{"n": 9223372036854775808}""",                            // 19 digits, 64 bits
    s"""{"n": ${BigInt(2).pow(100)}, "m": -${BigInt(2).pow(100)}}""",
    s"""[${BigInt(2).pow(127) - 1}, -${BigInt(2).pow(127)}]""",  // i128 bounds
    s"""{"n": ${BigInt(2).pow(127)}}""",                         // past i128
    "[" * 1000 + "]" * 1000,                                     // at the nesting bound: walk takes
    "[" * 1001 + "]" * 1001,                                     // one past: walk misses, codec rejects
    "[" * 1002 + "]" * 1002,                                     // two past: same
    """{"a":1} 2""", "null null", "[1] x",                       // trailing tokens
    "", "   ")                                                   // empty input

  private lazy val nodeCorpus: Seq[String] = {
    val rnd = new scala.util.Random(20260817L)
    Seq.fill(300)(gen(rnd, 0)) ++ edgeDocs
  }

  /** A value, or the class of the exception evaluating it threw. */
  private def outcome(f: => Any): Any =
    try f match {
      case row: InternalRow => (row.getBinary(0).toSeq, row.getBinary(1).toSeq)
      case v => v
    } catch { case e: Exception => e.getClass }

  /** Runs `f` on a thread with a deep stack: the trees of the 1000-deep
    * edge doc are walked and compared recursively. */
  private def onDeepStack(f: => Unit): Unit = {
    var err: Throwable = null
    val t = new Thread(null, () => try f catch { case e: Throwable => err = e }, "deep", 512L << 20)
    t.start()
    t.join()
    if (err != null) throw err
  }

  test("docToVNode equals the codec's parse, decoded, on random and edge docs") {
    onDeepStack(nodeCorpus.foreach { doc =>
      val b = doc.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val got = outcome(VariantMergePatch.docToVNode(b))
      val want = outcome {
        val pair = graft.variant.VariantJsonCodec.fromJsonBytes(b, 0, b.length)
        if (pair == null) null else VariantMergePatch.decode(pair._1, pair._2)
      }
      assert(got == want, s"doc=${doc.take(60)}")
      // and the edit encoder writes the codec's bytes back from the tree
      val pair = try graft.variant.VariantJsonCodec.fromJsonBytes(b, 0, b.length)
      catch { case _: Exception => null }
      if (pair != null) {
        val again = VariantMergePatch.encode(VariantMergePatch.decode(pair._1, pair._2))
        assert(java.util.Arrays.equals(again.getBinary(0), pair._1) &&
          java.util.Arrays.equals(again.getBinary(1), pair._2), s"re-encode of doc=${doc.take(60)}")
      }
    })
  }

  test("fused merge/diff/strip equal their unfused pairs on the docToVNode corpus, both fail modes") {
    val keys = Literal(new GenericArrayData(Array(UTF8String.fromString("a"))),
      org.apache.spark.sql.types.ArrayType(StringType))
    // a tree, a top-level null and a malformed doc on the other side
    // cover the left-first, right-skipped-after-null evaluation order
    val others = Seq("""{"a":{"b":1},"c":2}""", "null", """{"a":}""")
    onDeepStack(for (doc <- nodeCorpus; strict <- Seq(true, false)) {
      def lit(s: String) = Literal.create(s, StringType)
      def parse(s: String) = VariantFromJson(lit(s), strict)
      def same(what: String, fused: => Any, unfused: => Any): Unit = {
        val f = outcome(fused)
        val u = outcome(unfused)
        assert(f == u, s"$what strict=$strict doc=${doc.take(60)}: fused=$f unfused=$u")
      }
      same("strip", fusedStrip(lit(doc), keys, strict).eval(InternalRow.empty),
        VariantEdit(VariantEdit.Strip, parse(doc), keys).eval(InternalRow.empty))
      for (other <- others; (l, r) <- Seq((doc, other), (other, doc))) {
        same(s"merge(${l.take(40)}, ${r.take(40)})",
          fusedEdit(VariantEdit.Merge, lit(l), lit(r), strict, strict).eval(InternalRow.empty),
          VariantEdit(VariantEdit.Merge, parse(l), parse(r)).eval(InternalRow.empty))
        same(s"diff(${l.take(40)}, ${r.take(40)})",
          fusedEdit(VariantEdit.Diff, lit(l), lit(r), strict, strict).eval(InternalRow.empty),
          VariantEdit(VariantEdit.Diff, parse(l), parse(r)).eval(InternalRow.empty))
      }
    })
  }

  test("a fused edit skips its right operand after a top-level-null left, codegen on and off") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.plans.logical.Project
    // under ANSI the right document's source raises when evaluated; the
    // unfused edit never evaluates it, because the left parse is SQL NULL
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    val right = try spark.range(1)
      .selectExpr("""concat('{"a":', CAST(CAST('x' AS INT) AS STRING), '}')""")
      .queryExecution.analyzed.asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
    finally spark.conf.set("spark.sql.ansi.enabled", ansi)
    val left = Literal.create("null", StringType)
    def run(e: Expression, codegen: Boolean): Any = outcome(
      if (!codegen) e.eval(InternalRow.empty)
      else GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty).getStruct(0, 2))
    for (edit <- Seq(VariantEdit.Merge, VariantEdit.Diff); strict <- Seq(true, false);
         codegen <- Seq(true, false)) {
      val u = run(VariantEdit(edit, VariantFromJson(left, strict), VariantFromJson(right, strict)), codegen)
      val f = run(fusedEdit(edit, left, right, strict, strict), codegen)
      assert(u == null && f == u, s"${edit.prettyName} strict=$strict codegen=$codegen: fused=$f unfused=$u")
      // a fused left over a variant right operand: same order, same result
      val doc = Literal.create("""{"a":{"b":1},"c":2}""", StringType)
      val other = VariantFromJson(Literal.create("""{"a":{"d":3},"c":null}""", StringType), strict)
      for ((l, r) <- Seq((left, VariantFromJson(right, strict)), (doc, other))) {
        val mixed = run(VariantEdit(edit, l, r, Json(strict), VariantEdit.Side.Variant), codegen)
        val unfused = run(VariantEdit(edit, VariantFromJson(l, strict), r), codegen)
        assert(mixed == unfused, s"${edit.prettyName} strict=$strict codegen=$codegen: $mixed vs $unfused")
      }
    }
  }

  // -------------------------------------------------------------------
  // The one edit memo is shared by every edit, mode and instance on a
  // thread: its key must tell them apart.
  // -------------------------------------------------------------------
  private def printed(v: Any): String =
    if (v == null) null
    else {
      val row = v.asInstanceOf[InternalRow]
      graft.variant.VariantJsonCodec.toJsonString(row.getBinary(0), row.getBinary(1))
    }

  private def keyList(ks: String*) =
    Literal(new GenericArrayData(ks.map(UTF8String.fromString).toArray),
      org.apache.spark.sql.types.ArrayType(StringType))

  test("one memo for every edit: its key covers the edit, each side's mode and the key list") {
    def lit(s: String) = Literal.create(s, StringType)
    val a = """{"a":1,"b":{"c":2}}"""
    val b = """{"a":3,"b":{"c":2},"d":4}"""
    val bad = """{"a":}"""
    for (strict <- Seq(true, false)) {
      // identical operands, back to back on one thread
      assert(printed(fusedEdit(VariantEdit.Merge, lit(a), lit(b), strict, strict).eval(InternalRow.empty))
        === """{"a":3,"b":{"c":2},"d":4}""")
      assert(printed(fusedEdit(VariantEdit.Diff, lit(a), lit(b), strict, strict).eval(InternalRow.empty))
        === """{"a":3,"d":4}""")
      assert(printed(VariantEdit(VariantEdit.Diff, VariantFromJson(lit(a), strict),
        VariantFromJson(lit(b), strict)).eval(InternalRow.empty)) === """{"a":3,"d":4}""")
      assert(printed(VariantEdit(VariantEdit.Merge, VariantFromJson(lit(a), strict),
        VariantFromJson(lit(b), strict)).eval(InternalRow.empty)) === """{"a":3,"b":{"c":2},"d":4}""")
      // the same document, a different key list
      assert(printed(fusedStrip(lit(a), keyList("a"), strict).eval(InternalRow.empty)) === """{"b":{"c":2}}""")
      assert(printed(fusedStrip(lit(a), keyList("b"), strict).eval(InternalRow.empty)) === """{"a":1}""")
      assert(printed(VariantEdit(VariantEdit.Strip, VariantFromJson(lit(a), strict), keyList("a"))
        .eval(InternalRow.empty)) === """{"b":{"c":2}}""")
    }
    // a memoized try_ NULL must not answer the strict form of either side
    for ((l, r) <- Seq((bad, a), (a, bad))) {
      assert(fusedEdit(VariantEdit.Merge, lit(l), lit(r), false, false).eval(InternalRow.empty) == null)
      intercept[graft.variant.VariantJsonCodec.JsonParseException](
        fusedEdit(VariantEdit.Merge, lit(l), lit(r), l == bad, r == bad).eval(InternalRow.empty))
    }
  }

  test("an unknown primitive type id raises an error that names it, through diff and strip") {
    import VariantMergePatch.{VLong, VObj, encode}
    val meta = graft.variant.VariantMetadata.build(new java.util.ArrayList[String]())._1
    // primitive header with type id 20: basic type 0, type info 20
    val unknown = Literal(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](meta, Array[Byte]((20 << 2).toByte))), VariantSchema.TYPE)
    val ok = Literal(encode(VObj(scala.collection.mutable.LinkedHashMap("a" -> VLong(1)))),
      VariantSchema.TYPE)
    val edits = Seq(
      VariantEdit(VariantEdit.Strip, unknown, keyList("a")),
      VariantEdit(VariantEdit.Diff, unknown, ok),
      VariantEdit(VariantEdit.Diff, ok, unknown))
    edits.foreach { e =>
      val err = intercept[IllegalArgumentException](e.eval(InternalRow.empty))
      assert(err.getMessage.contains("type id 20"), err.getMessage)
      assert(!err.getMessage.contains("variant_merge_patch"), err.getMessage)
    }
  }
}
