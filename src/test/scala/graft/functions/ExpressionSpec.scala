package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{AnalysisException, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Spark-level semantics of the variant expression surface, mirroring
  * the reference's error cases (FIXTURES §A.4) at the SQL boundary.
  */
class ExpressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sql1(q: String): Row = spark.sql(q).collect()(0)

  test("aggregate fusion edge shapes: grouped schema agg, DISTINCT args, Filter-blocked") {
    import graft.functions.{VariantFunctions => vf}
    import org.apache.spark.sql.types.LongType
    val df = Seq(
      ("a", """{"k": 1}"""), ("a", """{"k": 1}"""), ("a", """{"k": 2, "s": "x"}"""),
      ("b", """{"k": 300}""")).toDF("g", "j")
      .select(col("g"), col("j"), vf.variant_from_json(col("j")).as("v"))
    // grouped schema agg (fusion rewrites inside the agg function)
    val grouped = df.groupBy(col("g"))
      .agg(vf.schema_of_variant_agg(col("v")).as("sch"))
      .orderBy(col("g")).collect()
    assert(grouped.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(
      ("a", "object<k: bigint, s: string>"), ("b", "object<k: bigint>")))
    // DISTINCT aggregate argument survives the rewrite (isDistinct preserved)
    val dist = df.groupBy(col("g"))
      .agg(sum_distinct(vf.variant_get(col("v"), "$.k", LongType)).as("ks"))
      .orderBy(col("g")).collect()
    assert(dist.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 3L), ("b", 300L)))
    // a Filter between the Aggregate and the variant-defining Project
    // blocks the through-Project rewrite — results must still be right
    val filtered = df.filter(rand() >= 0) // non-pushable barrier
      .groupBy(col("g"))
      .agg(sum(vf.variant_get(col("v"), "$.k", LongType)).as("ks"))
      .orderBy(col("g")).collect()
    assert(filtered.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 4L), ("b", 300L)))
  }

  test("heterogeneous JSON shapes shuffled across partitions stay canonical (speculative encoder)") {
    import graft.variant.VariantJsonCodec
    // 7 interleaved shapes over 8 partitions: every executor thread sees
    // constant shape switches, so the encoder's per-thread metadata reuse
    // misses constantly and must still produce the canonical bytes the
    // two-pass tree encoder defines.
    val shapes = (1 to 2100).map { i =>
      i % 7 match {
        case 0 => s"""{"k": $i, "s": "v$i", "f": ${i / 7.0}}"""
        case 1 => s"""{"b": $i, "a": ${i * 2}}"""
        case 2 => s"""{"a": $i}"""
        case 3 => s"""[$i, {"z": $i}]"""
        case 4 => s"""$i"""
        case 5 => s"""{"é": $i, "Z": [$i, null]}"""
        case 6 => "null"
      }
    }
    val got = shapes.toDF("j").repartition(8)
      .select(col("j"),
        VariantFunctions.variant_to_json(VariantFunctions.variant_from_json(col("j"))).as("rt"))
      .collect()
    assert(got.length == 2100)
    got.foreach { r =>
      val j = r.getString(0)
      val expected =
        if (j == "null") null
        else {
          val b = j.getBytes("UTF-8")
          val pair = VariantJsonCodec.fromTree(VariantJsonCodec.parseTree(b, 0, b.length))
          VariantJsonCodec.toJsonString(pair._1, pair._2)
        }
      assert(r.getString(1) == expected, s"roundtrip diverged for: $j")
    }
  }

  test("wrong input type rejected at analysis (json.rs:505-516)") {
    val e = intercept[AnalysisException] {
      spark.sql("SELECT variant_from_json(42)").collect()
    }
    assert(e.getMessage.contains("not supported") || e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("malformed JSON: error strict, NULL in try mode (json.rs:518-529)") {
    val e = intercept[Exception] {
      spark.sql("""SELECT variant_from_json('{"a": ')""").collect()
    }
    assert(e.getMessage.contains("Failed to parse JSON") ||
      e.getCause != null && e.getCause.getMessage.contains("Failed to parse JSON"))
    assert(sql1("""SELECT try_variant_from_json('{"a": ') IS NULL AS r""").getBoolean(0))
  }

  test("top-level null vs nested null (json.rs:275-294)") {
    assert(sql1("SELECT variant_from_json('null') IS NULL AS r").getBoolean(0))
    assert(sql1(
      """SELECT is_variant_null(variant_get(variant_from_json('{"x": null}'), '$.x')) AS r""")
      .getBoolean(0))
    assert(!sql1(
      """SELECT is_variant_null(variant_from_json('{"x": null}')) AS r""").getBoolean(0))
  }

  test("typed extraction + casts") {
    val r = sql1(
      """SELECT variant_get(variant_from_json('{"a": 1, "b": 2.5, "c": "x", "d": true, "e": [10, 20]}'), '$.a', 'bigint') AS a,
        |       variant_get(variant_from_json('{"b": 2.5}'), '$.b', 'double') AS b,
        |       variant_get(variant_from_json('{"c": "x"}'), '$.c', 'string') AS c,
        |       variant_get(variant_from_json('{"d": true}'), '$.d', 'boolean') AS d,
        |       variant_get(variant_from_json('{"e": [10, 20]}'), '$.e[1]', 'bigint') AS e,
        |       variant_get(variant_from_json('{"a": 1}'), '$.missing', 'bigint') AS m
        |""".stripMargin)
    assert(r.getLong(0) == 1L && r.getDouble(1) == 2.5 && r.getString(2) == "x")
    assert(r.getBoolean(3) && r.getLong(4) == 20L && r.isNullAt(5))

    // a long string (over 63 bytes) and a 4-byte UTF-8 character read the
    // same through the fused get, the unfused reader and Spark's builtin
    import org.apache.spark.sql.catalyst.expressions.Literal
    val long = "é" * 40 + "x"
    val json = s"""{"l": "$long", "e": "a😀b", "u": "\\ud83d\\ude00"}"""
    val get = JsonConsumer.Cast(StringType, castFailOnError = true)
    for ((path, want) <- Seq("$.l" -> long, "$.e" -> "a😀b", "$.u" -> "😀")) {
      assert(JsonPathExtract(Literal(json), path, get, parseFailOnError = true).eval(null).toString == want, path)
      assert(VariantRead(VariantFromJson(Literal(json)), path, get).eval(null).toString == want, path)
      assert(Seq(json).toDF("j").selectExpr(s"variant_get(parse_json(j), '$path', 'string')")
        .collect()(0).getString(0) == want, path)
    }
  }

  test("lenient variant_get and try_variant_get null on type mismatch") {
    assert(sql1(
      """SELECT try_variant_get(variant_from_json('{"c": "xyz"}'), '$.c', 'bigint') IS NULL AS r""")
      .getBoolean(0))
    assert(sql1(
      """SELECT variant_get(variant_from_json('{"c": "xyz"}'), '$.c', 'bigint') IS NULL AS r""")
      .getBoolean(0))
  }

  test("big int → decimal round-trip (json.rs:321-329)") {
    // 38 digits: the largest decimal Spark can represent. (i128 max is 39
    // digits — storable in the variant encoding, extractable as string,
    // but beyond DecimalType(38).)
    val big38 = "99999999999999999999999999999999999999"
    val r = sql1(
      s"""SELECT CAST(variant_get(variant_from_json('{"big": $big38}'), '$$.big', 'decimal(38,0)') AS STRING) AS s,
         |       variant_get(variant_from_json('{"big": 170141183460469231731687303715884105727}'), '$$.big', 'string') AS s39""".stripMargin)
    assert(r.getString(0) == big38)
    assert(r.getString(1) == "170141183460469231731687303715884105727")
  }

  test("variant_typeof across types") {
    val r = sql1(
      """SELECT variant_typeof(variant_from_json('{"a": 1}')) AS o,
        |       variant_typeof(variant_from_json('[1]')) AS a,
        |       variant_typeof(variant_from_json('1.5')) AS d,
        |       variant_typeof(variant_from_json('"s"')) AS s,
        |       variant_typeof(variant_from_json('true')) AS b,
        |       variant_typeof(variant_from_json('12')) AS i
        |""".stripMargin)
    assert(r.toSeq == Seq("object", "array", "double", "string", "boolean", "tinyint"))
  }

  test("variant_explode over object and array") {
    val obj = spark.sql(
      """SELECT pos, key, variant_get(value, '$', 'bigint') AS v
        |FROM (SELECT variant_explode(variant_from_json('{"b": 2, "a": 1}')) )""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(obj.toSeq == Seq((0, "a", 1L), (1, "b", 2L))) // metadata-sorted order
    val arr = spark.sql(
      """SELECT pos, key, variant_get(value, '$', 'bigint') AS v
        |FROM (SELECT variant_explode(variant_from_json('[5, 7]')) )""".stripMargin)
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))
    assert(arr.toSeq == Seq((0, null, 5L), (1, null, 7L)))
    // scalar → zero rows
    assert(spark.sql("SELECT variant_explode(variant_from_json('42'))").count() == 0)
    // outer variant keeps the row with NULLs for scalars
    val outer = spark.sql(
      """SELECT pos, key FROM (SELECT variant_explode_outer(variant_from_json('42')))""")
      .collect()
    assert(outer.length == 1 && outer(0).isNullAt(0) && outer(0).isNullAt(1))
  }

  test("schema_of_variant and schema_of_variant_agg") {
    assert(sql1(
      """SELECT schema_of_variant(variant_from_json('{"a": 1, "b": [1.5, 2]}')) AS s""")
      .getString(0) == "object<a: bigint, b: array<double>>")
    // agg merges across rows: long + double widen, extra key appears
    val df = Seq("""{"a": 1}""", """{"a": 2.5, "b": "x"}""").toDF("j")
    df.createOrReplaceTempView("schema_agg_in")
    assert(sql1(
      """SELECT schema_of_variant_agg(variant_from_json(j)) AS s FROM schema_agg_in""")
      .getString(0) == "object<a: double, b: string>")
  }

  test("to_variant round-trips maps and arrays") {
    assert(sql1(
      """SELECT variant_to_json(to_variant(map('z', 26, 'a', 1))) AS j""")
      .getString(0) == """{"a":1,"z":26}""")
    assert(sql1(
      """SELECT variant_to_json(to_variant(array(1, 2, 3))) AS j""")
      .getString(0) == "[1,2,3]")
    assert(sql1(
      """SELECT variant_get(to_variant(named_struct('d', DATE'2024-06-01')), '$.d', 'date') = DATE'2024-06-01' AS r""")
      .getBoolean(0))
    // nested struct/map/array: the bytes of the JSON twin's parse
    val twin = sql1(
      """SELECT to_variant(named_struct('b', 1.5D, 'a', map('y', array(1L, 2L), 'x', array()),
        |         's', named_struct('z', 'str', 'n', CAST(NULL AS STRING)), 'l', array(named_struct('k', true)))) AS t,
        |       variant_from_json('{"b": 1.5, "a": {"y": [1, 2], "x": []}, "s": {"z": "str", "n": null}, "l": [{"k": true}]}') AS j"""
        .stripMargin)
    Seq("metadata", "value").foreach { f =>
      assert(twin.getStruct(0).getAs[Array[Byte]](f).toSeq == twin.getStruct(1).getAs[Array[Byte]](f).toSeq, f)
    }
  }

  test("variant_from_json reads a string's backing array in place, and a rewritten array parses afresh") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.unsafe.types.UTF8String
    // two rows viewing one backing array (at an offset), rewritten in
    // between with a different document of the same length
    val backing = """xx{"a": 1}yy""".getBytes("UTF-8")
    val parse = VariantFromJson(BoundReference(0, StringType, nullable = true))
    def value(): Seq[Byte] = parse.eval(InternalRow(UTF8String.fromBytes(backing, 2, 8)))
      .asInstanceOf[InternalRow].getBinary(1).toSeq
    val first = value()
    System.arraycopy("""{"a": 2}""".getBytes("UTF-8"), 0, backing, 2, 8)
    val second = value()
    assert(first != second)
    assert(first == graft.variant.VariantJsonCodec.fromJson("""{"a": 1}""")._2.toSeq)
    assert(second == graft.variant.VariantJsonCodec.fromJson("""{"a": 2}""")._2.toSeq)
  }

  test("variant_from_json keeps no copy of a row over the encoder's MaxKept") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.unsafe.types.UTF8String
    import graft.variant.{VariantEncoder, VariantJsonCodec}
    val big = (0 until 80000).map(i => s"""{"id": $i, "v": "n$i"}""").mkString("[", ", ", "]")
    assert(big.length > 2 * VariantEncoder.MaxKept)
    val parse = VariantFromJson(BoundReference(0, StringType, nullable = true))
    def value(json: String): Seq[Byte] = parse.eval(InternalRow(UTF8String.fromString(json)))
      .asInstanceOf[InternalRow].getBinary(1).toSeq
    // twice in a row, as a duplicated parse evaluates it: same bytes, nothing kept
    val expected = VariantJsonCodec.fromJson(big)._2.toSeq
    assert(value(big) == expected)
    assert(VariantFromJson.lastParse.get().keptBytes <= VariantEncoder.MaxKept)
    assert(value(big) == expected)
    assert(VariantFromJson.lastParse.get().keptBytes <= VariantEncoder.MaxKept)
    assert(value("""{"small": 1}""") == VariantJsonCodec.fromJson("""{"small": 1}""")._2.toSeq)
  }

  test("hash64 / simhash64 / minhash_signature determinism and shape") {
    val r1 = sql1("SELECT hash64('hello') AS h, simhash64(array('a','b')) AS s")
    val r2 = sql1("SELECT hash64('hello') AS h, simhash64(array('a','b')) AS s")
    assert(r1.getLong(0) == r2.getLong(0) && r1.getLong(1) == r2.getLong(1))
    val sig = sql1("SELECT minhash_signature(array('a','b','c'), 16) AS s").getSeq[Long](0)
    assert(sig.length == 16)
    // signature of identical sets identical; disjoint sets differ
    val both = sql1(
      """SELECT minhash_signature(array('x','y'), 32) = minhash_signature(array('y','x'), 32) AS eq,
        |       minhash_signature(array('x','y'), 32) = minhash_signature(array('p','q'), 32) AS neq""".stripMargin)
    assert(both.getBoolean(0) && !both.getBoolean(1))
  }

  test("SQL registration covers the full surface incl. aggregates and int-arg fns") {
    val r = spark.sql(
      """SELECT size(minhash_bands(array('a','b','c'), 64, 16)) AS nb,
        |       minhash_bands_of(minhash_signature(array('a','b'), 32), 8)[0] AS b0,
        |       size(shingle_tokens('one two three four', 2)) AS ns,
        |       hyperplane_bucket(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 4) AS hb
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) == 16 && r.getInt(2) == 3)
    val agg = spark.sql(
      """SELECT array_join(bottomk_by_hash(CAST(id AS STRING), 3), ',') AS s
        |FROM range(100)""".stripMargin).collect()(0).getString(0)
    assert(agg.split(",").length == 3)
  }

  test("variant bridges: null passthrough, round-trip identity, analysis errors") {
    import org.apache.spark.sql.functions.col
    // null flows through both bridges
    val r = spark.sql(
      """SELECT to_spark_variant(try_variant_from_json('null')) AS sv,
        |       from_spark_variant(to_spark_variant(variant_from_json('{"k": 7}'))) AS back
        |""".stripMargin).collect()(0)
    assert(r.isNullAt(0))
    // round trip is byte-identical
    val direct = spark.sql("""SELECT variant_from_json('{"k": 7}') AS v""").collect()(0).getStruct(0)
    val back = r.getStruct(1)
    assert(java.util.Arrays.equals(
      back.getAs[Array[Byte]]("metadata"), direct.getAs[Array[Byte]]("metadata")))
    assert(java.util.Arrays.equals(
      back.getAs[Array[Byte]]("value"), direct.getAs[Array[Byte]]("value")))
    // wrong input types rejected at analysis
    intercept[Exception] { spark.sql("SELECT to_spark_variant(1)").collect() }
    intercept[Exception] { spark.sql("SELECT from_spark_variant('x')").collect() }
  }

  test("bottomk_by_hash sample is invariant to partitioning and row order") {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.functions.{col, array_join}
    def sample(parts: Int, desc: Boolean) = {
      var df = spark.range(500).select(col("id").cast("string").as("s"))
      if (desc) df = df.orderBy(col("s").desc)
      df.repartition(parts)
        .agg(Bridge.column(graft.functions.BottomKByHash(
            Bridge.expression(col("s")), 7).toAggregateExpression()).as("arr"))
        .select(array_join(col("arr"), ",")).collect()(0).getString(0)
    }
    val base = sample(1, desc = false)
    assert(base.split(",").length == 7)
    assert(sample(32, desc = false) == base)
    assert(sample(8, desc = true) == base)
  }

  test("topk_pairs: exact top-k, tie-break by id, k-trim, partition invariance") {
    import org.apache.spark.sql.functions.{col, expr}
    // scores collide in pairs (id div 2) → ties resolved by id asc
    val df = spark.range(100).select(col("id"),
      (col("id") / 2).cast("long").cast("double").as("score"))
    def run(parts: Int) = df.repartition(parts)
      .agg(graft.functions.VariantFunctions
        .topk_pairs(col("score"), col("id"), 5).as("top"))
      .select(expr("transform(top, p -> concat(p.score, '@', p.id))"))
      .collect()(0).getSeq[String](0).mkString(",")
    val base = run(1)
    // ids 99,98 share score 49.0 (98 first by id); then 97,96 at 48.0; 95
    assert(base == "49.0@98,49.0@99,48.0@96,48.0@97,47.0@94", base)
    assert(run(32) == base)
    // SQL registration works as an aggregate
    spark.range(10).createOrReplaceTempView("tk")
    val viaSql = spark.sql(
      "SELECT topk_pairs(CAST(id AS DOUBLE), id, 3) FROM tk").collect()(0)
    assert(viaSql.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)) == Seq(9L, 8L, 7L))
  }

  test("topk_pairs buffer serialize/deserialize round-trips and merge stays trimmed") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val agg = graft.functions.TopKPairs(
      BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true), k = 4)
    val rnd = new scala.util.Random(11)
    val buf = agg.createAggregationBuffer()
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    (1 to 200).foreach { i =>
      row.update(0, rnd.nextInt(20).toDouble)
      row.update(1, i.toLong)
      agg.update(buf, row)
    }
    assert(buf.size() == 4)
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.keySet().asInstanceOf[java.util.Set[(Double, Long)]].toArray.toSeq ==
      buf.keySet().asInstanceOf[java.util.Set[(Double, Long)]].toArray.toSeq)
    // merging a buffer into itself (duplicate pairs) changes nothing
    val merged = agg.merge(agg.deserialize(agg.serialize(buf)), back)
    assert(merged.keySet().asInstanceOf[java.util.Set[(Double, Long)]].toArray.toSeq ==
      buf.keySet().asInstanceOf[java.util.Set[(Double, Long)]].toArray.toSeq)
  }

  test("minhash_bands_of a signature equals minhash_bands of the tokens") {
    val df = spark.range(50).selectExpr(
      "array(concat('a', id), concat('b', id % 7), concat('c', id % 3)) AS toks")
    val both = df.select(
      VariantFunctions.minhash_bands(org.apache.spark.sql.functions.col("toks"), 64, 16).as("direct"),
      VariantFunctions.minhash_bands_of(
        VariantFunctions.minhash_signature(org.apache.spark.sql.functions.col("toks"), 64), 16).as("derived"))
    assert(both.filter("direct <> derived").count() == 0)
    // non-divisible slot count yields NULL, not garbage
    val bad = df.limit(1).select(VariantFunctions.minhash_bands_of(
      VariantFunctions.minhash_signature(org.apache.spark.sql.functions.col("toks"), 10), 16))
    assert(bad.collect()(0).isNullAt(0))
  }

  test("to_variant round-trips the full declared type space (ids the reference left dead)") {
    val r = sql1(
      """SELECT variant_get(to_variant(named_struct(
        |         'ts', TIMESTAMP'2024-06-01 12:34:56.789',
        |         'bin', CAST('bytes!' AS BINARY),
        |         'f', CAST(1.25 AS FLOAT),
        |         'dec', CAST(123.45 AS DECIMAL(10,2)),
        |         'short', CAST(-7 AS SMALLINT))), '$.ts', 'timestamp') AS ts,
        |       variant_get(to_variant(named_struct('bin', CAST('bytes!' AS BINARY))), '$.bin', 'binary') AS bin,
        |       variant_get(to_variant(named_struct('f', CAST(1.25 AS FLOAT))), '$.f', 'double') AS f,
        |       CAST(variant_get(to_variant(named_struct('dec', CAST(123.45 AS DECIMAL(10,2)))), '$.dec', 'decimal(10,2)') AS STRING) AS dec,
        |       variant_get(to_variant(named_struct('short', CAST(-7 AS SMALLINT))), '$.short', 'bigint') AS short,
        |       variant_typeof(variant_get(to_variant(named_struct('ts', TIMESTAMP'2024-06-01 00:00:00')), '$.ts')) AS tname
        |""".stripMargin)
    assert(r.getTimestamp(0).toString == "2024-06-01 12:34:56.789")
    assert(new String(r.getAs[Array[Byte]](1), "UTF-8") == "bytes!")
    assert(r.getDouble(2) == 1.25)
    assert(r.getString(3) == "123.45")
    assert(r.getLong(4) == -7L)
    assert(r.getString(5) == "timestamp")
  }

  test("variant_get_multi equals individual variant_gets field by field") {
    import org.apache.spark.sql.graftbridge.Bridge
    val fields = Seq(
      ("$.a", LongType, "fa"),
      ("$.b.c", StringType, "fbc"),
      ("$.d[1]", DoubleType, "fd1"),
      ("$.missing", LongType, "fm"))
    val df = Seq("""{"a": 7, "b": {"c": "x"}, "d": [1.5, 2.5]}""",
      """{"a": 1, "d": []}""").toDF("j")
      .withColumn("v", VariantFunctions.variant_from_json(col("j")))
    val multi = df.withColumn("m", Bridge.column(
        VariantRead(Bridge.expression(col("v")), "$", JsonConsumer.Multi(fields))))
      .select(col("m.fa"), col("m.fbc"), col("m.fd1"), col("m.fm"))
      .collect().map(_.toSeq)
    val singles = df.select(
        VariantFunctions.variant_get(col("v"), "$.a", LongType),
        VariantFunctions.variant_get(col("v"), "$.b.c", StringType),
        VariantFunctions.variant_get(col("v"), "$.d[1]", DoubleType),
        VariantFunctions.variant_get(col("v"), "$.missing", LongType))
      .collect().map(_.toSeq)
    assert(multi.toSeq == singles.toSeq)
  }

  test("variant binary equality is canonical across key order") {
    assert(sql1(
      """SELECT variant_from_json('{"a": 1, "b": 2}') = variant_from_json('{"b": 2, "a": 1}') AS r""")
      .getBoolean(0))
  }

  test("variant_flatten: node table, JSON-null vs SQL-null, key quoting, replayable paths") {
    val doc = """{"a": 1, "b": {"x y": null, "z": [true, "s\"q"]}, "c": [], "d": {}}"""
    val rows = spark.sql(
      s"SELECT variant_flatten(variant_from_json('${doc.replace("'", "''").replace("\\", "\\\\")}'))")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val expected = Seq(
      ("$", "object", null),
      ("$.a", "tinyint", "1"),
      ("$.b", "object", null),
      ("$.b['x y']", "null", "null"),      // JSON null leaf, text 'null'
      ("$.b.z", "array", null),
      ("$.b.z[0]", "boolean", "true"),
      ("$.b.z[1]", "string", "\"s\\\"q\""), // escapes round-trip
      ("$.c", "array", null),               // empty containers still emit
      ("$.d", "object", null))
    assert(rows.toSeq === expected)
    // every SCALAR path replays through variant_get as JSON text
    rows.filter(r => r._2 != "object" && r._2 != "array" && r._2 != "null")
      .foreach { case (path, _, leaf) =>
        val got = spark.sql(
          s"""SELECT variant_to_json(variant_get(variant_from_json(
             |'${doc.replace("'", "''").replace("\\", "\\\\")}'), '$path'))""".stripMargin)
          .head().getString(0)
        assert(got === leaf, s"path $path does not replay")
      }
    // SQL NULL input → zero rows (generator contract)
    assert(spark.sql(
      "SELECT variant_flatten(variant_from_json('null'))").count() === 0L)
  }

  test("variant_flatten: quote/backslash-bearing keys emit REPLAYABLE paths") {
    // Keys containing ' and \ need escaping in the emitted bracket-quoted
    // step, and VariantPath.parse must UNDO that escaping — the round-7
    // fix (escape-aware quoted-key branch). Replay through the Column
    // DSL so no SQL-literal escaping layer muddies what's under test.
    val doc = """{"it's": 1, "a\\b": 2, "q'\\": {"x''y": 3}}""" // keys: it's, a\b, q'\ → {x''y}
    val df = Seq(doc).toDF("j")
      .select(VariantFunctions.variant_from_json(col("j")).as("v"))
    val rows = df.select(col("v"), VariantFunctions.variant_flatten(col("v")))
      .select(col("path"), col("typ"), col("leaf"))
      .collect()
    val scalarPaths = rows.filter(r => r.getString(1) != "object")
      .map(r => (r.getString(0), r.getString(2)))
    assert(scalarPaths.map(_._1).toSet ===
      Set("$['it\\'s']", "$['a\\\\b']", "$['q\\'\\\\']['x\\'\\'y']"))
    // each emitted path replays through variant_get to the same leaf
    scalarPaths.foreach { case (path, leaf) =>
      val got = df.select(VariantFunctions.variant_to_json(
        VariantFunctions.variant_get(col("v"), path))).head().getString(0)
      assert(got === leaf, s"path $path does not replay")
    }
  }

  test("variant_get_all ≡ explode-composition on 100 random documents") {
    // the wildcard walk must agree with the operational definition a
    // user would build today: explode the array, extract per element,
    // keep document order — including missing keys (skipped by BOTH
    // formulations after dropping the nulls the explode path yields)
    val rnd = new scala.util.Random(20260814L)
    val docs = (1 to 100).map { i =>
      val items = (0 until rnd.nextInt(5)).map { _ =>
        rnd.nextInt(3) match {
          case 0 => s"""{"a": ${rnd.nextInt(100)}}"""
          case 1 => s"""{"b": ${rnd.nextInt(100)}}"""  // no "a": pruned
          case _ => s"""{"a": ${rnd.nextInt(100)}, "c": 1}"""
        }
      }.mkString("[", ",", "]")
      (i, s"""{"k": $items, "z": ${rnd.nextInt(9)}}""")
    }
    import spark.implicits._
    val direct = docs.toDF("i", "j")
      .selectExpr("i",
        "variant_get_all(variant_from_json(j), '$.k[*].a', 'bigint') AS direct")
      .collect().map(r => r.getInt(0) -> r.getSeq[Any](1)).toMap
    docs.foreach { case (i, j) =>
      val viaExplode = spark.sql(
        s"""SELECT variant_get(value, '$$.a', 'bigint') AS a
           |FROM (SELECT variant_explode(variant_get(variant_from_json('$j'), '$$.k')))
           |ORDER BY pos""".stripMargin)
        .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
        .filter(_ != null).toSeq
      assert(direct(i) === viaExplode, s"doc $i: wildcard != explode composition")
    }
  }

  test("variant_get_all: wildcard matches, branch pruning, nesting, empty, try casts") {
    val doc = """{"items": [{"q": 1}, {"p": 9}, {"q": 3}], "tags": ["a", "b"],
                 "deep": [{"xs": [{"v": 10}, {"v": 20}]}, {"xs": [{"v": 30}]}]}"""
    def all(path: String, tpe: String): Seq[Any] =
      sql1(s"SELECT variant_get_all(variant_from_json('$doc'), '$path', '$tpe') AS r")
        .getSeq[Any](0)
    assert(all("$.items[*].q", "bigint") === Seq(1L, 3L))      // {"p":9} pruned
    assert(all("$.tags[*]", "string") === Seq("a", "b"))
    assert(all("$.deep[*].xs[*].v", "bigint") === Seq(10L, 20L, 30L)) // two wildcards
    assert(all("$.items[*].*", "bigint") === Seq(1L, 9L, 3L))  // object-value wildcard
    assert(all("$.items[1].*", "bigint") === Seq(9L))
    // .* emits field values in canonical sorted-key order, whatever the
    // input key order (the encoded walk follows the sorted dictionary)
    assert(sql1("""SELECT variant_get_all(variant_from_json('{"z": {"b": 2, "a": 1, "c": 3}}'), '$.z.*', 'bigint') AS r""")
      .getSeq[Any](0) === Seq(1L, 2L, 3L))
    assert(all("$.missing[*]", "bigint") === Seq())            // absent → empty
    assert(all("$.items[1].p", "bigint") === Seq(9L))          // no wildcard → 0/1
    assert(all("$.tags[*]", "bigint") === Seq(null, null))     // try-cast per element
    // SQL NULL input → NULL, not an empty array
    assert(sql1("SELECT variant_get_all(variant_from_json('null'), '$.a[*]', 'bigint') IS NULL AS r")
      .getBoolean(0))
    // wildcard path rejected by single-valued variant_get
    val e = intercept[Exception] {
      sql1("""SELECT variant_get(variant_from_json('{"a": [1]}'), '$.a[*]', 'bigint')""")
    }
    assert(e.getMessage.contains("variant_get_all") ||
      Option(e.getCause).exists(_.getMessage.contains("variant_get_all")))
  }

  test("duplicate keys: variant_get_all and variant_explode give the parse's kept-both fields") {
    // the JSON is built per row so constant folding cannot evaluate the
    // parse before the optimizer's fusion rule sees the plan
    val gets = spark.sql(
      """SELECT variant_get_all(variant_from_json(concat('{"x": {"a": 1, "a": ', id + 2, '}}')),
        |  '$.x.*', 'bigint') AS r FROM range(1)""".stripMargin)
    assert(gets.head().getSeq[Any](0) === Seq(1L, 2L))
    val rows = spark.sql(
      """SELECT key, variant_to_json(value) AS j FROM (SELECT variant_explode(variant_from_json(
        |  concat('{"o": {"a": 1, "a": 2}, "b": ', id + 3, '}'))) FROM range(1))""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows === Map("b" -> "3", "o" -> """{"a":1,"a":2}"""))
  }

  test("variant_get_all UNFUSED walk: to_variant input, parquet roundtrip, 2-arg form") {
    // variant_get_all has no fused form: every earlier wildcard test runs
    // the ENCODED walk (VariantPath.walkAll) over a JSON parse. These
    // witnesses cover inputs that are not a JSON parse at all, and the
    // variant-typed 2-arg form.
    // (1) to_variant child — not a JSON parse, cannot fuse
    val df1 = spark.sql(
      """SELECT variant_get_all(to_variant(
        |  array(named_struct('q', 1L), named_struct('q', 2L), named_struct('q', 7L))),
        |  '$[*].q', 'bigint') AS r""".stripMargin)
    assert(df1.head().getSeq[Any](0) === Seq(1L, 2L, 7L))
    // .* over to_variant: canonical sorted-key order
    assert(sql1(
      """SELECT variant_get_all(to_variant(named_struct('b', 2L, 'a', 1L, 'c', 3L)),
        |'$.*', 'bigint') AS r""".stripMargin).getSeq[Any](0) === Seq(1L, 2L, 3L))
    // (2) parquet-roundtripped variant COLUMN — child is a scan attribute
    val dir = java.nio.file.Files.createTempDirectory("graft_unfused_wc_").toString
    import spark.implicits._
    Seq(1, 2).toDF("i")
      .selectExpr("i",
        """variant_from_json(concat('{"items": [{"q": ', i, '}, {"q": ', i * 10, '}, {"z": {"b": 2, "a": 1}}]}')) AS v""")
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
      .selectExpr("i", "variant_get_all(v, '$.items[*].q', 'bigint') AS qs",
        "variant_get_all(v, '$.items[2].z.*', 'bigint') AS zs")
      .orderBy("i")
    assert(back.queryExecution.executedPlan.toString.contains("variant_get_all"))
    assert(back.collect().map(r => (r.getSeq[Any](1), r.getSeq[Any](2))).toSeq ===
      Seq((Seq(1L, 10L), Seq(1L, 2L)), (Seq(2L, 20L), Seq(1L, 2L))))
    // (3) 2-arg form: variant-typed elements stay unfused (raw subtree
    // slices ≠ canonical re-encodes); render each through variant_to_json
    val twoArg = spark.sql(
      """SELECT transform(variant_get_all(variant_from_json(
        |  '{"items": [{"q": 1}, {"p": 9}]}'), '$.items[*]'),
        |  x -> variant_to_json(x)) AS r""".stripMargin)
    assert(twoArg.head().getSeq[String](0) === Seq("""{"q":1}""", """{"p":9}"""))
  }

  test("variant_get_all .*: foreign variant with UNSORTED dictionary emits key-sorted values") {
    // Byte-verbatim foreign frames may carry a first-seen-order
    // dictionary (sorted_strings=0) where stored field order (sorted by
    // field ID, per spec) is NOT key order — the walk must sort
    // explicitly to match the fused path's canonical order.
    // dict: ["b"=0, "a"=1] (unsorted); object fields in id order: b, a.
    val meta = Array[Byte](
      0x01,             // hdr: offset_size 1, sorted_strings=0, version 1
      0x02,             // dict size 2
      0x00, 0x01, 0x02, // offsets 0, 1, 2
      'b'.toByte, 'a'.toByte)
    val value = Array[Byte](
      0x02,             // object: basic=2, offset_size 1, id_size 1, small
      0x02,             // 2 fields
      0x00, 0x01,       // field ids: 0 ("b"), 1 ("a") — id order, not key order
      0x00, 0x02, 0x04, // value offsets
      0x0C, 2,          // int8 2  (value of "b")
      0x0C, 1)          // int8 1  (value of "a")
    import spark.implicits._
    val df = Seq((meta, value)).toDF("metadata", "value")
      .select(org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.col("metadata"),
        org.apache.spark.sql.functions.col("value")).as("v"))
    // sanity: the frame decodes (JSON text renders STORED order — order
    // in JSON text is non-semantic; the semantic contract under test is
    // the .* EMISSION order below)
    assert(df.selectExpr("variant_to_json(v) AS j").head().getString(0)
      === """{"b":2,"a":1}""")
    // .* must emit a's value FIRST (key-sorted), not stored order (b first)
    assert(df.selectExpr("variant_get_all(v, '$.*', 'bigint') AS r")
      .head().getSeq[Any](0) === Seq(1L, 2L))
  }

  test("NativeVariantDispatch: every unary function accepts a NATIVE VariantType column") {
    // parse_json (Spark builtin) produces native VariantType; our SQL
    // names must dispatch on it — concrete-typed gets to Spark's
    // builtin, everything else through from_spark_variant conversion
    spark.sql("""SELECT parse_json(j) AS sv FROM VALUES
      ('{"k": 7, "a": [1, 2]}'), ('{"k": 9}') AS t(j)""")
      .createOrReplaceTempView("native_v")
    val r = spark.sql(
      """SELECT variant_get(sv, '$.k', 'bigint') AS k,
        |       variant_typeof(sv) AS t,
        |       is_variant_null(sv) AS isn,
        |       variant_to_json(sv) AS j,
        |       variant_keys(sv) AS ks,
        |       variant_size(sv) AS n,
        |       schema_of_variant(sv) AS sch,
        |       variant_get(sv, '$.a', 'array<bigint>') AS arr,
        |       variant_get_all(sv, '$.a[*]', 'bigint') AS all_a
        |FROM native_v ORDER BY k""".stripMargin).collect()
    assert(r(0).getLong(0) === 7L)
    assert(r(0).getString(1) === "object")
    assert(!r(0).getBoolean(2))
    assert(r(0).getString(3) === """{"a":[1,2],"k":7}""")
    assert(r(0).getSeq[String](4) === Seq("a", "k"))
    assert(r(0).getAs[Number](5).longValue === 2L)
    assert(r(0).getString(6).startsWith("object<"))
    assert(r(0).getSeq[Long](7) === Seq(1L, 2L))
    assert(r(0).getSeq[Long](8) === Seq(1L, 2L))
    assert(r(1).getLong(0) === 9L)
    assert(r(1).getSeq[Long](8) === Seq.empty)
    // generators too
    val ex = spark.sql(
      "SELECT p.* FROM native_v, LATERAL variant_explode(sv) p WHERE variant_get(sv, '$.k', 'bigint') = 7")
      .collect()
    assert(ex.length === 2)
    // our-variant default target converts and stays in our codec
    val d = spark.sql("SELECT variant_typeof(variant_get(sv, '$.a')) AS t FROM native_v " +
      "WHERE variant_get(sv, '$.k', 'bigint') = 7").collect()
    assert(d(0).getString(0) === "array")
  }
}
