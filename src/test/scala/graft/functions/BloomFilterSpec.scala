package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.functions.{VariantFunctions => vf}

/** Bloom-filter semi-join reduction properties of `bloom_agg` /
  * `bloom_might_contain` (builders over Spark's `BloomFilterAggregate`
  * and `BloomFilterMightContain`): the bits that make pruned-join ≡
  * exact join at any scale. Spark's probe takes its filter as a
  * literal or a scalar subquery, so each test fetches the filter first.
  */
class BloomFilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val BITS = 1L << 14
  private val ITEMS = 2000L

  private def filterOf(df: org.apache.spark.sql.DataFrame): Array[Byte] =
    df.agg(vf.bloom_agg($"k", ITEMS, BITS)).head.getAs[Array[Byte]](0)

  test("no false negatives: every inserted key probes true (long + string)") {
    val keys = (1L to 2000L).map(_ * 7919L)
    val bf = filterOf(keys.toDF("k"))
    val misses = keys.toDF("k")
      .filter(!vf.bloom_might_contain(lit(bf), $"k"))
      .count()
    assert(misses === 0L)

    val skeys = keys.map(k => s"key-$k")
    val sbf = filterOf(skeys.toDF("k"))
    val smisses = skeys.toDF("k")
      .filter(!vf.bloom_might_contain(lit(sbf), $"k"))
      .count()
    assert(smisses === 0L)
  }

  test("merge ≡ single-partition build: bitset independent of partitioning") {
    val keys = (1L to 5000L).toDF("k")
    val one = filterOf(keys.repartition(1))
    val many = filterOf(keys.repartition(13))
    assert(java.util.Arrays.equals(one, many))
  }

  test("false-positive rate is in the expected regime, not degenerate") {
    // n=2000, m=2^14 → Spark picks k=6; theoretical fp ≈ (1-e^(-kn/m))^k ≈ 1.9%
    val bf = filterOf((1L to 2000L).toDF("k"))
    val probes = (1000001L to 1020000L).toDF("k")
    val fp = probes
      .filter(vf.bloom_might_contain(lit(bf), $"k"))
      .count()
    val rate = fp.toDouble / 20000
    assert(rate > 0.0005 && rate < 0.10, s"fp rate $rate outside sane regime")
  }

  test("null keys probe false (inner-join pruning is exact)") {
    // Spark's probe yields NULL for a NULL key; the filter drops it
    val bf = filterOf((1L to 100L).toDF("k"))
    val n = Seq[java.lang.Long](1L, null, 50L).toDF("k")
      .filter(vf.bloom_might_contain(lit(bf), $"k"))
      .count()
    assert(n === 2L)
  }

  test("SQL registration: bloom_agg + bloom_might_contain compose in spark.sql") {
    (1L to 500L).toDF("k").createOrReplaceTempView("bloom_keys")
    val out = spark.sql(
      """SELECT COUNT(*) AS n FROM bloom_keys
        |WHERE bloom_might_contain(
        |  (SELECT bloom_agg(k, 500, 16384) FROM bloom_keys), k)""".stripMargin).head.getLong(0)
    assert(out === 500L)
  }

  test("malformed bitset bytes raise a clear error, not an index crash") {
    val e = intercept[Exception] {
      spark.sql("SELECT bloom_might_contain(CAST('garbage' AS BINARY), 1L)").head
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: msgs(t.getCause)
    assert(msgs(e).exists(m => m != null && m.contains("Unknown BloomFilter version")),
      msgs(e).mkString(" | "))
  }

  test("serialized form round-trips through the header") {
    val bytes = (1L to 10L).toDF("k")
      .agg(vf.bloom_agg($"k", 59L, 64L * 4)).head.getAs[Array[Byte]](0)
    val f = org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
    // 256 bits for 59 expected items → Spark's optimal hash count is 3;
    // the header is (version, numHashFunctions, ...) big-endian
    assert(f.bitSize() === 256L)
    assert(java.nio.ByteBuffer.wrap(bytes).getInt(4) === 3)
    assert(f.cardinality() > 0L)
  }
}
