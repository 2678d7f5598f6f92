package varbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{VariantFunctions => vf}
import graft.variant.{MetadataView, VariantJsonCodec, VariantPath, VariantView}

/** Layer probes. `variant.*` loops over the workload's docs on one
  * thread with no Spark; `functions.*` times one-expression projections
  * over a cached input into the `noop` sink. The cached scan is part of
  * each time: subtracting a scan-only pass left differences below the
  * scan's own run-to-run noise for the cheap expressions.
  */
object Probes {
  @volatile private var sink = 0L

  /** ns per item of `f` over `n` items: two warm passes, then the median
    * of timed passes until `budgetMs` is spent (at least three).
    */
  private def nsPer(n: Int, budgetMs: Long)(f: Int => Long): Double = {
    def pass(): Long = {
      val t0 = System.nanoTime()
      var i = 0
      var acc = 0L
      while (i < n) { acc += f(i); i += 1 }
      sink += acc
      System.nanoTime() - t0
    }
    pass(); pass()
    val samples = scala.collection.mutable.ArrayBuffer[Double]()
    val end = System.nanoTime() + budgetMs * 1000000L
    while (samples.length < 3 || System.nanoTime() < end) samples += pass().toDouble / n
    Stats.median(samples.toSeq)
  }

  /** Spark's own JSON → variant builder: the codec-layer control. */
  def sparkParseNsPerDoc(docs: Array[Doc], budgetMs: Long): Double =
    nsPer(docs.length, budgetMs)(i =>
      org.apache.spark.types.variant.VariantBuilder.parseJson(docs(i).json, false).getValue.length.toLong)

  def variant(docs: Array[Doc], paths: Seq[String], tracer: Tracer, parent: Int): Seq[Metric] = {
    val utf8 = docs.map(_.json.getBytes(UTF_8))
    val n = utf8.length
    def probe[A](name: String)(body: => A): A = {
      val span = tracer.open(parent, "probe", s"variant.$name")
      try body finally span.close()
    }
    val encodeNs = probe("encode") {
      nsPer(n, 400)(i => VariantJsonCodec.fromJsonBytes(utf8(i), 0, utf8(i).length)._2.length.toLong)
    }
    val enc = utf8.map(b => VariantJsonCodec.fromJsonBytes(b, 0, b.length))
    val steps = paths.map(VariantPath.parse).toArray
    val metas = enc.map(e => new MetadataView(e._1, 0))
    val roots = enc.map(e => new VariantView(e._2, 0))
    val resolveNs = probe("resolve") {
      nsPer(n, 300) { i =>
        var acc = 0L
        var p = 0
        while (p < steps.length) { acc += VariantPath.resolveIds(metas(i), steps(p)).length; p += 1 }
        acc
      } / steps.length
    }
    val ids = Array.tabulate(n)(i => steps.map(s => VariantPath.resolveIds(metas(i), s)))
    val getNs = probe("get") {
      nsPer(n, 300) { i =>
        var acc = 0L
        var p = 0
        while (p < steps.length) {
          val v = VariantPath.walkWithIds(roots(i), steps(p), ids(i)(p))
          if (v != null) acc += v.headerByte
          p += 1
        }
        acc
      } / steps.length
    }
    val toJsonNs = probe("to_json") {
      nsPer(n, 300)(i => VariantJsonCodec.toJsonString(enc(i)._1, enc(i)._2).length.toLong)
    }
    val sparkNs = probe("spark_parse")(sparkParseNsPerDoc(docs, 300))
    Seq(
      Metric("variant.encode_ns_per_doc", encodeNs, "ns"),
      Metric("variant.value_bytes_per_doc", enc.map(_._2.length.toLong).sum.toDouble / n, "bytes"),
      Metric("variant.metadata_bytes_per_doc", enc.map(_._1.length.toLong).sum.toDouble / n, "bytes"),
      Metric("variant.resolve_ns_per_path", resolveNs, "ns"),
      Metric("variant.get_ns_per_path", getNs, "ns"),
      Metric("variant.to_json_ns_per_doc", toJsonNs, "ns"),
      Metric("variant.spark_parse_ns_per_doc", sparkNs, "ns"))
  }

  /** Cached `(json)` input of at least `minRows` rows: the docs repeated
    * whole, so neighbouring rows never repeat a document.
    */
  def cachedJson(spark: SparkSession, docs: Array[Doc], cores: Int, minRows: Int): (DataFrame, Long) = {
    val reps = math.max(1, (minRows + docs.length - 1) / docs.length)
    val rows = (0 until reps).flatMap(_ => docs.iterator.map(d => Row(d.json)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, cores),
      StructType(Seq(StructField("json", StringType)))).cache()
    (df, df.count())
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Median wall seconds of three noop writes after one warm write. */
  private def seconds(df: DataFrame): Double = {
    noop(df)
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); noop(df); (System.nanoTime() - t0) / 1e9
    })
  }

  /** Spark 4.1's built-in `parse_json` + `variant_get`, the expression
    * layer's control yardstick.
    */
  def builtinParseGet(json: DataFrame, path: String, t: DataType): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.variant.{ParseJson, VariantGet => SparkVG}
    import org.apache.spark.sql.graftbridge.Bridge
    json.select(Bridge.column(SparkVG(
      Bridge.expression(Bridge.column(ParseJson(Bridge.expression(col("json")), true))),
      Literal.create(path), t, true, None)).as("x"))
  }

  def builtinParseGetRowsPerS(json: DataFrame, rows: Long, path: (String, DataType)): Double =
    rows / seconds(builtinParseGet(json, path._1, path._2))

  /** Returns the metrics and whether the probe's own shredded read was
    * served from the typed column.
    */
  def functions(spark: SparkSession, docs: Array[Doc], paths: Seq[(String, DataType)], cores: Int,
                scratch: java.io.File, tracer: Tracer, parent: Int): (Seq[Metric], Boolean) = {
    def probe[A](name: String)(body: => A): A = {
      val span = tracer.open(parent, "probe", s"functions.$name")
      try body finally span.close()
    }
    val (json, rows) = cachedJson(spark, docs, cores, 60000)
    val (p, t) = paths.head
    def rate(name: String, n: Long)(df: DataFrame): Double = probe(name)(n / seconds(df))
    // timed before the variant input is cached: the cache manager would
    // otherwise serve this very projection from the cache
    val fromJson = rate("from_json", rows)(json.select(vf.variant_from_json(col("json"))))
    val fused = rate("fused_get", rows)(json.select(vf.variant_get(vf.variant_from_json(col("json")), p, t)))
    val builtin = rate("builtin_parse_get", rows)(builtinParseGet(json, p, t))
    // a get over a stored column costs tens of ns a row: four copies of
    // the input, and every probe path in one projection, give it work
    // enough to time
    val variant = Seq.fill(4)(json).reduce(_ union _)
      .select(vf.variant_from_json(col("json")).as("v")).cache()
    val vrows = variant.count()
    val get = rate("get", vrows)(variant.select(paths.map { case (q, qt) => vf.variant_get(col("v"), q, qt) }: _*))
    val toJson = rate("to_json", vrows)(variant.select(vf.variant_to_json(col("v"))))
    // the probe's own shredded-path query: shred the probed path, read
    // it back, and see whether the scan serves the get from the typed column
    val pushed = probe("pushdown") {
      val dir = new java.io.File(scratch, "probe-shredded").getPath
      graft.operators.Shred.shred(variant.limit(5000), "v", Seq((p, t, "s_probe")), exactTypes = true)
        .write.mode("overwrite").parquet(dir)
      val q = spark.read.parquet(dir).select(vf.variant_get(col("v"), p, t))
      noop(q)
      Plans.readsShredded(q.queryExecution)
    }
    variant.unpersist()
    json.unpersist()
    (Seq(
      Metric("functions.from_json_rows_per_s", fromJson, "1/s"),
      Metric("functions.get_rows_per_s", get, "1/s"),
      Metric("functions.to_json_rows_per_s", toJson, "1/s"),
      Metric("functions.fused_get_rows_per_s", fused, "1/s"),
      Metric("functions.builtin_parse_get_rows_per_s", builtin, "1/s")), pushed)
  }
}
