package varbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{VariantFunctions => vf}

/** One closed-loop operation: `run` is timed, `check` is not. A check
  * returns the first difference from the expected answer, if any.
  */
final case class Op(name: String, docs: Long, shredded: Boolean,
                    run: () => AnyRef, check: AnyRef => Option[String])

abstract class Workload(val seed: Long, val cores: Int) {
  def name: String
  /** Generate this run's inputs from the seed and stage them under `dir`. */
  def stage(spark: SparkSession, dir: File): Unit
  /** One round of the op mix. The mix is fixed per seed: every round
    * repeats the same ops with the same parameters in the same order, so
    * after the warm pass a round measures the queries, not their
    * first-time planning and code generation.
    */
  def round(spark: SparkSession): IndexedSeq[Op]
  /** Well-formed JSON docs of this workload, for the layer probes. */
  def probeDocs: Array[Doc]
  /** Paths (and target types) the workload extracts, for the layer probes. */
  def probePaths: Seq[(String, DataType)]
  def storedBytesPerJsonByte: Double
  /** Stops rounds early when one round already fills the budget. */
  def wholeRounds: Boolean = false
  /** Test hook: when set, every expected answer is perturbed, so every
    * check must fail. Proves the checkers are live.
    */
  var corrupt: Boolean = false
  def close(): Unit = ()

  /** The op mix's parameters. */
  protected def params = new java.util.Random(seed * 1000003L + 1)
  /** `xs` in the seed's order. */
  protected def shuffled[A](xs: IndexedSeq[A]): IndexedSeq[A] = {
    val rnd = new java.util.Random(seed * 1000003L)
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }
  protected def exp(n: Long): Long = if (corrupt) n + 1 else n
  protected def expD(x: Double): Double = if (corrupt) x + 1 else x
}

object Workload {
  def apply(name: String, seed: Long, cores: Int, root: File, python: String): Workload = name match {
    case "ingest" => new Ingest(seed, cores)
    case "stored_query" => new StoredQuery(seed, cores)
    case "raw_query" => new RawQuery(seed, cores)
    case "lanes" => new Lanes(seed, cores, root, python)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def bytesOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytesOf).sum).getOrElse(0L)
    else if (f.getName.startsWith("part-")) f.length else 0L

  /** Row count from the Parquet footers of the files under `dir`. */
  def parquetRows(dir: File): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    dir.listFiles.filter(_.getName.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  /** Stage docs as a Parquet `(id, json)` table over `files` files, in id order. */
  def writeJson(spark: SparkSession, docs: Seq[Doc], files: Int, path: File): Unit = {
    val rows = docs.map(d => Row(d.id, d.json))
    val schema = StructType(Seq(StructField("id", LongType), StructField("json", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path.getPath)
  }

  def approx(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def diffRows(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Group results keyed by a nullable string. */
  def keyed(rows: Array[Row]): Map[Option[String], Row] =
    rows.map(r => Option(r.getString(0)) -> r).toMap
}

import Workload._

/** Write path: JSON docs stored as a Parquet string column go through
  * `variant_from_json` and are written back to Parquet, one fixed-size
  * batch per op.
  */
final class Ingest(seed: Long, cores: Int, val BatchDocs: Int = 8000) extends Workload(seed, cores) {
  val name = "ingest"
  val Batches = 4
  lazy val docs: Array[Doc] = Gen.logDocs(seed, BatchDocs * Batches)
  private lazy val batchJsonBytes = Array.tabulate(Batches)(b =>
    docs.slice(b * BatchDocs, (b + 1) * BatchDocs).map(_.jsonBytes).sum)
  private var dir: File = _
  private var seq = 0
  private var parquetBytes = 0L
  private var jsonBytes = 0L

  def stage(spark: SparkSession, d: File): Unit = {
    dir = d
    (0 until Batches).foreach(b =>
      writeJson(spark, docs.slice(b * BatchDocs, (b + 1) * BatchDocs), cores, new File(dir, s"json/$b")))
  }

  def round(spark: SparkSession): IndexedSeq[Op] =
    shuffled((0 until Batches).toIndexedSeq).map { b =>
      seq += 1
      val out = new File(dir, s"out/$seq")
      val sample = seq % Batches == 1
      Op(s"batch", BatchDocs, shredded = false,
        () => {
          spark.read.parquet(new File(dir, s"json/$b").getPath)
            .select(col("id"), vf.variant_from_json(col("json")).as("v"))
            .write.mode("overwrite").parquet(out.getPath)
          out
        },
        _ => try {
          diffRows(s"rows written for batch $b", parquetRows(out), exp(BatchDocs.toLong)).orElse {
            if (!sample) None
            else {
              // round-trip a seeded sample and compare parsed trees
              val k = (seed + seq).toInt.abs % 101
              val got = spark.read.parquet(out.getPath).filter(col("id") % 101 === k)
                .select(col("id"), vf.variant_to_json(col("v"))).collect()
              val want = (b * BatchDocs until (b + 1) * BatchDocs).filter(_ % 101 == k)
              diffRows("round-trip sample size", got.length.toLong, exp(want.length.toLong)).orElse(
                got.iterator.map(r => J.diff(docs(r.getLong(0).toInt).tree, r.getString(1))
                  .map(d => s"doc ${r.getLong(0)}: $d")).collectFirst { case Some(d) => d })
            }
          }.orElse {
            parquetBytes += bytesOf(out)
            jsonBytes += batchJsonBytes(b)
            None
          }
        } finally delete(out))
    }

  def probeDocs: Array[Doc] = docs.take(BatchDocs)
  def probePaths: Seq[(String, DataType)] = StoredQuery.Paths
  def storedBytesPerJsonByte: Double = parquetBytes.toDouble / math.max(1L, jsonBytes)
}

object StoredQuery {
  val Paths: Seq[(String, DataType)] = Seq(
    "$.user.geo.city" -> StringType, "$.latency" -> DoubleType,
    "$.user.id" -> LongType, "$.items[0].qty" -> LongType)
}

/** Read path over a stored variant table (the `ingest` generator's docs,
  * with `$.level` and `$.ts` shredded): a fixed, seeded query mix.
  */
final class StoredQuery(seed: Long, cores: Int, val Docs: Int = 12000) extends Workload(seed, cores) {
  val name = "stored_query"
  lazy val docs: Array[Doc] = Gen.logDocs(seed, Docs)
  private lazy val users = Gen.users(seed)
  private var dir: File = _
  private var storedBytes = 0L
  private var table: DataFrame = _

  def stage(spark: SparkSession, d: File): Unit = {
    dir = d
    val json = new File(dir, "json")
    writeJson(spark, docs.toIndexedSeq, cores, json)
    val parsed = spark.read.parquet(json.getPath)
      .select(col("id"), vf.variant_from_json(col("json")).as("v"))
    graft.operators.Shred.shred(parsed, "v",
      Seq(("$.level", StringType, "s_level"), ("$.ts", LongType, "s_ts")), exactTypes = true)
      .write.mode("overwrite").parquet(new File(dir, "stored").getPath)
    val schema = StructType(Seq(StructField("user_id", LongType), StructField("segment", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(users.map(u => Row(u._1, u._2)).toSeq, 1), schema)
      .write.mode("overwrite").parquet(new File(dir, "users").getPath)
    storedBytes = bytesOf(new File(dir, "stored"))
    table = spark.read.parquet(new File(dir, "stored").getPath)
  }

  private def vg(path: String, t: DataType) = vf.variant_get(col("v"), path, t)

  def round(spark: SparkSession): IndexedSeq[Op] = {
    val rnd = params
    val t = table
    def trees = docs.iterator.map(_.tree)
    def op(name: String, shredded: Boolean = false)(q: => Array[Row])(check: Array[Row] => Option[String]) =
      Op(name, Docs, shredded, () => q, res => check(res.asInstanceOf[Array[Row]]))

    val svc = Gen.Svcs(rnd.nextInt(Gen.Svcs.length))
    val country = Gen.Countries(rnd.nextInt(Gen.Countries.length))
    val exportKey = rnd.nextInt(64)
    val tsAll = docs.map(d => J.long(d.tree, "ts").get)
    val lo = tsAll(rnd.nextInt(Docs / 2))
    val hi = tsAll(Docs / 2 + rnd.nextInt(Docs / 2))

    val ops = IndexedSeq(
      op("get_filter_shallow") {
        t.filter(vg("$.svc", StringType) === svc)
          .agg(count(lit(1)), sum(vg("$.latency", DoubleType))).collect()
      } { rows =>
        val m = trees.filter(J.str(_, "svc").contains(svc)).toSeq
        val (n, s) = (rows(0).getLong(0), rows(0).getDouble(1))
        diffRows(s"count svc=$svc", n, exp(m.length.toLong)).orElse(
          if (approx(s, expD(m.flatMap(J.num(_, "latency")).sum))) None
          else Some(s"latency sum for svc=$svc: $s"))
      },
      op("get_agg_deep") {
        t.filter(vg("$.user.geo.country", StringType) === country)
          .agg(count(lit(1)), sum(vg("$.user.id", LongType))).collect()
      } { rows =>
        val m = trees.filter(J.str(_, "user.geo.country").contains(country)).toSeq
        diffRows(s"count/sum country=$country", (rows(0).getLong(0), rows(0).getLong(1)),
          (exp(m.length.toLong), m.flatMap(J.long(_, "user.id")).sum))
      },
      op("get_array_index") {
        t.agg(count(vg("$.items[0].qty", LongType)), sum(vg("$.items[0].qty", LongType))).collect()
      } { rows =>
        val q = trees.flatMap(J.long(_, "items[0].qty")).toSeq
        diffRows("items[0].qty count/sum", (rows(0).getLong(0), rows(0).getLong(1)),
          (exp(q.length.toLong), q.sum))
      },
      op("group_by_string") {
        t.groupBy(vg("$.user.geo.city", StringType).as("city"))
          .agg(count(lit(1)), max(vg("$.score", DoubleType))).collect()
      } { rows =>
        val want = trees.toSeq.groupBy(J.str(_, "user.geo.city")).map { case (c, xs) =>
          c -> (exp(xs.length.toLong), xs.flatMap(J.num(_, "score")).max) }
        diffRows("per-city count/max score",
          keyed(rows).map { case (c, r) => c -> (r.getLong(1), r.getDouble(2)) }, want)
      },
      op("get_all_wildcard") {
        val qs = vf.variant_get_all(col("v"), "$.items[*].qty", LongType)
        t.select(qs.as("qs"))
          .agg(sum(when(col("qs").isNotNull, size(col("qs"))).otherwise(0)).cast(LongType),
            sum(expr("aggregate(qs, 0L, (a, x) -> a + x)"))).collect()
      } { rows =>
        val items = trees.flatMap(J.at(_, "items")).collect { case JArr(xs) => xs }.flatten
          .flatMap(J.long(_, "qty")).toSeq
        diffRows("items[*].qty count/sum", (rows(0).getLong(0), rows(0).getLong(1)),
          (exp(items.length.toLong), items.sum))
      },
      op("typeof_counts") {
        t.groupBy(vf.variant_typeof(vf.variant_get(col("v"), "$.val")).as("t")).count().collect()
      } { rows =>
        val want = trees.toSeq.groupBy(d => J.at(d, "val").map(Gen.typeName))
          .map { case (k, xs) => k -> exp(xs.length.toLong) }
        diffRows("typeof($.val) counts", keyed(rows).map { case (k, r) => k -> r.getLong(1) }, want)
      },
      op("to_json_export") {
        t.filter(col("id") % 64 === exportKey).select(col("id"), vf.variant_to_json(col("v"))).collect()
      } { rows =>
        diffRows("exported docs", rows.length.toLong, exp(docs.count(_.id % 64 == exportKey).toLong))
          .orElse(rows.iterator.map(r => J.diff(docs(r.getLong(0).toInt).tree, r.getString(1))
            .map(d => s"doc ${r.getLong(0)}: $d")).collectFirst { case Some(d) => d })
      },
      op("join_extracted_key") {
        val u = spark.read.parquet(new File(dir, "users").getPath)
        t.select(vg("$.user.id", LongType).as("uid"), vg("$.latency", DoubleType).as("lat"))
          .join(u, col("uid") === col("user_id"))
          .groupBy(col("segment")).agg(count(lit(1)), sum(col("lat"))).collect()
      } { rows =>
        val seg = users.toMap
        val want = trees.toSeq.groupBy(d => seg(J.long(d, "user.id").get))
          .map { case (s, xs) => Option(s) -> (exp(xs.length.toLong), xs.flatMap(J.num(_, "latency")).sum) }
        val got = keyed(rows).map { case (k, r) => k -> (r.getLong(1), r.getDouble(2)) }
        if (got.keySet == want.keySet && got.forall { case (k, (n, s)) =>
              n == want(k)._1 && approx(s, want(k)._2) }) None
        else Some(s"join per-segment count/sum: got $got, want $want")
      },
      op("grouped_topk") {
        val df = t.select(vg("$.svc", StringType).as("svc"), col("id"), vg("$.latency", DoubleType).as("lat"))
        graft.operators.TopK.groupedTopK(df, Seq("svc"), Seq(df("lat").desc, df("id")), 3)
          .select(col("svc"), col("id")).collect()
      } { rows =>
        val want = docs.toSeq.groupBy(d => J.str(d.tree, "svc").get).map { case (s, xs) =>
          s -> xs.sortBy(d => (-J.num(d.tree, "latency").get, d.id)).take(3).map(_.id).toSet }
        val got = rows.toSeq.groupBy(_.getString(0)).map { case (s, rs) => s -> rs.map(_.getLong(1)).toSet }
        diffRows("top-3 latency ids per svc", got, if (corrupt) want.updated("?", Set(0L)) else want)
      },
      op("shredded_filter", shredded = true) {
        t.filter(vg("$.level", StringType) === "error" &&
            vg("$.ts", LongType) >= lo && vg("$.ts", LongType) < hi)
          .agg(count(lit(1)), sum(vg("$.user.id", LongType))).collect()
      } { rows =>
        val m = trees.filter(d => J.str(d, "level").contains("error") &&
          J.long(d, "ts").exists(x => x >= lo && x < hi)).toSeq
        val s = if (rows(0).isNullAt(1)) 0L else rows(0).getLong(1)
        diffRows("shredded level/ts filter count/sum", (rows(0).getLong(0), s),
          (exp(m.length.toLong), m.flatMap(J.long(_, "user.id")).sum))
      })
    shuffled(ops)
  }

  def probeDocs: Array[Doc] = docs
  def probePaths: Seq[(String, DataType)] = StoredQuery.Paths
  def storedBytesPerJsonByte: Double = storedBytes.toDouble / docs.map(_.jsonBytes).sum
}

/** Schema-on-read: the same kind of query mix issued on raw JSON text,
  * `variant_get(try_variant_from_json(json), ...)`, over docs built to
  * miss the codec's shape speculation and the metadata id cache.
  */
final class RawQuery(seed: Long, cores: Int, val Docs: Int = 12000) extends Workload(seed, cores) {
  val name = "raw_query"
  lazy val docs: Array[Doc] = Gen.rawDocs(seed, Docs)
  private var rawBytes = 0L
  private var table: DataFrame = _

  def stage(spark: SparkSession, dir: File): Unit = {
    writeJson(spark, docs.toIndexedSeq, cores, new File(dir, "raw"))
    rawBytes = bytesOf(new File(dir, "raw"))
    table = spark.read.parquet(new File(dir, "raw").getPath)
  }

  private val parse = vf.try_variant_from_json(col("json"))
  private def vg(path: String, t: DataType) = vf.variant_get(parse, path, t)

  def round(spark: SparkSession): IndexedSeq[Op] = {
    val rnd = params
    val t = table
    def trees = docs.iterator.map(_.tree)
    def wellFormed = trees.filter(_ != JNull)
    def op(name: String)(q: => Array[Row])(check: Array[Row] => Option[String]) =
      Op(name, Docs, shredded = false, () => q, res => check(res.asInstanceOf[Array[Row]]))
    val threshold = rnd.nextInt(1000)
    val vkey = Gen.vocabKey(2 * rnd.nextInt(Gen.Vocab / 2))
    val grp = "g" + rnd.nextInt(16)
    val amt = rnd.nextInt(500).toDouble
    val malformed = docs.count(_.tree == JNull).toLong

    val ops = IndexedSeq(
      op("group_sum") {
        t.groupBy(vg("$.grp", StringType).as("g")).agg(count(lit(1)), sum(vg("$.amt", DoubleType))).collect()
      } { rows =>
        val want = trees.toSeq.groupBy(J.str(_, "grp")).map { case (g, xs) =>
          g -> (exp(xs.length.toLong), xs.flatMap(J.num(_, "amt")).sum) }
        val got = keyed(rows).map { case (g, r) => g -> (r.getLong(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2)) }
        if (got.keySet == want.keySet && got.forall { case (k, (n, s)) =>
              n == want(k)._1 && approx(s, want(k)._2) }) None
        else Some(s"per-group count/sum: got $got, want $want")
      },
      op("nested_filter") {
        t.filter(vg("$.n.x", LongType) > threshold).agg(count(lit(1))).collect()
      } { rows =>
        diffRows(s"n.x > $threshold", rows(0).getLong(0),
          exp(wellFormed.count(J.long(_, "n.x").exists(_ > threshold)).toLong))
      },
      op("vocab_key") {
        t.agg(count(vg("$." + vkey, LongType)), sum(vg("$." + vkey, LongType))).collect()
      } { rows =>
        val xs = wellFormed.flatMap(J.long(_, vkey)).toSeq
        diffRows(s"$vkey count/sum", (rows(0).getLong(0), if (rows(0).isNullAt(1)) 0L else rows(0).getLong(1)),
          (exp(xs.length.toLong), xs.sum))
      },
      op("typeof_mix") {
        t.groupBy(vf.variant_typeof(vf.variant_get(parse, "$.mix")).as("t")).count().collect()
      } { rows =>
        val want = trees.toSeq.groupBy(d => J.at(d, "mix").map(Gen.typeName))
          .map { case (k, xs) => k -> exp(xs.length.toLong) }
        diffRows("typeof($.mix) counts", keyed(rows).map { case (k, r) => k -> r.getLong(1) }, want)
      },
      op("big_integers") {
        t.agg(count(vg("$.big", DecimalType(38, 0))), sum(vg("$.big", DecimalType(38, 0)))).collect()
      } { rows =>
        val xs = wellFormed.flatMap(J.at(_, "big")).collect { case JInt(v) => v }.toSeq
        diffRows(">18-digit integers count/sum", (rows(0).getLong(0), BigInt(rows(0).getDecimal(1).toBigIntegerExact)),
          (exp(xs.length.toLong), xs.sum))
      },
      op("escaped_strings") {
        t.select(col("id"), vg("$.s", StringType).as("s")).filter(col("s").isNotNull).collect()
      } { rows =>
        val want = docs.flatMap(d => J.str(d.tree, "s").map(d.id -> _)).toMap
        diffRows("escaped/surrogate strings", rows.map(r => r.getLong(0) -> r.getString(1)).toMap,
          if (corrupt) want.updated(-1L, "") else want)
      },
      op("malformed_count") {
        t.filter(parse.isNull).agg(count(lit(1))).collect()
      } { rows => diffRows("malformed docs", rows(0).getLong(0), exp(malformed)) },
      op("string_filter") {
        t.filter(vg("$.grp", StringType) === grp && vg("$.amt", DoubleType) > amt).agg(count(lit(1))).collect()
      } { rows =>
        diffRows(s"grp=$grp amt>$amt", rows(0).getLong(0),
          exp(wellFormed.count(d => J.str(d, "grp").contains(grp) && J.num(d, "amt").exists(_ > amt)).toLong))
      })
    shuffled(ops)
  }

  def probeDocs: Array[Doc] = docs.filter(_.tree != JNull)
  def probePaths: Seq[(String, DataType)] = Seq(
    "$.grp" -> StringType, "$.amt" -> DoubleType, "$.n.x" -> LongType, "$.f010" -> LongType)
  def storedBytesPerJsonByte: Double = rawBytes.toDouble / docs.map(_.jsonBytes).sum
}

/** The engine's own query lanes over seeded tables shaped like the
  * repository's test fixtures, each result hash-compared with its DuckDB oracle.
  */
final class Lanes(seed: Long, cores: Int, root: File, python: String) extends Workload(seed, cores) {
  val name = "lanes"
  override def wholeRounds: Boolean = true
  private var dir: File = _
  private var oracle: Oracle = _
  private var seq = 0
  private var propsBytes = 0L
  private var rows: Map[String, Long] = Map.empty

  def stage(spark: SparkSession, d: File): Unit = {
    dir = d
    val (events, lineitem, props) = LaneData.write(spark, seed, dir)
    rows = Map("events" -> events, "lineitem" -> lineitem)
    propsBytes = props
    if (oracle == null) oracle = new Oracle(root, python)
    oracle.tables(dir)
    Lanes.Names.foreach(n => oracle.expect(n, graft.SparkEntry.oracleSql(n)))
  }

  def round(spark: SparkSession): IndexedSeq[Op] =
    shuffled(Lanes.Names).map { lane =>
      seq += 1
      val out = new File(dir, s"out/$lane-$seq")
      Op(lane, rows(Lanes.table(lane)), shredded = lane == "v_shred_pushdown",
        () => {
          graft.SparkEntry.queries(lane)(spark, dir.getPath).write.mode("overwrite").parquet(out.getPath)
          out
        },
        _ => try oracle.check(lane, out, corrupt) finally delete(out))
    }

  def probeDocs: Array[Doc] = LaneData.props(seed).zipWithIndex.map { case (p, i) =>
    Doc(i, JObj(Vector("k" -> JInt(p))), s"""{"k": $p}""") }
  def probePaths: Seq[(String, DataType)] = Seq("$.k" -> LongType)

  /** Parquet bytes of the variant table the lanes stage from
    * `events.props`, per JSON byte of those props.
    */
  def storedBytesPerJsonByte: Double = {
    // the lanes staged it already; the call only returns the cached path
    val staged = graft.operators.Shred.stageShreddedTable(SparkSession.active, dir.getPath)
    bytesOf(new File(staged)).toDouble / propsBytes
  }

  override def close(): Unit = if (oracle != null) oracle.close()
}

object Lanes {
  /** Lanes kept in the workload (see the benchmark README for why these). */
  val Names: IndexedSeq[String] = IndexedSeq(
    "v_sql_surface", "v_nested_paths", "v_merge_patch", "v_get_wildcard", "v_readback",
    "v_shred_pushdown", "v_json_roundtrip", "v_grouped_topk",
    "s_window_topk", "s_session_native",
    "q_window_distinct", "q_grouped_topk", "q_broadcast_range_join")
  private val lineitemLanes = Set("v_nested_paths", "v_merge_patch", "v_get_wildcard", "q_grouped_topk")
  def table(lane: String): String = if (lineitemLanes(lane)) "lineitem" else "events"
}

/** Seeded `events` and `lineitem` tables with the test fixtures'
  * schema and value domains, one Parquet file each.
  */
object LaneData {
  val Events = 1000
  val Orders = 1500

  def props(seed: Long): Array[Int] = {
    val r = new java.util.Random(seed ^ 0x1A4E5L)
    Array.fill(Events)(r.nextInt(100))
  }

  /** Returns (events rows, lineitem rows, props JSON bytes). */
  def write(spark: SparkSession, seed: Long, dir: File): (Long, Long, Long) = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ 0x7A8E5L)
    val ks = props(seed)
    val types = Array("click", "view", "signup", "purchase", "error")
    var ts = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val events = (0 until Events).map { i =>
      ts = ts.plusNanos((60L + r.nextInt(5000)) * 1000000000L + r.nextInt(1000000) * 1000L)
      Row(i.toLong, ts, r.nextInt(15).toLong, types(r.nextInt(types.length)),
        (1 + r.nextInt(33000)) / 100.0, s"""{"k": ${ks(i)}}""")
    }
    val evSchema = StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val day0 = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
    val lines = for {
      o <- 0 until Orders
      ln <- 1 to 1 + r.nextInt(7)
    } yield Row(o.toLong, (1 + r.nextInt(200)).toLong, (1 + r.nextInt(10)).toLong, ln,
      (1 + r.nextInt(50)).toDouble, (100 + r.nextInt(10500000)) / 100.0, r.nextInt(11) / 100.0,
      r.nextInt(9) / 100.0, Vector("A", "N", "R")(r.nextInt(3)), Vector("O", "F")(r.nextInt(2)),
      day0.plusDays(r.nextInt(2500)))
    val liSchema = StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType)))
    single(spark, events, evSchema, new File(dir, "events.parquet"))
    single(spark, lines, liSchema, new File(dir, "lineitem.parquet"))
    (events.length.toLong, lines.length.toLong,
      events.map(_.getString(5).length.toLong).sum)
  }

  /** Write rows as ONE Parquet file at `target` (the fixture layout the
    * streaming lanes copy file by file).
    */
  private def single(spark: SparkSession, rows: Seq[Row], schema: StructType, target: File): Unit = {
    val tmp = new File(target.getPath + ".tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles.filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, target.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    delete(tmp)
  }
}

/** A long-lived `python3 oracle.py` worker: runs each lane's oracle SQL
  * in DuckDB once, then hash-compares Spark's Parquet output with it.
  */
final class Oracle(root: File, python: String) {
  private val proc = new ProcessBuilder(python, new File(root, "varbench/oracle.py").getPath)
    .redirectError(ProcessBuilder.Redirect.INHERIT).start()
  private val in = new java.io.BufferedWriter(new java.io.OutputStreamWriter(proc.getOutputStream, "UTF-8"))
  private val out = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def call(fields: (String, String)*): Option[String] = synchronized {
    in.write(Json.obj(fields.map { case (k, v) => k -> Json.str(v) }))
    in.newLine()
    in.flush()
    val line = out.readLine()
    if (line == null) throw new IllegalStateException("oracle worker exited")
    val n = mapper.readTree(line)
    if (n.get("ok").asBoolean) None else Some(n.get("err").asText)
  }

  def tables(dir: File): Unit = call("cmd" -> "tables", "dir" -> dir.getPath)
    .foreach(e => throw new IllegalStateException(s"oracle tables: $e"))
  def expect(lane: String, sql: String): Unit = call("cmd" -> "oracle", "name" -> lane, "sql" -> sql)
    .foreach(e => throw new IllegalStateException(s"oracle $lane: $e"))
  def check(lane: String, out: File, corrupt: Boolean): Option[String] =
    call("cmd" -> "check", "name" -> lane, "path" -> out.getPath, "corrupt" -> (if (corrupt) "1" else "0"))

  def close(): Unit = {
    try in.close() catch { case _: java.io.IOException => () }
    if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor()
    }
  }
}
