package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{VariantFunctions => vf}
import graft.operators.{DedupQueries, SimilarityQueries, StreamingQueries, TextQueries}

/** One entry per implemented operator (SURVEY §2) with, where SQL can
  * express it, a DuckDB oracle over the same parquet tables.
  *
  * Determinism rules for hash-parity with the oracle:
  *  - every query ends in ORDER BY over a unique key prefix;
  *  - aggregate column names are aliased identically on both sides;
  *  - SUM/AVG over double columns go through DECIMAL(18,2) (exact,
  *    order-independent) and cast the final result to DOUBLE — a raw
  *    double sum would differ in the last ulp between engines.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Typed rows for the `Dataset[T]` API surface (`q_typed_dataset`). */
final case class LineitemSlice(l_orderkey: Long, l_quantity: Double, l_returnflag: String)
final case class FlagStats(l_returnflag: String, n_items: Long, max_qty: Double)

/** Z-order (Morton) interleave arithmetic — plain integer ops so the
  * whole key computation stays inside whole-stage codegen and the
  * DuckDB oracle can reproduce it with `<<`/`&`/`|` exactly.
  */
object Zorder {
  /** Spread the low 8 bits of `c` to the even bit positions of a
    * 16-bit value (…b3_b2_b1_b0 → …0b3 0b2 0b1 0b0). */
  def spread8(c: Column): Column = {
    val x1 = c.bitwiseOR(shiftleft(c, 4)).bitwiseAND(lit(0x0F0F))
    val x2 = x1.bitwiseOR(shiftleft(x1, 2)).bitwiseAND(lit(0x3333))
    x2.bitwiseOR(shiftleft(x2, 1)).bitwiseAND(lit(0x5555))
  }

  /** 16-bit z-value of two 8-bit coordinates. */
  def zval8(a: Column, b: Column): Column =
    spread8(a).bitwiseOR(shiftleft(spread8(b), 1))
}

object Queries {
  import Tables._

  /** Sum of a double column as exact decimal, emitted as double. */
  private def dsum(c: String): Column =
    sum(col(c).cast("decimal(18,2)")).cast("double")

  /** Column-argument twin of [[dsum]] for computed inputs. */
  private def dsum2(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** One-time CSV/JSON staging dirs for the source-format queries (the
    * bench runs each query repeatedly — stage once per sf dir). */
  private val srcStage = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Shared SCD2 version build — `q_scd2` emits it as the dimension,
    * `q_pit_join` probes it temporally. One shuffle on user_id; runs
    * (consecutive same-event_type stretches) collapse to versions with
    * `[valid_from, valid_to)` micros, open version has NULL valid_to.
    * Ties broken by event_id so run assignment is total-ordered. */
  private def scd2Versions(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      expr("unix_micros(ts)").as("t"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vw = Window.partitionBy(col("user_id")).orderBy(col("version"))
    ev
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(run))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("attr"),
        min(col("t")).as("valid_from"), count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(vw))
  }

  private def parsedEvents(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).withColumn("v", vf.variant_from_json(col("props")))

  // ---------------------------------------------------------------------
  // Variant function surface (SURVEY §2.1/§2.2 scalar functions)
  // ---------------------------------------------------------------------

  private val variantQueries = Seq(
    // Pure-SQL user journey: every function referenced by NAME through
    // the GraftExtensions registration (no Column DSL), over a temp
    // view — pins the spark.sql(...) surface in the driver gate, not
    // just in unit tests.
    QueryDef("v_sql_surface",
      (s, d) => {
        events(s, d).createOrReplaceTempView("events_sql")
        s.sql("""
          SELECT event_id,
                 variant_get(variant_from_json(props), '$.k', 'bigint') AS k,
                 variant_typeof(variant_get(variant_from_json(props), '$.k')) AS t,
                 variant_size(variant_from_json(props)) AS sz,
                 variant_to_json(variant_from_json(props)) AS j
          FROM events_sql
          ORDER BY event_id""")
      },
      Some("""SELECT event_id,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |       CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
             |                 BETWEEN -128 AND 127 THEN 'tinyint' ELSE 'smallint' END AS t,
             |       CAST(len(json_keys(props)) AS INT) AS sz,
             |       '{"k":' || json_extract_string(props, '$.k') || '}' AS j
             |FROM events ORDER BY event_id""".stripMargin)),

    // Nested-path extraction through the driver gate: the events corpus
    // carries flat single-key JSON, so build DEEP documents (object →
    // object → array) deterministically from lineitem integers, parse,
    // and extract by nested key and array index. Both engines construct
    // the identical text (integer formatting only), so the oracle
    // replays byte-for-byte.
    QueryDef("v_nested_paths",
      (s, d) => {
        val json = concat(
          lit("""{"o": {"id": """), col("l_orderkey"),
          lit(""", "ln": ["""), col("l_linenumber"), lit(", "), col("l_suppkey"),
          lit("""]}, "flag": """"), col("l_returnflag"), lit("\"}"))
        // single-file fixture = one scan partition; respread the narrow
        // input so the per-row encode+walk runs on every core (a real
        // table arrives in many splits — the repartition stands in for
        // that, same as the streaming queries)
        lineitem(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("v", vf.variant_from_json(json))
          .groupBy(vf.variant_get(col("v"), "$.flag", StringType).as("flag"))
          .agg(
            sum(vf.variant_get(col("v"), "$.o.id", LongType)).as("id_sum"),
            sum(vf.variant_get(col("v"), "$.o.ln[1]", LongType)).as("sk_sum"),
            count(lit(1)).as("n"))
          .orderBy(col("flag"))
      },
      Some("""SELECT l_returnflag AS flag,
             |       CAST(SUM(l_orderkey) AS BIGINT) AS id_sum,
             |       CAST(SUM(l_suppkey) AS BIGINT) AS sk_sum,
             |       COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin)),

    // RFC 7386 merge patch through the driver gate: per-row target and
    // patch documents built from lineitem integers, merged (nested
    // object merge + null deletion + field add), then verified by
    // extraction — pk_sum proves the nested ADD, n_drop = 0 proves the
    // nested DELETE, extra_sum proves the top-level add, ln survives
    // from the target. DuckDB's native json_merge_patch is the oracle.
    QueryDef("v_merge_patch",
      (s, d) => {
        val target = concat(
          lit("""{"ln": """), col("l_linenumber"),
          lit(""", "meta": {"sk": """), col("l_suppkey"),
          lit(""", "drop": """), col("l_orderkey"), lit("}}"))
        val patch = concat(
          lit("""{"meta": {"drop": null, "pk": """), col("l_partkey"),
          lit("""}, "extra": """), col("l_orderkey"), lit("}"))
        // one scan partition in the fixture (single file) would run the
        // per-row parse+merge serially — respread first (see
        // v_nested_paths)
        lineitem(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("m", vf.variant_merge_patch(
            vf.variant_from_json(target), vf.variant_from_json(patch)))
          .groupBy(vf.variant_get(col("m"), "$.ln", LongType).as("ln"))
          .agg(
            sum(vf.variant_get(col("m"), "$.meta.pk", LongType)).as("pk_sum"),
            sum(vf.variant_get(col("m"), "$.extra", LongType)).as("extra_sum"),
            count(vf.variant_get(col("m"), "$.meta.drop", LongType)).as("n_drop"),
            count(lit(1)).as("n"))
          .orderBy(col("ln"))
      },
      Some("""WITH m AS (
             |  SELECT json_merge_patch(
             |    '{"ln": ' || CAST(l_linenumber AS VARCHAR) || ', "meta": {"sk": '
             |      || CAST(l_suppkey AS VARCHAR) || ', "drop": '
             |      || CAST(l_orderkey AS VARCHAR) || '}}',
             |    '{"meta": {"drop": null, "pk": ' || CAST(l_partkey AS VARCHAR)
             |      || '}, "extra": ' || CAST(l_orderkey AS VARCHAR) || '}') AS j
             |  FROM lineitem)
             |SELECT CAST(json_extract_string(j, '$.ln') AS BIGINT) AS ln,
             |       CAST(SUM(CAST(json_extract_string(j, '$.meta.pk') AS BIGINT)) AS BIGINT) AS pk_sum,
             |       CAST(SUM(CAST(json_extract_string(j, '$.extra') AS BIGINT)) AS BIGINT) AS extra_sum,
             |       COUNT(json_extract(j, '$.meta.drop')) AS n_drop,
             |       COUNT(*) AS n
             |FROM m GROUP BY 1 ORDER BY ln""".stripMargin)),

    // Structural PII scrub: variant_strip_keys projects named top-level
    // keys OUT of a variant (the semi-structured twin of dropping
    // columns) with no JSON text round trip. The oracle states the same
    // edit as json_merge_patch with a null patch value — the textbook
    // key-delete idiom — and checks both the removal (stripped key
    // extracts as NULL on every row) and the survivors (values and the
    // remaining key set intact). Map-only, canonical output bytes.
    QueryDef("v_strip_keys",
      (s, d) => {
        val j = concat(
          lit("""{"qty": """), col("l_quantity").cast("long"),
          lit(""", "secret": """), col("l_suppkey"),
          lit(""", "sk": """), col("l_partkey"), lit("}"))
        lineitem(s, d)
          .repartition(s.sparkContext.defaultParallelism)
          .withColumn("sv", vf.variant_strip_keys(
            vf.variant_from_json(j), array(lit("secret"), lit("absent"))))
          .groupBy(vf.variant_get(col("sv"), "$.sk", LongType).as("sk"))
          .agg(
            sum(vf.variant_get(col("sv"), "$.qty", LongType)).as("qty_sum"),
            count(vf.variant_get(col("sv"), "$.secret", LongType)).as("n_secret"),
            sum(size(vf.variant_keys(col("sv"))).cast("long")).as("keys_total"),
            count(lit(1)).as("n"))
          .orderBy(col("sk"))
      },
      Some("""WITH m AS (
             |  SELECT json_merge_patch(
             |    '{"qty": ' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
             |      || ', "secret": ' || CAST(l_suppkey AS VARCHAR)
             |      || ', "sk": ' || CAST(l_partkey AS VARCHAR) || '}',
             |    '{"secret": null}') AS j
             |  FROM lineitem)
             |SELECT CAST(json_extract_string(j, '$.sk') AS BIGINT) AS sk,
             |       CAST(SUM(CAST(json_extract_string(j, '$.qty') AS BIGINT)) AS BIGINT) AS qty_sum,
             |       COUNT(json_extract(j, '$.secret')) AS n_secret,
             |       CAST(SUM(len(json_keys(j))) AS BIGINT) AS keys_total,
             |       COUNT(*) AS n
             |FROM m GROUP BY 1 ORDER BY sk""".stripMargin)),

    QueryDef("v_sum_by_type",
      (s, d) => parsedEvents(s, d)
        .groupBy(col("event_type"))
        .agg(sum(vf.variant_get(col("v"), "$.k", LongType)).as("k_sum"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      // CAST(SUM(..) AS BIGINT): DuckDB's SUM(BIGINT) yields HUGEINT
      // (int128); Spark emits int64 — cast so the hash compare agrees.
      Some("""SELECT event_type,
             |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
             |       COUNT(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef("v_filter_high",
      (s, d) => parsedEvents(s, d)
        .withColumn("k", vf.variant_get(col("v"), "$.k", LongType))
        .filter(col("k") > 90)
        .select(col("event_id"), col("k"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events
             |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
             |ORDER BY event_id""".stripMargin)),

    QueryDef("v_get_string",
      (s, d) => parsedEvents(s, d)
        .select(col("event_id"),
          vf.variant_get(col("v"), "$.k", StringType).as("ks"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, json_extract_string(props, '$.k') AS ks
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("v_typeof_counts",
      (s, d) => parsedEvents(s, d)
        .groupBy(vf.variant_typeof(col("v")).as("t"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("t")),
      Some("SELECT 'object' AS t, COUNT(*) AS n FROM events")),

    QueryDef("v_missing_is_null",
      (s, d) => parsedEvents(s, d)
        .agg(
          count(when(vf.variant_get(col("v"), "$.zzz", LongType).isNull, 1)).as("n_missing"),
          count(when(vf.is_variant_null(col("v")), 1)).as("n_variant_null")),
      Some("""SELECT COUNT(CASE WHEN json_extract(props, '$.zzz') IS NULL THEN 1 END) AS n_missing,
             |       0::BIGINT AS n_variant_null
             |FROM events""".stripMargin)),

    // printer → re-parse → extract: exercises variant_to_json end-to-end
    // without comparing JSON text formatting (DuckDB preserves input
    // whitespace; our printer is canonical-compact).
    QueryDef("v_json_roundtrip",
      (s, d) => parsedEvents(s, d)
        .withColumn("v2", vf.variant_from_json(vf.variant_to_json(col("v"))))
        .select(col("event_id"),
          vf.variant_get(col("v2"), "$.k", LongType).as("k2"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k2
             |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("v_explode_kv",
      (s, d) => parsedEvents(s, d)
        .select(vf.variant_explode(col("v")))
        .withColumn("val", vf.variant_get(col("value"), "$", LongType))
        .groupBy(col("key"))
        .agg(sum(col("val")).as("val_sum"), count(lit(1)).as("n"))
        .orderBy(col("key")),
      Some("""SELECT key,
             |       CAST(SUM(CAST(json_extract_string(props, '$.' || key) AS BIGINT)) AS BIGINT) AS val_sum,
             |       COUNT(*) AS n
             |FROM (SELECT props, unnest(json_keys(props)) AS key FROM events) t
             |GROUP BY key ORDER BY key""".stripMargin)),

    // variant extraction mixed with plain relational columns in one
    // aggregate (the everyday shape of semi-structured analytics)
    QueryDef("v_mixed_agg",
      (s, d) => parsedEvents(s, d)
        .groupBy(col("event_type"))
        .agg(
          sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"),
          sum(vf.variant_get(col("v"), "$.k", LongType)).as("k_sum"),
          countDistinct(col("user_id")).as("d_users"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type,
             |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
             |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
             |       COUNT(DISTINCT user_id) AS d_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Auto-shredding: schema_of_variant_agg infers the field set, the
    // fields materialize as typed columns, and the aggregate runs on the
    // shredded column (same oracle as the unshredded path).
    QueryDef("v_auto_shred",
      (s, d) => graft.operators.Shred.autoShred(parsedEvents(s, d), "v")
        .groupBy(col("event_type"))
        .agg(sum(col("v_k")).as("k_sum"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type,
             |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // grouping directly ON the variant column: legal because our object
    // encoding is canonical (identical content → identical bytes,
    // SURVEY §2.2 set-ops note)
    QueryDef("v_group_by_variant",
      (s, d) => parsedEvents(s, d)
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n"))
        .select(vf.variant_get(col("v"), "$.k", LongType).as("k"), col("n"))
        .orderBy(col("k")),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n
             |FROM events GROUP BY props ORDER BY k""".stripMargin)),

    QueryDef("v_keys_size",
      (s, d) => parsedEvents(s, d)
        .select(col("event_id"),
          // scalar join, not a LIST column: the driver's pandas sort
          // can't hash numpy arrays
          array_join(vf.variant_keys(col("v")), ",").as("ks"),
          vf.variant_size(col("v")).as("sz"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, array_to_string(json_keys(props), ',') AS ks,
             |       CAST(len(json_keys(props)) AS INT) AS sz
             |FROM events ORDER BY event_id""".stripMargin)),

    // Multi-path extraction: one metadata decode + frame walk serves the
    // whole field set (the shredding workhorse, §2.1 amortization) — vs
    // the oracle's three independent json_extracts.
    QueryDef("v_get_multi",
      (s, d) => {
        import org.apache.spark.sql.graftbridge.Bridge
        val multi = Bridge.column(graft.functions.VariantRead(
          Bridge.expression(col("v")), "$", graft.functions.JsonConsumer.Multi(
            Seq(("$.k", LongType, "k"), ("$.k", StringType, "ks"), ("$.zzz", LongType, "zz")))))
        parsedEvents(s, d)
          .withColumn("m", multi)
          .select(col("event_id"), col("m.k").as("k"),
            col("m.ks").as("ks"), col("m.zz").as("zz"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |       json_extract_string(props, '$.k') AS ks,
             |       CAST(json_extract_string(props, '$.zzz') AS BIGINT) AS zz
             |FROM events ORDER BY event_id""".stripMargin)),

    // Interop with Spark's native VariantType, both directions in one
    // query: our encode read by the BUILTIN variant_get, and the builtin
    // parse_json read by OUR variant_get — byte-verbatim bridges, same
    // Open Variant spec (DifferentialSpec pins the full matrix).
    QueryDef("v_interop",
      (s, d) => {
        import org.apache.spark.sql.graftbridge.Bridge
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.catalyst.expressions.variant.{ParseJson, VariantGet => SparkVG}
        parsedEvents(s, d)
          .select(col("event_id"),
            Bridge.column(SparkVG(
              Bridge.expression(vf.to_spark_variant(col("v"))),
              Literal.create("$.k"), LongType, false, None)).as("k_builtin"),
            vf.variant_get(
              vf.from_spark_variant(
                Bridge.column(ParseJson(Bridge.expression(col("props")), true))),
              "$.k", LongType).as("k_ours"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_builtin,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_ours
             |FROM events ORDER BY event_id""".stripMargin)),

    // Variant column persisted to parquet and read back — rows repeat
    // the same metadata bytes, so extraction runs on the decoded-metadata
    // id cache instead of per-row binary searches. String target keeps
    // the shredded-pushdown rule out of the way (v_k is long).
    QueryDef("v_readback",
      (s, d) => {
        val staged = graft.operators.Shred.stageShreddedTable(s, d)
        s.read.parquet(staged)
          .select(col("event_id"),
            vf.variant_get(col("v"), "$.k", StringType).as("ks"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, json_extract_string(props, '$.k') AS ks
             |FROM events ORDER BY event_id""".stripMargin)),

    // NATIVE VariantType parquet interop (round 8): our variant →
    // to_spark_variant → parquet holding Spark 4.1's native VariantType
    // (files any stock Spark reader can open) → read back →
    // from_spark_variant → extract. The file-level half of v_interop's
    // in-memory bridge: proves the conversion survives the parquet
    // writer/reader pair, not just the expression evaluator.
    QueryDef("v_native_parquet",
      (s, d) => {
        val dir = srcStage.computeIfAbsent(s"nativevar#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_nvar_").toString
          parsedEvents(s, d)
            .select(col("event_id"), vf.to_spark_variant(col("v")).as("sv"))
            .write.mode("overwrite").parquet(sd)
          sd
        })
        s.read.parquet(dir)
          .select(col("event_id"),
            vf.variant_get(vf.from_spark_variant(col("sv")), "$.k", LongType).as("k"),
            vf.variant_typeof(vf.from_spark_variant(col("sv"))).as("t"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |       'object' AS t
             |FROM events ORDER BY event_id""".stripMargin)),

    // SHREDDED-parquet variant interop (round 9): Spark 4.1 writes
    // VariantType parquet in the SHREDDING layout by DEFAULT
    // (typed_value subcolumns beside metadata/value — probe-verified
    // footer: sv { metadata, value, typed_value { k { value,
    // typed_value int64 }}}). Both engines-of-record directions:
    //  A. OUR bytes → Spark's shredder: to_spark_variant output written
    //     shredded, read back and extracted with SPARK'S OWN VariantGet
    //     (NativeVariantDispatch routes the shared name there), so
    //     Spark's PushVariantIntoScan rewrites the scan to read ONLY
    //     the typed_value subcolumn — PlanSpec pins ReadSchema
    //     struct<...bigint>, the shredded analogue of PushedFilters.
    //  B. STOCK parse_json → shredded file → read back through OUR
    //     codec (from_spark_variant + our variant_get).
    // Equality of both extractions against the raw JSON is the gate.
    QueryDef("v_shredded_interop",
      (s, d) => {
        val dirA = srcStage.computeIfAbsent(s"shredA#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_shredA_").toString
          parsedEvents(s, d)
            .select(col("event_id"), vf.to_spark_variant(col("v")).as("sv"))
            .write.mode("overwrite").parquet(sd)
          sd
        })
        val dirB = srcStage.computeIfAbsent(s"shredB#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_shredB_").toString
          events(s, d)
            .select(col("event_id"),
              org.apache.spark.sql.functions.parse_json(col("props")).as("sv"))
            .write.mode("overwrite").parquet(sd)
          sd
        })
        val a = s.read.parquet(dirA)
          .filter(vf.variant_get(col("sv"), "$.k", LongType) > 90)
          .select(col("event_id"),
            vf.variant_get(col("sv"), "$.k", LongType).as("k_ours_file"))
        val b = s.read.parquet(dirB)
          .select(col("event_id"),
            vf.variant_get(vf.from_spark_variant(col("sv")), "$.k", LongType)
              .as("k_stock_file"))
        a.join(b, Seq("event_id"))
          .select(col("event_id"), col("k_ours_file"), col("k_stock_file"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_ours_file,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_stock_file
             |FROM events
             |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
             |ORDER BY event_id""".stripMargin)),

    // variant_get over a shredded table: the rewrite rule turns both the
    // predicate and the projection into the typed v_k column, so the
    // parquet scan pushes the filter and never decodes the variant
    // (PlanSpec pins PushedFilters).
    QueryDef("v_shred_pushdown",
      (s, d) => {
        val staged = graft.operators.Shred.stageShreddedTable(s, d)
        s.read.parquet(staged)
          .filter(vf.variant_get(col("v"), "$.k", LongType) > 90)
          .select(col("event_id"),
            vf.variant_get(col("v"), "$.k", LongType).as("k"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events
             |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
             |ORDER BY event_id""".stripMargin)),

    QueryDef("v_schema_of",
      (s, d) => parsedEvents(s, d)
        .groupBy(vf.schema_of_variant(col("v")).as("sch"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("sch")),
      Some("SELECT 'object<k: bigint>' AS sch, COUNT(*) AS n FROM events")),

    QueryDef("v_schema_agg",
      (s, d) => parsedEvents(s, d)
        .agg(vf.schema_of_variant_agg(col("v")).as("sch")),
      Some("SELECT 'object<k: bigint>' AS sch")),

    QueryDef("v_to_variant",
      (s, d) => orders(s, d)
        .withColumn("tv", vf.to_variant(struct(
          col("o_orderstatus").as("s"), col("o_custkey").as("c"))))
        .select(col("o_orderkey"),
          vf.variant_get(col("tv"), "$.s", StringType).as("s"),
          vf.variant_get(col("tv"), "$.c", LongType).as("c"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_orderstatus AS s, o_custkey AS c
             |FROM orders ORDER BY o_orderkey""".stripMargin)))

  // ---------------------------------------------------------------------
  // Relational operator coverage (SURVEY §2.2): scans, filters, aggs,
  // joins (shuffle/broadcast/semi/anti), windows, sort/limit, set ops,
  // rollup/cube, distinct aggregates.
  // ---------------------------------------------------------------------

  private val relationalQueries = Seq(
    QueryDef("q1_pricing_summary",
      (s, d) => lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum("l_quantity").as("sum_qty"),
          dsum("l_extendedprice").as("sum_base_price"),
          sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
             |       COUNT(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q3_top_revenue",
      (s, d) => {
        val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = orders(s, d)
        val l = lineitem(s, d)
        // customer is tiny → broadcast; orders⋈lineitem shuffles on the key
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(l("l_orderkey"), date_format(o("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
          .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    QueryDef("q5_region_revenue",
      (s, d) => {
        val l = lineitem(s, d)
        val o = orders(s, d)
        val c = customer(s, d)
        val n = nation(s, d)
        val r = region(s, d).filter(col("r_name") === "ASIA")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(n("n_name"))
          .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_lineitems"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name,
             |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             |       COUNT(*) AS n_lineitems
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // TPC-H Q6 shape: highly selective multi-predicate scan feeding a
    // single global aggregate — every predicate must reach the parquet
    // reader (min/max row-group skipping is the whole query at 100 TB).
    QueryDef("q6_forecast_revenue",
      (s, d) => lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,2)")).cast("decimal(28,4)"))
          .cast("double").as("revenue"),
          count(lit(1)).as("n")),
      Some("""SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
             |       COUNT(*) AS n
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1994-01-01'
             |  AND l_shipdate < TIMESTAMP '1995-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07
             |  AND l_quantity < 24""".stripMargin)),

    // HAVING: post-aggregation filter on the aggregate value
    QueryDef("q_having",
      (s, d) => orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          dsum("o_totalprice").as("sum_price"))
        .filter(col("n_orders") >= 8)
        .orderBy(col("o_custkey")),
      Some("""SELECT o_custkey, COUNT(*) AS n_orders,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY o_custkey
             |HAVING COUNT(*) >= 8
             |ORDER BY o_custkey""".stripMargin)),

    QueryDef("q_semi_join",
      (s, d) => customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment, COUNT(*) AS n_customers
             |FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    QueryDef("q_anti_join",
      (s, d) => customer(s, d)
        .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_mktsegment
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef("q_window_topn",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        orders(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("rn"), col("o_orderkey"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, rn, o_orderkey FROM (
             |  SELECT o_custkey, o_orderkey,
             |         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // window ORDER BY includes quantity/price: the synthetic data has
    // duplicate (shipdate, orderkey, linenumber) rows, and a ROWS frame
    // over a non-total order makes intermediate running values depend on
    // the engine's tie order
    QueryDef("q_window_running",
      (s, d) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        lineitem(s, d)
          .withColumn("running_qty",
            sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double"))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("running_qty"))
          .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("running_qty"))
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             |         PARTITION BY l_suppkey
             |         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
             |FROM lineitem
             |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_quantity, running_qty""".stripMargin)),

    QueryDef("q_window_lag",
      (s, d) => {
        // same total-order rationale as q_window_running
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"))
        lineitem(s, d)
          .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("prev_qty"))
          .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("prev_qty"))
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
             |       LAG(l_quantity, 1) OVER (
             |         PARTITION BY l_suppkey
             |         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice) AS prev_qty
             |FROM lineitem
             |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_quantity, prev_qty""".stripMargin)),

    QueryDef("q_topk",
      (s, d) => lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(15),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             |FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 15""".stripMargin)),

    QueryDef("q_set_intersect",
      (s, d) => {
        val o = orders(s, d)
        o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
          .intersect(o.filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey")))
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
             |ORDER BY o_custkey""".stripMargin)),

    QueryDef("q_set_except",
      (s, d) => {
        val o = orders(s, d)
        o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
          .except(o.filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey")))
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |EXCEPT
             |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
             |ORDER BY o_custkey""".stripMargin)),

    // Multiset (ALL) set operations — bag semantics, duplicates kept
    QueryDef("q_set_ops_all",
      (s, d) => {
        val o = orders(s, d)
        val a = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
        val b = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        a.intersectAll(b).groupBy(col("o_custkey")).agg(count(lit(1)).as("n_inter"))
          .join(
            a.exceptAll(b).groupBy(col("o_custkey")).agg(count(lit(1)).as("n_exc")),
            Seq("o_custkey"), "full_outer")
          .select(col("o_custkey"),
            coalesce(col("n_inter"), lit(0L)).as("n_inter"),
            coalesce(col("n_exc"), lit(0L)).as("n_exc"))
          .orderBy(col("o_custkey"))
      },
      Some("""WITH a AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
             |b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
             |i AS (SELECT o_custkey, COUNT(*) AS n_inter
             |      FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
             |      GROUP BY 1),
             |e AS (SELECT o_custkey, COUNT(*) AS n_exc
             |      FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
             |      GROUP BY 1)
             |SELECT o_custkey,
             |       CAST(COALESCE(n_inter, 0) AS BIGINT) AS n_inter,
             |       CAST(COALESCE(n_exc, 0) AS BIGINT) AS n_exc
             |FROM i FULL JOIN e USING (o_custkey)
             |ORDER BY o_custkey""".stripMargin)),

    QueryDef("q_rollup",
      (s, d) => lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum("l_quantity").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy(col("rf"), col("ls")),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
             |       COALESCE(l_linestatus, 'ALL') AS ls,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),

    QueryDef("q_cube",
      (s, d) => orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"), col("n"))
        .orderBy(col("st"), col("pri")),
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS st,
             |       COALESCE(o_orderpriority, 'ALL') AS pri,
             |       COUNT(*) AS n
             |FROM orders
             |GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY st, pri""".stripMargin)),

    QueryDef("q_distinct_agg",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("d_parts"),
          countDistinct(col("l_suppkey")).as("d_supps"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS d_parts,
             |       COUNT(DISTINCT l_suppkey) AS d_supps, COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // As-of join (most recent click at or before each purchase, per
    // user): composed union+window single-shuffle plan vs DuckDB's
    // native ASOF LEFT JOIN.
    QueryDef("q_asof_join",
      (s, d) => {
        val ev = events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        graft.operators.Joins.asofJoin(purchases, clicks, "user_id", "ts", "ts",
            Map("event_id" -> "click_id", "ts" -> "click_ts"))
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("p_ts"),
            col("click_id"),
            unix_micros(col("click_ts")).as("c_ts"))
          .orderBy(col("event_id"))
      },
      Some("""WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |           FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             |      FROM events WHERE event_type = 'click')
             |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_ts,
             |       c.click_id, epoch_us(c.ts) AS c_ts
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    // Range (interval) join: pairs of events of the same user within 60
    // seconds, via bucketized equi-join (no theta-join blowup).
    QueryDef("q_range_join",
      (s, d) => graft.operators.Joins
        .rangeJoinPairs(events(s, d), "user_id", "ts", 60L * 1000000L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id")),
      Some("""SELECT a.user_id, COUNT(*) AS n_pairs
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id
             | AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
             | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 60 SECOND
             |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin)),

    // HLL sketch (approx_count_distinct) through a DRIVER-LANE error
    // gate (round 8, the q_approx_quantile_gate pattern): the sketch
    // values themselves are engine-private, but the rsd guarantee is
    // checkable — each group's estimate must sit within 3·rsd of the
    // exact distinct count. approx_count_distinct is hash-deterministic
    // for fixed data, so the constant all-true oracle is sound; the
    // exact side is one countDistinct over the same shuffle.
    QueryDef("q_approx_distinct",
      (s, d) => {
        import s.implicits._
        val rsd = 0.05
        val checks = lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey"), rsd).as("approx"),
            countDistinct(col("l_partkey")).as("exact"))
          .collect() // grouped scalar digest (≤3 rows): the gate shape
          .map { r =>
            val a = r.getLong(1); val e = r.getLong(2)
            (r.getString(0), math.abs(a - e) <= math.max(3.0 * rsd * e, 3.0))
          }
        checks.toSeq.toDF("l_returnflag", "within_bound")
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, true AS within_bound
             |FROM (SELECT DISTINCT l_returnflag FROM lineitem)
             |ORDER BY l_returnflag""".stripMargin)),

    // KMV (k-minimum-values) sketch algebra through the EXACT hash gate:
    // approx_count_distinct (above) can only be rows-checked because
    // HLL internals are engine-private, but a KMV sketch built from a
    // pinned integer hash is fully reproducible in SQL — so distinct
    // ESTIMATES, sketch MERGE (union), and the Jaccard-based overlap
    // estimate all hash-match the oracle bit for bit. Estimator stays in
    // integer arithmetic: est = (k-1)·2³¹ div h_(k) (truncating div both
    // engines), overlap = matches·est_union div k'. Why it scales: the
    // sketch is a mergeable bottom-k (one shuffle on the group key, k
    // rows per group survive), sketch-vs-sketch ops touch ≤k rows per
    // group pair — estimating cross-corpus overlap at 100 TB costs one
    // pass per corpus plus sketch-sized joins, never a fact-fact join.
    // The unsaturated branch (n < k) returns the exact count, which is
    // what makes the estimator exact on small groups by construction.
    QueryDef("q_kmv_overlap",
      (s, d) => {
        val k = 128
        val fn = graft.functions.VariantFunctions
        val items = orders(s, d)
          .select(col("o_orderpriority").as("g"), col("o_custkey").as("item"))
          .distinct()
        val hashed = items
          .withColumn("h", pmod(pmod(col("item"), lit(2147483648L)) * 2654435761L,
            lit(2147483648L)))
          .select(col("g"), col("h"))
        // Sketch build as a MERGEABLE bottom-k aggregate (BottomKLongs),
        // not `distinct + row_number() <= k` over a window: the window
        // formulation shuffled and full-sorted EVERY hashed row per
        // group (plus the distinct's own exchange), while the aggregate
        // dedups and trims to k inside the map-side partial — at most k
        // longs per group per map task cross the shuffle, which is what
        // makes the sketch build map-side-combining at 100 TB group
        // sizes. Output-identical: bottom-k of distinct values is
        // bottom-k with dedup in the buffer.
        val skArr = hashed.groupBy(col("g"))
          .agg(fn.bottom_k_longs(col("h"), k).as("hs"))
        val sk = skArr.select(col("g"), explode(col("hs")).as("h"))
        // `div`, not `/`: Column./ is DOUBLE division; the estimator must
        // stay in truncating integer arithmetic to hash-match the oracle.
        // kg = |sketch| = min(n, k); h_(k) = the sketch's largest value =
        // its last element (the array is ascending).
        def estExpr(hs: String): Column =
          when(size(col(hs)) < k, size(col(hs)).cast("long"))
            .otherwise(expr(s"(127L * 2147483648L) div element_at($hs, size($hs))"))
        val gs = skArr.select(col("g"), estExpr("hs").as("est"))
        val groups = skArr.select(col("g"))
        val pairs = groups.select(col("g").as("ga"))
          .crossJoin(groups.select(col("g").as("gb")))
          .filter(col("ga") < col("gb"))
        // sketch-union per pair: ≤2k rows per pair — broadcast BNLJ
        // over SKETCHES, which stay k-bounded at any corpus size; the
        // union's dedup + k-trim happen inside the same aggregate.
        val pu = broadcast(pairs).join(sk,
            col("g") === col("ga") || col("g") === col("gb"))
          .select(col("ga"), col("gb"), col("h"))
        val puArr = pu.groupBy(col("ga"), col("gb"))
          .agg(fn.bottom_k_longs(col("h"), k).as("hs"))
        val merged = puArr.select(col("ga"), col("gb"), explode(col("hs")).as("h"))
        val mh = sk.as("a").join(sk.as("b"),
            col("a.h") === col("b.h") && col("a.g") < col("b.g"))
          .select(col("a.g").as("mga"), col("b.g").as("mgb"), col("a.h").as("mhh"))
        val x = merged.join(mh,
            col("ga") === col("mga") && col("gb") === col("mgb") &&
              col("h") === col("mhh"))
          .groupBy(col("ga").as("xga"), col("gb").as("xgb"))
          .agg(count(lit(1)).as("x"))
        val ps = puArr
          .select(col("ga"), col("gb"), size(col("hs")).cast("long").as("kp"),
            estExpr("hs").as("est_union"))
          .join(x, col("ga") === col("xga") && col("gb") === col("xgb"), "left")
          .select(col("ga"), col("gb"), col("kp"), col("est_union"),
            coalesce(col("x"), lit(0L)).as("x"))
        val exact = items.groupBy(col("g")).agg(count(lit(1)).as("n"))
        val exactOv = items.as("a").join(items.as("b"),
            col("a.item") === col("b.item") && col("a.g") < col("b.g"))
          .groupBy(col("a.g").as("oga"), col("b.g").as("ogb"))
          .agg(count(lit(1)).as("exact_inter"))
        ps
          .join(gs.select(col("g").as("ga"), col("est").as("est_a")), Seq("ga"))
          .join(gs.select(col("g").as("gb"), col("est").as("est_b")), Seq("gb"))
          .join(exact.select(col("g").as("ga"), col("n").as("exact_a")), Seq("ga"))
          .join(exact.select(col("g").as("gb"), col("n").as("exact_b")), Seq("gb"))
          .join(exactOv, col("ga") === col("oga") && col("gb") === col("ogb"), "left")
          .select(col("ga"), col("gb"), col("est_a"), col("est_b"),
            col("est_union"),
            expr("(x * est_union) div kp").cast("long").as("est_inter"),
            col("exact_a"), col("exact_b"),
            coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
          .orderBy(col("ga"), col("gb"))
      },
      Some("""WITH items AS (
             |  SELECT DISTINCT o_orderpriority AS g, o_custkey AS item FROM orders),
             |h0 AS (
             |  SELECT DISTINCT g,
             |         ((item % 2147483648) * 2654435761) % 2147483648 AS h
             |  FROM items),
             |skr AS (
             |  SELECT g, h, CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS BIGINT) AS rnk
             |  FROM h0),
             |sk AS (SELECT * FROM skr WHERE rnk <= 128),
             |gs AS (
             |  SELECT g, CASE WHEN MAX(rnk) < 128 THEN MAX(rnk)
             |                 ELSE (127 * 2147483648) // MAX(h) END AS est
             |  FROM sk GROUP BY g),
             |pairs AS (
             |  SELECT a.g AS ga, b.g AS gb
             |  FROM (SELECT DISTINCT g FROM sk) a, (SELECT DISTINCT g FROM sk) b
             |  WHERE a.g < b.g),
             |pu AS (
             |  SELECT DISTINCT p.ga, p.gb, s.h
             |  FROM pairs p JOIN sk s ON s.g = p.ga OR s.g = p.gb),
             |mergedr AS (
             |  SELECT ga, gb, h,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS BIGINT) AS rnk
             |  FROM pu),
             |merged AS (SELECT * FROM mergedr WHERE rnk <= 128),
             |mh AS (
             |  SELECT a.g AS mga, b.g AS mgb, a.h AS mhh
             |  FROM sk a JOIN sk b ON a.h = b.h AND a.g < b.g),
             |x AS (
             |  SELECT m.ga, m.gb, COUNT(*) AS x
             |  FROM merged m JOIN mh ON m.ga = mh.mga AND m.gb = mh.mgb AND m.h = mh.mhh
             |  GROUP BY 1, 2),
             |ps AS (
             |  SELECT m.ga, m.gb, MAX(m.rnk) AS kp,
             |         CASE WHEN MAX(m.rnk) < 128 THEN MAX(m.rnk)
             |              ELSE (127 * 2147483648) // MAX(m.h) END AS est_union,
             |         COALESCE(ANY_VALUE(x.x), 0) AS x
             |  FROM merged m LEFT JOIN x ON m.ga = x.ga AND m.gb = x.gb
             |  GROUP BY 1, 2),
             |exact AS (SELECT g, COUNT(*) AS n FROM items GROUP BY g),
             |eo AS (
             |  SELECT a.g AS oga, b.g AS ogb, COUNT(*) AS exact_inter
             |  FROM items a JOIN items b ON a.item = b.item AND a.g < b.g
             |  GROUP BY 1, 2)
             |SELECT ps.ga, ps.gb,
             |       CAST(ga_s.est AS BIGINT) AS est_a, CAST(gb_s.est AS BIGINT) AS est_b,
             |       CAST(ps.est_union AS BIGINT) AS est_union,
             |       CAST((ps.x * ps.est_union) // ps.kp AS BIGINT) AS est_inter,
             |       CAST(ea.n AS BIGINT) AS exact_a, CAST(eb.n AS BIGINT) AS exact_b,
             |       CAST(COALESCE(eo.exact_inter, 0) AS BIGINT) AS exact_inter
             |FROM ps
             |JOIN gs ga_s ON ps.ga = ga_s.g
             |JOIN gs gb_s ON ps.gb = gb_s.g
             |JOIN exact ea ON ps.ga = ea.g
             |JOIN exact eb ON ps.gb = eb.g
             |LEFT JOIN eo ON ps.ga = eo.oga AND ps.gb = eo.ogb
             |ORDER BY ps.ga, ps.gb""".stripMargin)),

    // exact interpolated percentiles: same p*(n-1) definition in Spark's
    // percentile() and DuckDB's quantile_cont
    QueryDef("q_percentile",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.95)").as("p95"),
          min(col("l_quantity")).as("qmin"),
          max(col("l_quantity")).as("qmax"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |       quantile_cont(l_quantity, 0.5) AS p50,
             |       quantile_cont(l_quantity, 0.95) AS p95,
             |       MIN(l_quantity) AS qmin,
             |       MAX(l_quantity) AS qmax
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // string/date/math scalar-function parity sweep
    QueryDef("q_scalar_funcs",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 5)).as("pri5"),
          length(col("o_orderstatus")).cast("long").as("st_len"),
          concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          (col("o_orderkey") % 7).as("k_mod"),
          abs(col("o_totalprice") * -1).as("abs_price"),
          round(col("o_totalprice") / 100, 1).as("hundredths"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
             |       upper(substring(o_orderpriority, 1, 5)) AS pri5,
             |       CAST(length(o_orderstatus) AS BIGINT) AS st_len,
             |       concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
             |       CAST(year(o_orderdate) AS BIGINT) AS y,
             |       CAST(month(o_orderdate) AS BIGINT) AS m,
             |       o_orderkey % 7 AS k_mod,
             |       abs(o_totalprice * -1) AS abs_price,
             |       round(o_totalprice / 100, 1) AS hundredths
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef("q_broadcast_join",
      (s, d) => nation(s, d)
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"))
        .orderBy(col("r_name")),
      Some("""SELECT r_name, COUNT(*) AS n_nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    QueryDef("q_grouping_sets",
      (s, d) => lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum("l_quantity").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy(col("rf"), col("ls")),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
             |       COALESCE(l_linestatus, 'ALL') AS ls,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
             |ORDER BY rf, ls""".stripMargin)),

    QueryDef("q_pivot",
      (s, d) => orders(s, d)
        .groupBy(col("o_orderpriority").as("pri"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("pri"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy(col("pri")),
      Some("""SELECT o_orderpriority AS pri,
             |       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
             |       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
             |       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
             |FROM orders GROUP BY o_orderpriority ORDER BY pri""".stripMargin)),

    // wide→long reshaping (unpivot/melt — the inverse of pivot)
    QueryDef("q_unpivot",
      (s, d) => part(s, d)
        .select(col("p_partkey"),
          col("p_size").cast("double").as("p_size"),
          col("p_retailprice"))
        .unpivot(Array(col("p_partkey")), "metric", "val")
        .orderBy(col("p_partkey"), col("metric")),
      Some("""SELECT p_partkey, metric, val
             |FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size, p_retailprice
             |      FROM part)
             |UNPIVOT (val FOR metric IN (p_size, p_retailprice))
             |ORDER BY p_partkey, metric""".stripMargin)),

    QueryDef("q_union",
      (s, d) => {
        val o = orders(s, d)
        o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
          .unionByName(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
          .distinct()
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |UNION
             |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY o_custkey""".stripMargin)),

    // min_by/max_by vs DuckDB arg_min/arg_max. The synthetic data has
    // duplicate (orderkey, linenumber) rows, so the RESULT value rides
    // in the ordering's low digits: ties then agree by construction.
    QueryDef("q_minmax_by",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("max_by(l_partkey, (l_orderkey * 8 + l_linenumber) * 1000000 + l_partkey)").as("last_part"),
          expr("min_by(l_partkey, (l_orderkey * 8 + l_linenumber) * 1000000 + l_partkey)").as("first_part"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |       arg_max(l_partkey, (l_orderkey * 8 + l_linenumber) * 1000000 + l_partkey) AS last_part,
             |       arg_min(l_partkey, (l_orderkey * 8 + l_linenumber) * 1000000 + l_partkey) AS first_part
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ranking-function family beyond row_number: ntile buckets and the
    // rational-valued percent_rank/cume_dist (deterministic: o_orderkey
    // is unique within each partition)
    QueryDef("q_window_ntile",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
        orders(s, d)
          .select(col("o_orderkey"),
            ntile(4).over(w).cast("long").as("nt"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |       CAST(ntile(4) OVER w AS BIGINT) AS nt,
             |       percent_rank() OVER w AS pr,
             |       cume_dist() OVER w AS cd
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // Positional window access: each row sees the 3rd price in its
    // growing frame (explicit ROWS frame — the default RANGE frame
    // would make "3rd" depend on peer grouping), rows before the 3rd
    // get NULL. The frame is pinned identically on both engines because
    // nth_value's default frame differs across SQL dialects — the
    // classic silent-divergence trap this query pins shut.
    QueryDef("q_nth_value",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"),
            nth_value(col("o_totalprice"), 3).over(w).as("third_price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |       nth_value(o_totalprice, 3) OVER (
             |         PARTITION BY o_orderpriority ORDER BY o_orderkey
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_price
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Ordered-set aggregates with pinned tie-breaks: mode() in every
    // engine returns SOME most-frequent value on ties — useless for a
    // reproducible pipeline — so the mode is computed as count-then-rank
    // with an explicit (count DESC, value ASC) order; the group
    // concatenation sorts its distinct inputs before joining (Spark's
    // collect_set order is partition-dependent; array_sort makes it a
    // function of the SET). Both are two-phase aggs that map-side
    // combine; collect_set is bounded by the attribute's cardinality,
    // not the row count.
    QueryDef("q_mode_listagg",
      (s, d) => {
        val counts = lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_linenumber"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("c").desc, col("l_linenumber"))
        val m = counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"), col("l_linenumber").as("mode_ln"),
            col("c").as("n_modal"))
        val sa = lineitem(s, d).groupBy(col("l_returnflag"))
          .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",")
            .as("status_csv"))
        m.join(sa, Seq("l_returnflag")).orderBy(col("l_returnflag"))
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag, l_linenumber, COUNT(*) AS c
             |  FROM lineitem GROUP BY 1, 2),
             |m AS (
             |  SELECT l_returnflag, l_linenumber AS mode_ln, c AS n_modal,
             |         ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |           ORDER BY c DESC, l_linenumber) AS rn
             |  FROM c),
             |sa AS (
             |  SELECT l_returnflag,
             |         string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS status_csv
             |  FROM lineitem GROUP BY 1)
             |SELECT m.l_returnflag, mode_ln, n_modal, status_csv
             |FROM m JOIN sa ON m.l_returnflag = sa.l_returnflag
             |WHERE rn = 1 ORDER BY m.l_returnflag""".stripMargin)),

    // Full-outer join with unmatched rows on BOTH sides (urgent-only vs
    // F-status-only customers), USING-style coalesced key.
    QueryDef("q_outer_join",
      (s, d) => {
        val o = orders(s, d)
        val a = o.filter(col("o_orderpriority") === "1-URGENT")
          .groupBy(col("o_custkey").as("custkey")).agg(count(lit(1)).as("n_urgent"))
        val b = o.filter(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey").as("custkey")).agg(count(lit(1)).as("n_f"))
        a.join(b, Seq("custkey"), "full_outer")
          .select(col("custkey"),
            coalesce(col("n_urgent"), lit(0L)).as("n_urgent"),
            coalesce(col("n_f"), lit(0L)).as("n_f"))
          .orderBy(col("custkey"))
      },
      Some("""WITH a AS (SELECT o_custkey AS custkey, COUNT(*) AS n_urgent
             |           FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
             |b AS (SELECT o_custkey AS custkey, COUNT(*) AS n_f
             |      FROM orders WHERE o_orderstatus = 'F' GROUP BY 1)
             |SELECT custkey,
             |       CAST(COALESCE(n_urgent, 0) AS BIGINT) AS n_urgent,
             |       CAST(COALESCE(n_f, 0) AS BIGINT) AS n_f
             |FROM a FULL JOIN b USING (custkey)
             |ORDER BY custkey""".stripMargin)),

    // Deterministic salted join (skew mitigation when broadcast is
    // impossible): salt spreads each hot key over 8 sub-keys; results
    // must equal the plain join, which is exactly what the oracle runs.
    QueryDef("q_salted_join",
      (s, d) => {
        val big = orders(s, d)
          .select(col("o_custkey").as("custkey"), col("o_totalprice"))
        val small = customer(s, d)
          .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
        graft.operators.Skew.saltedJoin(big, small, "custkey", factor = 8)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("sum_price"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Moment statistics with an EXACT oracle: mean/variance derived from
    // decimal sums via the algebraic identity, so both engines do the
    // same double arithmetic on identical inputs (a streaming Welford
    // stddev would drift in the last ulp between engines).
    QueryDef("q_stats",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("s1"),
          sum((col("l_quantity").cast("decimal(18,2)") *
            col("l_quantity").cast("decimal(18,2)")).cast("decimal(28,4)")).as("s2"))
        .select(col("l_returnflag"), col("n"),
          (col("s1").cast("double") / col("n")).as("mean_qty"),
          ((col("s2").cast("double") - col("s1").cast("double") * col("s1").cast("double")
            / col("n")) / (col("n") - 1)).as("var_qty"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_qty,
             |       (CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE)
             |        - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |          * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
             |       / (COUNT(*) - 1) AS var_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Pearson correlation from exact decimal sums via the algebraic
    // identity (same both-engines-identical-doubles rationale as
    // q_stats; a streaming corr would drift in the last ulp).
    QueryDef("q_corr",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sx"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("sy"),
          sum((col("l_quantity").cast("decimal(18,2)") *
            col("l_quantity").cast("decimal(18,2)")).cast("decimal(28,4)")).as("sxx"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(28,4)")).as("syy"),
          sum((col("l_quantity").cast("decimal(18,2)") *
            col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(28,4)")).as("sxy"))
        .select(col("l_returnflag"),
          // round to 9 decimals: sums of price² exceed 2^53 unscaled, and
          // DuckDB's decimal→double conversion double-rounds there (one
          // ulp off Spark's correctly-rounded BigDecimal conversion)
          round((col("n") * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double"))
            / sqrt((col("n") * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double"))
              * (col("n") * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double"))), 9)
            .as("corr_qp"))
        .orderBy(col("l_returnflag")),
      Some("""WITH s AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             |         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
             |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS syy,
             |         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxy
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag,
             |       round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS corr_qp
             |FROM s ORDER BY l_returnflag""".stripMargin)),

    // Deterministic array aggregation: collect_set is unordered, so the
    // comparable form is the sorted distinct list
    QueryDef("q_array_agg",
      (s, d) => orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
             |       array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
             |       COUNT(*) AS n
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Scalar subquery: every order against the global average price
    // (broadcast single-row aggregate, no shuffle of the fact side).
    QueryDef("q_scalar_subquery",
      (s, d) => {
        val o = orders(s, d)
        val avgRow = o.agg(
          (sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / count(lit(1))).as("avg_price"))
        o.crossJoin(broadcast(avgRow))
          .filter(col("o_totalprice") > col("avg_price") * 1.5)
          .select(col("o_orderkey"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey FROM orders
             |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |                             / COUNT(*) FROM orders) * 1.5
             |ORDER BY o_orderkey""".stripMargin)),

    // value-range window frame (RANGE, not ROWS): events per user in the
    // trailing 60 s, on the numeric micros timeline
    QueryDef("q_window_range",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"))
          .rangeBetween(-60000000L, 0L)
        events(s, d)
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("n_60s", count(lit(1)).over(w))
          .select(col("event_id"), col("user_id"), col("n_60s"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id,
             |       COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             |         RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW) AS n_60s
             |FROM events ORDER BY event_id""".stripMargin)),

    // Typed Dataset[T] surface: case-class encoders, typed filter,
    // groupByKey + reduceGroups (a ReduceAggregator — partial map-side
    // combine, unlike mapGroups). The trade is explicit: typed lambdas
    // are opaque to Catalyst (no pushdown through them), so they belong
    // where compile-time row types matter, with columnar ops staying in
    // Column-land; the projection still prunes at the scan because it
    // precedes the typed boundary.
    QueryDef("q_typed_dataset",
      (s, d) => {
        import s.implicits._
        val ds = lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
          .as[LineitemSlice]
        ds.filter(r => r.l_quantity > 10.0)
          .groupByKey(_.l_returnflag)
          .mapValues(r => FlagStats(r.l_returnflag, 1L, r.l_quantity))
          .reduceGroups((a, b) =>
            FlagStats(a.l_returnflag, a.n_items + b.n_items, math.max(a.max_qty, b.max_qty)))
          .map(_._2)
          .toDF()
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_items, MAX(l_quantity) AS max_qty
             |FROM lineitem WHERE l_quantity > 10.0
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // FILTER-clause aggregates (conditional aggregation without CASE
    // gymnastics) — identical syntax both engines
    QueryDef("q_filter_agg",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("COUNT(*) FILTER (WHERE l_discount > 0.05)").as("n_disc"),
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_tax > 0.04) AS DOUBLE)")
            .as("q_taxed"),
          count(lit(1)).as("n_all"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS q_taxed,
             |       COUNT(*) AS n_all
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // correlated EXISTS, planned as a semi join (no per-row subquery)
    QueryDef("q_exists_subquery",
      (s, d) => {
        val heavy = lineitem(s, d).filter(col("l_quantity") > 49)
          .select(col("l_orderkey").as("o_orderkey"))
        orders(s, d).join(heavy, Seq("o_orderkey"), "left_semi")
          .select(col("o_orderkey"), col("o_orderpriority"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderpriority FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
             |ORDER BY o_orderkey""".stripMargin)),

    // first_value/last_value over an explicit full frame; the ordering
    // key (linenumber, quantity, price) is unique per order (duplicate
    // (orderkey, linenumber) rows exist in the synthetic data)
    QueryDef("q_window_first_last",
      (s, d) => {
        val w = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        lineitem(s, d)
          .withColumn("first_q", first(col("l_quantity")).over(w))
          .withColumn("last_q", last(col("l_quantity")).over(w))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("first_q"), col("last_q"))
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |       FIRST_VALUE(l_quantity) OVER w AS first_q,
             |       LAST_VALUE(l_quantity) OVER w AS last_q
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_orderkey
             |             ORDER BY l_linenumber, l_quantity, l_extendedprice
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)),

    // Share-of-total: a windowed sum over the WHOLE partition turns each
    // group row into its fraction of the total without a second scan or
    // a driver round trip — ppm integer arithmetic keeps it exact.
    QueryDef("q_share_of_total",
      (s, d) => {
        val w = Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        orders(s, d)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .withColumn("total", sum(col("n")).over(w))
          .select(col("o_orderpriority"), col("n"),
            expr("n * CAST(1000000 AS BIGINT) DIV total").as("share_ppm"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |       CAST(COUNT(*) * 1000000 // CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS BIGINT) AS share_ppm
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Bloom-filter semi-join reduction: the build side's KEY SIGNATURE
    // (a 128 KiB bitset here; a few MB at 100 TB) is aggregated with
    // Spark's mergeable Bloom filter aggregate — partial aggregation
    // ORs per-partition bitsets, so building it never shuffles rows —
    // then broadcast to prune the probe side BEFORE the join shuffle.
    // No false negatives, so pruned-join ≡ exact join (the oracle is the
    // plain join); false positives only ride along until the exact join
    // drops them. At 100 TB this is the difference between shuffling
    // the full probe table and shuffling the ~matching fraction of it.
    QueryDef("q_bloom_join",
      (s, d) => {
        val sel = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        // the bitset returns to the driver as ONE 128 KiB scalar and
        // re-ships as a literal — flowing it as a join column would
        // re-materialize (copy) it out of the joined row for every
        // probe row, which at 600k rows is gigabytes of memcpy for a
        // constant. Same scalar-fetch economics as a broadcast variable.
        // 145k expected keys in 2^20 bits: Spark derives 5 hashes.
        val bfBytes = sel.agg(vf.bloom_agg(col("o_orderkey"), 145000L, 1L << 20))
          .head().getAs[Array[Byte]](0)
        val pruned = lineitem(s, d)
          .filter(vf.bloom_might_contain(lit(bfBytes), col("l_orderkey")))
        pruned.join(sel.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum("l_quantity").as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Sessionization in batch: a new session opens after a >30-min gap
    // (lag + conditional flag + running sum — the standard two-window
    // construction). All three windows share ONE partitioning
    // (user_id), so the whole query is a single shuffle however large
    // the event log; epoch-microsecond integers keep durations exact.
    // (user_id, ts) pairs are duplicate-free in this corpus, so the
    // within-user ordering is total and the oracle replays it.
    QueryDef("q_sessionize",
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"), expr("unix_micros(ts)").as("t"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sess = ev
          .withColumn("prev", lag(col("t"), 1).over(w))
          .withColumn("new_s",
            when(col("prev").isNull || col("t") - col("prev") > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("sid", sum(col("new_s")).over(run))
          .groupBy(col("user_id"), col("sid"))
          .agg(count(lit(1)).as("n_ev"), (max(col("t")) - min(col("t"))).as("dur"))
        sess.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"), sum(col("n_ev")).as("n_events"),
            max(col("dur")).as("max_dur_us"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
             |flagged AS (
             |  SELECT user_id, t,
             |         CASE WHEN LAG(t) OVER w IS NULL
             |                   OR t - LAG(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
             |  FROM ev
             |  WINDOW w AS (PARTITION BY user_id ORDER BY t)),
             |sids AS (
             |  SELECT user_id, t,
             |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM flagged),
             |sess AS (
             |  SELECT user_id, sid, COUNT(*) AS n_ev, MAX(t) - MIN(t) AS dur
             |  FROM sids GROUP BY user_id, sid)
             |SELECT user_id, COUNT(*) AS n_sessions,
             |       CAST(SUM(n_ev) AS BIGINT) AS n_events,
             |       CAST(MAX(dur) AS BIGINT) AS max_dur_us
             |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // CDC latest-by-key compaction (SCD-1 upsert): a base snapshot and a
    // changelog union by name, then one row_number window keeps the
    // newest version per key — the merge never materializes a
    // key-matched join, so it scales as one shuffle on the key. The
    // date alone can tie per customer; o_orderkey breaks the tie
    // deterministically on both engines.
    QueryDef("q_upsert_latest",
      (s, d) => {
        val o = orders(s, d)
        val base = o.filter(col("o_orderkey") % 3 =!= 0)
        val changes = o.filter(col("o_orderkey") % 3 === 0)
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        base.unionByName(changes)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice
             |FROM (SELECT *, ROW_NUMBER() OVER (
             |        PARTITION BY o_custkey
             |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             |      FROM orders)
             |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // Time-weighted average building blocks (TWAP): each observation
    // holds until the next one (lead window), weight = hold duration.
    // One shuffle on user_id; the exact decimal numerator and integer
    // denominator are emitted separately — their double ratio would
    // round differently across engines, the components cannot.
    QueryDef("q_twap",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("t"))
        events(s, d)
          .select(col("user_id"), expr("unix_micros(ts)").as("t"), col("value"))
          .withColumn("t_next", lead(col("t"), 1).over(w))
          .filter(col("t_next").isNotNull)
          .withColumn("dur", col("t_next") - col("t"))
          // whole-second weights: a microsecond weight pushes the exact
          // decimal sum past 2^53 unscaled, where the decimal→double
          // emission rounds differently across engines (1-ulp)
          .withColumn("dur_s", expr("dur DIV 1000000"))
          .groupBy(col("user_id"))
          .agg(
            sum(col("value").cast("decimal(18,2)") * col("dur_s").cast("decimal(18,0)"))
              .cast("double").as("weighted_sum"),
            sum(col("dur")).as("total_dur_us"),
            count(lit(1)).as("n_holds"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, value FROM events),
             |holds AS (
             |  SELECT user_id, value,
             |         LEAD(t) OVER (PARTITION BY user_id ORDER BY t) - t AS dur
             |  FROM e)
             |SELECT user_id,
             |       CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(dur // 1000000 AS DECIMAL(18,0))) AS DOUBLE) AS weighted_sum,
             |       CAST(SUM(dur) AS BIGINT) AS total_dur_us,
             |       COUNT(*) AS n_holds
             |FROM holds WHERE dur IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Bucketed (co-located) join through the driver gate: both tables
    // bucketed 8-way on the join key at write time, so the join needs
    // no exchange at all — at 100 TB this is the difference between
    // re-shuffling two tables per join and paying the layout cost ONCE
    // at ingest (PlanSpec pins the zero-exchange property; this query
    // pins the results). External-table paths keep the warehouse in
    // temp space; the bucket layout is rebuilt once per JVM+sf.
    QueryDef("q_bucket_join",
      (s, d) => {
        srcStage.computeIfAbsent(s"bucket#$d", { _ =>
          val wd = java.nio.file.Files.createTempDirectory("graft_bucket_").toString
          s.sql("CREATE DATABASE IF NOT EXISTS graft_buckets")
          orders(s, d)
            .write.mode("overwrite").format("parquet")
            .option("path", s"$wd/orders_b")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .saveAsTable(s"graft_buckets.orders_b_${math.abs(d.hashCode)}")
          lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
            .write.mode("overwrite").format("parquet")
            .option("path", s"$wd/lineitem_b")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable(s"graft_buckets.lineitem_b_${math.abs(d.hashCode)}")
          wd
        })
        val h = math.abs(d.hashCode)
        s.table(s"graft_buckets.lineitem_b_$h")
          .join(s.table(s"graft_buckets.orders_b_$h"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum("l_quantity").as("sum_qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Array higher-order/function surface parity sweep: set algebra,
    // sort, slice, element math over per-row generated arrays —
    // map-only, and every function pinned against DuckDB's list_*
    // equivalents through the hash gate.
    QueryDef("q_array_funcs",
      (s, d) => orders(s, d)
        .filter(col("o_orderkey") % 10 === 0) // bound the compare payload
        .withColumn("a", expr("sequence(o_orderkey % 5, o_orderkey % 5 + 4)"))
        .withColumn("b", expr("sequence(o_orderkey % 3, o_orderkey % 3 + 4)"))
        .select(col("o_orderkey"),
          expr("array_join(array_intersect(a, b), ',')").as("inter"),
          expr("array_join(array_except(a, b), ',')").as("minus"),
          expr("array_join(array_sort(array_distinct(concat(a, b))), ',')").as("uni"),
          expr("array_join(slice(reverse(a), 2, 3), ',')").as("rev_slice"),
          expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("dot"),
          expr("array_max(a) - array_min(b)").as("spread"),
          size(expr("filter(a, x -> x % 2 = 0)")).cast("long").as("n_even"))
        .orderBy(col("o_orderkey")),
      Some("""WITH t AS (
             |  SELECT o_orderkey,
             |         range(o_orderkey % 5, o_orderkey % 5 + 5) AS a,
             |         range(o_orderkey % 3, o_orderkey % 3 + 5) AS b
             |  FROM orders WHERE o_orderkey % 10 = 0)
             |SELECT o_orderkey,
             |       array_to_string(list_filter(a, x -> list_contains(b, x)), ',') AS inter,
             |       COALESCE(array_to_string(list_filter(a, x -> NOT list_contains(b, x)), ','), '') AS minus,
             |       array_to_string(list_sort(list_distinct(a || b)), ',') AS uni,
             |       array_to_string(list_reverse(a)[2:4], ',') AS rev_slice,
             |       CAST(list_sum(list_transform(list_zip(a, b), z -> z[1] * z[2])) AS BIGINT) AS dot,
             |       CAST(list_max(a) - list_min(b) AS BIGINT) AS spread,
             |       CAST(len(list_filter(a, x -> x % 2 = 0)) AS BIGINT) AS n_even
             |FROM t ORDER BY o_orderkey""".stripMargin)),

    // NULL-semantics parity sweep: three-valued logic, null-safe
    // equality, NULL grouping/ordering and coalescing — the corners
    // engines disagree on most; both sides pinned to identical output.
    QueryDef("q_null_semantics",
      (s, d) => {
        val l = lineitem(s, d)
          .withColumn("nv", when(col("l_linenumber") % 3 === 0, col("l_quantity")))
        l.groupBy(col("l_returnflag"))
          .agg(
            count(col("nv")).as("n_nonnull"),
            count(when(col("nv").isNull, 1)).as("n_null"),
            dsum("nv").as("sum_nonnull"),
            count(when(col("nv") <=> lit(null), 1)).as("n_nullsafe_eq_null"),
            sum(coalesce(col("nv"), lit(0d)).cast("decimal(18,2)")).cast("double")
              .as("sum_coalesced"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH l AS (
             |  SELECT l_returnflag,
             |         CASE WHEN l_linenumber % 3 = 0 THEN l_quantity END AS nv
             |  FROM lineitem)
             |SELECT l_returnflag,
             |       COUNT(nv) AS n_nonnull,
             |       COUNT(CASE WHEN nv IS NULL THEN 1 END) AS n_null,
             |       CAST(SUM(CAST(nv AS DECIMAL(18,2))) AS DOUBLE) AS sum_nonnull,
             |       COUNT(CASE WHEN nv IS NOT DISTINCT FROM NULL THEN 1 END) AS n_nullsafe_eq_null,
             |       CAST(SUM(CAST(COALESCE(nv, 0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_coalesced
             |FROM l GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Custom whole-operator extension through the driver gate: grouped
    // top-k via graft.plans.GroupedTopK (bounded per-group heaps BEFORE
    // the exchange — the shuffle carries the answer, not the table; see
    // the plan node's doc). The order list is a total order within each
    // group (the 6-column key is unique in this corpus), so the row SET
    // is deterministic and the window-formulation oracle reproduces it.
    QueryDef("q_grouped_topk",
      (s, d) => {
        val l = lineitem(s, d)
        graft.operators.TopK.groupedTopK(l, Seq("l_orderkey"),
          Seq(l("l_quantity").desc, l("l_extendedprice").desc,
            l("l_suppkey"), l("l_partkey"), l("l_linenumber")), 2)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"))
          .orderBy(col("l_orderkey"), col("l_quantity").desc,
            col("l_extendedprice").desc, col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM (SELECT *, ROW_NUMBER() OVER (
             |        PARTITION BY l_orderkey
             |        ORDER BY l_quantity DESC, l_extendedprice DESC,
             |                 l_suppkey, l_partkey, l_linenumber) AS rn
             |      FROM lineitem)
             |WHERE rn <= 2
             |ORDER BY l_orderkey, l_quantity DESC, l_extendedprice DESC, l_linenumber""".stripMargin)),

    // Exact distributed quantiles WITHOUT a global sort (two-pass
    // histogram partition-select, operators/Quantiles.scala): pass 1 is
    // two mergeable aggregations (bounds, fixed-width histogram — the
    // driver sees ≤1024 numbers at ANY corpus size); pass 2 sorts only
    // the bucket each rank lands in (~n/1024 rows). The exact-sort
    // alternative shuffles the whole table; Spark's percentile_approx
    // gives up exactness. P50/P90/P99/P99.9 of the rounded price, exact
    // against DuckDB quantile_disc.
    QueryDef("q_quantile_2pass",
      (s, d) => {
        val li = lineitem(s, d)
          .select(round(col("l_extendedprice")).cast("long").as("value"))
        graft.operators.Quantiles.exactQuantiles(li, "value",
          Seq(0.5, 0.9, 0.99, 0.999))
          .orderBy(col("q"))
      },
      Some("""WITH v AS (
             |  SELECT CAST(round(l_extendedprice) AS BIGINT) AS value FROM lineitem)
             |SELECT CAST(0.5 AS DOUBLE) AS q, quantile_disc(value, 0.5) AS value FROM v
             |UNION ALL SELECT 0.9, quantile_disc(value, 0.9) FROM v
             |UNION ALL SELECT 0.99, quantile_disc(value, 0.99) FROM v
             |UNION ALL SELECT 0.999, quantile_disc(value, 0.999) FROM v
             |ORDER BY q""".stripMargin)),

    // GroupedTopK composed with the fused variant pipeline: the ordering
    // key is a variant extraction (`$.k` of the props JSON), so the
    // optimizer must apply BOTH custom pieces in one plan — the fusion
    // rule rewrites variant_get(variant_from_json(props)) to the
    // single-pass JsonPathExtract inside the projection, and the
    // strategy places GroupedTopKExec's partial per-partition heaps
    // above it (composition pinned in PlanSpec). The per-group heap
    // carries k=2 rows per group per partition into one shuffle — at
    // 100 TB the alternative window-rank sorts every row of every
    // partition.
    QueryDef("v_grouped_topk",
      (s, d) => {
        import graft.functions.{VariantFunctions => vf}
        val ev = events(s, d).withColumn("k",
          vf.variant_get(vf.variant_from_json(col("props")), "$.k", LongType))
        graft.operators.TopK.groupedTopK(ev, Seq("event_type"),
          Seq(ev("k").desc, ev("event_id")), 2)
          .select(col("event_type"), col("event_id"), col("k"))
          .orderBy(col("event_type"), col("k").desc, col("event_id"))
      },
      Some("""SELECT event_type, event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM (SELECT *, ROW_NUMBER() OVER (
             |        PARTITION BY event_type
             |        ORDER BY CAST(json_extract_string(props, '$.k') AS BIGINT) DESC, event_id) AS rn
             |      FROM events)
             |WHERE rn <= 2
             |ORDER BY event_type, k DESC, event_id""".stripMargin)),

    // Z-order (Morton) clustering key: interleave the bits of two join/
    // filter dimensions so rows close in BOTH dimensions get close
    // z-values — the data-layout trick behind multi-dimension data
    // skipping (Delta/Iceberg OPTIMIZE ZORDER). Here: compute the
    // 16-bit z-value from two 8-bit coordinates with the classic
    // spread-bits arithmetic (pure codegen'd integer ops, map-only),
    // then show the locality it buys: every 1024-wide z-range is a
    // 32x32 tile in (custkey%256, orderkey%256) space, so per-bucket
    // min/max of BOTH coordinates stay tile-bounded — exactly the
    // min/max file statistics a 100 TB scan prunes on after writing
    // with repartitionByRange(zval) (layout pinned in PlanSpec).
    QueryDef("q_zorder",
      (s, d) => {
        orders(s, d)
          .withColumn("za", col("o_custkey") % 256)
          .withColumn("zb", col("o_orderkey") % 256)
          .withColumn("sa", Zorder.spread8(col("za")))
          .withColumn("sb", Zorder.spread8(col("zb")))
          .withColumn("zval", col("sa").bitwiseOR(shiftleft(col("sb"), 1)))
          .groupBy(expr("zval div 1024").as("zbucket"))
          .agg(count(lit(1)).as("n"),
            min(col("za")).as("a_min"), max(col("za")).as("a_max"),
            min(col("zb")).as("b_min"), max(col("zb")).as("b_max"))
          .orderBy(col("zbucket"))
      },
      Some("""WITH z0 AS (
             |  SELECT o_custkey % 256 AS za, o_orderkey % 256 AS zb FROM orders),
             |z1 AS (SELECT za, zb, (za | (za << 4)) & 3855 AS a1,
             |                      (zb | (zb << 4)) & 3855 AS b1 FROM z0),
             |z2 AS (SELECT za, zb, (a1 | (a1 << 2)) & 13107 AS a2,
             |                      (b1 | (b1 << 2)) & 13107 AS b2 FROM z1),
             |z3 AS (SELECT za, zb, ((a2 | (a2 << 1)) & 21845) AS sa,
             |                      ((b2 | (b2 << 1)) & 21845) AS sb FROM z2),
             |z AS (SELECT za, zb, sa | (sb << 1) AS zval FROM z3)
             |SELECT zval // 1024 AS zbucket, COUNT(*) AS n,
             |       MIN(za) AS a_min, MAX(za) AS a_max,
             |       MIN(zb) AS b_min, MAX(zb) AS b_max
             |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q9-shaped profit rollup (adapted to the available tables —
    // no partsupp in the fixture): a fact table against THREE broadcast
    // dimensions plus one fact-fact shuffle join, then a two-level
    // rollup key. The join-order story at 100 TB: part/supplier/nation
    // prune and annotate via broadcast (zero fact shuffles), and the
    // single shuffle is lineitem⋈orders on the join key both sides
    // already bucket naturally. Exact decimal amounts.
    QueryDef("q9_profit",
      (s, d) => {
        val p = part(s, d).filter(col("p_size") >= 25).select(col("p_partkey"))
        val sup = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
        val n = nation(s, d).select(col("n_nationkey"), col("n_name"))
        val o = orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).as("o_year"))
        lineitem(s, d)
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name").as("nation"), col("o_year"))
          .agg(sum(expr(
            "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"))
            .cast("double").as("sum_profit"),
            count(lit(1)).as("n_items"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some("""SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
             |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_profit,
             |       COUNT(*) AS n_items
             |FROM lineitem l
             |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size >= 25
             |JOIN supplier s ON l.l_suppkey = s.s_suppkey
             |JOIN nation n ON s.s_nationkey = n.n_nationkey
             |JOIN orders o ON l.l_orderkey = o.o_orderkey
             |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin)),

    // Map-type function sweep: per order, build linenumber->quantity and
    // linenumber->suppkey maps (map_from_entries over a SORTED entry
    // list — map key order is unspecified, so every digest below is
    // key-order-independent), then drive map_values/map_filter/
    // map_zip_with/element_at and emit SCALAR digests. The oracle
    // computes the same digests map-free from the base table — an
    // independent check of the map semantics, with no map column in the
    // compared output (map key order would make row hashes unstable).
    QueryDef("q_map_funcs",
      (s, d) => lineitem(s, d)
        // linenumbers repeat per order in this corpus: pre-aggregate to
        // make the map key unique by construction (maps reject dup keys)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(sum(col("l_quantity").cast("long")).as("q"),
          min(col("l_suppkey")).as("sk"))
        .groupBy(col("l_orderkey"))
        // two flat collect_lists measure FASTER than one combined
        // struct-of-struct map unpacked via transform_values (2.07 vs
        // 1.76 s at sf0.1) — the nested-struct copy in the collect
        // outweighs the saved aggregation pass
        .agg(
          map_from_entries(sort_array(collect_list(struct(col("l_linenumber"), col("q")))))
            .as("qm"),
          map_from_entries(sort_array(collect_list(struct(col("l_linenumber"), col("sk")))))
            .as("sm"))
        .select(col("l_orderkey"),
          size(col("qm")).as("n_items"),
          expr("aggregate(map_values(qm), 0L, (a, x) -> a + x)").as("qty_sum"),
          size(expr("map_filter(qm, (k, v) -> v > 25)")).as("n_big"),
          expr("aggregate(map_values(map_zip_with(qm, sm, (k, a, b) -> a * b)), 0L, (a, x) -> a + x)")
            .as("zip_sum"),
          // try_element_at, not element_at: under ANSI mode a group with
          // no linenumber 1 would THROW from element_at, while the oracle's
          // MAX(CASE WHEN ...) yields NULL — try_ matches the oracle.
          expr("try_element_at(qm, 1)").as("first_qty"))
        .orderBy(col("l_orderkey")),
      Some("""WITH g AS (
             |  SELECT l_orderkey, l_linenumber,
             |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
             |         MIN(l_suppkey) AS sk
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT l_orderkey,
             |       CAST(COUNT(*) AS INTEGER) AS n_items,
             |       CAST(SUM(q) AS BIGINT) AS qty_sum,
             |       CAST(SUM(CASE WHEN q > 25 THEN 1 ELSE 0 END) AS INTEGER) AS n_big,
             |       CAST(SUM(q * sk) AS BIGINT) AS zip_sum,
             |       MAX(CASE WHEN l_linenumber = 1 THEN q END) AS first_qty
             |FROM g GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),

    // try_* error-safe function sweep: Spark 4 runs ANSI mode, where
    // division by zero, overflow, and bad casts THROW — the try_ forms
    // return NULL instead, which is what a 100 TB pipeline over dirty
    // data needs (one malformed row must not kill a stage). The error
    // branches are RARE by design (~2% of rows, quantity-boundary
    // triggered): each caught error is a thrown JVM exception, so a
    // mostly-failing column costs ~13 microseconds PER ROW (a 90%-error
    // first draft of this query ran 18 s at sf0.1; errors-are-
    // exceptional runs in ~0.5 s). Digests count the NULLs each failure
    // mode produces and sum the survivors exactly (divisors {1,2} keep
    // quotients at half-integers, exact in DECIMAL).
    QueryDef("q_try_funcs",
      (s, d) => lineitem(s, d)
        .select(col("l_suppkey"), col("l_partkey"),
          col("l_quantity").cast("long").as("q"))
        .select(col("l_suppkey"), col("l_partkey"), col("q"),
          when(col("q") === 49, 0L).otherwise(col("q") % 2 + 1).as("m"),
          when(col("q") === 50, lit("x"))
            .otherwise(col("l_partkey").cast("string")).as("cs"))
        .select(
          expr("try_divide(l_suppkey, m)").as("td"),
          expr("try_cast(cs AS BIGINT)").as("tc"),
          expr("try_add(9223372036854775758L, q)").as("ta"),
          expr("try_multiply(q, 9223372036854775807L div 49)").as("tm"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("td").isNull, 1L).otherwise(0L)).as("n_div_null"),
          sum(col("td").cast("decimal(18,6)")).cast("double").as("div_sum"),
          sum(when(col("tc").isNull, 1L).otherwise(0L)).as("n_cast_null"),
          sum(col("tc")).as("cast_sum"),
          sum(when(col("ta").isNull, 1L).otherwise(0L)).as("n_add_null"),
          sum(when(col("tm").isNull, 1L).otherwise(0L)).as("n_mul_null")),
      Some("""WITH t AS (
             |  SELECT l_suppkey, l_partkey, CAST(l_quantity AS BIGINT) AS q,
             |         CASE WHEN CAST(l_quantity AS BIGINT) = 49 THEN 0
             |              ELSE CAST(l_quantity AS BIGINT) % 2 + 1 END AS m,
             |         CASE WHEN CAST(l_quantity AS BIGINT) = 50 THEN 'x'
             |              ELSE CAST(l_partkey AS VARCHAR) END AS cs
             |  FROM lineitem),
             |v AS (
             |  SELECT CASE WHEN m = 0 THEN NULL
             |              ELSE CAST(l_suppkey AS DOUBLE) / m END AS td,
             |         TRY_CAST(cs AS BIGINT) AS tc,
             |         CASE WHEN q > 49 THEN NULL
             |              ELSE 9223372036854775758 + q END AS ta,
             |         CASE WHEN q > 49 THEN NULL
             |              ELSE q * (9223372036854775807 // 49) END AS tm
             |  FROM t)
             |SELECT COUNT(*) AS n_rows,
             |       CAST(SUM(CASE WHEN td IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
             |       CAST(SUM(CAST(td AS DECIMAL(18,6))) AS DOUBLE) AS div_sum,
             |       CAST(SUM(CASE WHEN tc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cast_null,
             |       CAST(SUM(tc) AS BIGINT) AS cast_sum,
             |       CAST(SUM(CASE WHEN ta IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_add_null,
             |       CAST(SUM(CASE WHEN tm IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_mul_null
             |FROM v""".stripMargin)),

    // Datetime-function parity sweep (the date/time analog of
    // q_scalar_funcs / q_array_funcs): truncation, month arithmetic
    // with end-of-month clamping, day diffs, last-day, day-of-week
    // (dialects disagree on week start — normalized explicitly),
    // quarter, ISO week, epoch seconds. Per-row map over the whole
    // orders table so the oracle checks every row, not a sample.
    QueryDef("q_datetime_funcs",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mo"),
          add_months(col("o_orderdate"), 2).as("plus2mo"),
          datediff(lit("1995-06-01").cast("date"), col("o_orderdate").cast("date")).as("dd"),
          last_day(col("o_orderdate")).as("ld"),
          dayofweek(col("o_orderdate")).as("dow"),
          quarter(col("o_orderdate")).as("q"),
          weekofyear(col("o_orderdate")).as("wk"),
          unix_timestamp(col("o_orderdate")).as("es"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
             |       date_trunc('month', o_orderdate) AS mo,
             |       CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2mo,
             |       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1995-06-01') AS INTEGER) AS dd,
             |       last_day(o_orderdate) AS ld,
             |       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
             |       CAST(quarter(o_orderdate) AS INTEGER) AS q,
             |       CAST(weekofyear(o_orderdate) AS INTEGER) AS wk,
             |       CAST(epoch(o_orderdate) AS BIGINT) AS es
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // Top-k as an AGGREGATE (topk_pairs, custom TypedImperativeAggregate):
    // O(k) mergeable state per group vs the window formulation's full
    // per-group sort — k rows per partition per group cross the shuffle,
    // nothing spills, and map-side combine applies. The same bounded
    // buffer is what licenses the operator inside streaming windows
    // (s_window_topk). Ties break (value DESC, event_id ASC) so the
    // result is partition-invariant and exactly oracle-checkable.
    QueryDef("q_topk_agg",
      (s, d) => events(s, d)
        .groupBy(col("event_type"))
        .agg(vf.topk_pairs(col("value"), col("event_id"), 3).as("top"))
        .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
          col("p.id").as("event_id"), col("p.score").as("value"))
        .orderBy(col("event_type"), col("rank")),
      Some("""SELECT event_type, CAST(rn AS BIGINT) AS rank, event_id, value
             |FROM (SELECT event_type, event_id, value, ROW_NUMBER() OVER (
             |        PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
             |      FROM events)
             |WHERE rn <= 3 ORDER BY event_type, rank""".stripMargin)),

    // Schema-evolution read: two parquet batches written with DIFFERENT
    // column sets (an evolving log — old files lack the new column),
    // read as one table with mergeSchema + a partition column from the
    // directory layout. Missing columns surface as NULLs; the aggregate
    // proves both content (sums) and the null pattern. At 100 TB,
    // schema merge happens on file FOOTERS, not data — the scan cost is
    // unchanged, which is why evolving a column beats rewriting the
    // corpus.
    QueryDef("q_schema_merge",
      (s, d) => {
        val dir = srcStage.computeIfAbsent(s"merge#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_merge_").toString
          orders(s, d).select(col("o_orderkey"), col("o_custkey"))
            .write.mode("overwrite").parquet(s"$sd/b=1")
          orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
            .write.mode("overwrite").parquet(s"$sd/b=2")
          sd
        })
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy(col("b"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            count(col("o_custkey")).as("n_cust"),
            count(col("o_totalprice")).as("n_price"),
            dsum("o_totalprice").as("price_sum"))
          .orderBy(col("b"))
      },
      Some("""SELECT 1 AS b, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             |       COUNT(*) AS n_cust, CAST(0 AS BIGINT) AS n_price,
             |       CAST(NULL AS DOUBLE) AS price_sum
             |FROM orders
             |UNION ALL
             |SELECT 2 AS b, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             |       CAST(0 AS BIGINT) AS n_cust, COUNT(*) AS n_price,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
             |FROM orders
             |ORDER BY b""".stripMargin)),

    // Two-phase exact COUNT(DISTINCT): expand to (key, value) groups
    // first, then count groups per key — the manual rewrite that
    // survives key skew at scale (the single hottest key's distinct set
    // spreads over ALL partitions in phase 1 instead of landing on one
    // reducer; phase 2 merges small per-key counts). Spark's builtin
    // count_distinct plans the same expansion; pinning the explicit
    // form keeps the pattern available for multi-agg cases the planner
    // won't rewrite.
    QueryDef("q_twophase_distinct",
      (s, d) => lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_partkey")).agg(count(lit(1)).as("_c"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_parts"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // CSV source: stage customer to CSV once per sf dir, read it back
    // through Spark's CSV reader with an EXPLICIT schema (schema
    // inference at 100 TB means scanning the data twice), and aggregate.
    // Doubles survive the text round trip exactly (shortest-repr
    // formatting), so the decimal-sum oracle still hash-matches the
    // parquet originals.
    QueryDef("q_csv_source",
      (s, d) => {
        val dir = srcStage.computeIfAbsent(s"csv#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_csv_").toString
          customer(s, d).coalesce(1).write.mode("overwrite")
            .option("header", "true").csv(sd)
          sd
        })
        s.read.schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
          .option("header", "true").csv(dir)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("key_sum"),
            dsum("c_acctbal").as("bal_sum"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
             |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Avro source (r7 — closes the one recorded source gap): the
    // provided classpath ships avro-core but NOT the spark-avro
    // connector, so the container files are decoded with avro-core's
    // DataFileReader inside a typed mapPartitions over Spark's
    // binaryFile scan — the same pack-small-files-into-tasks shape as
    // mm_binary_source (maxPartitionBytes governs task packing; one
    // streaming decode per container file). Staged as FOUR container
    // files so the scan genuinely distributes. At 100 TB with files
    // larger than a task, the upgrade path is an avro-mapred input
    // format split on the container sync markers; per-file streaming
    // decode is the right shape for the many-small-files ingest this
    // models. Cents are integer-exact, so the oracle hash-matches the
    // parquet originals.
    QueryDef("q_avro_source",
      (s, d) => {
        import org.apache.avro.Schema
        import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
        import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
        val schemaJson =
          """{"type":"record","name":"Cust","fields":[
            |{"name":"ck","type":"long"},{"name":"mkt","type":"string"},
            |{"name":"bal_cents","type":"long"}]}""".stripMargin
        val dir = srcStage.computeIfAbsent(s"avro#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_avro_").toString
          val rows = customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
              expr("CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)").as("cents"))
            .collect() // staging only (bounded dim table), not the measured scan
          val schema = new Schema.Parser().parse(schemaJson)
          rows.grouped(math.max(1, (rows.length + 3) / 4)).zipWithIndex.foreach {
            case (chunk, i) =>
              val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
              w.create(schema, new java.io.File(s"$sd/cust_$i.avro"))
              chunk.foreach { r =>
                val rec = new GenericData.Record(schema)
                rec.put("ck", r.getLong(0))
                rec.put("mkt", r.getString(1))
                rec.put("bal_cents", r.getLong(2))
                w.append(rec)
              }
              w.close()
          }
          sd
        })
        import s.implicits._
        s.read.format("binaryFile").load(dir)
          .select(col("content")).as[Array[Byte]]
          .mapPartitions { files =>
            files.flatMap { bytes =>
              // Schema.Parser is not serializable: parse per partition-file
              val schema = new Schema.Parser().parse(
                """{"type":"record","name":"Cust","fields":[
                  |{"name":"ck","type":"long"},{"name":"mkt","type":"string"},
                  |{"name":"bal_cents","type":"long"}]}""".stripMargin)
              val reader = DataFileReader.openReader(
                new SeekableByteArrayInput(bytes),
                new GenericDatumReader[GenericRecord](schema))
              val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
              while (reader.hasNext) {
                val rec = reader.next()
                out += ((rec.get("ck").asInstanceOf[Long],
                  rec.get("mkt").toString,
                  rec.get("bal_cents").asInstanceOf[Long]))
              }
              reader.close()
              out
            }
          }
          .toDF("ck", "mkt", "bal_cents")
          .groupBy(col("mkt").as("c_mktsegment"))
          .agg(count(lit(1)).as("n"), sum(col("ck")).as("key_sum"),
            sum(col("bal_cents")).as("cents_sum"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
             |       CAST(SUM(CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)) AS BIGINT) AS cents_sum
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Avro SINK (round 8 — the write direction q_avro_source lacked):
    // a DISTRIBUTED container write, one file per task exactly like a
    // real DataSource sink commits one file per partition — each task
    // serializes its partition through DataFileWriter into container
    // bytes and writes task-addressed files (no driver collect on the
    // write path; at cluster scale the same mapPartitions writes to
    // DFS). The query then reads the directory back through the
    // q_avro_source decode path and aggregates — a full write→read
    // container roundtrip, hash-exact against the parquet originals.
    QueryDef("q_avro_sink",
      (s, d) => {
        import org.apache.avro.Schema
        import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
        import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
        import s.implicits._
        val schemaJson =
          """{"type":"record","name":"Ord","fields":[
            |{"name":"ok","type":"long"},{"name":"status","type":"string"},
            |{"name":"price_cents","type":"long"}]}""".stripMargin
        val dir = srcStage.computeIfAbsent(s"avrosink#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_avrosink_").toString
          orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
              expr("CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)").as("cents"))
            .repartition(8) // 8 writer tasks -> 8 container files
            .as[(Long, String, Long)]
            .mapPartitions { rows =>
              val schema = new Schema.Parser().parse(schemaJson)
              val bos = new java.io.ByteArrayOutputStream()
              val w = new DataFileWriter[GenericRecord](
                new GenericDatumWriter[GenericRecord](schema))
              w.create(schema, bos)
              var n = 0L
              rows.foreach { case (ok, st, cents) =>
                val rec = new GenericData.Record(schema)
                rec.put("ok", ok); rec.put("status", st); rec.put("price_cents", cents)
                w.append(rec); n += 1
              }
              w.close()
              val pid = org.apache.spark.TaskContext.getPartitionId()
              java.nio.file.Files.write(
                java.nio.file.Paths.get(s"$sd/part_$pid.avro"), bos.toByteArray)
              Iterator.single(n)
            }.reduce(_ + _) // action drives the distributed write
          sd
        })
        s.read.format("binaryFile").load(dir)
          .select(col("content")).as[Array[Byte]]
          .mapPartitions { files =>
            files.flatMap { bytes =>
              val schema = new Schema.Parser().parse(
                """{"type":"record","name":"Ord","fields":[
                  |{"name":"ok","type":"long"},{"name":"status","type":"string"},
                  |{"name":"price_cents","type":"long"}]}""".stripMargin)
              val reader = DataFileReader.openReader(
                new SeekableByteArrayInput(bytes),
                new GenericDatumReader[GenericRecord](schema))
              val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
              while (reader.hasNext) {
                val rec = reader.next()
                out += ((rec.get("ok").asInstanceOf[Long],
                  rec.get("status").toString,
                  rec.get("price_cents").asInstanceOf[Long]))
              }
              reader.close()
              out
            }
          }
          .toDF("ok", "status", "price_cents")
          .groupBy(col("status").as("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("ok")).as("key_sum"),
            sum(col("price_cents")).as("cents_sum"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
             |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             |       CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS cents_sum
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Corrupt-record-tolerant ingestion: at 100 TB some input lines ARE
    // malformed, and one bad line must neither kill the job (FAILFAST)
    // nor silently vanish (DROPMALFORMED) — PERMISSIVE parses what it
    // can and routes the raw line to _corrupt_record for a quarantine
    // count/audit. Staged deterministically from customer (every
    // custkey % 37 == 0 row gets a non-numeric balance field), so the
    // DuckDB oracle reproduces the exact good/bad split from the
    // parquet original. Good-row aggregates exclude corrupt rows
    // explicitly: PERMISSIVE keeps partial results for fields that DID
    // parse, so filtering on _corrupt_record is the contract.
    QueryDef("q_csv_corrupt",
      (s, d) => {
        val dir = srcStage.computeIfAbsent(s"csvbad#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_csvbad_").toString
          customer(s, d).select(concat_ws(",",
              col("c_custkey"), col("c_nationkey"),
              when(col("c_custkey") % 37 === 0, concat(lit("X"), col("c_custkey")))
                .otherwise(col("c_acctbal").cast("string"))).as("line"))
            .coalesce(1).write.mode("overwrite").text(sd)
          sd
        })
        s.read
          .schema("c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE, _corrupt_record STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(dir)
          .agg(
            count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
            count(col("_corrupt_record")).as("n_bad"),
            sum(when(col("_corrupt_record").isNull, col("c_custkey"))).as("key_sum"),
            dsum2(when(col("_corrupt_record").isNull, col("c_acctbal"))).as("bal_sum"))
      },
      Some("""SELECT COUNT(CASE WHEN c_custkey % 37 <> 0 THEN 1 END) AS n_good,
             |       COUNT(CASE WHEN c_custkey % 37 = 0 THEN 1 END) AS n_bad,
             |       CAST(SUM(CASE WHEN c_custkey % 37 <> 0 THEN c_custkey END) AS BIGINT) AS key_sum,
             |       CAST(SUM(CASE WHEN c_custkey % 37 <> 0
             |                     THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS bal_sum
             |FROM customer""".stripMargin)),

    // Partitioned sink + partition-pruned scan: events written
    // partitionBy(event_type) — the layout that turns a predicate on the
    // partition column into DIRECTORY pruning (PartitionFilters in the
    // scan, pinned by PlanSpec), so a one-type query over a 100 TB log
    // reads exactly one branch of the tree and zero data files from the
    // rest.
    QueryDef("q_part_prune",
      (s, d) => {
        val dir = srcStage.computeIfAbsent(s"part#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_part_").toString
          events(s, d).withColumn("t_us", expr("unix_micros(ts)")).drop("ts")
            .write.mode("overwrite").partitionBy("event_type").parquet(sd)
          sd
        })
        s.read.parquet(dir)
          .filter(col("event_type") === "purchase")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum("value").as("value_sum"),
            min(col("t_us")).as("first_us"), max(col("t_us")).as("last_us"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
             |       CAST(MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS first_us,
             |       CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_us
             |FROM events WHERE event_type = 'purchase'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // JSON-lines source: events staged as JSONL (the props JSON string
    // nests inside the line, escaping round-trips), read back with an
    // explicit schema, then fed through the variant kernel — the
    // ingest-raw-JSON-logs shape end to end.
    QueryDef("q_json_source",
      (s, d) => {
        val dir = srcStage.computeIfAbsent(s"json#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_json_").toString
          events(s, d).select(col("event_id"), col("event_type"), col("props"))
            .coalesce(1).write.mode("overwrite").json(sd)
          sd
        })
        s.read.schema("event_id BIGINT, event_type STRING, props STRING").json(dir)
          .withColumn("v", vf.variant_from_json(col("props")))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(vf.variant_get(col("v"), "$.k", LongType)).as("k_total"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Sequential funnel (view → click → purchase, strictly ordered per
    // user): each stage's threshold is the previous stage's first
    // qualifying time. Three narrow user-level aggregates chained by
    // joins — events shuffle once per stage on user_id, stage tables are
    // user-count-sized. (user_id, ts) pairs are duplicate-free in this
    // corpus, so strict > comparisons are unambiguous.
    QueryDef("q_funnel",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_v"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, Seq("user_id")).filter(col("ts") > col("t_v"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_c"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, Seq("user_id")).filter(col("ts") > col("t_c"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_p"))
        v.agg(count(lit(1)).as("n_view"))
          .crossJoin(broadcast(c.agg(count(lit(1)).as("n_click"))))
          .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase"))))
      },
      Some("""WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
             |v AS (SELECT user_id, MIN(ts) AS t_v FROM e WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, MIN(e.ts) AS t_c FROM e JOIN v USING (user_id)
             |      WHERE e.event_type = 'click' AND e.ts > v.t_v GROUP BY 1),
             |p AS (SELECT e.user_id, MIN(e.ts) AS t_p FROM e JOIN c USING (user_id)
             |      WHERE e.event_type = 'purchase' AND e.ts > c.t_c GROUP BY 1)
             |SELECT (SELECT COUNT(*) FROM v) AS n_view,
             |       (SELECT COUNT(*) FROM c) AS n_click,
             |       (SELECT COUNT(*) FROM p) AS n_purchase""".stripMargin)),

    // Day-over-day retention: distinct (user, day) pairs self-joined on
    // the next day — the cohort-retention shape, on a user×day-sized
    // frame (never the raw event table twice).
    QueryDef("q_retention",
      (s, d) => {
        val days = events(s, d)
          .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"))
          .distinct()
        val next = days.select(col("user_id"), (col("day") - 1).as("day"),
          lit(1).as("ret"))
        days.join(next, Seq("user_id", "day"), "left")
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n_active"), count(col("ret")).as("n_retained"))
          .orderBy(col("day"))
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id,
             |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events)
             |SELECT CAST(a.day AS BIGINT) AS day, COUNT(*) AS n_active,
             |       COUNT(b.user_id) AS n_retained
             |FROM days a LEFT JOIN days b
             |  ON a.user_id = b.user_id AND b.day = a.day + 1
             |GROUP BY a.day ORDER BY day""".stripMargin)),

    // Time-series gap filling with forward fill: per-user 6-hour bucket
    // grid (sequence + explode — generated, not stored), left-join
    // observed counts, carry the last observation forward via
    // last(..., ignoreNulls) over a running frame, then report per-user
    // fill statistics (the grid itself would be millions of rows at
    // sf0.1 — the operator runs at full size, the gate compares the
    // per-user summary).
    QueryDef("q_gap_fill",
      (s, d) => {
        val bucket = expr("unix_micros(ts) DIV 21600000000")
        val ev = events(s, d).select(col("user_id"), bucket.as("bucket"))
        val counts = ev.groupBy(col("user_id"), col("bucket"))
          .agg(count(lit(1)).as("n"))
        val grid = ev.groupBy(col("user_id"))
          .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
          .select(col("user_id"),
            explode(sequence(col("lo"), col("hi"))).as("bucket"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(counts, Seq("user_id", "bucket"), "left")
          .withColumn("f", coalesce(last(col("n"), ignoreNulls = true).over(w), lit(0L)))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_buckets"),
            count(when(col("n").isNull, 1)).as("n_gaps"),
            sum(col("f")).as("sum_filled"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS bucket
             |  FROM events),
             |counts AS (SELECT user_id, bucket, COUNT(*) AS n FROM ev GROUP BY 1, 2),
             |bounds AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM ev GROUP BY 1),
             |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM bounds),
             |filled AS (
             |  SELECT g.user_id, c.n,
             |         COALESCE(LAST_VALUE(c.n IGNORE NULLS) OVER (
             |           PARTITION BY g.user_id ORDER BY g.bucket
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS f
             |  FROM grid g LEFT JOIN counts c USING (user_id, bucket))
             |SELECT user_id, COUNT(*) AS n_buckets,
             |       COUNT(CASE WHEN n IS NULL THEN 1 END) AS n_gaps,
             |       CAST(SUM(f) AS BIGINT) AS sum_filled
             |FROM filled GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // LATERAL correlated subquery (SQL surface): Catalyst decorrelates
    // the per-order aggregate into an aggregate + join — no per-row
    // subquery execution survives in the plan. Childless orders are
    // filtered explicitly: engines DISAGREE on whether a comma-LATERAL
    // over an empty aggregate keeps a NULL row (Spark does, DuckDB
    // drops it), so the query pins the unambiguous inner semantics.
    //
    // Scale note: the textbook decorrelation aggregates MAX(l_quantity)
    // over ALL of lineitem then joins to the 2% of orders surviving the
    // `% 50` filter — at 100 TB that aggregates the full fact table to
    // answer 1/50th of it, and Catalyst does NOT infer the modulo
    // predicate through the correlation equality (constraint propagation
    // stops at the decorrelated aggregate). So the inner query states
    // `l.l_orderkey % 50 = 0` explicitly — implied by the correlation
    // `l_orderkey = o_orderkey` and the outer filter, it prunes the
    // aggregate's input 50x at the scan, ahead of any join.
    QueryDef("q_lateral_subquery",
      (s, d) => {
        lineitem(s, d).createOrReplaceTempView("lineitem_lat")
        orders(s, d).createOrReplaceTempView("orders_lat")
        s.sql("""
          SELECT o.o_orderkey, t.max_qty
          FROM orders_lat o,
               LATERAL (SELECT MAX(l.l_quantity) AS max_qty
                        FROM lineitem_lat l
                        WHERE l.l_orderkey = o.o_orderkey
                          AND l.l_orderkey % 50 = 0) t
          WHERE o.o_orderkey % 50 = 0 AND t.max_qty IS NOT NULL
          ORDER BY o.o_orderkey""")
      },
      Some("""SELECT o.o_orderkey, t.max_qty
             |FROM orders o,
             |     LATERAL (SELECT MAX(l.l_quantity) AS max_qty
             |              FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey
             |                AND l.l_orderkey % 50 = 0) t
             |WHERE o.o_orderkey % 50 = 0 AND t.max_qty IS NOT NULL
             |ORDER BY o.o_orderkey""".stripMargin)),

    // generator/lateral over a computed array (explode ↔ unnest)
    QueryDef("q_explode_lateral",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          explode(split(col("o_orderpriority"), "-")).as("part"))
        .orderBy(col("o_orderkey"), col("part")),
      Some("""SELECT o_orderkey, unnest(str_split(o_orderpriority, '-')) AS part
             |FROM orders ORDER BY o_orderkey, part""".stripMargin)),

    // TPC-H Q13 shape: how many orders does each customer have, counting
    // customers with ZERO orders — the distribution query behind "how
    // active is the customer base". Scale plan: aggregate orders down to
    // (custkey, n) BEFORE the outer join, so the join input is
    // |customers| + |customers-with-orders| rows instead of |orders|
    // wide rows; the classic LEFT JOIN-then-GROUP BY shuffles the whole
    // fact table on custkey first. Same result (COUNT over the
    // ON-filtered right side ≡ COALESCE over the pre-aggregate).
    QueryDef("q13_custdist",
      (s, d) => {
        val oc = orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        customer(s, d)
          .join(oc, col("c_custkey") === col("o_custkey"), "left_outer")
          .select(coalesce(col("n"), lit(0L)).as("c_count"))
          .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
          .orderBy(col("c_count"))
      },
      Some("""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
             |FROM (SELECT c_custkey,
             |             CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
             |      FROM customer LEFT JOIN orders
             |        ON c_custkey = o_custkey
             |       AND o_orderpriority <> '1-URGENT'
             |      GROUP BY c_custkey)
             |GROUP BY c_count ORDER BY c_count""".stripMargin)),

    // TPC-H Q18 shape (large-volume orders): IN-subquery with a HAVING
    // over the full fact table, then a 3-way join on the survivors. The
    // HAVING aggregate groups lineitem on its natural key (one shuffle),
    // the >300 filter leaves a tiny key set, and AQE turns both
    // downstream joins into broadcasts — the plan prunes the fact table
    // to the interesting 0.1% before any wide row moves.
    QueryDef("q18_large_orders",
      (s, d) => {
        val big = lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(dsum("l_quantity").as("sum_qty"))
          .filter(col("sum_qty") > 300.0)
        orders(s, d).join(big, col("o_orderkey") === col("l_orderkey"))
          .join(customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, c_custkey, c_name, o_totalprice, sum_qty
             |FROM orders
             |JOIN (SELECT l_orderkey,
             |             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |      FROM lineitem GROUP BY l_orderkey
             |      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300) b
             |  ON o_orderkey = b.l_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin)),

    // TPC-H Q22 shape (the "idle rich"): customers above the average
    // positive balance who never placed an order, grouped by a country
    // bucket. The global-average scalar subquery is computed as exact
    // (decimal_sum, count) and compared cross-multiplied —
    // `bal·n > sum` — so no engine-specific double division can flip a
    // boundary row; the 1-row stats side broadcasts, and the no-orders
    // test is a LEFT ANTI join (never a per-row NOT EXISTS probe).
    QueryDef("q22_idle_rich",
      (s, d) => {
        val c = customer(s, d)
        val st = c.filter(col("c_acctbal") > 0)
          .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("s"),
            count(lit(1)).as("n"))
        val rich = c.crossJoin(broadcast(st))
          .filter(col("c_acctbal").cast("decimal(18,2)") * col("n") > col("s"))
        // anti-join on FINISHED orders (the fixture has no fully
        // order-less customers at small SFs — an empty result tests
        // nothing)
        rich.join(orders(s, d).filter(col("o_orderstatus") === "F"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy((col("c_nationkey") % 5).as("cntry"))
          .agg(count(lit(1)).as("numcust"), dsum("c_acctbal").as("bal_sum"))
          .orderBy(col("cntry"))
      },
      Some("""WITH st AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
             |                   COUNT(*) AS n
             |            FROM customer WHERE c_acctbal > 0)
             |SELECT c_nationkey % 5 AS cntry,
             |       CAST(COUNT(*) AS BIGINT) AS numcust,
             |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
             |FROM customer, st
             |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q8 shape (national market share): one supplier nation's
    // share of a part type's revenue sold into one customer region,
    // per order year. This completes the TPC-H coverage alongside
    // Q1/3/4/5/6/7/9/10/12/13/14/17/18/19/21/22 — Q2/Q11/Q16/Q20 need
    // the partsupp table the fixture does not ship. Plan shape: part
    // is type-pruned then broadcast, so the fact table shrinks FIRST;
    // the only fact-fact shuffle is lineitem⋈orders on orderkey;
    // customer/nation/region and supplier/nation are broadcast chains.
    // Revenue sums are exact decimal per (year, supp_nation is/isn't
    // the subject) and the share divides once, double-from-exact — the
    // q14 drift-free division discipline.
    QueryDef("q8_market_share",
      (s, d) => {
        val rev = col("l_extendedprice").cast("decimal(18,2)") *
          (lit(new java.math.BigDecimal("1.00")) - col("l_discount").cast("decimal(18,2)"))
        val econPart = part(s, d).filter(col("p_type") === "ECONOMY")
          .select(col("p_partkey"))
        val asiaCust = customer(s, d)
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey"))
        val suppNation = supplier(s, d)
          .join(broadcast(nation(s, d).select(col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
          .select(col("s_suppkey"), col("supp_nation"))
        val o = orders(s, d)
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        lineitem(s, d)
          .join(broadcast(econPart), col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"), "left_semi")
          .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            sum(when(col("supp_nation") === "NATION_3", rev)
              .otherwise(lit(new java.math.BigDecimal("0.00")))).as("nr"),
            sum(rev).as("tr"))
          .select(col("o_year"),
            (col("nr").cast("double") / col("tr").cast("double")).as("mkt_share"),
            col("nr").cast("double").as("nation_rev"),
            col("tr").cast("double").as("total_rev"))
          .orderBy(col("o_year"))
      },
      Some("""WITH vol AS (
             |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             |         CAST(l_extendedprice AS DECIMAL(18,2)) *
             |         (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev,
             |         sn.n_name AS supp_nation
             |  FROM lineitem
             |  JOIN part ON l_partkey = p_partkey
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation cn ON c_nationkey = cn.n_nationkey
             |  JOIN region ON cn.n_regionkey = r_regionkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation sn ON s_nationkey = sn.n_nationkey
             |  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
             |    AND o_orderdate >= TIMESTAMP '1995-01-01'
             |    AND o_orderdate < TIMESTAMP '1997-01-01')
             |SELECT o_year,
             |       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
             |                     ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE)
             |         / CAST(SUM(rev) AS DOUBLE) AS mkt_share,
             |       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
             |                     ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_rev,
             |       CAST(SUM(rev) AS DOUBLE) AS total_rev
             |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // TPC-H Q15 shape (top supplier): the supplier(s) whose quarterly
    // revenue equals the global maximum. The revenue "view" is a
    // per-suppkey aggregate of the date-pruned fact table (map-side
    // combined, one shuffle at supplier cardinality); the scalar MAX is
    // then taken over that SUPPLIER-SIZED aggregate — never the fact
    // table — and broadcast back as a 1-row cross join. The equality
    // compare runs on the exact decimal sums (doubles only in the
    // output), so ties are exact on both engines.
    QueryDef("q15_top_supplier",
      (s, d) => {
        val rev = col("l_extendedprice").cast("decimal(18,2)") *
          (lit(new java.math.BigDecimal("1.00")) - col("l_discount").cast("decimal(18,2)"))
        val revenue = lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(sum(rev).as("total_rev"))
        val mx = revenue.agg(max(col("total_rev")).as("max_rev"))
        revenue.crossJoin(broadcast(mx))
          .filter(col("total_rev") === col("max_rev"))
          .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("total_rev").cast("double").as("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH revenue AS (
             |  SELECT l_suppkey,
             |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |             (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |    AND l_shipdate < TIMESTAMP '1996-04-01'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
             |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
             |WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
             |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q2 shape (minimum-cost supplier). The fixture ships no
    // partsupp table, so the part-supplier relation is DERIVED from the
    // fact table: supply cost := MIN(l_extendedprice) per (partkey,
    // suppkey) — an exact decimal min, no division, so both engines
    // agree to the bit. Scale shape, in order: (1) the selective part
    // filter broadcasts as a LEFT SEMI onto lineitem BEFORE any
    // aggregate, so the fact table is pruned ~5x ahead of the shuffle
    // (the same fact-pruned-first lesson as the lateral); (2) the
    // per-part minimum is a WINDOW over the (part,supp)-aggregated
    // relation — part×supp-sized, narrow — not a self-join, so the
    // "correlated MIN subquery" of the original decorrelates into one
    // extra shuffle at dimension-pair cardinality instead of a second
    // pass over the fact table; (3) ties at the minimum keep ALL
    // minimal suppliers, Q2's semantics. supplier/nation broadcast.
    QueryDef("q2_min_cost_supp",
      (s, d) => {
        val smallPart = part(s, d).filter(col("p_size") <= 10)
          .select(col("p_partkey"), col("p_brand"))
        val ps = lineitem(s, d)
          .join(broadcast(smallPart.select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(col("l_extendedprice").cast("decimal(18,2)")).as("cost"))
        val w = Window.partitionBy(col("l_partkey"))
        ps.withColumn("mc", min(col("cost")).over(w))
          .filter(col("cost") === col("mc"))
          .join(broadcast(smallPart), col("l_partkey") === col("p_partkey"))
          .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_name"),
            col("s_nationkey"))), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("p_partkey"), col("p_brand"), col("s_name"), col("n_name"),
            col("cost").cast("double").as("cost"))
          .orderBy(col("p_partkey"), col("s_name"))
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey, l_suppkey,
             |         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE p_size <= 10 GROUP BY 1, 2),
             |mn AS (SELECT l_partkey AS mpk, MIN(cost) AS mc FROM ps GROUP BY 1)
             |SELECT p_partkey, p_brand, s_name, n_name, CAST(cost AS DOUBLE) AS cost
             |FROM ps JOIN mn ON l_partkey = mpk AND cost = mc
             |JOIN part ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |ORDER BY p_partkey, s_name""".stripMargin)),

    // TPC-H Q11 shape (important stock): the value held per part by one
    // nation's suppliers, keeping parts whose value exceeds a fixed
    // fraction of the nation's total. The HAVING-against-a-scalar-
    // subquery decorrelates to: (1) nation's suppliers resolved on the
    // dimension side and broadcast as a semi-join prune of the fact
    // table (4 of 100 suppliers — the aggregate input shrinks 25x
    // before the shuffle); (2) ONE aggregate by partkey; (3) the global
    // total re-aggregates the part-sized result (map-side combined,
    // never a second fact pass) and broadcasts back as a 1-row cross
    // join. The original's fixed-fraction threshold (value > f·total)
    // selects NOTHING once the part count outgrows 1/f — a query that
    // returns empty at 10x scale tests nothing — so the cut is the
    // scale-free "value > 2x the average part value", cross-multiplied
    // on exact decimals (value·n_parts > 2·total) so no engine-specific
    // division can flip a boundary part — the q22 discipline.
    QueryDef("q11_important_stock",
      (s, d) => {
        val natSupp = supplier(s, d)
          .join(broadcast(nation(s, d).filter(col("n_name") === "NATION_3")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val ps = lineitem(s, d)
          .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("value"))
        val tot = ps.agg(sum(col("value")).as("t"), count(lit(1)).as("np"))
        ps.crossJoin(broadcast(tot))
          .filter(col("value") * col("np") > col("t") * 2)
          .select(col("l_partkey").as("partkey"),
            col("value").cast("double").as("part_value"))
          .orderBy(col("partkey"))
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
             |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  WHERE n_name = 'NATION_3' GROUP BY 1),
             |tot AS (SELECT SUM(value) AS t, COUNT(*) AS np FROM ps)
             |SELECT l_partkey AS partkey, CAST(value AS DOUBLE) AS part_value
             |FROM ps, tot WHERE value * np > t * 2
             |ORDER BY partkey""".stripMargin)),

    // TPC-H Q16 shape (parts/supplier relationship): distinct suppliers
    // per part attribute triple, excluding a complained-about supplier
    // set (acctbal < 0 stands in for the fixture's missing comment
    // column). The NOT IN is a broadcast LEFT ANTI on the distinct
    // (part, supp) pairs — suppkey is non-nullable here, so anti-join
    // and NOT IN agree (the q_not_in three-valued caveat does not
    // bite). Plan: ONE distinct pass over the two fact columns (the
    // only wide shuffle), anti prune against the 6-row exclusion
    // broadcast, broadcast join the brand-filtered part dimension, then
    // COUNT(DISTINCT suppkey) per triple — Catalyst's two-phase
    // distinct expand runs at group cardinality, not fact cardinality.
    QueryDef("q16_supplier_cnt",
      (s, d) => {
        val excl = supplier(s, d).filter(col("s_acctbal") < 0)
          .select(col("s_suppkey"))
        lineitem(s, d).select(col("l_partkey"), col("l_suppkey")).distinct()
          .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
          .join(broadcast(part(s, d).filter(col("p_brand") =!= "Brand#1")
            .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
             |SELECT p_brand, p_type, p_size,
             |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
             |FROM ps JOIN part ON l_partkey = p_partkey
             |WHERE p_brand <> 'Brand#1'
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
             |                        WHERE s_acctbal < 0)
             |GROUP BY 1, 2, 3
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // TPC-H Q20 shape (excess availability): suppliers of a part family
    // whose all-time supplied quantity exceeds 8x what they shipped in
    // the 1995 window. The original is a doubly-nested correlated
    // subquery (availqty vs a per-(part,supp) scalar aggregate); both
    // aggregates range over the SAME derived relation, so the
    // decorrelation fuses them into ONE conditional aggregate — sum(qty)
    // and sum(qty WHERE in-window) in a single groupBy — one fact scan
    // and one shuffle where the textbook plan pays two of each plus a
    // self-join. A (part,supp) pair with no 1995 shipments has sq NULL;
    // `aq > sq*8` is then NULL → dropped, exactly the original's empty-
    // scalar-subquery semantics, with no extra null handling. Part
    // family prunes the fact table first (broadcast semi), supplier/
    // nation broadcast onto the group-sized survivor set.
    QueryDef("q20_excess_supp",
      (s, d) => {
        val redParts = part(s, d).filter(col("p_name").startsWith("red"))
          .select(col("p_partkey"))
        val inWin = col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp")
        lineitem(s, d)
          .join(broadcast(redParts), col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("aq"),
            sum(when(inWin, col("l_quantity").cast("decimal(18,2)"))).as("sq"))
          .filter(col("aq") > col("sq") * 8)
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("excess_parts"))
          .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_name"),
            col("s_nationkey"))), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"),
            col("excess_parts"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey, l_suppkey,
             |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS aq,
             |         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01'
             |                   AND l_shipdate < TIMESTAMP '1996-01-01'
             |                  THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS sq
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE p_name LIKE 'red%' GROUP BY 1, 2)
             |SELECT s_suppkey, s_name, n_name, CAST(COUNT(*) AS BIGINT) AS excess_parts
             |FROM ps JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE aq > sq * 8
             |GROUP BY 1, 2, 3 ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q4 shape (order priority checking): count orders per
    // priority where at least one lineitem shipped late. The EXISTS is a
    // LEFT SEMI join — it deduplicates multi-late-line orders inside the
    // join operator (no DISTINCT pass) and carries only (orderkey,
    // shipdate) from the fact side. The correlated date predicate rides
    // IN the join condition, so at 100 TB the semi join shuffles both
    // sides once on orderkey and nothing else; the priority rollup then
    // aggregates |orders| rows down to 5.
    QueryDef("q4_order_priority",
      (s, d) => {
        val late = lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
        orders(s, d)
          .join(late, col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
             |FROM orders o
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey
             |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q12 shape (shipping-priority audit; returnflag stands in for
    // the fixture's missing shipmode): among lineitems shipped >60 days
    // after their order date, count critical- vs normal-priority orders
    // per flag. One fact-fact shuffle on the natural join key; the
    // CASE-sum pair map-side combines, so the post-join width is 2 longs
    // per flag. The conditional-aggregation pair is the canonical
    // "pivot a predicate into columns" shape.
    QueryDef("q12_late_priority",
      (s, d) => {
        val crit = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        lineitem(s, d).select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
          .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy(col("l_returnflag"))
          .agg(sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(!crit, 1L).otherwise(0L)).as("low_line_count"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q14 shape (promotion effect): revenue share of PROMO parts
    // in one shipping month. Sums are exact decimal; the percentage is
    // computed double-from-exact-decimal with ONE fixed expression tree
    // (100 * promo / total), so both engines run the identical IEEE ops
    // on identical inputs — the same drift-free division discipline as
    // q_regression. part is a broadcast dimension: the fact side is
    // filtered by shipdate at the scan (predicate pushdown into
    // parquet), never shuffled.
    QueryDef("q14_promo",
      (s, d) => {
        val rev = col("l_extendedprice").cast("decimal(18,2)") *
          (lit(new java.math.BigDecimal("1.00")) - col("l_discount").cast("decimal(18,2)"))
        lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
          .join(broadcast(part(s, d).select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", rev).otherwise(lit(new java.math.BigDecimal("0.00"))))
              .as("pr"),
            sum(rev).as("tr"))
          .select(
            (lit(100.0) * col("pr").cast("double") / col("tr").cast("double"))
              .as("promo_pct"),
            col("pr").cast("double").as("promo_rev"),
            col("tr").cast("double").as("total_rev"))
      },
      Some("""WITH j AS (
             |  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) *
             |         (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev,
             |         p_type
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
             |    AND l_shipdate < TIMESTAMP '1997-04-01')
             |SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE)
             |         / CAST(SUM(rev) AS DOUBLE) AS promo_pct,
             |       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_rev,
             |       CAST(SUM(rev) AS DOUBLE) AS total_rev
             |FROM j""".stripMargin)),

    // TPC-H Q17 shape (small-quantity-order revenue): revenue lost to
    // below-one-fifth-of-average orders of one brand's parts. The
    // correlated `l_quantity < 0.2 * AVG(...)` decorrelates into a
    // per-part pre-aggregate on the BRAND-PRUNED fact subset (the
    // broadcast brand filter cuts 2000 parts to ~80 BEFORE any fact
    // work), and the average compare is cross-multiplied over exact
    // decimals (5·qty·n < sum_qty) so no double division can flip a
    // boundary row. Both the brand part list and the per-part stats
    // broadcast — the fact table is scanned twice but never shuffled;
    // at 100 TB the second scan is the cheaper trade vs materializing
    // the brand subset.
    QueryDef("q17_small_qty",
      (s, d) => {
        val bp = part(s, d).filter(col("p_brand") === "Brand#13")
          .select(col("p_partkey"))
        val lp = lineitem(s, d)
          .join(broadcast(bp), col("l_partkey") === col("p_partkey"))
        val stats = lp.groupBy(col("l_partkey").as("sp_partkey"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
            count(lit(1)).as("n_li"))
        lp.join(broadcast(stats), col("l_partkey") === col("sp_partkey"))
          .filter(col("l_quantity").cast("decimal(18,2)") * lit(5) * col("n_li") <
            col("sum_qty"))
          .agg((dsum("l_extendedprice") / lit(7.0)).as("avg_yearly"),
            count(lit(1)).as("n_small"))
      },
      Some("""WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
             |lp AS (SELECT l_partkey, l_quantity, l_extendedprice
             |       FROM lineitem JOIN bp ON l_partkey = p_partkey),
             |st AS (SELECT l_partkey AS sp_partkey,
             |              SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
             |              COUNT(*) AS n_li
             |       FROM lp GROUP BY 1)
             |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
             |       COUNT(*) AS n_small
             |FROM lp JOIN st ON l_partkey = sp_partkey
             |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n_li < sum_qty""".stripMargin)),

    // TPC-H Q21 shape (suppliers who kept orders waiting): per supplier,
    // finished multi-supplier orders where THIS supplier shipped late
    // (>60 days after the order date) and no other supplier did. The
    // double correlated EXISTS/NOT-EXISTS decorrelates into ONE grouped
    // pass over the joined fact — per order: distinct suppliers and
    // distinct LATE suppliers — joined back to the late lines. That is
    // the shape that survives 100 TB: the naive plan probes lineitem
    // twice per lineitem row; this one shuffles the fact once on
    // orderkey, reduces per order, and broadcasts nothing wider than
    // supplier/nation dimensions.
    QueryDef("q21_wait_supplier",
      (s, d) => {
        val lo = lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
          .join(orders(s, d).filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .withColumn("late",
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        val perOrder = lo.groupBy(col("l_orderkey").as("g_orderkey"))
          .agg(countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
        lo.filter(col("late"))
          .select(col("l_orderkey"), col("l_suppkey")).distinct()
          .join(perOrder, col("l_orderkey") === col("g_orderkey"))
          .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_name"), col("n_name"), col("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
      },
      Some("""WITH lo AS (
             |  SELECT l_orderkey, l_suppkey,
             |         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE o_orderstatus = 'F'),
             |per_order AS (
             |  SELECT l_orderkey AS g_orderkey,
             |         COUNT(DISTINCT l_suppkey) AS n_supp,
             |         COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
             |  FROM lo GROUP BY 1),
             |lateline AS (
             |  SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE late)
             |SELECT s_name, n_name, CAST(COUNT(*) AS BIGINT) AS numwait
             |FROM lateline
             |JOIN per_order ON l_orderkey = g_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE n_supp > 1 AND n_late_supp = 1
             |GROUP BY s_name, n_name
             |ORDER BY numwait DESC, s_name""".stripMargin)),

    // Catalog DDL surface: CTAS a PARTITIONED managed table from a
    // query, INSERT INTO it, read it back through the catalog with a
    // partition-pruned aggregate. This is the sink path a warehouse
    // actually uses (partitioned layout + catalog metadata + append),
    // distinct from the path-based writes elsewhere. Idempotent per run
    // (CREATE OR REPLACE semantics via DROP) so the bench can repeat it;
    // the oracle recomputes the same union from the source table.
    QueryDef("q_sql_ddl",
      (s, d) => {
        orders(s, d).createOrReplaceTempView("orders_ddl_src")
        s.sql("DROP TABLE IF EXISTS graft_ddl_orders")
        // clear a leftover managed location if a prior run was interrupted
        val loc = new java.io.File("spark-warehouse/graft_ddl_orders")
        if (loc.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
          }
          rm(loc)
        }
        // REPARTITION on the partition column: one file per partition
        // dir instead of (input partitions × dirs) small files — the
        // standard partitioned-write discipline (at 100 TB you'd target
        // a file-size budget, same hint)
        s.sql("""CREATE TABLE graft_ddl_orders
                |USING parquet PARTITIONED BY (o_orderstatus)
                |AS SELECT /*+ REPARTITION(o_orderstatus) */
                |     o_orderkey, o_custkey, o_totalprice, o_orderstatus
                |   FROM orders_ddl_src WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql("""INSERT INTO graft_ddl_orders
                |SELECT /*+ REPARTITION(o_orderstatus) */
                |  o_orderkey, o_custkey, o_totalprice, o_orderstatus
                |FROM orders_ddl_src WHERE o_orderkey % 2 = 1 AND o_orderstatus = 'F'""".stripMargin)
        s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
                |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
                |FROM graft_ddl_orders WHERE o_orderstatus IN ('F', 'O')
                |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      },
      Some("""WITH t AS (
             |  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT o_orderstatus, o_totalprice FROM orders
             |  WHERE o_orderkey % 2 = 1 AND o_orderstatus = 'F')
             |SELECT o_orderstatus, COUNT(*) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
             |FROM t WHERE o_orderstatus IN ('F', 'O')
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Spark 4 SQL scripting + parameterized SQL + IDENTIFIER clause in
    // one flow: the cohort view binds :src/:cut as REAL bind parameters
    // (no string splicing — the injection-safe path), IDENTIFIER()
    // resolves the table name from a parameter, and a BEGIN…END script
    // with DECLARE/WHILE/scalar-subquery assignment accumulates across
    // four mod-partitions of the cohort. The loop total must equal the
    // declarative oracle (the mod classes partition the cohort) —
    // procedural control flow gated against set semantics. Integer
    // cents keep the accumulated sum exact.
    QueryDef("q_sql_scripting",
      (s, d) => {
        orders(s, d).createOrReplaceTempView("orders_script_src")
        val prev = s.conf.getOption("spark.sql.scripting.enabled")
        s.conf.set("spark.sql.scripting.enabled", "true")
        try {
          s.sql(
            """CREATE OR REPLACE TEMP VIEW script_cohort AS
              |SELECT * FROM IDENTIFIER(:src) WHERE o_totalprice >= :cut""".stripMargin,
            Map("src" -> "orders_script_src", "cut" -> 50000.0))
          s.sql(
            """BEGIN
              |  DECLARE n_orders BIGINT;
              |  DECLARE f_cents BIGINT DEFAULT 0;
              |  DECLARE i INT DEFAULT 0;
              |  SET n_orders = (SELECT COUNT(*) FROM script_cohort);
              |  WHILE i < 4 DO
              |    SET f_cents = f_cents + COALESCE(
              |      (SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              |       FROM script_cohort
              |       WHERE o_orderstatus = 'F' AND o_orderkey % 4 = i), 0);
              |    SET i = i + 1;
              |  END WHILE;
              |  SELECT n_orders, f_cents;
              |END""".stripMargin)
        } finally prev match {
          case Some(v) => s.conf.set("spark.sql.scripting.enabled", v)
          case None => s.conf.unset("spark.sql.scripting.enabled")
        }
      },
      Some("""SELECT COUNT(*) AS n_orders,
             |       CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
             |                     THEN CAST(round(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) AS f_cents
             |FROM orders WHERE o_totalprice >= 50000.0""".stripMargin)),

    // Schema-evolution union: two extracts with DIFFERENT column sets
    // union BY NAME, missing columns null-filled — the ingestion shape
    // when a source adds fields mid-stream (positional UNION would
    // silently misalign). DuckDB states the same op as UNION ALL BY
    // NAME.
    QueryDef("q_union_by_name",
      (s, d) => {
        val a = orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_custkey"))
        val b = orders(s, d).filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey"), col("o_totalprice"))
        a.unionByName(b, allowMissingColumns = true)
          .groupBy(col("o_custkey").isNull.as("from_new_schema"))
          .agg(count(lit(1)).as("n"),
            count(col("o_custkey")).as("n_cust"),
            count(col("o_totalprice")).as("n_price"))
          .orderBy(col("from_new_schema"))
      },
      Some("""WITH u AS (
             |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'F'
             |  UNION ALL BY NAME
             |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O')
             |SELECT o_custkey IS NULL AS from_new_schema, COUNT(*) AS n,
             |       COUNT(o_custkey) AS n_cust, COUNT(o_totalprice) AS n_price
             |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    // MATCH each other, unlike plain = which drops them — the corner
    // that silently loses rows when a dimension key is optional. The
    // derived key is NULL for every third order; both engines must pair
    // the NULL groups.
    QueryDef("q_nullsafe_join",
      (s, d) => {
        val a = orders(s, d)
          .select(when(col("o_orderkey") % 3 =!= 0, col("o_orderkey") % 7).as("k"),
            col("o_orderkey"))
        val b = orders(s, d)
          .select(when(col("o_orderkey") % 3 =!= 0, col("o_orderkey") % 7).as("k2"),
            lit(1L).as("one"))
          .groupBy(col("k2")).agg(count(lit(1)).as("nb"))
        a.join(b, col("k") <=> col("k2"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_pairs"), max(col("nb")).as("nb"))
          .orderBy(col("k").asc_nulls_first)
      },
      Some("""WITH a AS (
             |  SELECT CASE WHEN o_orderkey % 3 <> 0 THEN o_orderkey % 7 END AS k,
             |         o_orderkey
             |  FROM orders),
             |b AS (
             |  SELECT CASE WHEN o_orderkey % 3 <> 0 THEN o_orderkey % 7 END AS k2,
             |         COUNT(*) AS nb
             |  FROM orders GROUP BY 1)
             |SELECT a.k, COUNT(*) AS n_pairs, MAX(b.nb) AS nb
             |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k2
             |GROUP BY a.k ORDER BY a.k NULLS FIRST""".stripMargin)),

    // TPC-H Q7 shape (volume shipping between nation pairs): revenue
    // flowing from supplier nation to customer nation per year, for a
    // fixed pair of nations in either direction. The fact table joins
    // TWO annotated sides — supplier→nation via lineitem.suppkey and
    // customer→nation via orders.custkey — but both annotations ride on
    // BROADCAST dimensions, so the only big-data movement is the one
    // lineitem⋈orders shuffle on the natural key. The nation-pair
    // disjunction filters AFTER both annotations (it needs both ends);
    // revenue in exact decimal per (supp_nation, cust_nation, year).
    QueryDef("q7_nation_volume",
      (s, d) => {
        val n1 = nation(s, d).select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))
        val n2 = nation(s, d).select(col("n_nationkey").as("cn_key"),
          col("n_name").as("cust_nation"))
        val sup = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
        val cust = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
        val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        val rev = col("l_extendedprice").cast("decimal(18,2)") *
          (lit(new java.math.BigDecimal("1.00")) - col("l_discount").cast("decimal(18,2)"))
        lineitem(s, d)
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
          .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
            (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             |       CAST(year(l_shipdate) AS INTEGER) AS l_year,
             |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |                (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             |       COUNT(*) AS n
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation sn ON s_nationkey = sn.n_nationkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation cn ON c_nationkey = cn.n_nationkey
             |WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
             |   OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // TPC-H Q10 shape (returned-item losers): customers ranked by the
    // revenue they returned in one quarter. Orders are date-pruned AT
    // THE SCAN (pushed filter), lineitem prunes on the R flag the same
    // way, and the aggregate runs on (custkey) BEFORE the customer
    // dimension attaches — the classic "aggregate the fact, then
    // decorate" discipline that keeps the wide columns off the shuffle.
    QueryDef("q10_returned",
      (s, d) => {
        val rev = col("l_extendedprice").cast("decimal(18,2)") *
          (lit(new java.math.BigDecimal("1.00")) - col("l_discount").cast("decimal(18,2)"))
        val o = orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"))
        val agg = lineitem(s, d).filter(col("l_returnflag") === "R")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_items"))
        agg.join(broadcast(customer(s, d)
            .select(col("c_custkey"), col("c_name"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("revenue"), col("n_items"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""WITH agg AS (
             |  SELECT o_custkey,
             |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |                  (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             |         COUNT(*) AS n_items
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE l_returnflag = 'R'
             |    AND o_orderdate >= TIMESTAMP '1997-01-01'
             |    AND o_orderdate < TIMESTAMP '1997-04-01'
             |  GROUP BY o_custkey)
             |SELECT c_custkey, c_name, c_nationkey, revenue, n_items
             |FROM agg JOIN customer ON o_custkey = c_custkey
             |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q19 shape (disjunctive bracket predicates): revenue from
    // three (brand × quantity-range × size-range) brackets OR-ed
    // together. The point is the OPTIMIZER story, pinned in PlanSpec:
    // the disjunction shares the conjunct `l_partkey = p_partkey`, the
    // common quantity lower bound is inferable, and Spark pushes the
    // supported residue of an OR-tree into the parquet scan instead of
    // evaluating rows post-hoc. part broadcasts; the fact never
    // shuffles.
    QueryDef("q19_brackets",
      (s, d) => {
        val rev = col("l_extendedprice").cast("decimal(18,2)") *
          (lit(new java.math.BigDecimal("1.00")) - col("l_discount").cast("decimal(18,2)"))
        val p = part(s, d).select(col("p_partkey"), col("p_brand"), col("p_size"))
        lineitem(s, d)
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#13" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 35) &&
              col("l_quantity").between(20, 30)))
          .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n"))
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |                (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             |       COUNT(*) AS n
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
             |       AND l_quantity BETWEEN 1 AND 11)
             |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
             |       AND l_quantity BETWEEN 10 AND 20)
             |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
             |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // SCD2 dimension build from a changelog (gaps-and-islands): collapse
    // each user's event stream into attribute VERSIONS — a new version
    // starts when event_type changes, each version carries
    // [valid_from, valid_to) micros and the open version has NULL
    // valid_to. This is the merge-free way to maintain a slowly-changing
    // dimension from an append-only log: one shuffle on user_id, two
    // window passes, no MERGE INTO target scan. Ties broken by event_id
    // so the run assignment is total-ordered on both engines.
    QueryDef("q_scd2",
      (s, d) => scd2Versions(s, d)
        .select(col("user_id"), col("version"), col("attr"),
          col("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"), col("n_events"))
        .orderBy(col("user_id"), col("version")),
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             |         event_id, event_type FROM events),
             |flagged AS (
             |  SELECT user_id, t, event_id, event_type,
             |         CASE WHEN LAG(event_type) OVER w IS NULL
             |                   OR LAG(event_type) OVER w <> event_type
             |              THEN 1 ELSE 0 END AS chg
             |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |runs AS (
             |  SELECT user_id, t, event_type,
             |         SUM(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
             |  FROM flagged),
             |versions AS (
             |  SELECT user_id, CAST(version AS BIGINT) AS version,
             |         MIN(event_type) AS attr,
             |         MIN(t) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
             |  FROM runs GROUP BY user_id, version)
             |SELECT user_id, version, attr, valid_from,
             |       LEAD(valid_from) OVER w AS valid_to,
             |       LEAD(valid_from) OVER w IS NULL AS is_current, n_events
             |FROM versions WINDOW w AS (PARTITION BY user_id ORDER BY version)
             |ORDER BY user_id, version""".stripMargin)),

    // Equi-depth histogram composed from the 2-pass exact-quantile
    // operator: the quartile boundaries come from Quantiles
    // .exactQuantiles (two scans, driver sees 3 numbers — the same
    // bounded-driver economics as the operator itself), then a single
    // map-side-combined aggregate buckets the table. The alternative —
    // ntile() over a global sort — shuffles the whole table into one
    // range sort; this never shuffles the data at all.
    QueryDef("q_equidepth_hist",
      (s, d) => {
        val o = orders(s, d)
          .select(col("o_totalprice"),
            round(col("o_totalprice")).cast("long").as("v"))
        val bs = graft.operators.Quantiles
          .exactQuantiles(o, "v", Seq(0.25, 0.5, 0.75))
          .orderBy(col("q")).collect().map(_.getLong(1))
        val bucket = when(col("v") <= bs(0), 0)
          .when(col("v") <= bs(1), 1)
          .when(col("v") <= bs(2), 2).otherwise(3)
        o.groupBy(bucket.as("bucket"))
          .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("price_sum"))
          .orderBy(col("bucket"))
      },
      Some("""WITH v AS (SELECT o_totalprice,
             |                  CAST(round(o_totalprice) AS BIGINT) AS v FROM orders),
             |b AS (SELECT quantile_disc(v, 0.25) AS b0, quantile_disc(v, 0.5) AS b1,
             |             quantile_disc(v, 0.75) AS b2 FROM v)
             |SELECT CASE WHEN v <= b0 THEN 0 WHEN v <= b1 THEN 1
             |            WHEN v <= b2 THEN 2 ELSE 3 END AS bucket,
             |       CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
             |FROM v, b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Point-in-time (temporal) join onto the SCD2 dimension built by
    // q_scd2: each probe (event shifted +120 s) joins to the version
    // whose [valid_from, valid_to) covers it — the lookup every
    // training-data join against a changing dimension must get right,
    // or features leak from the future. Plan: equi-join on user_id
    // with the range predicate as a post-join filter — versions per
    // user are bounded (runs of one user's log), so the per-key
    // explosion is small and no interval index is needed.
    QueryDef("q_pit_join",
      (s, d) => {
        val versions = scd2Versions(s, d)
        val probes = events(s, d)
          .filter(col("event_id") % 97 === 0)
          .select(col("event_id"), col("user_id").as("pu"),
            (expr("unix_micros(ts)") + 120000000L).as("tp"))
        probes.join(versions,
            col("pu") === col("user_id") &&
              col("tp") >= col("valid_from") &&
              (col("valid_to").isNull || col("tp") < col("valid_to")))
          .select(col("event_id"), col("user_id"), col("tp"),
            col("version"), col("attr"))
          .orderBy(col("event_id"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             |         event_id, event_type FROM events),
             |flagged AS (
             |  SELECT user_id, t, event_id, event_type,
             |         CASE WHEN LAG(event_type) OVER w IS NULL
             |                   OR LAG(event_type) OVER w <> event_type
             |              THEN 1 ELSE 0 END AS chg
             |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |runs AS (
             |  SELECT user_id, t, event_type,
             |         SUM(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
             |  FROM flagged),
             |versions AS (
             |  SELECT user_id, CAST(version AS BIGINT) AS version,
             |         MIN(event_type) AS attr, MIN(t) AS valid_from,
             |         LEAD(MIN(t)) OVER (PARTITION BY user_id
             |           ORDER BY version) AS valid_to
             |  FROM runs GROUP BY user_id, version),
             |probes AS (
             |  SELECT event_id, user_id AS pu,
             |         t + 120000000 AS tp FROM ev WHERE event_id % 97 = 0)
             |SELECT event_id, user_id, tp, version, attr
             |FROM probes JOIN versions
             |  ON pu = user_id AND tp >= valid_from
             | AND (valid_to IS NULL OR tp < valid_to)
             |ORDER BY event_id""".stripMargin)),

    // 2D skyline (Pareto frontier): orders no other order beats on BOTH
    // totalprice and orderdate. Shape: collapse to per-price max-date
    // (one shuffle), prune with a PARTITIONED window — each price
    // bucket's local skyline is computed in parallel, and the union of
    // local skylines provably contains the global one — then one tiny
    // global window pass over the survivors. The naive NOT EXISTS is a
    // quadratic self-join; the naive single window is one global sort.
    // Here the only full-data ops are a groupBy and a bucket-partitioned
    // window; the global pass sees ~|frontier per bucket| rows.
    QueryDef("q_skyline",
      (s, d) => {
        val perPrice = orders(s, d)
          .groupBy(col("o_totalprice").as("price"))
          // NTZ → TZ cast is identity under the UTC session timezone
          .agg(max(expr("unix_millis(cast(o_orderdate as timestamp))")).as("best_ms"))
        val bw = Window.partitionBy(col("bucket")).orderBy(col("price").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val local = perPrice
          .withColumn("bucket", floor(col("price") / 20000))
          .withColumn("hm", max(col("best_ms")).over(bw))
          .filter(col("hm").isNull || col("best_ms") > col("hm"))
        val gw = Window.orderBy(col("price").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        local
          .withColumn("ghm", max(col("best_ms")).over(gw))
          .filter(col("ghm").isNull || col("best_ms") > col("ghm"))
          .select(col("price"), col("best_ms"))
          .orderBy(col("price").desc)
      },
      Some("""WITH pp AS (
             |  SELECT o_totalprice AS price,
             |         MAX(epoch_ms(o_orderdate)) AS best_ms
             |  FROM orders GROUP BY o_totalprice),
             |sky AS (
             |  SELECT price, best_ms,
             |         MAX(best_ms) OVER (ORDER BY price DESC
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hm
             |  FROM pp)
             |SELECT price, best_ms FROM sky
             |WHERE hm IS NULL OR best_ms > hm
             |ORDER BY price DESC""".stripMargin)),

    // Compaction planning over a file manifest: pack small files into
    // target-size bins by sequential fill in size-descending order —
    // the plan every lakehouse OPTIMIZE job computes before it rewrites
    // anything. Runs on the MANIFEST (name, size), never the data: the
    // global sort is over file-count rows (millions at worst), and the
    // bin id is pure window arithmetic — floor(pre-cumsum / target) —
    // so the whole plan is one window pass, no driver loop, no RNG.
    QueryDef("q_compaction_plan",
      (s, d) => {
        val target = 4096L
        val w = Window.orderBy(col("sz").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        documents(s, d)
          .select(col("doc_id"), col("n_chars").as("sz"))
          .withColumn("pre", coalesce(sum(col("sz")).over(w), lit(0L)))
          .withColumn("bin", floor(col("pre") / target))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_files"), sum(col("sz")).as("bin_bytes"),
            min(col("doc_id")).as("first_doc"))
          .orderBy(col("bin"))
      },
      Some("""WITH f AS (
             |  SELECT doc_id, n_chars AS sz,
             |         COALESCE(SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
             |  FROM documents)
             |SELECT CAST(FLOOR(pre / 4096) AS BIGINT) AS bin,
             |       CAST(COUNT(*) AS BIGINT) AS n_files,
             |       CAST(SUM(sz) AS BIGINT) AS bin_bytes,
             |       CAST(MIN(doc_id) AS BIGINT) AS first_doc
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental aggregate maintenance: the daily-revenue rollup is
    // maintained by MERGING the stored base aggregate with the delta
    // batch's aggregate — counts add, decimal sums add — so the base
    // FACTS are never rescanned. At 100 TB this is the difference
    // between touching one day of data and touching three years of it;
    // it works exactly when the aggregate is algebraic (sum/count/min/
    // max — avg as sum÷count at read time). Base agg staged once per
    // sf dir (the "stored rollup"); oracle recomputes from all facts.
    QueryDef("q_incremental_agg",
      (s, d) => {
        val aggDir = srcStage.computeIfAbsent(s"incr#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_incr_").toString
          orders(s, d).filter(col("o_orderkey") % 10 =!= 0)
            .groupBy(to_date(col("o_orderdate")).as("day"))
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
            .write.mode("overwrite").parquet(sd)
          sd
        })
        val base = s.read.parquet(aggDir)
        val delta = orders(s, d).filter(col("o_orderkey") % 10 === 0)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        base.unionByName(delta)
          .groupBy(col("day"))
          .agg(sum(col("n")).as("n_orders"),
            sum(col("rev")).cast("double").as("revenue"))
          .orderBy(col("day"))
      },
      Some("""SELECT CAST(o_orderdate AS DATE) AS day,
             |       CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Parquet AGGREGATE pushdown: with
    // spark.sql.parquet.aggregatePushDown, COUNT/MIN/MAX over plain
    // columns answer from row-group STATISTICS — footer reads, zero
    // data pages. At 100 TB that is the difference between a metadata
    // operation and a full scan. Requires no filter and no nested
    // types; the plan shows PushedAggregation (pinned in PlanSpec).
    QueryDef("q_agg_pushdown",
      (s, d) => {
        // push-down needs the V2 parquet reader (parquet sits on the V1
        // list by default, where DPP lives — see q_dpp); both confs are
        // scoped with restore so the rest of the suite keeps its paths
        val keys = Seq("spark.sql.parquet.aggregatePushDown",
          "spark.sql.sources.useV1SourceList")
        val prev = keys.map(k => k -> s.conf.getOption(k))
        s.conf.set(keys(0), "true")
        s.conf.set(keys(1), "avro,csv,json,kafka,orc,text")
        try {
          s.read.parquet(s"$d/lineitem.parquet")
            .agg(count(lit(1)).as("n_rows"),
              min(col("l_orderkey")).as("min_key"),
              max(col("l_orderkey")).as("max_key"),
              min(col("l_shipdate")).as("first_ship"),
              max(col("l_shipdate")).as("last_ship"))
            // materialize the pushed-scan result BEFORE the confs revert
            .localCheckpoint()
        } finally prev.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
             |       CAST(MAX(l_orderkey) AS BIGINT) AS max_key,
             |       MIN(l_shipdate) AS first_ship,
             |       MAX(l_shipdate) AS last_ship
             |FROM lineitem""".stripMargin)),

    // DYNAMIC partition pruning: the fact table is partitioned by a
    // derived day-of-year column, the dim side carries a runtime filter the
    // planner can't see statically — DPP builds the partition list from
    // the dim's filtered keys AT RUNTIME and the fact scan reads only
    // those directories. The static-pruning twin (q_part_prune) proves
    // literal pruning; this proves the join-driven kind every
    // star-schema query at 100 TB depends on (plan shows
    // dynamicpruning, pinned in PlanSpec).
    QueryDef("q_dpp",
      (s, d) => {
        val dir = srcStage.computeIfAbsent(s"dpp#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_dpp_").toString
          orders(s, d)
            .withColumn("om", expr("dayofyear(cast(o_orderdate as date))"))
            .write.mode("overwrite").partitionBy("om").parquet(sd)
          sd
        })
        val fact = s.read.parquet(dir)
        val dim = orders(s, d)
          .filter(col("o_orderkey") % 97 === 0)
          .select(expr("dayofyear(cast(o_orderdate as date))").as("om"))
          .distinct()
        fact.join(dim, Seq("om"))
          .groupBy(col("om"))
          .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("price_sum"))
          .orderBy(col("om"))
      },
      Some("""WITH dim AS (
             |  SELECT DISTINCT dayofyear(CAST(o_orderdate AS DATE)) AS om
             |  FROM orders WHERE o_orderkey % 97 = 0)
             |SELECT CAST(f.om AS INT) AS om, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
             |FROM (SELECT dayofyear(CAST(o_orderdate AS DATE)) AS om, o_totalprice
             |      FROM orders) f
             |JOIN dim ON f.om = dim.om
             |GROUP BY f.om ORDER BY f.om""".stripMargin)),

    // Per-group linear regression WITHOUT float drift: slope/intercept
    // from the closed form over EXACT decimal sums (Σx, Σy, Σxy, Σx²
    // all fit DECIMAL(38)), with division — one correctly-rounded IEEE
    // op — applied only at the very end. The built-in regr_slope
    // accumulates doubles in partition order and cannot hash-match
    // across engines; this formulation is mergeable and
    // partition-invariant by construction. x = epoch day, y = price.
    QueryDef("q_regression",
      (s, d) => {
        val o = orders(s, d).join(customer(s, d),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"),
            expr("datediff(cast(o_orderdate as date), date'2020-01-01')")
              .cast("decimal(18,0)").as("x"),
            col("o_totalprice").cast("decimal(18,2)").as("y"))
        o.groupBy(col("seg"))
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          // sums are EXACT decimals; convert each to double and keep the
          // closed form in doubles — n·sxy would blow past DECIMAL(38)
          // as a decimal product, while the double expression is a fixed
          // tree of correctly-rounded IEEE ops over identical inputs on
          // both engines
          .select(col("seg"), col("n").as("n_orders"),
            ((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double")) /
              (col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double")))
              .as("slope"))
          .orderBy(col("seg"))
      },
      Some("""WITH o AS (
             |  SELECT c_mktsegment AS seg,
             |         CAST(datediff('day', DATE '2020-01-01',
             |                       CAST(o_orderdate AS DATE)) AS DECIMAL(18,0)) AS x,
             |         CAST(o_totalprice AS DECIMAL(18,2)) AS y
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |a AS (
             |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             |         SUM(x) AS sx, SUM(y) AS sy,
             |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
             |  FROM o GROUP BY seg)
             |-- decimal -> double goes THROUGH VARCHAR: DuckDB's direct
             |-- decimal cast double-rounds (unscaled -> double, then /10^s)
             |-- once the unscaled value passes 2^53 (sf1's sxy does), while
             |-- the string parse is correctly rounded like Spark's
             |-- BigDecimal.doubleValue — found by the sf1 oracle gate, where
             |-- the slope's catastrophic cancellation amplified the 1-ulp
             |-- difference 1e5x
             |SELECT seg, n AS n_orders,
             |       (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
             |          - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
             |         / (CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
             |              - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS slope
             |FROM a ORDER BY seg""".stripMargin)),

    // Declarative data-quality audit (the Deequ/dbt-test shape): one
    // scan computes every rule — null rate, domain violations,
    // duplicate keys — and one anti-join counts referential orphans.
    // The report is a single narrow row a pipeline gates a deploy on;
    // at 100 TB the point is that N rules cost ONE pass, not N.
    QueryDef("q_dq_audit",
      (s, d) => {
        val li = lineitem(s, d)
        val scan = li.agg(
          count(lit(1)).as("n_rows"),
          count(when(col("l_returnflag").isNull, 1)).as("null_flags"),
          count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1))
            .as("qty_out_of_domain"),
          count(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1))
            .as("disc_out_of_domain"))
        val dupKeys = li.groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(count(lit(1)).as("c")).filter(col("c") > 1)
          .agg(count(lit(1)).as("dup_keys"))
        val orphans = li.join(orders(s, d),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("orphan_lines"))
        scan.crossJoin(broadcast(dupKeys)).crossJoin(broadcast(orphans))
      },
      Some("""SELECT (SELECT COUNT(*) FROM lineitem) AS n_rows,
             |       (SELECT COUNT(*) FROM lineitem WHERE l_returnflag IS NULL) AS null_flags,
             |       (SELECT COUNT(*) FROM lineitem
             |        WHERE l_quantity < 1 OR l_quantity > 50) AS qty_out_of_domain,
             |       (SELECT COUNT(*) FROM lineitem
             |        WHERE l_discount < 0 OR l_discount > 0.1) AS disc_out_of_domain,
             |       (SELECT COUNT(*) FROM (
             |          SELECT 1 FROM lineitem GROUP BY l_orderkey, l_linenumber
             |          HAVING COUNT(*) > 1)) AS dup_keys,
             |       (SELECT COUNT(*) FROM lineitem
             |        WHERE NOT EXISTS (SELECT 1 FROM orders
             |                          WHERE o_orderkey = l_orderkey)) AS orphan_lines""".stripMargin)),

    // Snapshot table diff — the row-level companion to
    // q_fingerprint_table: a full outer join on the key compares row
    // FINGERPRINTS (not wide rows), classifying added / removed /
    // changed / unchanged in one pass. The "updated snapshot" is staged
    // deterministically (every orderkey%13==0 price bumped, %17==0
    // dropped), so the oracle reproduces the diff from expressions.
    // At scale both sides shuffle once on the key and the compare
    // moves 16-byte digests, never the payload.
    QueryDef("q_table_diff",
      (s, d) => {
        val base = orders(s, d).select(col("o_orderkey").as("k"),
          md5(concat_ws("|", col("o_custkey"), col("o_totalprice"))).as("fp"))
        val next = orders(s, d)
          .filter(col("o_orderkey") % 17 =!= 0)
          .select(col("o_orderkey").as("k"), col("o_custkey"),
            when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice")).as("o_totalprice"))
          .select(col("k"),
            md5(concat_ws("|", col("o_custkey"), col("o_totalprice"))).as("fp"))
        base.withColumnRenamed("fp", "fp_a")
          .join(next.withColumnRenamed("fp", "fp_b"), Seq("k"), "full_outer")
          .select(when(col("fp_a").isNull, "added")
            .when(col("fp_b").isNull, "removed")
            .when(col("fp_a") =!= col("fp_b"), "changed")
            .otherwise("unchanged").as("status"))
          .groupBy(col("status")).agg(count(lit(1)).as("n"))
          .orderBy(col("status"))
      },
      Some("""SELECT CASE WHEN o_orderkey % 17 = 0 THEN 'removed'
             |            WHEN o_orderkey % 13 = 0 THEN 'changed'
             |            ELSE 'unchanged' END AS status,
             |       CAST(COUNT(*) AS BIGINT) AS n
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Order-independent table fingerprint — cross-cluster data
    // reconciliation at 100 TB: after a migration/backfill, prove two
    // copies equal WITHOUT sorting either (a global sort is exactly
    // what you can't afford). Per-row digest = 60-bit slice of
    // md5 over type-normalized columns; the table fingerprint is its
    // SUM as DECIMAL(38,0) — commutative, mergeable, partition-layout-
    // independent. Emitted per returnflag partition so a mismatch
    // localizes. The hex→int path is pinned on both engines
    // (Spark conv(…,16,10), DuckDB CAST('0x…' AS BIGINT)).
    QueryDef("q_fingerprint_table",
      (s, d) => lineitem(s, d)
        .select(col("l_returnflag"),
          expr("""cast(conv(substr(md5(concat_ws('|',
                    l_orderkey, l_linenumber,
                    cast(l_quantity as bigint), l_returnflag)), 1, 15),
                  16, 10) as bigint)""").as("h"))
        .groupBy(col("l_returnflag"))
        // fp rendered as STRING: DECIMAL(38,0) exceeds float64's 53-bit
        // mantissa and degrades in the driver's pandas compare
        .agg(count(lit(1)).as("n"),
          sum(col("h").cast("decimal(38,0)")).cast("string").as("fp"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(CAST(SUM(CAST(CAST('0x' || substr(md5(concat_ws('|',
             |              l_orderkey, l_linenumber,
             |              CAST(l_quantity AS BIGINT), l_returnflag)), 1, 15)
             |            AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS fp
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // Contingency table with EXACT independence deviations: the
    // chi-square shape without the division — dev = o·n − r·c is the
    // numerator sign/magnitude of (observed − expected) in pure BIGINT
    // cross-multiplication, so no engine's float path touches it.
    // Row/col totals via window sums over the cell table (125 cells),
    // one shuffle for the cell counts.
    QueryDef("q_contingency",
      (s, d) => {
        val cells = customer(s, d)
          .groupBy(col("c_mktsegment").as("seg"),
            (col("c_nationkey") % 5).as("nb"))
          .agg(count(lit(1)).as("o"))
        val wAll = Window.partitionBy()
        cells
          .withColumn("r", sum(col("o")).over(Window.partitionBy(col("seg"))))
          .withColumn("c", sum(col("o")).over(Window.partitionBy(col("nb"))))
          .withColumn("n", sum(col("o")).over(wAll))
          .select(col("seg"), col("nb"), col("o"), col("r"), col("c"),
            (col("o") * col("n") - col("r") * col("c")).as("dev"))
          .orderBy(col("seg"), col("nb"))
      },
      Some("""WITH cells AS (
             |  SELECT c_mktsegment AS seg, c_nationkey % 5 AS nb,
             |         CAST(COUNT(*) AS BIGINT) AS o
             |  FROM customer GROUP BY 1, 2)
             |SELECT seg, nb, o,
             |       CAST(SUM(o) OVER (PARTITION BY seg) AS BIGINT) AS r,
             |       CAST(SUM(o) OVER (PARTITION BY nb) AS BIGINT) AS c,
             |       CAST(o * SUM(o) OVER () - SUM(o) OVER (PARTITION BY seg)
             |         * SUM(o) OVER (PARTITION BY nb) AS BIGINT) AS dev
             |FROM cells ORDER BY seg, nb""".stripMargin)),

    // Driver-lane quality gate for the approximate-percentile sketch
    // (the e_ann_recall pattern): percentile_approx's rank-error
    // guarantee is checked in RANK space — count(value <= approx)
    // must sit within n/accuracy (+1 for discreteness) of q·n. The
    // check holds for ANY valid sketch merge order, so the constant
    // all-true oracle is sound even though the sketch itself isn't
    // partition-deterministic; the exact ranks are integer counts.
    QueryDef("q_approx_quantile_gate",
      (s, d) => {
        val li = lineitem(s, d).select(col("l_extendedprice").as("v"))
        val approx = li.agg(expr(
          "percentile_approx(v, array(0.5D, 0.9D, 0.99D), 10000)").as("a"))
          .head().getSeq[Double](0)
        val n = li.count()
        val tol = n / 10000 + 1
        val checks = Seq(0.5, 0.9, 0.99).zip(approx).map { case (q, va) =>
          val rank = li.filter(col("v") <= va).count()
          (q, math.abs(rank - q * n) <= tol)
        }
        import s.implicits._
        checks.toDF("q", "within_bound").orderBy(col("q"))
      },
      Some("""SELECT CAST(0.5 AS DOUBLE) AS q, true AS within_bound
             |UNION ALL SELECT 0.9, true
             |UNION ALL SELECT 0.99, true ORDER BY q""".stripMargin)),

    // Interval-overlap join, asymmetric: per-(user, day) activity
    // intervals vs one generated "maintenance hour" interval per day.
    // The small side BROADCASTS and the day column is an equi-band, so
    // the range predicates are post-join filters on a banded join —
    // never an all-pairs product (a symmetric day-banded self-join here
    // would make 17M pairs at sf0.1: interval joins only scale when one
    // side is small or the bands bound occupancy; both facts measured
    // and the asymmetric shape chosen deliberately).
    QueryDef("q_interval_join",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"),
          to_date(col("ts")).as("day"), expr("unix_micros(ts)").as("t"))
        val iv = ev.groupBy(col("user_id"), col("day"))
          .agg(min(col("t")).as("a"), max(col("t")).as("b"))
        val win = ev.select(col("day")).distinct()
          .withColumn("w_start",
            expr("unix_micros(cast(day as timestamp)) + 79200000000"))
          .withColumn("w_end",
            expr("unix_micros(cast(day as timestamp)) + 82800000000"))
        iv.join(broadcast(win), Seq("day"))
          .filter(col("a") <= col("w_end") && col("w_start") <= col("b"))
          .groupBy(col("day"))
          .agg(countDistinct(col("user_id")).as("n_users"),
            count(lit(1)).as("n_iv"))
          .orderBy(col("day"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             |         epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
             |iv AS (
             |  SELECT user_id, day, MIN(t) AS a, MAX(t) AS b
             |  FROM ev GROUP BY user_id, day),
             |win AS (
             |  SELECT day,
             |         epoch_us(CAST(day AS TIMESTAMP)) + 79200000000 AS w_start,
             |         epoch_us(CAST(day AS TIMESTAMP)) + 82800000000 AS w_end
             |  FROM (SELECT DISTINCT day FROM ev))
             |SELECT iv.day AS day,
             |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             |       CAST(COUNT(*) AS BIGINT) AS n_iv
             |FROM iv JOIN win ON iv.day = win.day
             | AND iv.a <= win.w_end AND win.w_start <= iv.b
             |GROUP BY iv.day ORDER BY iv.day""".stripMargin)),

    // The same point-in-interval semantics as q_interval_join, but
    // through the CUSTOM BroadcastRangeJoin operator (logical node +
    // strategy + exec, plans/BroadcastRangeJoin.scala): a pure
    // inequality join that Spark would otherwise plan as
    // BroadcastNestedLoopJoin — O(points·intervals) predicate
    // evaluations — runs as sorted-broadcast + per-row binary search,
    // O(log m + hits). No equi-key anywhere: every event probes every
    // day's evening window by containment alone. The oracle is the
    // naive cross-join formulation — same rows, quadratic plan.
    QueryDef("q_broadcast_range_join",
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"), expr("unix_micros(ts)").as("t"))
        val win = events(s, d).select(to_date(col("ts")).as("day")).distinct()
          .withColumn("w_start",
            expr("unix_micros(cast(day as timestamp)) + 79200000000"))
          .withColumn("w_end",
            expr("unix_micros(cast(day as timestamp)) + 82800000000"))
        graft.operators.Joins.broadcastRangeJoin(ev, win, "t", "w_start", "w_end")
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("day"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
             |win AS (
             |  SELECT day,
             |         epoch_us(CAST(day AS TIMESTAMP)) + 79200000000 AS w_start,
             |         epoch_us(CAST(day AS TIMESTAMP)) + 82800000000 AS w_end
             |  FROM (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
             |        FROM events))
             |SELECT day, COUNT(*) AS n_events,
             |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM ev JOIN win ON ev.t >= win.w_start AND ev.t <= win.w_end
             |GROUP BY day ORDER BY day""".stripMargin)),

    // Schema DRIFT (type change), the evolution mergeSchema can't
    // handle: one producer wrote price as DOUBLE, a later deploy wrote
    // it as STRING — parquet mergeSchema throws on the conflict. The
    // ops-correct shape: read each batch with ITS OWN schema, cast to
    // the table CONTRACT, then union — per-batch normalization is
    // footer-cheap and the cast is codegen'd into the scan projection.
    // Batches are disjoint orderkey halves, so the contract aggregate
    // must reproduce the single-source oracle exactly (doubles survive
    // the string round-trip via shortest-repr formatting).
    QueryDef("q_schema_drift",
      (s, d) => {
        val dir = srcStage.computeIfAbsent(s"drift#$d", { _ =>
          val sd = java.nio.file.Files.createTempDirectory("graft_drift_").toString
          orders(s, d).filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), col("o_totalprice"))
            .write.mode("overwrite").parquet(s"$sd/v1")
          orders(s, d).filter(col("o_orderkey") % 2 === 1)
            .select(col("o_orderkey"), col("o_totalprice").cast("string").as("o_totalprice"))
            .write.mode("overwrite").parquet(s"$sd/v2")
          sd
        })
        val v1 = s.read.parquet(s"$dir/v1")
        val v2 = s.read.parquet(s"$dir/v2")
          .withColumn("o_totalprice", col("o_totalprice").cast("double"))
        v1.unionByName(v2)
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"),
            dsum("o_totalprice").as("price_sum"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
             |FROM orders""".stripMargin)),

    // Spark's NATIVE batch session_window operator (vs q_sessionize's
    // hand-rolled gaps-and-islands): the planner gets a first-class
    // session aggregation it can push partial merges into, and the
    // streaming twin (s_session_stats / s_session_timeout) shares the
    // semantics. Boundary convention pinned by the oracle: an event at
    // EXACTLY last_ts + gap starts a NEW session (session windows are
    // half-open [start, last+gap)), so the islands flag is `>=`, not
    // the `>` that q_sessionize's 30-minute-strict variant uses.
    QueryDef("q_session_window",
      (s, d) => events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_ev"))
        .select(col("user_id"),
          expr("unix_micros(sw.start)").as("s_start"),
          expr("unix_micros(sw.end)").as("s_end"), col("n_ev"))
        .orderBy(col("user_id"), col("s_start")),
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
             |flagged AS (
             |  SELECT user_id, t,
             |         CASE WHEN LAG(t) OVER w IS NULL
             |                   OR t - LAG(t) OVER w >= 1800000000 THEN 1
             |              ELSE 0 END AS new_s
             |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t)),
             |sids AS (
             |  SELECT user_id, t,
             |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM flagged)
             |SELECT user_id, MIN(t) AS s_start,
             |       MAX(t) + 1800000000 AS s_end,
             |       CAST(COUNT(*) AS BIGINT) AS n_ev
             |FROM sids GROUP BY user_id, sid
             |ORDER BY user_id, s_start""".stripMargin)),

    // Recursive CTE (Spark 4.1 WITH RECURSIVE): walk each customer's
    // first 4 orders in date order accumulating a RUNNING DECIMAL
    // PRODUCT of per-order retention factors — the one running
    // aggregate a window genuinely cannot express without log/exp
    // (banned here for cross-engine parity; there is no product()
    // aggregate). The factors are two-decimal constants, so the chained
    // DECIMAL multiplications stay exact at scale 16 on both engines —
    // no float drift by construction. Depth is bounded (rn <= 4) and
    // the successor step is one equi-join per iteration; unbounded
    // closure is NOT this tool — that's the large/small-star CC
    // operator with its O(log n) rounds.
    QueryDef("q_recursive_cte",
      (s, d) => {
        // Materialize the iteration-INVARIANT input before recursing:
        // Spark re-evaluates a CTE referenced from the recursive step
        // at EVERY iteration, so an inline seq would re-run the
        // row_number window over the full fact table once per iteration (measured
        // 4.1 s at sf0.1 — the slowest query in the bench). The
        // localCheckpoint pays the window ONCE and the step joins run over
        // the tiny rn<=4 slice; depth 4 keeps the per-iteration
        // driver-coordination cost (~0.35 s/round at local[32],
        // row-count-independent) in check.
        val seq = orders(s, d)
          // cohort cut BEFORE the window — the predicate pushes into
          // the parquet scan, so the row_number sort never sees 3/4 of
          // the fact table
          .filter(col("o_custkey") % 4 === 0)
          .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
            row_number().over(Window.partitionBy(col("o_custkey"))
              .orderBy(col("o_orderdate"), col("o_orderkey"))).as("rn"),
            when(col("o_orderpriority") === "1-URGENT", lit(BigDecimal("0.95")))
              .otherwise(lit(BigDecimal("0.99")))
              .cast("decimal(3,2)").as("f"))
          .filter(col("rn") <= 4)
          .localCheckpoint()
        seq.createOrReplaceTempView("seq_rc")
        s.sql(recursiveWalkSql("seq_rc"))
      },
      Some(s"""WITH RECURSIVE
              |seq AS (
              |  SELECT o_custkey AS ck, o_orderkey AS ok,
              |         ROW_NUMBER() OVER (PARTITION BY o_custkey
              |           ORDER BY o_orderdate, o_orderkey) AS rn,
              |         CAST(CASE WHEN o_orderpriority = '1-URGENT'
              |                   THEN 0.95 ELSE 0.99 END AS DECIMAL(3,2)) AS f
              |  FROM orders WHERE o_custkey % 4 = 0 QUALIFY rn <= 4),
              |${recursiveWalkBody()}""".stripMargin)))

  /** Recursive-walk SQL over a prepared `seq(ck, ok, rn, f)` relation —
    * the walk itself is identical on both engines; only the seq
    * preparation differs (materialized view on Spark, QUALIFY CTE on
    * DuckDB). */
  private def recursiveWalkSql(table: String): String =
    s"""WITH RECURSIVE
       |seq AS (SELECT * FROM $table),
       |${recursiveWalkBody()}""".stripMargin

  private def recursiveWalkBody(): String =
    """walk(ck, rn, acc) AS (
      |  SELECT ck, rn, CAST(f AS DECIMAL(30,16)) FROM seq WHERE rn = 1
      |  UNION ALL
      |  SELECT /*+ BROADCAST(s) */ s.ck, s.rn, CAST(w.acc * s.f AS DECIMAL(30,16))
      |  FROM walk w JOIN seq s ON s.ck = w.ck AND s.rn = w.rn + 1
      |  WHERE s.rn <= 4)
      |SELECT ck, CAST(rn AS BIGINT) AS rn, CAST(acc AS STRING) AS acc
      |FROM walk ORDER BY ck, rn""".stripMargin

  // ---------------------------------------------------------------------
  // All queries + lookup maps for SparkEntry
  // ---------------------------------------------------------------------

  def all: Seq[QueryDef] =
    variantQueries ++ relationalQueries ++ TextQueries.all ++
      SimilarityQueries.all ++ StreamingQueries.all ++ DedupQueries.all ++
      graft.operators.AnalyticsQueries.all ++ graft.operators.QualityQueries.all ++
      graft.operators.CurationQueries.all ++ graft.operators.TypedApiQueries.all ++
      graft.operators.PipelineQueries.all

  lazy val queryMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  lazy val oracleMap: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
