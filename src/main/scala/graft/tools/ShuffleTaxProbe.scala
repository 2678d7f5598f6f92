package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{LaneMetrics, Tables}
import graft.functions.{VariantFunctions => vf}

/** VERDICT r6 item 5: measure the per-row-metadata shuffle tax.
  *
  * The reference dictionary-encodes ONE metadata buffer per batch
  * (arrow-open-variant/src/json.rs:51-63,165-170); this engine stores
  * per-row (metadata, value) structs (deliberate deviation, SURVEY
  * §7.3). On disk parquet's byte-dictionary encoding dedupes the
  * repeated metadata; the open question is SHUFFLE exchanges of
  * variant-carrying rows, where each row serializes its own copy —
  * blunted only by the shuffle codec's block compression.
  *
  * Measures ACTUAL shuffle bytes written (post-compression, the bytes a
  * 1000-executor cluster moves over the network) for a repartition of:
  *   A. the full variant struct (per-row metadata, today's layout)
  *   B. value bytes only (the floor a batch-shared dictionary reaches)
  *   C. the raw JSON string (what a user ships without variant at all)
  * plus the uncompressed column sizes for reference. Decision bar
  * (VERDICT): if A > 1.5× B, prototype a common-metadata rewrite before
  * wide shuffles; record go/no-go in README.
  *
  * Run: sbt "runMain graft.tools.ShuffleTaxProbe [sfDir]"
  */
object ShuffleTaxProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Tables.configure(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val metrics = LaneMetrics.register(spark)

    // events.props is the hot-schema corpus: every row shares the same
    // small key set — the exact case where per-row metadata repeats.
    val ev = Tables.events(spark, d)
      .select(col("user_id"), vf.variant_from_json(col("props")).as("v"),
        col("props"))
      .localCheckpoint() // pin inputs so each job shuffles identical rows

    val sizes = ev.agg(
      sum(length(col("v.metadata"))).as("meta"),
      sum(length(col("v.value"))).as("value"),
      sum(length(col("props"))).as("json"),
      count(lit(1)).as("rows")).head()
    val (metaB, valB, jsonB, rows) =
      (sizes.getLong(0), sizes.getLong(1), sizes.getLong(2), sizes.getLong(3))
    println(f"[shuffle-tax] rows=$rows uncompressed: metadata=${metaB / 1e6}%.1f MB " +
      f"value=${valB / 1e6}%.1f MB json=${jsonB / 1e6}%.1f MB " +
      f"(per-row metadata ${metaB.toDouble / rows}%.1f B)")

    def measure(label: String)(job: => Unit): (Long, Double) = {
      job // warm
      val (secs, lane) = metrics.measure(label)(job)
      val b = lane.shuffleWriteBytes
      println(f"[shuffle-tax] $label%-34s ${b / 1e6}%8.2f MB written  $secs%6.3f s")
      (b, secs)
    }

    val (a, _) = measure("A variant struct (per-row meta)") {
      ev.select(col("user_id"), col("v"))
        .repartition(32, col("user_id"))
        .write.mode("overwrite").format("noop").save()
    }
    val (b, _) = measure("B value bytes only (shared floor)") {
      ev.select(col("user_id"), col("v.value").as("value"))
        .repartition(32, col("user_id"))
        .write.mode("overwrite").format("noop").save()
    }
    val (c, _) = measure("C raw json string") {
      ev.select(col("user_id"), col("props"))
        .repartition(32, col("user_id"))
        .write.mode("overwrite").format("noop").save()
    }
    val ratio = a.toDouble / b
    println(f"[shuffle-tax] A/B ratio = $ratio%.3f  (bar: 1.5); A/C = ${a.toDouble / c}%.3f")
    println(if (ratio > 1.5)
      "[shuffle-tax] VERDICT: over bar — common-metadata rewrite warranted"
    else
      "[shuffle-tax] VERDICT: under bar — block compression absorbs the repeated dictionaries; no rewrite")

    // Scenario 2 — the verdict's actual worry: a HOT 50-KEY schema
    // whose dictionary repeats in every row (~400 B/row uncompressed).
    // 1M rows generated in place on 32 partitions, no source skew.
    val wideJson = concat(
      lit("{"),
      concat_ws(",", (0 until 50).map(k =>
        concat(lit(s""""key_field_$k": """), (col("id") * (k + 1)) % 997)): _*),
      lit("}"))
    val wide = spark.range(0, 1000000L, 1, 32)
      .select(col("id"), vf.variant_from_json(wideJson).as("v"))
      .localCheckpoint()
    val ws = wide.agg(
      sum(length(col("v.metadata"))).as("meta"),
      sum(length(col("v.value"))).as("value"), count(lit(1)).as("rows")).head()
    println(f"[shuffle-tax] wide50: rows=${ws.getLong(2)} uncompressed " +
      f"metadata=${ws.getLong(0) / 1e6}%.1f MB value=${ws.getLong(1) / 1e6}%.1f MB " +
      f"(per-row metadata ${ws.getLong(0).toDouble / ws.getLong(2)}%.1f B)")
    val (wa, _) = measure("wide50 A variant struct") {
      wide.repartition(32, col("id")).write.mode("overwrite").format("noop").save()
    }
    val (wb, _) = measure("wide50 B value bytes only") {
      wide.select(col("id"), col("v.value").as("value"))
        .repartition(32, col("id")).write.mode("overwrite").format("noop").save()
    }
    val wratio = wa.toDouble / wb
    println(f"[shuffle-tax] wide50 A/B ratio = $wratio%.3f  (bar: 1.5)")
    println(if (wratio > 1.5)
      "[shuffle-tax] wide50 VERDICT: over bar — common-metadata rewrite warranted"
    else
      "[shuffle-tax] wide50 VERDICT: under bar — no rewrite")
    spark.stop()
  }
}
