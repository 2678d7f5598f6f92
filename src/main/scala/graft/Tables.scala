package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders for the driver testdata (TESTDATA.md).
  *
  * `events.ts` is parquet TIMESTAMP(NANOS); Spark 4 reads it only as a
  * long (spark.sql.legacy.parquet.nanosAsLong) — `events()` converts to a
  * proper TimestampType column in micros.
  */
object Tables {
  def df(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = df(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = df(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = df(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = df(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = df(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = df(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = df(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = df(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = df(spark, dir, "embeddings")

  /** events with `ts` normalized to TimestampType (micros) — see
    * [[tsToTimestamp]]. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // defensive: the driver may hand us a session without our configs
    // (nanosAsLong is a runtime SQLConf, safe to set here)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tsToTimestamp(df(spark, dir, "events"))
  }

  /** Normalize an events-style `ts` column to TimestampType micros.
    * The testdata generator has shipped BOTH parquet physical types
    * across driver rounds: TIMESTAMP(NANOS) (which Spark 4 only reads
    * as a long under nanosAsLong) and TIMESTAMP(MICROS, NTZ). Handles
    * either, plus an already-normalized column (idempotent), for batch
    * and streaming frames alike.
    *
    * Nanos path uses integer division (DIV), not `/`: epoch nanos ≈
    * 1.7e18 exceed a double's 53-bit mantissa, so float division would
    * silently lose µs. NTZ path is an exact micros reinterpretation
    * under the UTC session timezone `configure` pins.
    */
  def tsToTimestamp(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    case org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    case _ => df
  }

  /** Session defaults every entry point should apply. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    // LocalFs: no forked chmod or readlink per local file
    .config("spark.hadoop.fs.file.impl", classOf[LocalFs.Checksummed].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs.Context].getName)
    // The generated-code cache defaults to 100 entries — fewer than this
    // library's query set compiles in one process, so any workload that
    // revisits queries (the bench's interleaved passes, a notebook, a
    // long-lived serving session) recompiles codegen units it just ran.
    // Static conf: must be set before the first session is created.
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    // Scan-split sizing (round 9, the brief's own guidance: "size
    // maxPartitionBytes so partitions fit executor memory at the
    // target SF"): the fixture tables are SINGLE parquet files, so the
    // default 128 MB split keeps every scan at sf1 (~110 MB lineitem)
    // a single task — a serialization artifact of the local fixture
    // layout, not of the plans (a real 10x table arrives in many
    // splits). 16 MB splits restore scan parallelism at sf1 while
    // leaving sf0.001-0.1 (files <= 11 MB) byte-identical: one split
    // either way.
    .config("spark.sql.files.maxPartitionBytes", "16m")
    // MEASURED AND REJECTED (r13, recorded in OPTIMIZATION_r13.md):
    // byte-based post-shuffle coalescing
    // (adaptive.coalescePartitions.parallelismFirst=false + 64m
    // advisory) and the global shuffled-hash-join preference
    // (join.preferSortMergeJoin=false + 64m localMapThreshold). The
    // coalescing saves only task-scheduling overhead (~0.1 s/lane at
    // bench SF) but serializes every CPU-heavy post-shuffle operator
    // whose bytes are small — the 11-lane window family regressed
    // +0.9..+2.7 s per lane in two independent experiments because the
    // window sort collapsed to one task. The asymmetry (cents saved,
    // seconds lost) holds at any scale where compute-per-byte is high,
    // so the default (parallelism-first) stays.
    // ObjectHashAggregate (the path every TypedImperativeAggregate
    // sketch takes: bitmap/count-min/bloom/KMV/top-k) falls back to
    // SORT-based aggregation after 128 distinct groups per partition —
    // a full per-partition sort that dwarfs the hash update for
    // day-grained sketch rollups (365 groups). Raise the fallback; the
    // sketch buffers are the memory cost either way.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
}
