package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stage numbers Bench records per lane: three small lanes of
  * different shapes run back to back through one collector, and the
  * compact record's size over the full lane set. */
class LaneMetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  test("narrow, shuffling and streaming lanes each get their own numbers") {
    val metrics = LaneMetrics.register(spark)
    try {
      val (_, narrow) = metrics.measure("narrow") {
        noop(spark.range(0, 10000, 1, 4).select((col("id") * 2).as("x")))
      }
      assert(narrow.jobs >= 1 && narrow.tasks >= 4)
      assert(narrow.shuffleWriteBytes === 0L)
      assert(narrow.shuffleReadBytes === 0L)
      assert(narrow.batches === 0)

      val (_, shuffled) = metrics.measure("shuffled") {
        noop(spark.range(0, 10000, 1, 2).repartition(4)
          .groupBy((col("id") % 10).as("k")).count())
      }
      assert(shuffled.shuffleWriteBytes > 0L)
      assert(shuffled.shuffleReadBytes > 0L)
      assert(shuffled.stages >= 2)
      val top = shuffled.topStage.get
      assert(top.taskRunS <= shuffled.taskRunS)
      assert(shuffled.taskSkew >= 1.0)
      assert(shuffled.batches === 0)

      val dir = Files.createTempDirectory("graft_lane_metrics_")
      spark.range(0, 1000, 1, 2).select((col("id") % 7).as("k"))
        .write.mode("overwrite").parquet(dir.resolve("in").toString)
      val (_, streamed) = metrics.measure("streamed") {
        val q = spark.readStream.schema("k long").parquet(dir.resolve("in").toString)
          .groupBy(col("k")).count()
          .writeStream.outputMode("complete").format("memory")
          .queryName("lane_metrics_spec").start()
        try q.processAllAvailable() finally q.stop()
      }
      assert(streamed.batches >= 1)
      assert(streamed.durationMs.contains("addBatch"))
      assert(streamed.jobs >= 1 && streamed.shuffleWriteBytes > 0L,
        "the stream thread's jobs were not attributed by the lane's window")

      // nothing from the streaming lane leaks into a later narrow one
      val (_, after) = metrics.measure("after") {
        noop(spark.range(0, 100, 1, 1).select(col("id")))
      }
      assert(after.batches === 0 && after.durationMs.isEmpty)
      assert(after.shuffleWriteBytes === 0L)

      val json = shuffled.toJson
      Seq("\"jobs\":", "\"task_run_s\":", "\"planning_s\":", "\"shuffle_write_bytes\":",
        "\"task_skew\":", "\"top_stage\":{\"id\":").foreach(k => assert(json.contains(k), k))
      assert(!json.contains("\"batches\""))
      assert(streamed.toJson.contains("\"durationMs\":{"))
    } finally metrics.close()
  }

  test("a lane that throws leaves no job group behind") {
    val metrics = LaneMetrics.register(spark)
    try {
      intercept[RuntimeException](metrics.measure("throws")(throw new RuntimeException("x")))
      assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
    } finally metrics.close()
  }

  test("the compact record over every lane fits the 2,000-byte stdout tail") {
    val lane = LaneMetrics.Lane(jobs = 99, stages = 999, tasks = 99999, taskRunS = 99999.999,
      taskCpuS = 99999.999, gcS = 999.999, planningS = 99.999,
      shuffleWriteBytes = 999999999999L, shuffleReadBytes = 999999999999L,
      spillBytes = 999999999999L, taskSkew = 999.999, topStage = None, batches = 0,
      durationMs = Map.empty)
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 311)
    val results = names.map(n => n -> 123.456789012345)
    val rec = Bench.compactRecord(results, names.map(_ -> lane).toMap, failed = 311,
      sfDir = "/data/testdata/sf0.1", loadStart = "123.45,123.45,123.45",
      loadEnd = "123.45,123.45,123.45")
    assert(rec.getBytes("UTF-8").length <= 2000, s"${rec.length} bytes: $rec")
    assert(rec.contains("\"stage\":{\"fam_d\":{\"task_run_s\":"))
  }
}
