package graft

import scala.collection.mutable.{ArrayBuffer, HashMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Where one lane's time and bytes went, read from Spark's public
  * listener events: jobs, stages and task metrics, each query
  * execution's planning phases, and streaming progress.
  *
  * [[measure]] runs a lane under a job group of its own, so every job
  * the lane's thread starts (broadcasts included, which inherit the
  * group) is the lane's. Jobs a streaming query's thread starts carry
  * the query's run id instead; those, the query executions and the
  * progress events carry no lane and are attributed by the lane's time
  * window. Lanes run one at a time, so the window is unambiguous.
  */
final class LaneMetrics private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import LaneMetrics._

  private final class StageTasks {
    val runMs = ArrayBuffer[Long]()
    var cpuNs, gcMs, spill, shuffleWrite, shuffleRead = 0L
  }
  private final case class Job(group: String, at: Long, stageIds: Seq[Int])

  // Filled on the listener bus threads, read and cleared by `measure`.
  private val jobs = ArrayBuffer[Job]()
  private val tasks = HashMap[Int, StageTasks]()
  private val planning = ArrayBuffer[(Long, Long)]() // (first phase start, phase ms)
  private val progress = ArrayBuffer[(Long, java.util.Map[String, java.lang.Long])]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
    synchronized(jobs += Job(group.getOrElse(""), e.time, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val s = tasks.getOrElseUpdate(e.stageId, new StageTasks)
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      planning += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val at = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
      LaneMetrics.this.synchronized(progress += ((at, e.progress.durationMs)))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Runs `body` as lane `name`: its wall seconds, and its numbers once
    * the listener bus has delivered every event queued while it ran.
    * Rethrows what `body` throws. */
  def measure(name: String)(body: => Unit): (Double, Lane) = {
    val sc = spark.sparkContext
    synchronized { jobs.clear(); tasks.clear(); planning.clear(); progress.clear() }
    val group = GroupPrefix + name
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally sc.clearJobGroup()
    val secs = (System.nanoTime() - t0) / 1e9
    val end = System.currentTimeMillis()
    Bridge.drainListenerBus(sc)
    (secs, synchronized(lane(group, start, end)))
  }

  private def lane(group: String, start: Long, end: Long): Lane = {
    def inWindow(t: Long) = t >= start && t <= end
    val mine = jobs.filter(j =>
      j.group == group || (!j.group.startsWith(GroupPrefix) && inWindow(j.at)))
    val stages = mine.flatMap(_.stageIds).distinct.flatMap(id => tasks.get(id).map(id -> _))
    val all = stages.map(_._2)
    val top = stages.maxByOption(_._2.runMs.sum)
    val batches = progress.collect { case (at, d) if inWindow(at) => d }
    val phaseMs = batches.flatMap(_.asScala.map { case (k, v) => k -> v.longValue })
      .groupMapReduce(_._1)(_._2)(_ + _)
    Lane(
      jobs = mine.size,
      stages = stages.size,
      tasks = all.map(_.runMs.size).sum,
      taskRunS = all.map(_.runMs.sum).sum / 1e3,
      taskCpuS = all.map(_.cpuNs).sum / 1e9,
      gcS = all.map(_.gcMs).sum / 1e3,
      planningS = planning.collect { case (at, ms) if inWindow(at) => ms }.sum / 1e3,
      shuffleWriteBytes = all.map(_.shuffleWrite).sum,
      shuffleReadBytes = all.map(_.shuffleRead).sum,
      spillBytes = all.map(_.spill).sum,
      taskSkew = top.map { case (_, s) => skew(s.runMs.toSeq) }.getOrElse(1.0),
      topStage = top.map { case (id, s) =>
        TopStage(id, s.runMs.sum / 1e3, s.shuffleWrite, s.shuffleRead) },
      batches = batches.size,
      durationMs = phaseMs)
  }

  /** Detaches the collector from the session. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }
}

object LaneMetrics {
  private val JobGroupKey = "spark.jobGroup.id"
  private val GroupPrefix = "graft-lane:"

  /** A collector attached to `spark`'s three listener buses. */
  def register(spark: SparkSession): LaneMetrics = {
    val m = new LaneMetrics(spark)
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    spark.streams.addListener(m.streams)
    m
  }

  /** Max ÷ median task run time. Spark reports run time in whole
    * milliseconds, so each is floored at 1 ms: a stage of sub-ms tasks
    * reads 1.0, not an undefined ratio. */
  private def skew(runMs: Seq[Long]): Double = {
    val xs = runMs.map(math.max(_, 1L)).sorted
    val n = xs.size
    val median = if (n % 2 == 1) xs(n / 2).toDouble else (xs(n / 2 - 1) + xs(n / 2)) / 2.0
    xs.last / median
  }

  def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** The heaviest stage of a lane, by summed task run time. */
  final case class TopStage(id: Int, taskRunS: Double, shuffleWriteBytes: Long,
                            shuffleReadBytes: Long) {
    def toJson: String =
      s"""{"id":$id,"task_run_s":${r3(taskRunS)},"shuffle_write_bytes":$shuffleWriteBytes,"shuffle_read_bytes":$shuffleReadBytes}"""
  }

  /** One lane's numbers. `batches` and `durationMs` (summed per
    * progress phase) are those of the lane's streaming queries. */
  final case class Lane(jobs: Int, stages: Int, tasks: Int, taskRunS: Double,
                        taskCpuS: Double, gcS: Double, planningS: Double,
                        shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
                        taskSkew: Double, topStage: Option[TopStage], batches: Int,
                        durationMs: Map[String, Long]) {
    def toJson: String = {
      val stream =
        if (batches == 0) ""
        else s""","batches":$batches,"durationMs":""" + durationMs.toSeq.sorted
          .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_run_s":${r3(taskRunS)},""" +
        s""""task_cpu_s":${r3(taskCpuS)},"gc_s":${r3(gcS)},"planning_s":${r3(planningS)},""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""spill_bytes":$spillBytes,"task_skew":${r3(taskSkew)},""" +
        s""""top_stage":${topStage.map(_.toJson).getOrElse("null")}$stream}"""
    }
  }
}
