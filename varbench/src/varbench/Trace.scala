package varbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch microseconds. */
final case class Span(id: Int, parent: Int, layer: String, name: String, start: Long, end: Long) {
  def toJson: String = Json.obj(Seq("id" -> id.toString, "parent" -> parent.toString,
    "layer" -> Json.str(layer), "name" -> Json.str(name),
    "start_us" -> start.toString, "end_us" -> end.toString))
}

/** Span store. Spans timed in this JVM use `nanoTime`, placed on the
  * epoch clock Spark's listener events use.
  */
final class Tracer {
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000
  private val spans = ArrayBuffer[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  def nowMicros: Long = micros(System.nanoTime())
  def micros(nanoTime: Long): Long = baseMicros + (nanoTime - baseNanos) / 1000

  def add(parent: Int, layer: String, name: String, start: Long, end: Long): Int = {
    val id = ids.incrementAndGet()
    synchronized(spans += Span(id, parent, layer, name, start, math.max(start, end)))
    id
  }

  /** A span opened now: its id is known at once, `close()` records it. */
  final class Open(val id: Int, parent: Int, layer: String, name: String) {
    private val start = nowMicros
    def close(): Unit = synchronized(spans += Span(id, parent, layer, name, start, nowMicros))
  }
  def open(parent: Int, layer: String, name: String): Open =
    new Open(ids.incrementAndGet(), parent, layer, name)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer in seconds: each span's length minus the union
    * of its children's intervals.
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curS = -1L
        var curE = -1L
        cs.foreach { case (a, b) =>
          if (a > curE) { covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        covered += curE - curS
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }

  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(Json.arr(all.map(_.toJson))) finally w.close()
  }
}

/** Raw Spark events of one run, collected through the public listener
  * APIs and attributed to ops afterwards by job group or, for jobs a
  * streaming query thread starts, by time window.
  */
final class StageCollector extends SparkListener with QueryExecutionListener {
  final case class JobEv(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  final case class TaskEv(stage: Int, launch: Long, finish: Long, run: Long, cpuNs: Long,
                          gc: Long, spill: Long, shufW: Long, shufR: Long, in: Long, out: Long)
  final case class QeEv(at: Long, phasesMs: Map[String, (Long, Long)], fused: Boolean,
                        pushdown: Boolean)
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobEv]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskEv]()
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeEv]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobEv]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = JobEv(e.jobId, g, e.time * 1000, e.time * 1000, e.stageIds)
    jobById.put(e.jobId, j)
    jobs.add(j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.end = e.time * 1000)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.put(i.stageId, (i.submissionTime.getOrElse(0L) * 1000, i.completionTime.getOrElse(0L) * 1000))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskEv(e.stageId, e.taskInfo.launchTime * 1000, e.taskInfo.finishTime * 1000,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    // the listener runs later on the bus thread; place the query at the
    // start of its first planning phase, which lies inside its op
    val at = if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000
             else phases.values.map(_._1).min
    qes.add(QeEv(at * 1000, phases, Plans.fused(qe), Plans.readsShredded(qe)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Streaming progress phases from the public listener. */
final class StreamCollector extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    val m = scala.collection.mutable.Map[String, Long]()
    d.forEach((k, v) => m(k) = v.longValue)
    progress.add(m.toMap)
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Plan inspections shared by the tracer and the function probes. */
object Plans {
  /** The optimized plan holds one of the fused parse+extract nodes. */
  def fused(qe: QueryExecution): Boolean =
    try qe.optimizedPlan.exists(_.expressions.exists(_.exists(e =>
      e.getClass.getName.startsWith("graft.functions.Json"))))
    catch { case _: Exception => false }

  /** A file scan in the physical plan reads a column that `Shred` marked
    * as a shredded copy of a variant path.
    */
  def readsShredded(qe: QueryExecution): Boolean =
    try {
      val marked = qe.optimizedPlan.collectLeaves().flatMap(_.output)
        .filter(_.metadata.contains(graft.operators.Shred.SHRED_PATH_KEY)).map(_.name).toSet
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Set[String]] = p.flatMap {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s.requiredSchema.fieldNames.toSet)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
        case _ => Nil
      }
      marked.nonEmpty && scans(qe.executedPlan).exists(_.exists(marked))
    } catch { case _: Exception => false }
}

/** One measured op as the tracer saw it. */
final case class OpWindow(span: Int, name: String, group: String, start: Long, end: Long,
                          shredded: Boolean)

/** Turns collected events into `stage.*` metrics, per op, and adds the
  * job → stage → task and plan-phase spans under each op.
  */
object StageMetrics {
  def apply(spark: SparkSession, c: StageCollector, ops: Seq[OpWindow], tracer: Tracer,
            cores: Int): (Seq[Metric], Seq[(Boolean, Boolean)]) = {
    org.apache.spark.varbench.Bus.drain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    val jobs = c.jobs.asScala.toSeq
    val tasks = c.tasks.asScala.toSeq.groupBy(_.stage)
    val qes = c.qes.asScala.toSeq
    def owner(group: String, t: Long): Option[OpWindow] =
      ops.find(o => o.group == group).orElse(ops.find(o => t >= o.start && t <= o.end))
    val perOp = ops.map(o => o -> ArrayBuffer[c.JobEv]()).toMap
    jobs.foreach(j => owner(j.group, j.start).foreach(o => perOp(o) += j))
    val n = math.max(1, ops.length).toDouble
    var planning = 0.0
    var nStages = 0
    var nTasks = 0
    var overhead, run, cpu, gc, spill, sw, sr, in, out = 0.0
    val skews = ArrayBuffer[Double]()
    val planFlags = ArrayBuffer[(Boolean, Boolean)]()
    ops.foreach { o =>
      val mine = qes.filter(q => q.at >= o.start - 1000 && q.at <= o.end)
      mine.foreach { q =>
        q.phasesMs.foreach { case (ph, (s, e)) =>
          planning += (e - s) / 1000.0
          tracer.add(o.span, "plan", s"plan.$ph", s * 1000, e * 1000)
        }
      }
      planFlags += ((mine.exists(_.fused), !o.shredded || mine.exists(_.pushdown)))
      perOp(o).foreach { j =>
        val js = tracer.add(o.span, "job", s"job.${j.id}", j.start, j.end)
        j.stages.foreach { sid =>
          val ts = tasks.getOrElse(sid, Nil)
          if (ts.nonEmpty || c.stages.containsKey(sid)) {
            nStages += 1
            val (ss, se) = Option(c.stages.get(sid)).getOrElse((ts.map(_.launch).min, ts.map(_.finish).max))
            val st = tracer.add(js, "stage", s"stage.$sid", ss, se)
            ts.foreach { t =>
              nTasks += 1
              tracer.add(st, "task", s"task.$sid", t.launch, t.finish)
              overhead += math.max(0L, (t.finish - t.launch) / 1000 - t.run) / 1000.0
              run += t.run / 1000.0
              cpu += t.cpuNs / 1e9
              gc += t.gc / 1000.0
              spill += t.spill
              sw += t.shufW
              sr += t.shufR
              in += t.in
              out += t.out
            }
            if (ts.length >= 2) {
              val runs = ts.map(_.run.toDouble)
              val med = Stats.median(runs)
              if (med > 0) skews += runs.max / med
            }
          }
        }
      }
    }
    val wall = ops.map(o => (o.end - o.start) / 1e6).sum
    val metrics = Seq(
      Metric("stage.planning_s", planning / n, "s"),
      Metric("stage.jobs", perOp.values.map(_.length).sum / n, "count"),
      Metric("stage.stages", nStages / n, "count"),
      Metric("stage.tasks", nTasks / n, "count"),
      Metric("stage.task_overhead_s", overhead / n, "s"),
      Metric("stage.task_run_s", run / n, "s"),
      Metric("stage.task_cpu_s", cpu / n, "s"),
      Metric("stage.gc_s", gc / n, "s"),
      Metric("stage.spill_bytes", spill / n, "bytes"),
      Metric("stage.task_skew", if (skews.isEmpty) 1.0 else Stats.median(skews.toSeq), "ratio"),
      Metric("stage.shuffle_write_bytes", sw / n, "bytes"),
      Metric("stage.shuffle_read_bytes", sr / n, "bytes"),
      Metric("stage.input_bytes", in / n, "bytes"),
      Metric("stage.output_bytes", out / n, "bytes"),
      Metric("stage.core_busy_ratio", if (wall > 0) run / (wall * cores) else 0.0, "ratio"))
    (metrics, planFlags.toSeq)
  }
}
