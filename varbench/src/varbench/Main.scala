package varbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Peak heap in use right after a GC, from the GC MXBean notifications. */
object Heap {
  @volatile var armed = false
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (armed && n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
      }, null, null)
    case _ => ()
  }
  /** Folds in the heap in use after the most recent GC, read from the
    * pools directly: a GC's notification arrives asynchronously and may
    * come after `armed` is cleared.
    */
  def sampleNow(): Unit = {
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => heapPools(p.getName)).flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    synchronized { peak = math.max(peak, used) }
  }
  def peakMb: Double = peak / 1048576.0
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      root: File, scratch: File, out: File, cores: Int, python: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("root")), new File(need("scratch")), new File(need("out")),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.getOrElse("python", "python3"))
  }
}

/** One timed op that passed its check. */
final case class Sample(name: String, seconds: Double, docs: Long)

/** Outcome of a measured phase. */
final class Phase {
  val rounds = ArrayBuffer[Seq[Sample]]()
  var attempted = 0L
  var failed = 0L
  def samples: Seq[Sample] = rounds.flatten.toSeq
  /** Per op kind: (docs per op, median seconds). */
  private def kinds: Seq[(Long, Double)] = samples.groupBy(_.name).values
    .map(xs => (xs.head.docs, Stats.median(xs.map(_.seconds)))).toSeq
  /** Throughput of one pass over the op mix, each kind at its median
    * latency: robust to a stray slow op, unlike a plain mean.
    */
  def opsPerS: Double = if (kinds.isEmpty) 0.0 else kinds.length / kinds.map(_._2).sum
  def docsPerS: Double = if (kinds.isEmpty) 0.0 else kinds.map(_._1).sum / kinds.map(_._2).sum
}

/** Share of CPU time the hypervisor gave to other guests, from the
  * `steal` column of `/proc/stat`.
  */
object Steal {
  def read(): (Long, Long) =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(new File("/proc/stat").toPath))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }
  def ratio(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

object Main {
  val SetupReps = 3
  val WarmRounds = 3

  def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(new File("/proc/loadavg").toPath)).trim
    catch { case _: java.io.IOException => "" }

  def session(a: Args, rep: Int): SparkSession = {
    val local = new File(a.scratch, s"spark-local-$rep")
    local.mkdirs()
    graft.Tables.configure(SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("varbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(a.scratch, "warehouse").getPath)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s"))
      .getOrCreate()
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Runs one op: time the action, then check the answer. A throw or a
    * wrong answer makes the op failed and it gets no time.
    */
  def runOp(op: Op, log: String => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    val res = try Right(op.run()) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val err = res match {
      case Left(e) => Some(s"threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
      case Right(r) =>
        try op.check(r) catch { case e: Throwable => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    err match {
      case Some(e) => log(s"FAILED ${op.name}: ${e.take(1000)}"); None
      case None => Some(secs)
    }
  }

  /** Hooks a traced phase uses to name and record each op. */
  trait OpHooks {
    def before(op: Op): Unit
    def after(op: Op, startNs: Long, endNs: Long): Unit
  }
  object NoHooks extends OpHooks {
    def before(op: Op): Unit = ()
    def after(op: Op, startNs: Long, endNs: Long): Unit = ()
  }

  /** Closed loop, one client: whole rounds of the op mix until the
    * budget is spent. `wholeRounds` workloads start a round only when
    * it is expected to end within the budget.
    */
  def measure(spark: SparkSession, w: Workload, budgetS: Double,
              log: String => Unit, hooks: OpHooks = NoHooks, rounds: Int = 1): Phase = {
    val p = new Phase
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def more = if (w.wholeRounds) elapsed * (p.rounds.length + 1) / p.rounds.length <= budgetS
               else elapsed < budgetS
    while (p.rounds.length < rounds || more) {
      val done = ArrayBuffer[Sample]()
      w.round(spark).foreach { op =>
        p.attempted += 1
        hooks.before(op)
        val s = System.nanoTime()
        runOp(op, log) match {
          case Some(secs) =>
            done += Sample(op.name, secs, op.docs)
            hooks.after(op, s, s + (secs * 1e9).toLong)
          case None => p.failed += 1
        }
      }
      p.rounds += done.toSeq
    }
    p
  }

  def main(argv: Array[String]): Unit = {
    val code = try { run(Args.parse(argv)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    // Spark can leave non-daemon threads behind; end the JVM explicitly
    System.exit(code)
  }

  def run(a: Args): Unit = {
    val log = (s: String) => System.err.println(s"[varbench] $s")
    val loadStart = loadavg()
    Heap.install()
    val tracer = new Tracer
    val runSpan = tracer.open(0, "run", "run")
    val w = Workload(a.workload, a.seed, a.cores, a.root, a.python)
    var spark: SparkSession = null
    try {
      // set-up, several times: fresh session, inputs generated from the
      // seed and staged; the last one is kept for the warm pass and ops
      val wlSpan = tracer.open(runSpan.id, "workload", a.workload)
      val reps = (1 to SetupReps).map { rep =>
        val t0 = System.nanoTime()
        if (spark != null) stopSession(spark)
        spark = session(a, rep)
        spark.sparkContext.setLogLevel("ERROR")
        val t1 = System.nanoTime()
        w.stage(spark, new File(a.scratch, s"data-$rep"))
        log(s"set-up $rep: session ${Json.fixed((t1 - t0) / 1e9, 3)} s, " +
          s"stage ${Json.fixed((System.nanoTime() - t1) / 1e9, 3)} s")
        (System.nanoTime() - t0) / 1e9
      }
      val tw = System.nanoTime()
      val warm = measure(spark, w, 0, s => log(s"warm pass: $s"), rounds = WarmRounds)
      val warmS = (System.nanoTime() - tw) / 1e9
      val setupS = Stats.median(reps) + warmS
      log(s"setup reps ${reps.map(Json.fixed(_, 3)).mkString(", ")} s, warm pass ${Json.fixed(warmS, 3)} s")

      val budget = if (a.trace) a.seconds / 2.0 else a.seconds.toDouble
      Heap.armed = true
      val steal0 = Steal.read()
      val main = measure(spark, w, budget, log)
      val steal = Steal.ratio(steal0, Steal.read())
      System.gc()
      Heap.sampleNow()
      Heap.armed = false
      log(s"${main.attempted} ops in ${main.rounds.length} rounds, ${main.failed} failed; median s per op: " +
        main.samples.groupBy(_.name).toSeq.sortBy(_._1)
          .map { case (n, xs) => s"$n ${Json.fixed(Stats.median(xs.map(_.seconds)), 3)}" }.mkString(", "))

      // drift markers: box load and the two control yardsticks
      val drift = ArrayBuffer[(String, String)]("loadavg_start" -> Json.str(loadStart),
        "steal_ratio" -> Json.num(steal),
        // the first set-up in a fresh JVM, which `setup_s` (a median) leaves out
        "setup_cold_s" -> Json.num(reps.head + warmS))
      val docs = w.probeDocs.take(5000)
      drift += "variant.spark_parse_ns_per_doc" -> Json.num(Probes.sparkParseNsPerDoc(docs, 300))
      locally {
        val (json, rows) = Probes.cachedJson(spark, docs, a.cores, docs.length)
        drift += "functions.builtin_parse_get_rows_per_s" ->
          Json.num(Probes.builtinParseGetRowsPerS(json, rows, w.probePaths.head))
        json.unpersist()
      }

      val (attempted, failed, metrics) =
        if (!a.trace) (main.attempted, main.failed, Seq(
          Metric("setup_s", setupS, "s"),
          Metric("ops_per_s", main.opsPerS, "1/s"),
          Metric("docs_per_s", main.docsPerS, "1/s"),
          Metric("latency_p50_s", Stats.percentile(main.samples.map(_.seconds), 0.5), "s"),
          // p75, not p90: a run holds 40-90 ops, and a percentile needs ten
          // samples beyond it
          Metric("latency_p75_s", Stats.percentile(main.samples.map(_.seconds), 0.75), "s"),
          Metric("stored_bytes_per_json_byte", w.storedBytesPerJsonByte, "ratio"),
          Metric("heap_peak_mb", Heap.peakMb, "MB")))
        else {
          val (traced, ms) = tracedHalf(a, spark, w, tracer, wlSpan.id, main, log)
          (main.attempted + traced.attempted, main.failed + traced.failed, ms)
        }
      wlSpan.close()
      runSpan.close()
      drift += "loadavg_end" -> Json.str(loadavg())
      drift += "warm_failed" -> warm.failed.toString
      if (a.trace) {
        val f = new File(a.out, s"trace-${a.workload}-seed${a.seed}.json")
        tracer.write(f)
        log(s"spans written to $f")
      }
      if (warm.failed > 0) log(s"${warm.failed} op(s) failed in the warm pass")
      println(Json.obj(Seq("drift" -> Json.obj(drift.toSeq))))
      println(Result(failed == 0 && warm.failed == 0 && main.samples.nonEmpty,
        math.max(1L, attempted), failed, metrics).toJson)
    } finally {
      w.close()
      if (spark != null) stopSession(spark)
    }
  }

  /** Second half of a traced run: the op mix again with Spark listeners
    * and spans on, then the layer probes. Returns the traced phase and
    * every per-layer metric.
    */
  def tracedHalf(a: Args, spark: SparkSession, w: Workload, tracer: Tracer, parent: Int,
                 untraced: Phase, log: String => Unit): (Phase, Seq[Metric]) = {
    val stages = new StageCollector
    val streams = new StreamCollector
    spark.sparkContext.addSparkListener(stages)
    spark.listenerManager.register(stages)
    spark.streams.addListener(streams)
    val windows = ArrayBuffer[OpWindow]()
    var seq = 0
    val hooks = new OpHooks {
      def before(op: Op): Unit = {
        seq += 1
        spark.sparkContext.setJobGroup(s"op-$seq", op.name, interruptOnCancel = false)
      }
      def after(op: Op, startNs: Long, endNs: Long): Unit = {
        val s = tracer.micros(startNs)
        val e = tracer.micros(endNs)
        windows += OpWindow(tracer.add(parent, "op", op.name, s, e), op.name, s"op-$seq", s, e, op.shredded)
      }
    }
    val traced = measure(spark, w, a.seconds / 2.0, log, hooks)
    spark.sparkContext.clearJobGroup()
    val (stageMetrics, flags) = StageMetrics(spark, stages, windows.toSeq, tracer, a.cores)
    spark.sparkContext.removeSparkListener(stages)
    spark.listenerManager.unregister(stages)
    val nStreamOps = windows.count(_.name.startsWith("s_"))
    spark.streams.removeListener(streams)

    val probe = tracer.open(parent, "probe", "probes")
    val variant = Probes.variant(w.probeDocs, w.probePaths.map(_._1), tracer, probe.id)
    val (functions, probePushed) =
      Probes.functions(spark, w.probeDocs, w.probePaths, a.cores, a.scratch, tracer, probe.id)
    // lane layer: the lanes workload's own samples, or one lane round on
    // seeded lane tables for the other workloads
    val (laneSamples, laneStreams, laneStreamOps) = w match {
      case _: Lanes => ((untraced.samples ++ traced.samples), streams, nStreamOps)
      case _ =>
        val lanes = new Lanes(a.seed, a.cores, a.root, a.python)
        try try {
          val span = tracer.open(probe.id, "probe", "lanes")
          lanes.stage(spark, new File(a.scratch, "lanes-probe"))
          val cold = measure(spark, lanes, 0, s => log(s"lane probe: $s"))
          val sc = new StreamCollector
          spark.streams.addListener(sc)
          val warmRound = measure(spark, lanes, 0, s => log(s"lane probe: $s"))
          spark.streams.removeListener(sc)
          span.close()
          // lane answers are checked too: their failures count in the record
          traced.attempted += cold.attempted + warmRound.attempted
          traced.failed += cold.failed + warmRound.failed
          (warmRound.samples, sc, warmRound.samples.count(_.name.startsWith("s_")))
        } catch {
          // e.g. no DuckDB for the oracle: every lane counts as failed
          case e: Exception =>
            log(s"lane probe failed: $e")
            traced.attempted += Lanes.Names.length
            traced.failed += Lanes.Names.length
            (Seq.empty[Sample], new StreamCollector, 0)
        } finally lanes.close()
    }
    probe.close()
    org.apache.spark.varbench.Bus.drain(spark.sparkContext)
    val lanes = Lanes.Names.map { n =>
      Metric(s"lane.${n}_s", Stats.median(laneSamples.filter(_.name == n).map(_.seconds)), "s")
    }
    import scala.jdk.CollectionConverters._
    val prog = laneStreams.progress.asScala.toSeq
    def phaseMs(k: String) = Stats.mean(prog.flatMap(_.get(k)).map(_.toDouble))
    val stream = Seq(
      Metric("stream.batches", prog.length.toDouble / math.max(1, laneStreamOps), "count"),
      Metric("stream.add_batch_ms", phaseMs("addBatch"), "ms"),
      Metric("stream.wal_commit_ms", phaseMs("walCommit"), "ms"),
      Metric("stream.trigger_ms", phaseMs("triggerExecution"), "ms"))
    val pushFlags = windows.zip(flags).filter(_._1.shredded).map(_._2._2) :+ probePushed
    val plans = Seq(
      Metric("functions.fused_plan_ratio", flags.count(_._1).toDouble / math.max(1, flags.length), "ratio"),
      Metric("functions.pushdown_plan_ratio", pushFlags.count(identity).toDouble / pushFlags.length, "ratio"))
    val self = tracer.selfSeconds
    val selfMetrics = Seq("op", "plan", "job", "stage", "task", "probe").map(l =>
      Metric(s"self.${l}_s", self.getOrElse(l, 0.0), "s"))
    val overhead = Metric("trace.ops_ratio",
      if (untraced.opsPerS > 0) traced.opsPerS / untraced.opsPerS else 0.0, "ratio")
    log(s"traced ${traced.attempted} ops, ${traced.failed} failed; " +
      s"ops/s traced/untraced ${Json.fixed(overhead.value, 3)}")
    (traced, variant ++ functions ++ plans ++ stageMetrics ++ lanes ++ stream ++ selfMetrics :+ overhead)
  }
}
