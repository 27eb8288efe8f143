package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one JVM. It executes the operation plan that
  * `run.py` derived from the workload seed, against graft's public entry
  * points only: `SparkEntry.queries(name)(spark, dir)`, the `noop` save
  * of the returned frame, and the `OlapQueries.mvBenchSetups` hooks with
  * their teardowns.
  *
  * Plan lines are `pass<TAB>kind<TAB>name<TAB>role`. Passes below 0 are
  * the waves of the untimed warm-up/verification: each query result is
  * written as parquet to `--verify`/w<wave>/<name> for the oracle
  * compare. A wave's operations run `--cores` at a time; waves run -1
  * first, then -2, ... Every timed pass of the plan then runs, in order,
  * one operation at a time (a closed loop with one client). The plan
  * fixes the number of passes; the clock never does.
  *
  * With `--trace 1` it attaches a SparkListener and a
  * QueryExecutionListener, keeps one span per operation and per Spark
  * job, and writes them once at the end as Chrome trace-event JSON.
  * Without it the run carries only timers and MXBeans.
  *
  * Usage: Harness --workload W --plan F --data D --out F --verify D
  *   --trace 0|1 --cores N [--trace-out F]
  */
object Harness {

  final case class Op(pass: Int, kind: String, name: String, role: String)

  /** Local property naming the span a Spark job runs under. */
  val SpanProp = "perfbench.span"

  private val runtimeBean = ManagementFactory.getRuntimeMXBean
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val t0Nanos = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000L

  /** Wall clock in epoch µs, monotonic within the run. */
  def nowUs(): Long = t0EpochUs + (System.nanoTime() - t0Nanos) / 1000L

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val dataDir = opts("data")
    val traced = opts("trace") == "1"
    val verifyDir = opts("verify")
    val cores = opts("cores").toInt
    val plan = Files.readAllLines(Paths.get(opts("plan"))).asScala
      .filter(_.nonEmpty).map { l =>
        val Array(p, k, n, r) = l.split("\t")
        Op(p.toInt, k, n, r)
      }.toSeq

    val spark = graft.GraftSession.builder(cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.Summaries.clear()

    val meter = if (traced) Some(new Meter) else None
    meter.foreach { m =>
      spark.sparkContext.addSparkListener(m)
      spark.listenerManager.register(m)
    }
    val spans = mutable.ArrayBuffer.empty[Span]
    val teardowns = mutable.Map.empty[String, () => Unit]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val mvSetups = graft.operators.OlapQueries.mvBenchSetups

    def drain(): Unit =
      if (traced) GraftColumnBridge.drainListenerBus(spark, 30000L)

    /** Runs `body` as a child span of `parent`; jobs it starts on this
      * thread carry the child's id. */
    def phase[T](parent: String, name: String, warm: Boolean)(body: => T): T = {
      val id = s"$parent/$name"
      spark.sparkContext.setLocalProperty(SpanProp, id)
      val start = nowUs()
      try body
      finally {
        spark.sparkContext.setLocalProperty(SpanProp, null)
        if (traced && !warm)
          spans += Span(id, parent, name, "phase", start, nowUs())
      }
    }

    /** One operation; returns its record. A warm-up operation writes its
      * result for the oracle compare instead of saving to `noop`; it may
      * run beside other warm-up operations, so it keeps no spans or
      * counters and leaves the cache to the end of its wave. */
    def runOp(op: Op, seq: Int, warm: Boolean): Map[String, Any] = {
      val id = s"$workload/p${op.pass}/s$seq"
      if (!warm) {
        // events of earlier work (the control job, async cleanups) must
        // not be counted against this operation
        drain()
        meter.foreach(_.takeCounters())
      }
      val start = nowUs()
      var buildUs = 0L
      var error: Option[Throwable] = None
      try op.kind match {
        case "query" =>
          val df = phase(id, "operators.build", warm) {
            graft.SparkEntry.queries(op.name)(spark, dataDir)
          }
          buildUs = nowUs() - start
          phase(id, "exec.run", warm) {
            if (warm)
              df.coalesce(1).write.mode("overwrite")
                .parquet(s"$verifyDir/w${-op.pass}/${op.name}")
            else df.write.format("noop").mode("overwrite").save()
          }
        case "setup" =>
          val td = phase(id, "plans.summary_setup", warm) {
            mvSetups(op.name)(spark, dataDir)
          }
          teardowns.synchronized(teardowns(op.name) = td)
        case "teardown" =>
          phase(id, "plans.summary_drop", warm) {
            teardowns.synchronized(teardowns.remove(op.name)).foreach(_())
          }
      } catch {
        case t: Throwable => error = Some(t)
      }
      val end = nowUs()
      if (!warm) spark.catalog.clearCache()
      error.foreach(t => failures.synchronized(failures += failure(op, t)))
      val counters = if (warm) Map.empty else {
        if (traced) spans += Span(id, "", op.name, "op", start, end)
        drain()
        meter.map(_.takeCounters()).getOrElse(Map.empty)
      }
      Map("pass" -> op.pass, "seq" -> seq, "kind" -> op.kind,
        "name" -> op.name, "role" -> op.role, "id" -> id,
        "build_s" -> buildUs / 1e6, "latency_s" -> (end - start) / 1e6,
        "ok" -> error.isEmpty, "counters" -> counters)
    }

    // graft.Bench's data-free control kernel: it measures the machine,
    // not the engine, so a slow phase of a shared box shows beside the
    // numbers
    def control(): Double = {
      import org.apache.spark.sql.functions.{col, shiftright, sum, xxhash64}
      val t = System.nanoTime()
      spark.range(0L, 100000000L, 1L, cores)
        .select(sum(shiftright(xxhash64(col("id")), 32)))
        .collect()
      (System.nanoTime() - t) / 1e9
    }

    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try plan.zipWithIndex.filter(_._1.pass < 0).groupBy(_._1.pass).toSeq
      .sortBy(-_._1).foreach { case (_, wave) =>
        records ++= wave.map { case (op, i) =>
          pool.submit(new java.util.concurrent.Callable[Map[String, Any]] {
            def call(): Map[String, Any] = runOp(op, i, warm = true)
          })
        }.map(_.get())
        spark.catalog.clearCache()
      }
    finally pool.shutdown()
    // let the JIT compile what the warm-up made hot (up to 5 s), so the
    // first timed pass does not pay for that backlog
    var compiled = jit.getTotalCompilationTime
    var idle = false
    for (_ <- 1 to 20 if !idle) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      idle = now - compiled < 100
      compiled = now
    }
    drain()
    meter.foreach(_.takeCounters())
    val setupS = (System.currentTimeMillis() - runtimeBean.getStartTime) / 1e3
    control() // the control's own codegen, uncounted
    val controlBefore = control()

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val byPass = plan.filter(_.pass >= 0).groupBy(_.pass).toSeq.sortBy(_._1)
    byPass.foreach { case (p, ops) =>
      val wall0 = System.nanoTime()
      val cpu0 = osBean.getProcessCpuTime
      val gc0 = gcMs()
      val jit0 = jit.getTotalCompilationTime
      ops.zipWithIndex.foreach { case (op, i) =>
        records += runOp(op, i, warm = false)
      }
      passes += Map("pass" -> p,
        "wall_s" -> (System.nanoTime() - wall0) / 1e9,
        "cpu_s" -> (osBean.getProcessCpuTime - cpu0) / 1e9,
        "gc_ms" -> (gcMs() - gc0),
        "jit_ms" -> (jit.getTotalCompilationTime - jit0))
    }

    val controlAfter = control()
    // leftover summaries (a failed pass) must not outlive the run
    teardowns.values.foreach(td => try td() catch { case _: Throwable => () })
    // full collections with pauses between them, so references the
    // ContextCleaner releases after one collection are gone by the next
    GraftColumnBridge.drainListenerBus(spark, 30000L)
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)

    opts.get("trace-out").filter(_ => traced).foreach { path =>
      val all = spans ++ meter.map(_.jobSpans()).getOrElse(Nil)
      Files.write(Paths.get(path),
        chromeTrace(all.toSeq).getBytes(StandardCharsets.UTF_8))
    }
    val result = Map(
      "workload" -> workload, "traced" -> traced, "setup_s" -> setupS,
      "control_s" -> Seq(controlBefore, controlAfter),
      "retained_heap_mb" -> heapMb, "passes" -> passes.toSeq,
      "ops" -> records.toSeq, "failures" -> failures.toSeq,
      "oracle_sql" -> plan.filter(_.kind == "query").map(_.name).distinct
        .map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap)
    Files.write(Paths.get(opts("out")),
      json.writeValueAsBytes(result))
    spark.stop()
  }

  def failure(op: Op, t: Throwable): Map[String, Any] = {
    var root = t
    while (root.getCause != null && root.getCause != root) root = root.getCause
    Map("name" -> op.name, "kind" -> op.kind, "pass" -> op.pass,
      "exception" -> t.getClass.getName,
      "message" -> String.valueOf(t.getMessage).take(2000),
      "root_exception" -> root.getClass.getName,
      "root_message" -> String.valueOf(root.getMessage).take(2000),
      "frames" -> t.getStackTrace.take(12).map(_.toString).toSeq)
  }

  final case class Span(id: String, parent: String, name: String,
      cat: String, startUs: Long, endUs: Long)

  /** Chrome trace-event JSON: complete events (`ph:"X"`) with µs `ts` and
    * `dur`, the span id and its parent's id in `args`. */
  def chromeTrace(spans: Seq[Span]): String = {
    val events = spans.sortBy(s => (s.startUs, s.id)).map { s =>
      Map("ph" -> "X", "cat" -> s.cat, "name" -> s.name, "pid" -> 0,
        "tid" -> 0, "ts" -> s.startUs, "dur" -> (s.endUs - s.startUs),
        "args" -> Map("id" -> s.id, "parent" -> s.parent))
    }
    json.writeValueAsString(
      Map("traceEvents" -> events, "displayTimeUnit" -> "ms"))
  }

  /** Scans of graft's summary catalog in an executed plan. */
  def scansSummary(plan: SparkPlan): Boolean = {
    def walk(n: SparkPlan): Seq[SparkPlan] = n +: (n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => n.children.flatMap(walk)
    })
    walk(plan).exists {
      case f: FileSourceScanExec => f.relation.location.rootPaths
        .exists(_.toUri.getPath.contains("spark-warehouse/graft_summaries"))
      case _ => false
    }
  }

  /** The traced run's listeners. Counters accumulate per operation and
    * are taken (and reset) once the listener bus has drained. */
  final class Meter extends SparkListener with QueryExecutionListener {
    private val counters = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private val jobStarts = mutable.Map.empty[Int, (Long, String)]
    private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
    private val jobs = mutable.ArrayBuffer.empty[Span]

    private def add(k: String, v: Long): Unit = synchronized { counters(k) += v }

    def takeCounters(): Map[String, Long] = synchronized {
      val out = counters.toMap
      counters.clear()
      out
    }

    def jobSpans(): Seq[Span] = synchronized(jobs.toSeq)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProp))).getOrElse("")
      synchronized { jobStarts(e.jobId) = (e.time, parent) }
      add("jobs", 1)
      if (parent.endsWith("/operators.build")) add("build_jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t, parent) =>
        jobs += Span(s"job${e.jobId}", parent, s"job ${e.jobId}", "job",
          t * 1000L, math.max(t, e.time) * 1000L)
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val s = e.stageInfo
        stageSubmit((s.stageId, s.attemptNumber())) =
          s.submissionTime.getOrElse(System.currentTimeMillis())
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("stages", 1)
      synchronized {
        stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val submitted = synchronized(
        stageSubmit.get((e.stageId, e.stageAttemptId)))
      submitted.foreach(s => add("task_wait_ms",
        math.max(0L, e.taskInfo.launchTime - s)))
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("task_gc_ms", m.jvmGCTime)
        add("shuffle_bytes",
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("rows_read", m.inputMetrics.recordsRead)
        add("bytes_read", m.inputMetrics.bytesRead)
        add("bytes_written", m.outputMetrics.bytesWritten)
      }
    }

    private def phases(qe: QueryExecution): Unit = {
      add("query_executions", 1)
      qe.tracker.phases.foreach { case (p, s) => add(s"${p}_ms", s.durationMs) }
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      phases(qe)
      if (scansSummary(qe.executedPlan)) add("summary_scans", 1)
    }

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = phases(qe)
  }
}
