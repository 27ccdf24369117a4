package lakebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Times calls into the program from outside. Every call goes through
  * [[call]] or [[call2]]; untraced, they only read the clock around the
  * call. Traced, the instruments are on from construction: a
  * SparkListener, a QueryExecutionListener and the counting file system
  * ([[CountingFs]], set as `fs.file.impl` with the FileSystem cache off).
  * Each traced call also
  *  - waits for the listener bus to drain before and after, so Spark
  *    events of the call are counted on the call, not its neighbour;
  *  - records spans (call, and its build and exec phases) in memory,
  *    written by [[writeSpans]] at the end;
  *  - records the deltas of the layer counters: jobs, stages, tasks and
  *    task time from the SparkListener; analysis, optimization and
  *    planning time from each action's `QueryExecution.tracker`; rows
  *    output by file scans; Janino compilations; and storage calls and
  *    bytes from [[CountingFs]].
  * Drain waits happen outside the timed interval. [[bare]] runs a call
  * with every instrument off, so a traced run can time the same call
  * both ways and report what tracing costs.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  import Tracer._

  private val jobs, stages, tasks, qeCalls = new AtomicInteger
  private val taskNs, analysisMs, optimizationMs, planningMs, scanRows = new AtomicLong
  // Events are counted only for jobs, stages and SQL executions whose
  // start this listener saw: a call run bare may deliver its end events
  // after the instruments are back on.
  private val openJobs = ConcurrentHashMap.newKeySet[Int]()
  private val seenStages = ConcurrentHashMap.newKeySet[Int]()
  private val openSql = ConcurrentHashMap.newKeySet[Long]()
  @volatile private var onSinceMs = Long.MaxValue

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(seenStages.add)
      openJobs.add(e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (openJobs.remove(e.jobId)) jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (seenStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (seenStages.contains(e.stageId)) {
        tasks.incrementAndGet()
        if (e.taskInfo != null) taskNs.addAndGet(e.taskInfo.duration * 1000000L)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => openSql.add(s.executionId)
      case s: SparkListenerSQLExecutionEnd => openSql.remove(s.executionId)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = record(qe)
  }

  private val fsKeys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
  private val fsBefore = fsKeys.map(k => k -> Option(spark.sparkContext.hadoopConfiguration.get(k)))

  private def instrument(on: Boolean): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    if (on) {
      onSinceMs = System.currentTimeMillis()
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      hc.set("fs.file.impl", classOf[CountingFs].getName)
      hc.setBoolean("fs.file.impl.disable.cache", true)
    } else {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
      fsBefore.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
    }
  }

  if (traced) instrument(on = true)

  /** Runs `body` with every instrument off (listeners removed, stock
    * cached file system), then turns them back on. Untraced, just runs
    * `body`. */
  def bare[A](body: => A): A =
    if (!traced) body
    else {
      drain()
      instrument(on = false)
      try body finally instrument(on = true)
    }

  /** Actions whose phases all ended before the instruments last came on
    * belong to a bare call: not counted. */
  private def record(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.values.exists(_.endTimeMs >= onSinceMs)) {
      def ms(p: String): Long = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      analysisMs.addAndGet(ms("analysis"))
      optimizationMs.addAndGet(ms("optimization"))
      planningMs.addAndGet(ms("planning"))
      scanRows.addAndGet(scanOutputRows(qe.executedPlan))
    }
    qeCalls.incrementAndGet()
  }

  /** Blocks until every job and SQL execution the listener saw start has
    * ended and the counters hold still for three polls (2 s at most). */
  def drain(): Unit = {
    def sig = (jobs.get, tasks.get, qeCalls.get, openJobs.size, openSql.size)
    val deadline = System.nanoTime() + 2000000000L
    var last = sig
    var still = 0
    while (still < 3 && System.nanoTime() < deadline) {
      Thread.sleep(2L)
      val s = sig
      if (s == last && s._4 == 0 && s._5 == 0) still += 1
      else { still = 0; last = s }
    }
  }

  private def counters(): Array[Long] = Array(
    jobs.get.toLong, stages.get.toLong, tasks.get.toLong, taskNs.get,
    analysisMs.get, optimizationMs.get, planningMs.get, scanRows.get,
    compileCount(), org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  ) ++ CountingFs.snapshot()

  private val spans = ArrayBuffer.empty[Span]
  private var nextSpan = 0L
  private def span(name: String, parent: Long, t0: Long, t1: Long): Long = {
    nextSpan += 1
    spans += Span(nextSpan, parent, name, t0, t1)
    nextSpan
  }

  /** Per-call records of traced calls. */
  val calls: ArrayBuffer[Call] = ArrayBuffer.empty[Call]

  /** One call into the program: `fn` names the public function. */
  def call[A](fn: String, trace: Boolean = true)(body: => A): (A, Double) = {
    val (a, b, e) = call2(fn, trace)(())(_ => body)
    (a, b + e)
  }

  /** A call with a build phase (constructing the DataFrame) and an exec
    * phase (running it). Returns (result, build seconds, exec seconds). */
  def call2[D, A](fn: String, trace: Boolean = true)(build: => D)(exec: D => A)
      : (A, Double, Double) = {
    val on = traced && trace
    if (on) drain()
    val c0 = if (on) counters() else null
    val t0 = System.nanoTime()
    val d = build
    val t1 = System.nanoTime()
    val a = exec(d)
    val t2 = System.nanoTime()
    if (on) {
      drain()
      val c1 = counters()
      val id = span(fn, 0L, t0, t2)
      span("build", id, t0, t1)
      span("exec", id, t1, t2)
      calls += Call(fn, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        counterNames.indices.map(i => counterNames(i) -> (c1(i) - c0(i)).toDouble).toMap)
    }
    (a, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Spans as JSON lines: id, parent (0 = none), name, start and end in
    * nanoseconds of the JVM clock. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(s => Stats.obj(Seq("id" -> s.id.toString,
      "parent" -> s.parent.toString, "name" -> Stats.str(s.name),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Janino compilations so far in this JVM. */
  def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

  /** A traced call: build and exec seconds and the counter deltas. */
  final case class Call(fn: String, buildS: Double, execS: Double, d: Map[String, Double]) {
    def wallS: Double = buildS + execS
  }

  val counterNames: IndexedSeq[String] = IndexedSeq("jobs_n", "stages_n", "tasks_n",
    "task_ns", "analysis_ms", "optimization_ms", "planning_ms", "scan_rows",
    "compile_n", "compile_ns") ++ CountingFs.names.map("storage." + _)

  /** Rows output by the file scans of an executed plan, through adaptive
    * plans and their query stages. */
  def scanOutputRows(plan: SparkPlan): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case f: FileSourceScanExec =>
        f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case other => other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(plan)
  }
}
