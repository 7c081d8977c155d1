package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Work the engine did on behalf of one span. Events land on the innermost
  * span open when they happen: jobs through the span id carried as a local
  * property, query executions through the span open when the listener bus
  * delivers them (the bus is drained at every span boundary). */
final class Counters {
  var jobs, stages, tasks = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes, outputBytes = 0L
  var filesRead, rowsRead, lineitemScans, storeRowsRead = 0L
  var filesWritten, bytesWritten = 0L
  /** (launch, finish) wall-clock millis of every task. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    filesRead += o.filesRead; rowsRead += o.rowsRead
    lineitemScans += o.lineitemScans; storeRowsRead += o.storeRowsRead
    filesWritten += o.filesWritten; bytesWritten += o.bytesWritten
    taskSpans ++= o.taskSpans
  }
}

/** One timed interval: `op` groups the spans of one operation, `parent` is
  * the span that caused this one (0 for an operation's root). */
final case class Span(id: Long, op: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ns: Long = endNs - startNs
}

/** Span recorder around calls into the program's layers. Disabled, a span
  * is just the call; enabled, it tags the call's Spark jobs, drains the
  * listener bus on entry and exit, and keeps the span in memory. */
final class Tracer(spark: SparkSession, val enabled: Boolean,
                   storeRoots: () => Seq[String])
    extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.HashMap.empty[Long, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  /** Time the client thread spent waiting for the listener bus. */
  var drainNs = 0L
  @volatile private var current = 0L
  private var currentOp = 0L
  private var nextId = 1L

  if (enabled) {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def ctr(span: Long): Counters = synchronized {
    counters.getOrElseUpdate(span, new Counters)
  }

  /** Time one call as a span named `name`, a child of the open span. */
  def span[T](name: String)(f: => T): T = {
    if (!enabled) return f
    drain()
    val id = nextId; nextId += 1
    val parent = current
    val op = if (parent == 0L) id else currentOp
    val prevOp = currentOp
    currentOp = op
    current = id
    sc.setLocalProperty(Key, id.toString)
    val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    try f
    finally {
      drain()
      spans += Span(id, op, parent, name, s0, System.nanoTime(), m0,
        System.currentTimeMillis())
      current = parent
      currentOp = prevOp
      sc.setLocalProperty(Key, if (parent == 0L) null else parent.toString)
    }
  }

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    PerfbenchBus.drain(sc)
    drainNs += System.nanoTime() - t0
  }

  def close(): Unit = if (enabled) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .map(_.toLong).getOrElse(0L)
    synchronized { e.stageIds.foreach(s => stageSpan(s) = id) }
    ctr(id).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = synchronized(stageSpan.getOrElse(e.stageInfo.stageId, 0L))
    ctr(id).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = ctr(synchronized(stageSpan.getOrElse(e.stageId, 0L)))
    c.tasks += 1
    c.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val c = ctr(current)
    val ph = qe.tracker.phases
    c.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    c.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    c.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    val roots = storeRoots()
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      .foreach { s =>
        def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        val paths = s.relation.location.rootPaths.map(_.toString)
        c.filesRead += m("numFiles")
        c.rowsRead += m("numOutputRows")
        if (paths.exists(_.contains("lineitem"))) c.lineitemScans += 1
        if (paths.exists(p => roots.exists(r => p.contains(r))))
          c.storeRowsRead += m("numOutputRows")
      }
    collectWithSubqueries(qe.executedPlan) { case w: DataWritingCommandExec => w }
      .foreach { w =>
        def m(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
        c.filesWritten += m("numFiles")
        c.bytesWritten += m("numOutputBytes")
      }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  // ---- aggregation over recorded spans ------------------------------------

  private lazy val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Counters of `s` and every span below it. */
  def deep(s: Span): Counters = {
    val out = new Counters
    def go(x: Span): Unit = {
      counters.get(x.id).foreach(out.add)
      children.getOrElse(x.id, Nil).foreach(go)
    }
    go(s)
    out
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
    s.ns - Tracer.unionLength(kids, s.startNs, s.endNs)
  }

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** Wall millis of `s` during which no task of its own work was running. */
  def driverOnlyMs(s: Span): Long = {
    val covered = Tracer.unionLength(deep(s).taskSpans.toSeq, s.startMs, s.endMs)
    (s.endMs - s.startMs) - covered
  }

  /** Spans as JSON lines: name, start, end (ns, monotonic), parent, op. */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    s"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)}}"""
  }
}

object Tracer {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Layer metrics every workload reports from its traced phase: the Spark
  * engine's work per operation, summed over each operation's spans. */
object EngineLayers {
  def apply(tr: Tracer, ops: Int, cores: Int): Map[String, Double] = {
    val opSpans = tr.named("op")
    val c = new Counters
    opSpans.foreach(s => c.add(tr.deep(s)))
    val n = math.max(ops, 1).toDouble
    val wallMs = opSpans.map(s => (s.endMs - s.startMs).toDouble).sum
    val taskMs = c.taskSpans.map { case (a, b) => (b - a).toDouble }.sum
    Map(
      "spark.jobs" -> c.jobs / n,
      "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.analysis_ms" -> c.analysisMs / n,
      "spark.optimization_ms" -> c.optimizationMs / n,
      "spark.planning_ms" -> c.planningMs / n,
      "spark.driver_only_s" -> opSpans.map(tr.driverOnlyMs).sum / 1000.0 / n,
      "spark.busy_share" -> (if (wallMs > 0) taskMs / (cores * wallMs) else 0.0),
      "spark.executor_run_s" -> c.runMs / 1000.0 / n,
      "spark.executor_cpu_s" -> c.cpuNs / 1e9 / n,
      "spark.gc_s" -> c.gcMs / 1000.0 / n,
      "spark.shuffle_read_bytes" -> c.shuffleRead / n,
      "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
      "spark.spill_bytes" -> c.spill / n,
      "spark.input_bytes" -> c.inputBytes / n,
      "spark.output_bytes" -> c.outputBytes / n,
      "sources.files_read" -> c.filesRead / n,
      "sources.rows_read" -> c.rowsRead / n)
  }

  def meanMs(spans: Seq[Span]): Double =
    if (spans.isEmpty) 0.0 else spans.map(_.ns).sum / 1e6 / spans.length
}
