package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted by the Spark listeners, summed over an interval. */
final class Counters {
  var jobs, stages, tasks, runMs, cpuNs, gcMs = 0L
  var shuffleWriteBytes, spillBytes, bytesRead, queries = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var traceNs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    bytesRead += o.bytesRead; queries += o.queries
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    traceNs += o.traceNs
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_run_s" -> runMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "bytes_read" -> bytesRead, "queries" -> queries,
    "analysis_s" -> analysisMs / 1e3, "optimization_s" -> optimizationMs / 1e3,
    "planning_s" -> planningMs / 1e3, "trace_s" -> traceNs / 1e9)
}

/** One traced interval around a call into a layer. */
final case class Span(
    id: Int, name: String, parent: Int, op: Int, phase: String,
    startNs: Long, endNs: Long, self: Counters) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the program, plus a Spark
  * listener and a query-execution listener registered from here.
  *
  * Attribution: the benchmark is one closed-loop client, so a span
  * owns every job, stage and query execution that ran between its
  * start and end. At each span boundary the tracer waits for the
  * listener bus to deliver everything posted so far and assigns the
  * delivered work to the innermost open span (its "self" counters).
  * This also covers jobs the program submits from its own thread
  * pools, which a thread-local job group would miss.
  *
  * With `enabled` false a span is just the call: no draining, no
  * records. Untraced runs (`listen` false) only count completed stages,
  * read outside the timers; the span counters and the query-execution
  * listener exist in traced runs alone. The time spent draining at span
  * boundaries is counted (`trace_s`), which is the tracing overhead a
  * traced run adds to its ops.
  */
final class Tracer(spark: SparkSession, listen: Boolean) {
  @volatile var enabled = false
  private val pending = new ConcurrentLinkedQueue[Counters]
  /** Stages completed so far, counted in every run (untraced too). */
  val stagesDone = new java.util.concurrent.atomic.AtomicLong
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Int, String, Long, Counters)]
  private var nextId = 0

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (listen) { val c = new Counters; c.jobs = 1; pending.add(c) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stagesDone.incrementAndGet()
      if (listen) pending.add(stageCounters(e))
    }
  })

  private def stageCounters(e: SparkListenerStageCompleted): Counters = {
      val c = new Counters
      val i = e.stageInfo
      c.stages = 1
      c.tasks = i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        c.runMs = m.executorRunTime
        c.cpuNs = m.executorCpuTime
        c.gcMs = m.jvmGCTime
        c.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
        c.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesRead = m.inputMetrics.bytesRead
      }
      c
  }

  if (listen) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = new Counters
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      c.queries = 1
      c.analysisMs = ms("analysis")
      c.optimizationMs = ms("optimization")
      c.planningMs = ms("planning")
      pending.add(c)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Deliver every posted event and return what arrived since the last harvest. */
  def harvest(): Counters = {
    val t = System.nanoTime()
    PerfbenchBus.drain(spark.sparkContext)
    val c = new Counters
    var e = pending.poll()
    while (e != null) { c.add(e); e = pending.poll() }
    c.traceNs = System.nanoTime() - t
    c
  }

  /** Run `body` as a span. A nested span inherits its parent's op id
    * and phase unless given its own.
    */
  def span[T](name: String, op: Int = -1, phase: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val before = harvest()
      stack.headOption.foreach(_._6.add(before))
      val id = nextId
      nextId += 1
      val top = stack.headOption
      val parent = top.map(_._1).getOrElse(-1)
      val opId = if (op >= 0) op else top.map(_._3).getOrElse(-1)
      val ph = if (phase.nonEmpty) phase else top.map(_._4).getOrElse("op")
      stack.push((id, name, opId, ph, System.nanoTime(), new Counters))
      try body
      finally {
        val (_, _, _, _, start, self) = stack.pop()
        self.add(harvest())
        spans += Span(id, name, parent, opId, ph, start, System.nanoTime(), self)
      }
    }

  /** Spans as JSON lines: name, start, end (seconds since the tracer
    * started), parent and op id, plus the span's self counters.
    */
  def spanLines: Seq[String] = spans.sortBy(_.id).map { s =>
    Json(Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op, "phase" -> s.phase,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
      "self" -> s.self.toMap))
  }.toSeq

  /** Per span name: count, wall seconds (sum and median) and summed self counters. */
  def summary(phase: String): Map[String, Any] =
    spans.filter(_.phase == phase).groupBy(_.name).map { case (name, ss) =>
      val c = new Counters
      ss.foreach(s => c.add(s.self))
      name -> (Map[String, Any](
        "n" -> ss.size, "wall_s" -> ss.map(_.wallS).sum,
        "wall_median_s" -> Stats.median(ss.map(_.wallS).toSeq)) ++ c.toMap)
    }
}
