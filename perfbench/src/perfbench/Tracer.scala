package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Work the scheduler, executors and Catalyst did on behalf of one span. */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill, outputBytes = 0L
  var peakMem = 0L
  var queries, analysisMs, optimizationMs, planningMs, planNodes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill; outputBytes += o.outputBytes
    peakMem = math.max(peakMem, o.peakMem)
    queries += o.queries; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    planNodes += o.planNodes
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "fetch_wait_ms" -> fetchWaitMs,
    "spill_bytes" -> spill, "output_bytes" -> outputBytes, "peak_mem_bytes" -> peakMem,
    "queries" -> queries, "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "plan_nodes" -> planNodes)
}

/** One traced call into a layer; spans of one operation share `op`. */
final case class Span(id: Int, op: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/**
 * Span recorder plus the listeners that attribute Spark's work to spans.
 *
 * Every span sets its own Spark job group, so the jobs, stages and tasks
 * the scheduler listener sees land on the span that caused them. Catalyst
 * phase times arrive through a QueryExecutionListener and land on the
 * innermost span that was open when the query was planned. Spans and
 * counts stay in memory until the run ends. While `enabled` is false a
 * span is a plain call and nothing is attributed.
 */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  // (planning start ms, analysis ms, optimization ms, planning ms, plan nodes)
  private val planned = new ConcurrentLinkedQueue[(Long, Long, Long, Long, Int)]()
  private var open: List[Int] = Nil
  private var op = 0

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private val prefix = "perfbench-span-"
  private def countsOf(id: Int): Counts = counts.computeIfAbsent(id, _ => new Counts)

  /** Start a new operation: the spans that follow share its id. */
  def newOp(): Unit = op += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.setJobGroup(prefix + id, name, interruptOnCancel = false)
      val (t0, w0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        val (t1, w1) = (System.nanoTime(), System.currentTimeMillis())
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(prefix + p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        done += Span(id, op, parent, name, t0, t1, w0, w1)
      }
    }

  /** Deliver every pending listener event, then attribute Catalyst records. */
  def drain(): Unit = {
    SparkInternals.drain(sc)
    var r = planned.poll()
    while (r != null) {
      val (at, a, o, p, n) = r
      // innermost = latest-starting span that covers the planning instant
      val covering = done.filter(s => s.startMs <= at && at <= s.endMs)
      if (covering.nonEmpty) {
        val c = countsOf(covering.maxBy(s => (s.startNs, s.id)).id)
        c.synchronized {
          c.queries += 1; c.analysisMs += a; c.optimizationMs += o
          c.planningMs += p; c.planNodes += n
        }
      }
      r = planned.poll()
    }
  }

  def spans: Seq[Span] = done.toSeq

  /** Counts of one span alone, without its children's. */
  def countsFor(id: Int): Counts = Option(counts.get(id)).getOrElse(new Counts)

  // ---- scheduler and executors ----
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(prefix)).foreach { g =>
        val id = g.stripPrefix(prefix).toInt
        val c = countsOf(id)
        c.synchronized { c.jobs += 1 }
        e.stageIds.foreach(st => stageSpan.put(st, id))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
      val c = countsOf(id); c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val m = e.taskMetrics
      val c = countsOf(id)
      if (m != null) c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      }
    }

  // ---- Catalyst (QueryExecution.tracker) ----
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = if (enabled) {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val at = phases.get("planning").orElse(phases.get("analysis"))
      .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    val nodes = try Tracer.planNodes(qe.executedPlan) catch { case _: Exception => 0 }
    planned.add((at, ms("analysis"), ms("optimization"), ms("planning"), nodes))
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Physical operators in the final plan, adaptive query stages included. */
  def planNodes(p: SparkPlan): Int = collect(p) { case n => n }.size

  /** Sum of the counts of a set of spans. */
  def total(t: Tracer, spans: Iterable[Span]): Counts = {
    val c = new Counts
    spans.foreach(s => c.add(t.countsFor(s.id)))
    c
  }
}
