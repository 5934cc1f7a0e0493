package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession

/** One pass over a workload's timed operations. */
final case class Cycle(traced: Boolean, wallS: Double, steps: Seq[(String, Double)],
    spans: Seq[Span], gcMs: Long, jitMs: Long, codegenMs: Long, storedBytes: Long)

/**
 * The closed loop: one client on the main thread runs a workload's
 * cycles back to back, times every step, counts failed steps, and in a
 * traced cycle wraps every call into a layer in a span.
 */
final class Harness(val spark: SparkSession, val tracer: Tracer, val cores: Int) {
  val cycles = mutable.ArrayBuffer.empty[Cycle]
  private val attemptedBy = mutable.LinkedHashMap.empty[String, Long]
  private val failedBy = mutable.LinkedHashMap.empty[String, Long]
  private var current = mutable.ArrayBuffer.empty[(String, Double)]
  private var storedMax = 0L

  def attempted: Long = attemptedBy.values.sum
  def failed: Long = failedBy.values.sum
  def failures: Map[String, Long] = failedBy.toMap

  /**
   * One timed operation. `clear` empties Spark's CacheManager first, so
   * no operation is served from a cache an earlier repetition filled. A
   * throw counts the step as failed and yields None.
   */
  def step[T](name: String, clear: Boolean = true)(body: => T): Option[T] = {
    if (clear) spark.catalog.clearCache()
    tracer.newOp()
    attemptedBy(name) = attemptedBy.getOrElse(name, 0L) + 1
    val t0 = System.nanoTime()
    try {
      val out = tracer.span(s"step:$name")(body)
      current += name -> (System.nanoTime() - t0) / 1e9
      storedMax = math.max(storedMax, storedBytes())
      Some(out)
    } catch {
      case e: Exception =>
        System.err.println(s"perfbench: step $name failed: $e")
        fail(name, 1)
        None
    }
  }

  /** A call into the program that returns a plan without running it. */
  def construct[T](name: String)(body: => T): T = tracer.span(s"construct:$name")(body)
  /** A call into the program that runs Spark jobs before it returns. */
  def call[T](name: String)(body: => T): T = tracer.span(s"call:$name")(body)
  /** The action that forces a constructed plan. */
  def action[T](name: String)(body: => T): T = tracer.span(s"action:$name")(body)

  /** Count `n` executions of a step as failed: they threw or their output was wrong. */
  def fail(name: String, n: Long): Unit =
    failedBy(name) = math.min(failedBy.getOrElse(name, 0L) + n, attemptedBy.getOrElse(name, n))

  /** Count every execution of a step as failed. */
  def failAll(name: String): Unit = failedBy(name) = attemptedBy.getOrElse(name, 1L)

  /** Run one cycle; `record` keeps its timings (the warm-up cycle is not kept). */
  def cycle(traced: Boolean, record: Boolean)(body: => Unit): Double = {
    current = mutable.ArrayBuffer.empty
    storedMax = 0L
    val before = tracer.spans.size
    val (gc0, jit0, cg0) = (Harness.gcMs(), Harness.jitMs(), SparkInternals.codegenCompileMs())
    tracer.enabled = traced
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) tracer.drain()
      tracer.enabled = false
      if (record) cycles += Cycle(traced, wall, current.toSeq, tracer.spans.drop(before),
        Harness.gcMs() - gc0, Harness.jitMs() - jit0,
        SparkInternals.codegenCompileMs() - cg0, storedMax)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Bytes held by Spark's block manager for cached RDDs and DataFrames. */
  def storedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Median seconds of each step over the untraced recorded cycles, in first-seen order. */
  def stepMedians: Seq[(String, Double)] = {
    val by = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    cycles.filterNot(_.traced).foreach(_.steps.foreach { case (n, s) =>
      by.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s })
    by.toSeq.map { case (n, xs) => n -> Stats.median(xs.toSeq) }
  }
}

object Harness {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile (in 5-point steps) with at least ten samples
    * beyond it, as nearest-rank; the maximum when there are fewer than 11. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) (s.last, 100)
    else {
      val p = (95 to 5 by -5).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10).getOrElse(5)
      (s(math.ceil(p / 100.0 * n).toInt - 1), p)
    }
  }
}
