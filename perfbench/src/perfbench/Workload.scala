package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Workload sizes and knobs, passed as key=value pairs from the benchmark's config. */
final case class Params(values: Map[String, String]) {
  private def raw(k: String): String =
    values.getOrElse(k, throw new IllegalArgumentException(s"missing parameter $k"))
  def int(k: String): Int = raw(k).toInt
  def long(k: String): Long = raw(k).toLong
  def double(k: String): Double = raw(k).toDouble
  def string(k: String): String = raw(k)
}

/** A metric value with its unit. */
final case class Metric(value: Double, unit: String)

/**
 * One workload: how to make (or load) its inputs, one cycle of its timed
 * operations, and the checks on their outputs.
 */
trait Workload {
  /** One set-up round: write this run's inputs under `dir` and open them. */
  def prepare(spark: SparkSession, dir: File): Unit

  /** One cycle of timed steps through the harness. */
  def cycle(h: Harness): Unit

  /**
   * Check the outputs the cycles kept, outside any timed region; mark
   * wrong steps failed on the harness. Returns the workload's quality
   * (recall, or the share of outputs matching their pinned fingerprint).
   */
  def verify(h: Harness): Double

  /** Per-layer measurements made after the timed cycles of a traced run. */
  def layers(h: Harness): Map[String, Double]

  /** The workload's own end-to-end figures, by name, for the detail record. */
  def detail(h: Harness): Seq[(String, Metric)]
}

object Workload {
  /** Force a plan through the no-op sink, which evaluates every column. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median seconds of `n` timed runs of `body`. */
  def timeMedian(n: Int)(body: => Unit): Double =
    Stats.median((1 to n).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
}
