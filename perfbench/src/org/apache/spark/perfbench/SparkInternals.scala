package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The Spark-private counters and calls the benchmark reads. */
object SparkInternals {
  /** Block until every posted event (jobs, tasks, query executions) has
    * been delivered to the listeners, so counters read afterwards are whole. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Milliseconds spent compiling generated code, summed over the samples
    * the codegen histogram keeps (all of them below its reservoir size). */
  def codegenCompileMs(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
}
