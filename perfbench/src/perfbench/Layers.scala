package perfbench

/**
 * Per-layer metrics of a traced run: each is the mean over its traced
 * cycles, read from the spans the benchmark put around its calls into
 * the program and the Spark work the listeners attributed to them. A
 * layer the workload does not exercise reads 0.
 */
object Layers {
  /** Span names whose durations are a layer metric, in ms per cycle. */
  private val spanMetrics = Seq(
    "ivf.train_ms" -> "call:Ivf.buildSampled",
    "ivf.write_ms" -> "call:Ivf.writeIndex",
    "ivf.append_ms" -> "call:Ivf.appendToIndex",
    "dedup.cc_ms" -> "construct:Dedup.survivorsFromPairs")

  /** Metrics measured after the timed cycles, by the workload; 0 when it has none. */
  private val probeMetrics = Seq(
    "functions.l2_ns_per_pair" -> "ns", "functions.l2_pairs" -> "count",
    "functions.minhash_ns_per_doc" -> "ns", "functions.minhash_docs" -> "count",
    "ivf.assign_ms" -> "ms", "ivf.scan_fraction" -> "ratio", "ivf.list_max_over_mean" -> "ratio",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.verify_ratio" -> "ratio")

  def metrics(h: Harness, probes: Map[String, Double]): Seq[(String, Metric)] = {
    val traced = h.cycles.filter(_.traced).toSeq
    val n = math.max(1, traced.size).toDouble
    def perCycle(f: Cycle => Double): Double = traced.map(f).sum / n
    def spanMs(c: Cycle, prefix: String): Double =
      c.spans.filter(_.name.startsWith(prefix)).map(_.ms).sum
    def counts(c: Cycle): Counts = Tracer.total(h.tracer, c.spans)
    def constructCounts(c: Cycle): Counts =
      Tracer.total(h.tracer, c.spans.filter(_.name.startsWith("construct:")))
    def stepSum(c: Cycle): Double = c.steps.map(_._2).sum
    // tracing overhead: each traced cycle against the mean of the untraced
    // cycles beside it, which cancels a steady warm-up trend
    val all = h.cycles.toSeq
    val gaps = all.indices.filter(all(_).traced).flatMap { i =>
      val near = Seq(i - 1, i + 1).filter(j => all.indices.contains(j) && !all(j).traced)
      if (near.isEmpty) None
      else Some(stepSum(all(i)) - near.map(j => stepSum(all(j))).sum / near.size)
    }
    val overhead = if (gaps.isEmpty) 0.0 else 1e3 * Stats.median(gaps)

    spanMetrics.map { case (m, s) => m -> Metric(perCycle(spanMs(_, s)), "ms") } ++
      probeMetrics.map { case (m, u) => m -> Metric(probes.getOrElse(m, 0.0), u) } ++
      Seq(
        "construct.ms" -> Metric(perCycle(spanMs(_, "construct:")), "ms"),
        "construct.jobs" -> Metric(perCycle(constructCounts(_).jobs.toDouble), "count"),
        "catalyst.analysis_ms" -> Metric(perCycle(counts(_).analysisMs.toDouble), "ms"),
        "catalyst.optimization_ms" -> Metric(perCycle(counts(_).optimizationMs.toDouble), "ms"),
        "catalyst.planning_ms" -> Metric(perCycle(counts(_).planningMs.toDouble), "ms"),
        "catalyst.plan_nodes" -> Metric(perCycle(counts(_).planNodes.toDouble), "count"),
        "sched.jobs" -> Metric(perCycle(counts(_).jobs.toDouble), "count"),
        "sched.stages" -> Metric(perCycle(counts(_).stages.toDouble), "count"),
        "sched.tasks" -> Metric(perCycle(counts(_).tasks.toDouble), "count"),
        // cores left idle while the steps ran: their core-time not spent running tasks
        "sched.idle_core_ms" -> Metric(perCycle(c => h.cores * stepSum(c) * 1e3 - counts(c).runMs), "ms"),
        "exec.run_ms" -> Metric(perCycle(counts(_).runMs.toDouble), "ms"),
        "exec.cpu_ms" -> Metric(perCycle(counts(_).cpuNs / 1e6), "ms"),
        "exec.gc_ms" -> Metric(perCycle(counts(_).gcMs.toDouble), "ms"),
        "exec.shuffle_write_bytes" -> Metric(perCycle(counts(_).shuffleWrite.toDouble), "bytes"),
        "exec.shuffle_read_bytes" -> Metric(perCycle(counts(_).shuffleRead.toDouble), "bytes"),
        "exec.shuffle_fetch_wait_ms" -> Metric(perCycle(counts(_).fetchWaitMs.toDouble), "ms"),
        "exec.spill_bytes" -> Metric(perCycle(counts(_).spill.toDouble), "bytes"),
        "exec.peak_mem_bytes" -> Metric(if (traced.isEmpty) 0.0 else traced.map(counts(_).peakMem).max.toDouble, "bytes"),
        "exec.output_bytes" -> Metric(perCycle(counts(_).outputBytes.toDouble), "bytes"),
        "jvm.gc_ms" -> Metric(perCycle(_.gcMs.toDouble), "ms"),
        "jvm.jit_ms" -> Metric(perCycle(_.jitMs.toDouble), "ms"),
        "codegen.compile_ms" -> Metric(perCycle(_.codegenMs.toDouble), "ms"),
        "cache.stored_bytes" -> Metric(if (traced.isEmpty) 0.0 else traced.map(_.storedBytes).max.toDouble, "bytes"),
        "trace.overhead_ms" -> Metric(overhead, "ms"))
  }
}
