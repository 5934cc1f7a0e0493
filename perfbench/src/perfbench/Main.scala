package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: set up (session start, input generation or load, and
 * the cold warm-up cycles), run the workload's cycles in a closed loop for
 * the given seconds, check the outputs, and write the result
 * record. In a traced run every other cycle is traced, so the tracing
 * overhead is measured within the run: each traced cycle against the
 * untraced cycles beside it.
 *
 * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *          --work DIR --out FILE [--spans FILE] [--pin 1] [--param key=value ...]
 */
object Main {
  /** Cycles run before the timed window, all counted in `setup_s`: the
    * first runs cold (class loading, whole-stage codegen, interpreted
    * bytecode), the second still compiles much of the hot code. The JIT
    * goes on compiling for tens of seconds after them, so cycle times fall
    * all through a run. The warm-up is a count of cycles, not a floor in
    * seconds, so that every run times its window at the same point on that
    * curve: with a floor in seconds a slower host ran fewer warm cycles and
    * a faster one more, and the window's times split into groups by that
    * count. */
  private val WarmupCycles = 2

  def main(args: Array[String]): Unit = {
    val opts = mutable.LinkedHashMap.empty[String, String]
    val params = mutable.LinkedHashMap.empty[String, String]
    args.grouped(2).foreach {
      case Array("--param", kv) => val Array(k, v) = kv.split("=", 2); params(k) = v
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val loadStart = loadavg()
    val p = Params(params.toMap)

    val workload: Workload = name match {
      case "vec_batch" => new VecBatch(p, seed, cores)
      case "text_dedup" => new TextDedup(p, seed, cores)
      case "sql_headline" => new SqlHeadline(p, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up: cold session start, input generation or load ----
    val setup0 = System.nanoTime()
    val spark = Session.start(cores, work)
    workload.prepare(spark, new File(work, "inputs"))
    val tracer = new Tracer(spark)
    val h = new Harness(spark, tracer, cores)
    val prepareS = (System.nanoTime() - setup0) / 1e9
    if (opts.contains("pin")) {
      workload.asInstanceOf[SqlHeadline].pin()
      spark.stop()
      return
    }
    // ---- warm-up: the cold cycles, counted in set-up ----
    val warmCycleS = Seq.fill(WarmupCycles)(h.cycle(traced = false, record = false)(workload.cycle(h)))
    val setupS = prepareS + warmCycleS.sum

    // ---- timed window: closed loop, one client ----
    // a median of three; in a traced run, untraced cycles on both sides of a traced one
    val minCycles = 3
    val t0 = System.nanoTime()
    var n = 0
    while (n < minCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      h.cycle(traced = traced && n % 2 == 1, record = true)(workload.cycle(h))
      n += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9

    val quality = workload.verify(h)
    val extra = if (!traced) Map.empty[String, Double] else {
      tracer.enabled = true
      tracer.newOp()
      try workload.layers(h) finally { tracer.drain(); tracer.enabled = false }
    }

    // ---- metrics ----
    val untraced = h.cycles.filterNot(_.traced)
    val stepSums = untraced.map(_.steps.map(_._2).sum).toSeq
    val medians = h.stepMedians.map(_._2)
    val endToEnd = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "peak_rss_mb" -> Metric(peakRssMb(), "MB"),
      "ok_ratio" -> Metric(if (h.attempted == 0) 0.0 else 1.0 - h.failed.toDouble / h.attempted, "ratio"),
      "recall" -> Metric(quality, "ratio"),
      "cycle_s" -> Metric(if (stepSums.isEmpty) 0.0 else Stats.median(stepSums), "s"),
      "step_p50_s" -> Metric(if (medians.isEmpty) 0.0 else Stats.median(medians), "s"))
    val perLayer = if (traced) Layers.metrics(h, extra) else Seq.empty
    val loadEnd = loadavg()

    val context = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> cores, "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "code_cache_bytes" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.contains("Code")).map(_.getUsage.getUsed).sum,
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
      "session_conf" -> mutable.LinkedHashMap(spark.conf.getAll.toSeq.sortBy(_._1): _*),
      "params" -> params, "prepare_s" -> prepareS, "warmup_cycle_s" -> warmCycleS.toSeq,
      "window_s" -> windowS, "cycles" -> h.cycles.size,
      "cycle_step_s" -> h.cycles.map(c => mutable.LinkedHashMap[String, Any](
        "traced" -> c.traced, "wall_s" -> c.wallS, "jvm_gc_ms" -> c.gcMs, "jvm_jit_ms" -> c.jitMs,
        "steps" -> mutable.LinkedHashMap(c.steps: _*))),
      "failures" -> h.failures)
    def metricMap(ms: Seq[(String, Metric)]) = mutable.LinkedHashMap(ms.map { case (k, m) =>
      k -> mutable.LinkedHashMap[String, Any]("value" -> m.value, "unit" -> m.unit) }: _*)
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (h.failed == 0 && h.attempted > 0),
      "attempted" -> h.attempted, "failed" -> h.failed,
      "metrics" -> metricMap(if (traced) perLayer else endToEnd),
      "end_to_end" -> metricMap(endToEnd),
      "workload_detail" -> metricMap(workload.detail(h)),
      "per_layer" -> metricMap(perLayer),
      "context" -> context)
    write(new File(opts("out")), Json.render(result))
    if (traced) opts.get("spans").foreach(f => write(new File(f), Json.render(
      tracer.spans.map(s => mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "op" -> s.op, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.ms,
        "counts" -> tracer.countsFor(s.id).toJson)))))
    spark.stop()
  }

  private def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, (s + "\n").getBytes(UTF_8)); ()
  }

  private def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath), UTF_8)
      .trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Seq(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage) }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath, UTF_8).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** The session graft.Bench builds, with its files placed under the run's work directory. */
object Session {
  def start(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Sessions.initCheckpoints(spark)
    spark
  }
}
