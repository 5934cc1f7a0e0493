package perfbench

import java.io.File

import scala.collection.mutable

import graft.functions.{VectorFunctions => VF}
import graft.operators.{Ivf, Knn}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/**
 * `vec_batch`: batch k-NN over a clustered float-vector table. A cycle
 * runs the exact k-NN join of every query, an IVF build (sampled k-means,
 * then the list-partitioned index write), the append of a delta table to
 * that index, and an IVF probe join over the appended index. The probe's
 * recall is scored against an exact join over the same rows: corpus and
 * delta.
 */
final class VecBatch(p: Params, seed: Long, cores: Int) extends Workload {
  private val rows = p.long("rows")
  private val deltaRows = p.long("delta_rows")
  private val nQueries = p.int("queries")
  private val dim = p.int("dim")
  private val k = p.int("k")
  private val lists = p.int("lists")
  private val nprobe = p.int("nprobe")
  private val recallFloor = p.double("recall_floor")
  private val checkQueries = p.int("check_queries")
  private val L2Repeat = 4

  private var dir: File = _
  private var corpus, delta, queries: DataFrame = _
  private var cycleNo = 0
  private var lastModel: Option[Ivf.Model] = None
  private var lastProbe: Option[DataFrame] = None
  private val appended = mutable.ArrayBuffer.empty[File]
  private val exactOut = mutable.ArrayBuffer.empty[Map[Long, Seq[(Long, Double)]]]
  private val probeOut = mutable.ArrayBuffer.empty[Map[Long, Seq[(Long, Double)]]]
  private var recall = Double.NaN

  def prepare(spark: SparkSession, d: File): Unit = {
    dir = d
    // the corpus arrives as one file per core; a delta or a query batch as one file
    def gen(name: String, first: Long, n: Long, files: Int): DataFrame = {
      val path = new File(d, name).toString
      Gen.vectors(spark, first, n, dim, p.int("clusters"), p.double("spread"),
        p.double("noise"), seed, files).write.parquet(path)
      spark.read.parquet(path)
    }
    corpus = gen("corpus", 0L, rows, cores)
    delta = gen("delta", rows, deltaRows, 1)
    queries = gen("queries", Gen.QueryBase, nQueries, 1)
  }

  private def byQuery(out: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    out.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
    }

  def cycle(h: Harness): Unit = {
    cycleNo += 1
    h.step("exact") {
      val df = h.construct("Knn.knnJoin")(
        Knn.knnJoin(queries, "v", "id", corpus, "v", "id", k))
      h.action("collect")(df.collect())
    }.foreach(out => exactOut += byQuery(out))
    val path = new File(dir, s"index-$cycleNo")
    val model = h.step("build") {
      val m = h.call("Ivf.buildSampled")(Ivf.buildSampled(corpus, "v", lists))
      h.call("Ivf.writeIndex")(Ivf.writeIndex(corpus, "v", m, path.toString))
      m
    }
    for {
      m <- model
      tagged <- h.step("append") {
        h.call("Ivf.appendToIndex")(Ivf.appendToIndex(delta, "v", m, path.toString))
      }
      (df, out) <- h.step("probe") {
        val df = h.construct("Ivf.knnJoin")(
          Ivf.knnJoin(queries, "v", "id", tagged, "v", "id", m, k, nprobe))
        (df, h.action("collect")(df.collect()))
      }
    } {
      appended += path
      probeOut += byQuery(out)
      lastModel = Some(m)
      lastProbe = Some(df)
    }
  }

  def verify(h: Harness): Double = {
    // every appended index holds the corpus and every delta row, once
    appended.foreach { path =>
      val r = h.spark.read.parquet(path.toString)
        .agg(count(lit(1)), countDistinct(col("id")),
          countDistinct(when(col("id") >= rows && col("id") < rows + deltaRows, col("id"))))
        .head()
      if (r.getLong(0) != rows + deltaRows || r.getLong(1) != rows + deltaRows ||
          r.getLong(2) != deltaRows) h.fail("append", 1)
    }
    // the exact lists over corpus and delta, the rows the probe searches
    val all = corpus.unionByName(delta)
    val truth = byQuery(Knn.knnJoin(queries, "v", "id", all, "v", "id", k).collect())
    if (truth.size != nQueries) h.failAll("probe")
    // every repetition of the exact join returns the same lists
    exactOut.drop(1).foreach(o => if (o != exactOut.head) h.fail("exact", 1))
    // the first, and the truth, against a local brute force over a sample of queries
    exactOut.headOption.foreach { got =>
      val (corpusOk, allOk) = bruteForceAgrees(got, truth)
      if (!corpusOk || got.size != nQueries) h.failAll("exact")
      if (!allOk) h.failAll("probe")
    }
    // IVF recall@k against the exact lists
    val recalls = probeOut.map { got =>
      val hits = truth.toSeq.map { case (q, exact) =>
        val want = exact.map(_._1).toSet
        got.getOrElse(q, Nil).count(e => want.contains(e._1))
      }.sum
      hits.toDouble / math.max(1, truth.size * k)
    }
    recalls.foreach(r => if (r < recallFloor) h.fail("probe", 1))
    recall = if (recalls.isEmpty) 0.0 else Stats.median(recalls.toSeq)
    recall
  }

  /**
   * Exact top-k of the first `checkQueries` queries by one local scan of
   * corpus and delta: `corpusTop` is checked against the top-k of the
   * corpus rows alone, `allTop` against the top-k of all rows.
   */
  private def bruteForceAgrees(corpusTop: Map[Long, Seq[(Long, Double)]],
      allTop: Map[Long, Seq[(Long, Double)]]): (Boolean, Boolean) = {
    val qs = queries.orderBy("id").limit(checkQueries).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    final class Top(got: Map[Long, Seq[(Long, Double)]]) {
      val wanted = qs.map { case (q, _) => got.getOrElse(q, Nil).map(_._1).toSet }
      val seen = Array.fill(qs.length)(mutable.Map.empty[Long, Double])
      val best = Array.fill(qs.length)(
        mutable.PriorityQueue.empty[(Double, Long)])          // max-heap of the k best
      def offer(i: Int, id: Long, dist: Double): Unit = {
        if (wanted(i).contains(id)) seen(i)(id) = dist
        val heap = best(i)
        if (heap.size < k) heap.enqueue((dist, id))
        else if (Ordering[(Double, Long)].lt((dist, id), heap.head)) {
          heap.dequeue(); heap.enqueue((dist, id))
        }
      }
      def agrees: Boolean = qs.indices.forall { i =>
        val list = got.getOrElse(qs(i)._1, Nil)
        val truth = best(i).toSeq.sorted.map(_._1)
        list.length == k &&
          list.zip(truth).forall { case ((_, d), t) => close(d, t) } &&
          list.forall { case (id, d) => seen(i).get(id).exists(close(d, _)) }
      }
    }
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-4 * math.max(1.0, b)
    val (inCorpus, inAll) = (new Top(corpusTop), new Top(allTop))
    val it = corpus.unionByName(delta).select("id", "v").toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val id = r.getLong(0)
      val v = r.getSeq[Float](1).toArray
      var i = 0
      while (i < qs.length) {
        val q = qs(i)._2
        var acc = 0.0; var j = 0
        while (j < v.length) { val d = v(j).toDouble - q(j).toDouble; acc += d * d; j += 1 }
        val dist = math.sqrt(acc)
        if (id < rows) inCorpus.offer(i, id, dist)
        inAll.offer(i, id, dist)
        i += 1
      }
    }
    (inCorpus.agrees, inAll.agrees)
  }

  def layers(h: Harness): Map[String, Double] = {
    val spark = h.spark
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (m <- lastModel; path <- appended.lastOption) {
      out("ivf.assign_ms") = 1e3 * Workload.timeMedian(3) {
        h.call("Ivf.assign")(Workload.noop(Ivf.assign(corpus, "v", m)))
      }
      val sizes = spark.read.parquet(path.toString).groupBy("list_id").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val total = sizes.values.sum.toDouble
      out("ivf.list_max_over_mean") = sizes.values.max / (total / m.nlists)
    }
    // distance pairs the last probe evaluated: the rows out of its list_id
    // join, from the executed plan's metrics, over queries x indexed rows
    lastProbe.foreach { df =>
      val joins = Tracer.collect(df.queryExecution.executedPlan) {
        case j: BaseJoinExec
            if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "list_id")) => j
      }
      require(joins.size == 1, s"expected one list_id join in the probe plan, found ${joins.size}")
      val pairs = joins.head.metrics("numOutputRows").value
      out("ivf.scan_fraction") = pairs.toDouble / (nQueries.toDouble * (rows + deltaRows))
    }
    // kernel cost: the distance over every (corpus row, query) pair, less a
    // plain scan of the same pairs. Each query is paired four times and the
    // two are timed in turn, so the kernel's share of the time stands above
    // the scan's run-to-run noise.
    val qv = queries.select(col("v").as("qv"))
    val pairs = corpus.crossJoin(broadcast(Seq.fill(L2Repeat)(qv).reduce(_ union _)))
    val n = rows * nQueries * L2Repeat
    val gaps = (1 to 5).map { _ =>
      val kernel = Workload.timeMedian(1) {
        h.call("VectorFunctions.l2Distance")(
          Workload.noop(pairs.select(VF.l2Distance(col("v"), col("qv")).as("d"))))
      }
      val scan = Workload.timeMedian(1) {
        h.action("scan")(Workload.noop(pairs.select((size(col("v")) + size(col("qv"))).as("d"))))
      }
      kernel - scan
    }
    out("functions.l2_ns_per_pair") = Stats.median(gaps) * 1e9 / n
    out("functions.l2_pairs") = n.toDouble
    out.toMap
  }

  def detail(h: Harness): Seq[(String, Metric)] = {
    val med = h.stepMedians.toMap
    def rate(step: String, n: Double) = med.get(step).map(s => n / s).getOrElse(0.0)
    Seq(
      "vec.exact_qps" -> Metric(rate("exact", nQueries), "1/s"),
      "vec.build_rows_per_s" -> Metric(rate("build", rows), "rows/s"),
      "vec.append_rows_per_s" -> Metric(rate("append", deltaRows), "rows/s"),
      "vec.probe_qps" -> Metric(rate("probe", nQueries), "1/s"),
      "vec.recall_at_10" -> Metric(recall, "ratio"))
  }
}
