package perfbench

import java.io.File

import scala.collection.mutable

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * `text_dedup`: MinHash near-duplicate detection over a generated corpus
 * with planted near copies. A cycle runs `Dedup.minhashPairs` and then
 * `Dedup.survivorsFromPairs` (connected components) over its pairs.
 */
final class TextDedup(p: Params, seed: Long, cores: Int) extends Workload {
  private val docsN = p.long("docs")
  private val every = p.int("copy_every")
  private val hashes = p.int("hashes")
  private val bands = p.int("bands")
  private val tau = p.double("tau")
  private val recallFloor = p.double("recall_floor")

  private var docs: DataFrame = _
  private val pairsOut = mutable.ArrayBuffer.empty[Array[(Long, Long, Double)]]
  private val droppedOut = mutable.ArrayBuffer.empty[Set[Long]]
  private var recall = Double.NaN

  def prepare(spark: SparkSession, dir: File): Unit = {
    val path = new File(dir, "docs").toString
    Gen.documents(spark, docsN, p.int("words"), p.int("vocab"), every,
      p.int("changed"), seed, cores).write.parquet(path)
    docs = spark.read.parquet(path)
  }

  def cycle(h: Harness): Unit = {
    var pairs: DataFrame = null
    try {
      h.step("pairs") {
        pairs = h.construct("Dedup.minhashPairs")(
          Dedup.minhashPairs(docs, "text", "id", hashes, bands, tau)).cache()
        h.action("collect")(pairs.collect())
      }.foreach(out => pairsOut += out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
      if (pairs != null) h.step("survivors", clear = false) {
        val s = h.construct("Dedup.survivorsFromPairs")(Dedup.survivorsFromPairs(docs, "id", pairs))
        h.action("collect")(s.where(!col("keep")).select("id").collect())
      }.foreach(out => droppedOut += out.map(_.getLong(0)).toSet)
    } finally if (pairs != null) pairs.unpersist()
  }

  /** Planted pairs (i - 1, i) for every copy id i. */
  private def planted: Iterator[(Long, Long)] =
    Iterator.iterate(every - 1L)(_ + every).takeWhile(_ < docsN).map(i => (i - 1, i))

  def verify(h: Harness): Double = {
    val recalls = pairsOut.map { out =>
      val found = out.iterator.map(t => (t._1, t._2)).toSet
      val (hit, all) = planted.foldLeft((0L, 0L)) { case ((a, b), pr) =>
        (a + (if (found.contains(pr)) 1 else 0), b + 1) }
      hit.toDouble / all
    }
    recalls.foreach(r => if (r < recallFloor) h.fail("pairs", 1))
    pairsOut.foreach(out => if (!jaccardAgrees(out)) h.fail("pairs", 1))
    // survivors: exactly the non-minimum members of each pair component,
    // by an independent union-find over the same pairs
    pairsOut.zip(droppedOut).foreach { case (out, dropped) =>
      if (dropped != nonRoots(out)) h.fail("survivors", 1)
    }
    recall = if (recalls.isEmpty) 0.0 else Stats.median(recalls.toSeq)
    recall
  }

  private def nonRoots(pairs: Array[(Long, Long, Double)]): Set[Long] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      val up = parent.getOrElseUpdate(x, x)
      if (up == x) x else { val r = find(up); parent(x) = r; r }
    }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.filter(x => find(x) != x).toSet
  }

  /** Word-trigram Jaccard of a sample of reported pairs, recomputed locally. */
  private def jaccardAgrees(out: Array[(Long, Long, Double)]): Boolean = {
    val sample = out.sortBy(t => (t._1, t._2)).grouped(math.max(1, out.length / 20)).map(_.head).toSeq
    val ids = sample.flatMap(t => Seq(t._1, t._2)).distinct
    val text = docs.where(col("id").isin(ids: _*)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(s: String): Set[String] = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    sample.forall { case (a, b, j) =>
      val (sa, sb) = (shingles(text(a)), shingles(text(b)))
      val exact = (sa & sb).size.toDouble / (sa | sb).size
      math.abs(exact - j) <= 1e-6 && exact >= tau
    }
  }

  def layers(h: Harness): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    // candidate pairs of the band self-join, from the same public kernels
    val r = hashes / bands
    val banded = docs.select(col("id"),
        Dedup.minhashSignatureFromHashes(Dedup.hashedWordShingles(col("text")), hashes).as("sig"))
      .select(col("id"), posexplode(Dedup.minhashBands(col("sig"), bands, r)).as(Seq("band", "bv")))
    val candidates = h.call("Dedup.bucketCandidatePairs")(
      Dedup.bucketCandidatePairs(banded, Seq("band", "bv"), "id").count())
    val verified = pairsOut.lastOption.map(_.length.toLong).getOrElse(0L)
    out("dedup.candidate_pairs") = candidates.toDouble
    out("dedup.verified_pairs") = verified.toDouble
    out("dedup.verify_ratio") = if (candidates == 0) 0.0 else verified.toDouble / candidates
    // kernel cost: signature per document, less a plain scan of the same rows
    val kernel = Workload.timeMedian(3) {
      h.call("Dedup.minhashSignature")(Workload.noop(docs.select(
        Dedup.minhashSignatureFromHashes(Dedup.hashedWordShingles(col("text")), hashes).as("s"))))
    }
    val scan = Workload.timeMedian(3) {
      h.action("scan")(Workload.noop(docs.select(length(col("text")).as("s"))))
    }
    out("functions.minhash_ns_per_doc") = (kernel - scan) * 1e9 / docsN
    out("functions.minhash_docs") = docsN.toDouble
    out.toMap
  }

  def detail(h: Harness): Seq[(String, Metric)] = {
    val med = h.stepMedians.toMap
    val total = med.getOrElse("pairs", 0.0) + med.getOrElse("survivors", 0.0)
    Seq(
      "dedup.docs_per_s" -> Metric(if (total > 0) docsN / total else 0.0, "docs/s"),
      "dedup.pair_recall" -> Metric(recall, "ratio"))
  }
}
