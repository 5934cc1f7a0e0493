package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import graft.{Bench, SparkEntry}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * `sql_headline`: a fixed subset of `graft.Bench.headline`, each key run
 * through `SparkEntry.queries` over the shipped tables and forced through
 * the no-op sink. The query-level caches the program keeps for the life
 * of the JVM (built once per table directory) are warm: the set-up's
 * warm-up pass fills them, as a second Bench pass would find them.
 */
final class SqlHeadline(p: Params, seed: Long) extends Workload {
  private val keys: Seq[String] = {
    val ks = p.string("keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = ks.filterNot(Bench.headline.contains)
    require(unknown.isEmpty, s"not headline keys: ${unknown.mkString(", ")}")
    // the seed fixes the order the keys run in within a pass
    new scala.util.Random(seed).shuffle(ks)
  }
  private val dataDir = new File(p.string("data")).getAbsolutePath
  private val fingerprints = new File(p.string("fingerprints"))
  private val queries = SparkEntry.queries
  private var spark: SparkSession = _
  private var matched = Double.NaN

  def prepare(s: SparkSession, dir: File): Unit = {
    spark = s
    // load: open and scan every shipped table once
    Option(new File(dataDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(t => s.read.parquet(t.toString).count())
  }

  def cycle(h: Harness): Unit = keys.foreach { key =>
    h.step(key, clear = false) {
      val df = h.construct(s"SparkEntry.queries($key)")(queries(key)(spark, dataDir))
      h.action("noop")(Workload.noop(df))
    }
  }

  /** Rows and an order-insensitive hash of a result. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val rows = df.collect()
    (rows.length.toLong, rows.iterator.map(r => SqlHeadline.rowHash(r)).sum)
  }

  private def pinned: Map[String, (Long, Long)] =
    if (!fingerprints.exists()) Map.empty
    else Files.readAllLines(fingerprints.toPath, UTF_8).asScala
      .filterNot(l => l.trim.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap

  def verify(h: Harness): Double = {
    val pins = pinned
    val ok = keys.count { key =>
      val good = try pins.get(key).contains(fingerprint(queries(key)(spark, dataDir)))
        catch { case e: Exception =>
          System.err.println(s"perfbench: fingerprint of $key failed: $e"); false }
      if (!good) {
        System.err.println(s"perfbench: $key does not match its pinned fingerprint")
        h.failAll(key)
      }
      good
    }
    matched = ok.toDouble / keys.size
    matched
  }

  /** Write the current results' fingerprints as the pinned ones. */
  def pin(): Unit = {
    val lines = "# key\trows\torder-insensitive row hash (perfbench SqlHeadline.rowHash)" +:
      keys.sorted.map { key => val (n, hsh) = fingerprint(queries(key)(spark, dataDir)); s"$key\t$n\t$hsh" }
    Files.write(fingerprints.toPath, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    ()
  }

  def layers(h: Harness): Map[String, Double] = Map.empty

  def detail(h: Harness): Seq[(String, Metric)] = {
    val med = h.stepMedians.map(_._2)
    val (tail, pct) = if (med.isEmpty) (0.0, 0) else Stats.tail(med)
    Seq(
      "sql.total_s" -> Metric(med.sum, "s"),
      "sql.q_p50_s" -> Metric(if (med.isEmpty) 0.0 else Stats.median(med), "s"),
      "sql.q_tail_s" -> Metric(tail, "s"),
      "sql.q_tail_percentile" -> Metric(pct.toDouble, "%"),
      "sql.keys" -> Metric(keys.size.toDouble, "count"),
      "sql.fingerprint_match" -> Metric(matched, "ratio"))
  }
}

object SqlHeadline {
  /** A 64-bit hash of a row's canonical text: floating values to nine
    * significant digits, so the last-bit differences of a sum taken in
    * another order do not change it. */
  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s).toLong << 32) ^ (MurmurHash3.stringHash(s, 0x5eed) & 0xffffffffL)
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case b: scala.math.BigDecimal => num(b.toDouble)
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case xs: Iterable[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.9g", java.lang.Double.valueOf(d))
}
