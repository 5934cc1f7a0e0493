package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded input generators. Every value is a hash of (seed, keys), so the
 * same seed gives the same rows at any partitioning or core count.
 */
object Gen {
  /** Ids of generated query vectors start here, far above any corpus id. */
  val QueryBase: Long = 1L << 40

  /** A hash-derived value in [-1, 1). */
  private def unit(seed: Long, keys: Column*): Column =
    (pmod(xxhash64(lit(seed) +: keys: _*), lit(2000000L)) - lit(1000000L)) / lit(1000000.0)

  /**
   * Rows `first until first + n` of a clustered float-vector table
   * (id: long, v: array<float>). Row i belongs to cluster h(seed, i) mod
   * `clusters`; a cluster's centre has coordinates uniform in ±`spread`
   * and a member adds noise uniform in ±`noise` per coordinate. Corpus,
   * delta and query rows share the centres, so queries fall in the same
   * clusters the corpus fills.
   */
  def vectors(spark: SparkSession, first: Long, n: Long, dim: Int, clusters: Int,
      spread: Double, noise: Double, seed: Long, parts: Int): DataFrame =
    spark.range(first, first + n, 1, parts)
      .withColumn("c", pmod(xxhash64(lit(seed), col("id"), lit(-1)), lit(clusters.toLong)))
      .select(col("id"), transform(sequence(lit(0), lit(dim - 1)), j =>
          unit(seed, col("c"), j) * spread + unit(seed + 1, col("id"), j) * noise)
        .cast("array<float>").as("v"))

  /**
   * Documents 0 until n (id: long, text: string) of `words` words drawn
   * uniformly from a `vocab`-word vocabulary ("w0" .. "w<vocab-1>"). Every
   * `every`-th document (id ≡ every-1 mod every) is a near copy of its
   * predecessor with `changed` distinct positions redrawn.
   */
  def documents(spark: SparkSession, n: Long, words: Int, vocab: Int, every: Int,
      changed: Int, seed: Long, parts: Int): DataFrame = {
    require(changed >= 1 && changed <= words, "changed positions must fit the document")
    val isCopy = pmod(col("id"), lit(every.toLong)) === lit(every - 1L)
    val base = when(isCopy, col("id") - 1).otherwise(col("id"))
    // evenly spaced from a hash-chosen start, so the positions are distinct
    val first = pmod(xxhash64(lit(seed + 1), col("id")), lit(words.toLong))
    val positions = (0 until changed).map(k =>
      pmod(first + lit(k.toLong * (words / changed)), lit(words.toLong)))
    spark.range(0, n, 1, parts)
      .select(col("id"), base.as("base"), isCopy.as("copy"),
        array(positions: _*).as("pos"))
      .select(col("id"), concat_ws(" ", transform(sequence(lit(0), lit(words - 1)), j =>
          concat(lit("w"), when(col("copy") && array_contains(col("pos"), j.cast("long")),
              pmod(xxhash64(lit(seed + 3), col("id"), j), lit(vocab.toLong)))
            .otherwise(pmod(xxhash64(lit(seed), col("base"), j), lit(vocab.toLong)))
            .cast("string")))).as("text"))
  }
}
