package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/**
 * Parquet table loader for the driver-generated test data layout.
 *
 * The events table stores TIMESTAMP(NANOS), which Spark 4 only reads
 * under `spark.sql.legacy.parquet.nanosAsLong` (set by every graft
 * session); the long nanos are normalized back to a microsecond
 * timestamp here so downstream code sees a plain timestamp column.
 *
 * The local test files are single-row-group parquet, so every scan is
 * one task no matter how small maxPartitionBytes is set (a parquet
 * split below row-group granularity reads zero row groups). A
 * production corpus is thousands of files/row-groups and scans with
 * full parallelism; simulate that here by spreading the larger tables
 * across the session's default parallelism. Filters and column pruning
 * still reach the scan — Catalyst pushes both through Repartition —
 * and the small dimension tables stay unspread so broadcast plans are
 * unchanged.
 *
 * Schema memo: a bare `spark.read.parquet` starts one Spark job per
 * load to read parquet footers and infer the schema, even with
 * `mergeSchema` off and the files unchanged since the last load. The
 * first load of a path in a session infers as usual and records the
 * schema; a later load in the same session reads with
 * `spark.read.schema(memo)`, which infers nothing and starts no job.
 * The memo is valid only while its key matches:
 *  - every file of the new relation's own FileIndex listing, by
 *    (path, length, modification time) — an overwrite, append or
 *    delete changes the key;
 *  - the session conf values that steer parquet schema inference
 *    (binaryAsString, int96AsTimestamp, caseSensitive,
 *    inferTimestampNTZ, nanosAsLong, fieldId read, variant and
 *    unknown-type annotations, mergeSchema, respectSummaryFiles,
 *    partition column type inference).
 * A mismatch infers again and replaces the entry. The memo is keyed
 * weakly by session (one schema per path), so it dies with its
 * session and no session sees another's entries.
 */
object Tables {
  /** The memo entry for one path: the schema inferred from `files`
    * under `conf` (see [[inferenceConf]]). */
  private final case class Memo(schema: StructType,
      files: Seq[(String, Long, Long)], conf: Seq[Boolean])
  private val schemas = new SessionMap[Memo]

  /** Plain load: pushdown-friendly scan, no repartition barrier. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df0 = load(spark, s"$dir/$name.parquet")
    if (name == "events" && df0.schema("ts").dataType == LongType)
      df0.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else df0
  }

  /** `spark.read.parquet(path)` through the session's schema memo. */
  private def load(spark: SparkSession, path: String): DataFrame = {
    val memo = schemas(spark)
    val conf = inferenceConf(spark)
    val hit = memo.get(path).filter(_.conf == conf).flatMap { m =>
      val df = spark.read.schema(m.schema).parquet(path)
      if (fileStamps(df) == m.files) Some(df) else None
    }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      memo.put(path, Memo(df.schema, fileStamps(df), conf))
      df
    }
  }

  /** The session conf that ParquetToSparkSchemaConverter, schema
    * merging and partition discovery read while inferring a schema. */
  private def inferenceConf(spark: SparkSession): Seq[Boolean] = {
    val c = spark.sessionState.conf
    Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.caseSensitiveAnalysis, c.parquetInferTimestampNTZEnabled,
      c.legacyParquetNanosAsLong, c.parquetFieldIdReadEnabled,
      c.parquetIgnoreVariantAnnotation,
      c.parquetReaderRespectUnknownTypeAnnotation,
      c.isParquetSchemaMergingEnabled, c.isParquetSchemaRespectSummaries,
      c.partitionColumnTypeInferenceEnabled)
  }

  /** (path, length, modification time) of every file the relation's
    * FileIndex listed when it was resolved — no second listing. */
  private def fileStamps(df: DataFrame): Seq[(String, Long, Long)] =
    fsRelation(df).map(_.location).collect {
      case idx: PartitioningAwareFileIndex =>
        idx.allFiles().map(f =>
          (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    }.getOrElse(Nil)

  /** The file relation under a loaded frame. The analyzed plan, which
    * the load already computed: Spark 4.1's unanalyzed plan is an
    * UnresolvedDataSource that holds no relation yet. */
  private def fsRelation(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }

  /**
   * Spread load for CPU-heavy per-row kernels at the scan (text
   * shingling/minhash/language-ID, multimodal decode, blocked all-pairs
   * vector math): there a single-row-group file serializes real compute
   * behind one task, and the ~0.1-0.3s repartition stage pays for
   * itself many times over (measured: shingling 10s -> 0.5s, blocked
   * all-pairs 2.4s -> 0.6s at sf0.1). The decision is PER CONSUMER, not
   * per table — cheap scans (top-k distance, sha256, coarse quantize)
   * measurably lose 0.15-0.3s to the barrier, so they call the plain
   * loader (round-2 regression, reverted round 3).
   */
  def spread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = apply(spark, dir, name)
    val par = spark.sparkContext.defaultParallelism
    // only widen: a production corpus already scanning with more
    // partitions than cores must NOT be shuffled down to core count.
    // Few files (< cores) always need the spread — decided from the
    // file listing alone, metadata the scan's FileIndex already holds.
    // Many SMALL files can still bin-pack into fewer scan partitions
    // than cores (maxPartitionBytes/openCostInBytes packing), so that
    // branch estimates the packed partition count from the FileIndex's
    // total size with Spark's own split formula — pure driver-side
    // arithmetic on the cached listing, never an RDD materialization.
    if (df.inputFiles.length < par || estScanPartitions(df, par) < par)
      df.repartition(par)
    else df
  }

  /**
   * Estimate the file-scan partition count the way Spark packs splits
   * (FilePartition.maxSplitBytes): totalBytes includes one openCost per
   * file, the split ceiling is min(maxPartitionBytes, max(openCost,
   * totalBytes/parallelism)), and packed partitions ≈ totalBytes /
   * maxSplit. Reads only the logical relation's FileIndex (listing is
   * already cached from the load) — unlike df.rdd.getNumPartitions this
   * never plans or materializes the physical scan. Falls back to the
   * exact physical count for non-file relations.
   */
  private def estScanPartitions(df: DataFrame, par: Int): Long =
    fsRelation(df) match {
      case Some(fs) =>
        val conf = df.sparkSession.sessionState.conf
        val openCost = conf.filesOpenCostInBytes
        val nFiles = fs.location.inputFiles.length.toLong
        val totalBytes = fs.location.sizeInBytes + nFiles * openCost
        val bytesPerCore = totalBytes / math.max(1, par)
        val maxSplit =
          math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))
        math.max(1L, (totalBytes + maxSplit - 1) / math.max(1L, maxSplit))
      case None => df.rdd.getNumPartitions.toLong
    }
}
