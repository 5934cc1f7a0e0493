package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/**
 * Loader contracts for Tables.spread: the widen decision must come
 * from driver-side FileIndex arithmetic, widening single-file local
 * layouts while leaving an already-wide corpus untouched (no
 * repartition barrier, no physical-plan materialization just to
 * decide). And for Tables.apply's per-session schema memo: a repeat
 * load starts no Spark job, and any change to the files, the
 * inference conf or the session infers again.
 */
class TablesSpec extends SparkSpec {

  private def par = spark.sparkContext.defaultParallelism

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Load `name` from `dir` in `s`; (jobs the load started, frame). */
  private def load(s: SparkSession, dir: String, name: String): (Int, DataFrame) = {
    var df: DataFrame = null
    val jobs = JobCount(spark.sparkContext) { df = Tables(s, dir, name) }
    (jobs, df)
  }

  test("a repeat load of a table in one session starts no job") {
    val dir = tmpDir("graft_tables_memo")
    spark.range(0, 100).select(col("id"), (col("id") * 2).as("x"))
      .coalesce(1).write.parquet(s"$dir/t.parquet")
    val (first, _) = load(spark, dir, "t")
    assert(first == 1, "the first load infers the schema with one footer job")
    val (second, df) = load(spark, dir, "t")
    assert(second == 0, s"a repeat load started $second job(s)")
    assert(df.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(df.agg(sum("x")).head().getLong(0) == 9900L)
  }

  test("an overwrite with another schema, or an append, infers again") {
    val dir = tmpDir("graft_tables_memo")
    val path = s"$dir/t.parquet"
    spark.range(0, 10).select(col("id"), col("id").as("x"))
      .coalesce(1).write.parquet(path)
    assert(load(spark, dir, "t")._2.columns.toSeq == Seq("id", "x"))
    spark.range(0, 20).select(col("id"), lit("a").as("y"), (col("id") + 1).as("z"))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val (jobs, df) = load(spark, dir, "t")
    assert(jobs == 1, "the changed files must invalidate the memo")
    assert(df.columns.toSeq == Seq("id", "y", "z"))
    assert(df.count() == 20)
    assert(load(spark, dir, "t")._1 == 0, "the new entry serves later loads")
    spark.range(20, 25).select(col("id"), lit("b").as("y"), (col("id") + 1).as("z"))
      .coalesce(1).write.mode("append").parquet(path)
    val (appendJobs, appended) = load(spark, dir, "t")
    assert(appendJobs == 1 && appended.count() == 25)
  }

  test("the inference conf is part of the key: nanosAsLong and NTZ flips") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    // an events table with ts as TIMESTAMP(NANOS), as pandas/pyarrow
    // writers produce it (Spark itself cannot write nanos)
    val dir = tmpDir("graft_tables_nanos")
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), conf))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1000000000123456L))
    finally w.close()

    val s = spark.newSession()
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    s.conf.set(nanos, "true")
    val asLong = Tables(s, dir, "events")
    assert(asLong.schema("ts").dataType == TimestampType)
    assert(asLong.selectExpr("unix_micros(ts)").head().getLong(0) == 1000000000123L)
    // off, Spark 4 rejects TIMESTAMP(NANOS): the load must infer again
    // and fail like a plain read, not serve the memo's LONG schema
    s.conf.set(nanos, "false")
    val e = intercept[Exception](Tables(s, dir, "events"))
    assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    s.conf.set(nanos, "true")
    assert(Tables(s, dir, "events").schema("ts").dataType == TimestampType)

    // the shipped events.ts is a tz-naive timestamp[us]: NTZ inference
    // gives it the other type, and flipping back restores the first
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    s.conf.set(ntz, "false")
    assert(Tables(s, sfDir, "events").schema("ts").dataType == TimestampType)
    s.conf.set(ntz, "true")
    assert(Tables(s, sfDir, "events").schema("ts").dataType == TimestampNTZType)
    s.conf.set(ntz, "false")
    assert(Tables(s, sfDir, "events").schema("ts").dataType == TimestampType)
  }

  test("a fresh session does not see another session's entries") {
    val dir = tmpDir("graft_tables_memo")
    spark.range(0, 10).coalesce(1).write.parquet(s"$dir/t.parquet")
    load(spark, dir, "t")
    assert(load(spark, dir, "t")._1 == 0)
    val fresh = spark.newSession()
    assert(load(fresh, dir, "t")._1 == 1, "a new session infers for itself")
    assert(load(fresh, dir, "t")._1 == 0)
  }

  test("single-file local tables widen to full parallelism") {
    val df = Tables.spread(spark, sfDir, "documents")
    assert(df.rdd.getNumPartitions == par)
  }

  test("an already-wide corpus keeps its scan untouched") {
    // 8 files >= 4 cores, sized so Spark's own split packing yields at
    // least `par` scan partitions (openCostInBytes dominates tiny
    // files: est = ceil(8 * 4MB / max(openCost, totalBytes/par)) >= 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    spark.range(0, 80000).select(col("id"), rand(7).as("x"))
      .repartition(8).write.mode("overwrite").parquet(s"$dir/wide.parquet")
    val df = Tables.spread(spark, dir, "wide")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"wide corpus got a repartition barrier:\n$plan")
    assert(df.rdd.getNumPartitions >= par)
    assert(df.count() == 80000)
  }

  test("a few-files corpus widens (repartition present, count intact)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    spark.range(0, 1000).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/narrow.parquet")
    val df = Tables.spread(spark, dir, "narrow")
    assert(df.rdd.getNumPartitions == par)
    assert(df.count() == 1000)
  }
}
