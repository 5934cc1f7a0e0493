package graft

import org.apache.spark.sql.SparkSession

/**
 * Dev tool: time individual named queries from SparkEntry.queries.
 *
 *   sbt "runMain graft.TimeQuery <sfDir> <name> [<name> ...]"
 *
 * Same session config and noop-sink forcing as Bench; each query gets
 * one warmup run and one timed steady-state run.
 */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQuery <sfDir> <query> [<query>...]")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the SQL surface the sql_* queries call, as in Bench
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata timestamps are written tz-naive (timestamp[us], not UTC-
      // adjusted); read them as LTZ under the UTC session zone, as every
      // operator and oracle expects, instead of Spark 4's NTZ inference
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.initCheckpoints(spark)
    for (name <- args.drop(1)) {
      val q = SparkEntry.queries(name)
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"TIMING $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
