package graft

import graft.operators.Ivf

class EntrySpec extends SparkSpec {

  test("driver contract: entry returns rows; every oracle key has a query") {
    assert(SparkEntry.entry(spark).count() > 0)
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
    assert(SparkEntry.queries.size >= 95)
  }

  test("GraftExtensions wires the topk rewrite rule and strategy") {
    // getOrCreate would return the shared test session (ignoring the
    // extensions conf), so exercise the injection path directly: this
    // is exactly what session building runs under spark.sql.extensions.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val (rules, strategies) =
      org.apache.spark.sql.graft.Bridge.injectedRulesAndStrategies(ext, spark)
    assert(rules.contains(graft.plans.RewriteWindowTopK))
    assert(strategies.contains(graft.plans.TopKPerKey.strategy))
    // the whole SQL-name surface injects at session build (r16)
    val names =
      org.apache.spark.sql.graft.Bridge.injectedFunctionNames(ext).toSet
    assert(graft.functions.SqlFunctions.allBuilders.keySet.subsetOf(names),
      s"missing: ${graft.functions.SqlFunctions.allBuilders.keySet -- names}")
    assert(names.contains("to_tsvector") && names.contains("akeys") &&
      names.contains("crypt") && names.contains("l2_distance"))
    val tfNames =
      org.apache.spark.sql.graft.Bridge.injectedTableFunctionNames(ext).toSet
    assert(tfNames.contains("generate_series") &&
      tfNames.contains("normal_rand"))
  }

  test("register is idempotent: a repeat leaves the registry unchanged, no replace WARN") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val replaced = "replaced a previously registered function"
    def warnings(body: => Unit): Seq[String] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val a = new AbstractAppender("graft-capture", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = {
          seen.add(e.getMessage.getFormattedMessage); ()
        }
      }
      a.start()
      val root = LogManager.getRootLogger.asInstanceOf[Logger]
      root.addAppender(a)
      try body finally { root.removeAppender(a); a.stop() }
      scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
    }
    val s = spark.newSession()
    val fr = s.sessionState.functionRegistry
    val tfr = s.sessionState.tableFunctionRegistry
    def snapshot = (
      fr.listFunction().map(id => id -> fr.lookupFunctionBuilder(id).get).toMap,
      tfr.listFunction().map(id => id -> tfr.lookupFunctionBuilder(id).get).toMap)
    val (fns, tfns) = snapshot
    // the session was built with GraftExtensions, so even the first
    // call finds every name already holding graft's function
    val logged = warnings {
      graft.functions.SqlFunctions.register(s)
      graft.functions.SqlFunctions.register(s)
    }
    val (fns2, tfns2) = snapshot
    assert(fns2.keySet == fns.keySet && tfns2.keySet == tfns.keySet)
    assert(fns.forall { case (id, b) => fns2(id) eq b },
      "a repeat register replaced a function builder")
    assert(tfns.forall { case (id, b) => tfns2(id) eq b })
    assert(!logged.exists(_.contains(replaced)), logged.filter(_.contains(replaced)))
    assert(s.sql("SELECT l2_distance(array(0F, 3F), array(4F, 0F))")
      .head().getDouble(0) == 5.0)
    // the capture does see the WARN a real replacement logs
    val other = spark.newSession()
    val forced = warnings {
      other.sessionState.functionRegistry.createOrReplaceTempFunction(
        "l2_distance", graft.functions.SqlFunctions.allBuilders("l2_distance"),
        "scala_udf")
    }
    assert(forced.exists(_.contains(replaced)), forced)
  }

  test("generate_series: PG inclusive bounds, signed step, Range plan") {
    graft.functions.SqlFunctions.register(spark)
    assert(spark.sql("SELECT * FROM generate_series(1, 5)")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(spark.sql("SELECT * FROM generate_series(5, 1, -2)")
      .collect().map(_.getLong(0)).toSeq == Seq(5L, 3L, 1L))
    assert(spark.sql("SELECT * FROM generate_series(3, 1)").count() == 0)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM generate_series(1, 5, 0)").collect())
    assert(e.getMessage.contains("step size cannot equal zero"))
    // compiles to a Range scan — distributed, no driver list
    val plan = spark.sql("SELECT * FROM generate_series(1, 1000000)")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Range"), plan)
  }

  test("ivf model save/load round-trips") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val model = Ivf.build(emb, "embedding", nlists = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString
    Ivf.saveModel(spark, model, dir)
    val loaded = Ivf.loadModel(spark, dir)
    assert(loaded.nlists == model.nlists)
    assert(loaded.centroids.zip(model.centroids).forall {
      case (a, b) => a.sameElements(b)
    })
  }
}
