package graft

import graft.plans.{RewriteWindowTopK, TopKPerKey}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.Bridge.GraftInfoClass

/**
 * Session-extension entry point — the idiomatic deployment packaging
 * for a Spark extension library:
 *
 *   spark.sql.extensions=graft.GraftExtensions
 *
 * injects the optimizer rule + planning strategy AND the whole SQL
 * function surface (vector/mask/sketch + tsearch/ltree/crypt/
 * fuzzystrmatch + jsonb/hstore/intarray/earthdistance — r16) at
 * session build time, so `spark.sql("SELECT to_tsvector(t) ...")`
 * works with no per-session register call — exactly how an openGauss
 * user gets the contrib names after CREATE EXTENSION. The
 * programmatic path (`SqlFunctions.register(spark)`) remains for
 * notebooks and tests on an existing session; it skips every name
 * this extension already injected.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) => new graft.plans.PgSqlParser(delegate))
    ext.injectOptimizerRule(_ => RewriteWindowTopK)
    ext.injectPlannerStrategy(_ => TopKPerKey.strategy)
    graft.functions.SqlFunctions.allBuilders.foreach { case (name, b) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(GraftInfoClass, name), exprs => b(exprs)))
    }
    graft.functions.SqlTableFunctions.all.foreach { case (name, b) =>
      ext.injectTableFunction((new FunctionIdentifier(name),
        new ExpressionInfo(GraftInfoClass, name), exprs => b(exprs)))
    }
  }
}
