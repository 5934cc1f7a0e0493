package graft

import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/**
 * Weak-keyed per-session state store: the session's objects die with
 * it, and one session's entries can never be seen from another (PG
 * session scoping — prepared statements, sequences and CLUSTER
 * bookkeeping in [[graft.plans.PgStatements]], and the parquet schema
 * memo in [[Tables]], all ride this one idiom). Values must not hold
 * their session, or the weak key never clears.
 */
private[graft] final class SessionMap[V] {
  private val bySession = new java.util.WeakHashMap[SparkSession, TrieMap[String, V]]()

  def apply(spark: SparkSession): TrieMap[String, V] =
    bySession.synchronized {
      var m = bySession.get(spark)
      if (m == null) {
        m = TrieMap.empty[String, V]
        bySession.put(spark, m)
      }
      m
    }
}
