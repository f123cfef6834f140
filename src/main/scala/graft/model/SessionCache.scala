package graft.model

import org.apache.spark.sql.SparkSession

/** Per-session memo used by Tables / DerivedGraph / GraphAnalytics.
  *
  * Keyed by the session OBJECT (identity), never identityHashCode — a
  * recycled hash could alias a new session to a stopped one and hand out
  * DataFrames bound to a dead context.
  *
  * Lifetime: entries, and any blocks they persist, live until the
  * SparkContext stops (cached values are DataFrames, which strongly
  * reference their session, so weak-reference tricks cannot reclaim them
  * automatically — the WeakHashMap values-reach-keys caveat). For the
  * engine's driver processes (one session per Verify/Bench JVM) that is
  * the desired lifetime; nothing here releases a session earlier.
  */
final class SessionCache[K, V] {
  private val outer =
    new java.util.IdentityHashMap[SparkSession, scala.collection.concurrent.TrieMap[K, V]]

  def getOrElseUpdate(spark: SparkSession, key: K)(build: => V): V = {
    val inner = outer.synchronized {
      var t = outer.get(spark)
      if (t == null) {
        t = scala.collection.concurrent.TrieMap.empty[K, V]
        outer.put(spark, t)
      }
      t
    }
    inner.getOrElseUpdate(key, build)
  }
}
