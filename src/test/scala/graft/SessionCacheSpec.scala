package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionCache

/** SessionCache lifecycle: memoization per (session, key), and the
  * session-end listener dropping every entry so a multi-session JVM never
  * accumulates dead map rows or pinned plan graphs. */
class SessionCacheSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("builds once per (session, key); repeat calls reuse the persisted plan") {
    var built = 0
    def get() = SessionCache.df(spark, "sc-spec-memo") { built += 1; spark.range(7).toDF() }
    val a = get(); val b = get()
    assert(built == 1)
    assert(a.count() == 7 && (a eq b))
  }

  test("ApplicationEnd drops the session's entries; later calls rebuild") {
    SessionCache.df(spark, "sc-spec-a") { spark.range(10).toDF() }
    SessionCache.df(spark, "sc-spec-b") { spark.range(5).toDF() }
    assert(SessionCache.sizeFor(spark) >= 2)
    org.apache.spark.sql.GraftSqlBridge.fireApplicationEnd(spark)
    assert(SessionCache.sizeFor(spark) == 0,
      "session-end must return the cache to empty for that session")
    // the cache stays usable: a later call re-registers and rebuilds
    var built = 0
    val d = SessionCache.df(spark, "sc-spec-a") { built += 1; spark.range(10).toDF() }
    assert(built == 1 && d.count() == 10)
  }

  test("direct invalidate() is the same cleanup, callable on a live session") {
    SessionCache.df(spark, "sc-spec-c") { spark.range(3).toDF() }
    assert(SessionCache.sizeFor(spark) >= 1)
    SessionCache.invalidate(spark)
    assert(SessionCache.sizeFor(spark) == 0)
  }

  test("invalidate-then-df cycles register at most one bus listener (no listener leak)") {
    import org.apache.spark.sql.GraftSqlBridge.listenerCount
    SessionCache.df(spark, "sc-spec-leak") { spark.range(2).toDF() }
    val base = listenerCount(spark, "SessionCache")
    assert(base >= 1)
    (1 to 5).foreach { _ =>
      SessionCache.invalidate(spark)
      SessionCache.df(spark, "sc-spec-leak") { spark.range(2).toDF() }
    }
    assert(listenerCount(spark, "SessionCache") == base,
      "each invalidate()+df() cycle must NOT add another ApplicationEnd listener")
    // and the one standing listener still performs the session-end cleanup
    org.apache.spark.sql.GraftSqlBridge.fireApplicationEnd(spark)
    assert(SessionCache.sizeFor(spark) == 0)
  }

  test("the AQE cached-plan conf is set once per session, not on every memo call") {
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    SessionCache.df(spark, "sc-spec-conf-a") { spark.range(4).toDF() }
    assert(spark.conf.get(key) == "true")
    try {
      spark.conf.set(key, "false")
      SessionCache.df(spark, "sc-spec-conf-b") { spark.range(4).toDF() }
      assert(spark.conf.get(key) == "false", "a later memo call must not reset the conf")
    } finally spark.conf.set(key, "true")
  }
}
