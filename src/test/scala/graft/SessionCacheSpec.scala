package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionCache

/** SessionCache lifecycle: memoization per (session, key) as lineage-
  * truncated data, and the session-end listener dropping every entry (and
  * its blocks) so a multi-session JVM never accumulates dead map rows or
  * pinned blocks. */
class SessionCacheSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Whether the RDD under a memo's `LogicalRDD` is still registered as
    * persistent (by id: other suites' unreferenced RDDs may leave the
    * weak-valued registry at any time, so its size is not a stable base). */
  private def pinned(memo: org.apache.spark.sql.DataFrame): Boolean = {
    val ids = memo.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(ids.size == 1)
    spark.sparkContext.getPersistentRDDs.contains(ids.head)
  }

  test("builds once per (session, key); repeat calls reuse the materialized memo") {
    var built = 0
    def get() = SessionCache.df(spark, "sc-spec-memo") { built += 1; spark.range(7).toDF() }
    val a = get(); val b = get()
    assert(built == 1)
    assert(a.count() == 7 && (a eq b))
  }

  test("a memo is data, not a plan: a broadcast-join build leaves no cached plan") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions.broadcast
    val facts = spark.range(1000).selectExpr("cast(id % 10 as string) as k", "id as v")
    val dims = spark.range(10).selectExpr("cast(id as string) as k", "id * 100 as w")
    def build = facts.join(broadcast(dims), "k")
    assert(build.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the spec needs a build that broadcast-joins on its string key")
    val memo = SessionCache.df(spark, "sc-spec-bhj")(build)
    assert(spark.sharedState.cacheManager
      .lookupCachedData(memo.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty,
      "a CacheManager entry keeps the executed plan, and its broadcast relations, alive")
    assert(memo.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      s"memo lineage must be truncated:\n${memo.queryExecution.analyzed}")
    val sums = memo.groupBy().agg(
      org.apache.spark.sql.functions.sum("v"), org.apache.spark.sql.functions.sum("w")).head()
    assert(memo.count() == 1000 && sums.getLong(0) == 499500L && sums.getLong(1) == 450000L)
  }

  test("ApplicationEnd drops the session's entries; later calls rebuild") {
    val a = SessionCache.df(spark, "sc-spec-a") { spark.range(10).toDF() }
    val b = SessionCache.df(spark, "sc-spec-b") { spark.range(5).toDF() }
    assert(SessionCache.sizeFor(spark) >= 2 && pinned(a) && pinned(b))
    org.apache.spark.sql.GraftSqlBridge.fireApplicationEnd(spark)
    assert(SessionCache.sizeFor(spark) == 0,
      "session-end must return the cache to empty for that session")
    assert(!pinned(a) && !pinned(b), "session-end must release the memos' blocks")
    // the cache stays usable: a later call re-registers and rebuilds
    var built = 0
    val d = SessionCache.df(spark, "sc-spec-a") { built += 1; spark.range(10).toDF() }
    assert(built == 1 && d.count() == 10)
  }

  test("direct invalidate() is the same cleanup, callable on a live session") {
    val c = SessionCache.df(spark, "sc-spec-c") { spark.range(3).toDF() }
    assert(SessionCache.sizeFor(spark) >= 1 && pinned(c))
    SessionCache.invalidate(spark)
    assert(SessionCache.sizeFor(spark) == 0)
    assert(!pinned(c),
      "invalidate must unpersist the checkpointed RDD (Dataset.unpersist does not)")
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

  test("df leaves the session conf unchanged, on a session's first memo too") {
    // ApplicationEnd unhooks the session, so the next df is its first insertion
    org.apache.spark.sql.GraftSqlBridge.fireApplicationEnd(spark)
    // the conf an earlier SessionCache set on first insertion: start from
    // its default so a return of that session-wide mutation shows here
    spark.conf.unset("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
    val before = spark.conf.getAll
    SessionCache.df(spark, "sc-spec-conf-a") { spark.range(4).toDF() }
    SessionCache.df(spark, "sc-spec-conf-b") { spark.range(4).toDF() }
    assert(spark.conf.getAll == before)
  }
}
