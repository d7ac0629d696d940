package graft.queries

import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for persisted intermediates shared across queries.
  *
  * Query builders are `(SparkSession, dir) => DataFrame` — they return a
  * LAZY plan and the consuming action runs in the harness, so a builder
  * cannot `unpersist` in a try/finally without killing its own cache
  * before the action. Per-invocation `persist()` instead leaked one cached
  * copy per call (bench reps × queries). This memo bounds storage to ONE
  * persisted DataFrame per (session, dir, key): repeat invocations — and
  * sibling queries sharing an intermediate, e.g. the ANN recall audits
  * reusing the brute-force baseline and the LSH hash relation — get the
  * already-cached plan. Blocks are MEMORY_AND_DISK and evictable.
  *
  * Lifecycle: the first insertion for a session registers an
  * ApplicationEnd listener on its SparkContext that drops that session's
  * entries — without it the map rows (and the plan graphs they pin) would
  * outlive the session in a multi-session JVM. The listener body is
  * [[invalidate]], also callable directly (SessionCacheSpec drives it).
  */
object SessionCache {

  private val cache = new ConcurrentHashMap[(String, String), DataFrame]()
  private val hooked = ConcurrentHashMap.newKeySet[String]()

  /** Memoized `build.persist()` for this session — `key` must encode every
    * input that changes the result (the data dir, parameters). Keyed by
    * the session's UUID (unique — an identityHashCode key could collide
    * with a stopped session's and hand out a plan bound to a dead
    * SparkContext). */
  def df(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val sk = sessionKey(s)
    if (hooked.add(sk)) {
      // Once per session, before its first memo is built: cached plans are
      // compiled with AQE's runtime re-optimization disabled unless this is
      // on (Spark keeps it off by default only to preserve the output
      // partitioning some callers expect). Every memo here is consumed
      // through joins/aggregations that re-shuffle anyway, so let the
      // cached pipeline keep AQE (coalescing, runtime join selection)
      // instead of paying fixed-width stage waves at materialization.
      try s.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      catch { case NonFatal(_) => () }
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          invalidateKey(sk, unhook = true)
      })
    }
    // get-then-putIfAbsent, NOT computeIfAbsent: a builder that itself
    // consults the cache (a memoized table built from another memoized
    // table) would nest map mutations inside computeIfAbsent's bin lock —
    // ConcurrentHashMap throws "Recursive update" whenever the two keys
    // happen to share a bin, and the session UUID in the key makes that a
    // per-JVM coin flip (an intermittent failure that cost a debugging
    // session). The race this admits is benign: a concurrent duplicate
    // build loses putIfAbsent and unpersists itself.
    val k = (sk, key)
    val existing = cache.get(k)
    if (existing != null) existing
    else {
      val built = build.persist()
      val prev = cache.putIfAbsent(k, built)
      if (prev != null) {
        try built.unpersist(false) catch { case NonFatal(_) => () }
        prev
      } else built
    }
  }

  /** Unpersist and drop every entry of `s` — the ApplicationEnd listener's
    * body. Safe to call on a live session: later df() calls rebuild. */
  def invalidate(s: SparkSession): Unit = invalidateKey(sessionKey(s), unhook = false)

  /** `unhook` is true ONLY from the ApplicationEnd listener: a direct
    * invalidate() on a LIVE session must keep `hooked` set, or every
    * invalidate-then-df() cycle would register one more (never-removed)
    * listener on the shared SparkContext — an unbounded listener-bus leak
    * over a long session. The one registered listener stays in place and
    * idempotently re-fires at the real application end. */
  private def invalidateKey(sk: String, unhook: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    cache.keySet.asScala.filter(_._1 == sk).toSeq.foreach { k =>
      Option(cache.remove(k)).foreach { d =>
        // blocking=false, and a stopped context just no-ops
        try d.unpersist(false) catch { case NonFatal(_) => () }
      }
    }
    if (unhook) hooked.remove(sk)
  }

  /** Entries currently cached for `s` (spec instrumentation). */
  def sizeFor(s: SparkSession): Int = {
    import scala.jdk.CollectionConverters._
    val sk = sessionKey(s)
    cache.keySet.asScala.count(_._1 == sk)
  }

  /** Unique per-session id. Spark 4 exposes sessionUUID on the classic
    * implementation only (via GraftSqlBridge); identityHashCode is the
    * (collision-prone, hence non-preferred) fallback for exotic session
    * types. */
  def sessionKey(s: SparkSession): String =
    org.apache.spark.sql.GraftSqlBridge.sessionUUID(s)
      .getOrElse("idhash-" + System.identityHashCode(s))
}
