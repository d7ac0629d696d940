package graft.queries

import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Session-scoped memo for intermediates shared across queries.
  *
  * Query builders are `(SparkSession, dir) => DataFrame` — they return a
  * LAZY plan and the consuming action runs in the harness, so a builder
  * cannot release an intermediate in a try/finally without killing it
  * before the action. Per-invocation materialization instead leaked one
  * copy per call (bench reps × queries). This memo bounds storage to ONE
  * materialized DataFrame per (session, dir, key): repeat invocations — and
  * sibling queries sharing an intermediate, e.g. the ANN recall audits
  * reusing the brute-force baseline and the LSH hash relation — get the
  * already-materialized rows. Blocks are MEMORY_AND_DISK: memory pressure
  * spills them to disk.
  *
  * A memo is DATA, not a plan: `df` stores the build eagerly
  * localCheckpoint-ed (lineage truncated to a `LogicalRDD`), as
  * `Crawler.checkpointState` stores the crawl state.
  * A `persist()`-ed memo would keep its executed physical plan in the
  * CacheManager for recomputation, and with it every broadcast exchange
  * the plan ran and that exchange's driver-side hash relation: a
  * KB-scale pair set pinned ~100 MiB of broadcast pages for the rest of
  * the session. Once the producing plan is unreachable, the
  * ContextCleaner releases its broadcasts and shuffles. Trade-off: a
  * checkpointed block lost with its executor cannot be recomputed — the
  * crawl state accepts the same, and this engine runs at `local[N]`.
  *
  * The same map shape memoizes table schemas ([[schema]]), so a table
  * file's schema is inferred once per session, not once per scan.
  *
  * Lifecycle: the first insertion for a session (memo or schema) registers
  * ONE ApplicationEnd listener on its SparkContext that drops that
  * session's entries — without it the map rows (and the blocks they own) would
  * outlive the session in a multi-session JVM. The listener body is
  * [[invalidate]], also callable directly (SessionCacheSpec drives it).
  */
object SessionCache {

  private val cache = new ConcurrentHashMap[(String, String), DataFrame]()
  private val schemas = new ConcurrentHashMap[(String, String), StructType]()
  private val hooked = ConcurrentHashMap.newKeySet[String]()

  /** The session's key, registering its one ApplicationEnd listener on the
    * first call. */
  private def hook(s: SparkSession): String = {
    val sk = sessionKey(s)
    if (hooked.add(sk))
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          invalidateKey(sk, unhook = true)
      })
    sk
  }

  /** Memoized `infer` for this session: a table file's schema, `key`
    * naming the file's contents (`Tables.load` passes its qualified path,
    * length and modification time). Dropped with the session's memos. */
  def schema(s: SparkSession, key: String)(infer: => StructType): StructType =
    schemas.computeIfAbsent((hook(s), key), _ => infer)

  /** Memoized `build.localCheckpoint(eager = true)` for this session —
    * `key` must encode every input that changes the result (the data dir,
    * parameters). Keyed by the session's UUID (unique — an
    * identityHashCode key could collide with a stopped session's and hand
    * out data bound to a dead SparkContext). */
  def df(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val sk = hook(s)
    // get-then-putIfAbsent, NOT computeIfAbsent: a builder that itself
    // consults the cache (a memoized table built from another memoized
    // table) would nest map mutations inside computeIfAbsent's bin lock —
    // ConcurrentHashMap throws "Recursive update" whenever the two keys
    // happen to share a bin, and the session UUID in the key makes that a
    // per-JVM coin flip (an intermittent failure that cost a debugging
    // session). The race this admits is benign: a concurrent duplicate
    // build loses putIfAbsent and releases its own blocks.
    val k = (sk, key)
    val existing = cache.get(k)
    if (existing != null) existing
    else {
      val built = build.localCheckpoint(true)
      val prev = cache.putIfAbsent(k, built)
      if (prev != null) {
        release(built)
        prev
      } else built
    }
  }

  /** Release and drop every entry of `s`, memos and schemas — the
    * ApplicationEnd listener's body. Safe to call on a live session: later
    * df() calls rebuild and later schema() calls infer again. */
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
      Option(cache.remove(k)).foreach(release)
    }
    schemas.keySet.removeIf(_._1 == sk)
    if (unhook) hooked.remove(sk)
  }

  /** Unpersist a memo's checkpointed RDD. `Dataset.unpersist` is a no-op
    * for a checkpointed Dataset (it has no CacheManager entry): its blocks
    * belong to the RDD under the `LogicalRDD`. blocking=false, and a
    * stopped context just no-ops. */
  private def release(d: DataFrame): Unit =
    d.queryExecution.logical.foreach {
      case r: LogicalRDD =>
        try r.rdd.unpersist(blocking = false) catch { case NonFatal(_) => () }
      case _ => ()
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
