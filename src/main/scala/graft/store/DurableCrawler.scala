package graft.store

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.crawl._
import graft.fetch.Fetcher

/** The durable crawl (SURVEY.md §3.4, BASELINE.json: "checkpointed to
  * Iceberg snapshots with per-partition lineage and counters so a killed
  * run resumes exactly").
  *
  * Round commit protocol: each round's outputs go to their snapshot tables
  * first (frontier / seen / shards / pages / lineage — each an atomic
  * pointer swap), then ONE round-log entry records the five table versions,
  * then the round-log `current` pointer swaps atomically. The round-log
  * pointer is the linearization point: a kill anywhere before it leaves the
  * previous round as the visible state, and the re-run — being a pure
  * function of the committed inputs (deterministic pop order, hash-derived
  * priorities, no wall clock in the data path) — reproduces byte-identical
  * outputs. Orphaned table versions from a killed round are unreferenced
  * and harmless.
  */
class DurableCrawler(spark: SparkSession, val root: String, cfg: CrawlConfig = CrawlConfig())
    extends AutoCloseable {
  private val mapper = new ObjectMapper()

  // ---- single-writer guard -------------------------------------------
  // The snapshot protocol is single-writer by design (SURVEY §7 scopes out
  // concurrent-writer semantics); without a guard, two drivers pointed at
  // one store would silently interleave commits and corrupt the round log.
  // ADVISORY lock: acquired lazily on the FIRST MUTATING operation
  // (init/runRounds/gc — readers never lock), held until close(). The lock
  // file records pid + instance token + a heartbeat timestamp refreshed on
  // every round commit. Recovery: a holder whose PROCESS is dead
  // (ProcessHandle) is stale and its lock is stolen with a warning —
  // kill-recovery needs no manual unlock. Same-process double-open is
  // caught by a JVM-local registry (two instances share a pid, so
  // liveness can't distinguish them). Cross-machine deployments (shared
  // FS, no common pid space) should treat a heartbeat older than several
  // round times as stale — the timestamp is recorded for exactly that
  // policy, which is deliberately NOT automated here (a slow round must
  // never lose its store to an eager second driver).
  private val canonicalRoot = Paths.get(root).toAbsolutePath.normalize.toString
  private val lockPath = Paths.get(root, ".writer.lock")
  private val lockToken = java.util.UUID.randomUUID().toString
  @volatile private var lockHeld = false

  private def writeLockContent(): Unit = {
    val n = mapper.createObjectNode()
    n.put("pid", ProcessHandle.current().pid())
    n.put("token", lockToken)
    n.put("heartbeatMs", System.currentTimeMillis())
    // Tempfile + ATOMIC_MOVE (the writeEntryFile pattern): an in-place
    // truncate+write torn by a kill mid-heartbeat left an empty lock file
    // that every future writer parsed as pid=-1 = live holder, permanently
    // degrading kill-recovery to manual lock removal.
    val tmp = Paths.get(root, s".writer.lock.tmp-$lockToken")
    Files.writeString(tmp, n.toString)
    Files.move(tmp, lockPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Serialized compare-and-delete of an observed-stale lock. The naive
    * delete-then-recreate steal is a TOCTOU: two recovering drivers can
    * interleave so that B deletes A's FRESHLY CREATED lock (A steals and
    * acquires; B then removes A's file) and both end up holding the lock.
    * An exclusive FileLock on a side file (never deleted — removing it
    * would split the mutual exclusion across inodes) brackets a re-read:
    * the stale file is deleted ONLY if it still carries the exact
    * (pid, token) this driver observed dead, so a lock recreated by the
    * race winner is never touched. Dead stealers cannot wedge the guard —
    * OS file locks die with the process. */
  private def stealStaleLock(obsPid: Long, obsToken: String): Unit = {
    val guard = Paths.get(root, ".writer.lock.steal")
    try {
      val ch = java.nio.channels.FileChannel.open(guard,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val fl = ch.lock()
        try {
          val cur =
            try Option(mapper.readTree(Files.readString(lockPath)))
            catch { case scala.util.control.NonFatal(_) => None }
          val unchanged = cur.exists { c =>
            c.get("pid") != null && c.get("pid").asLong() == obsPid &&
              Option(c.get("token")).map(_.asText()).getOrElse("") == obsToken
          }
          if (unchanged) {
            System.err.println(
              s"[graft] recovering stale writer lock on $root (dead holder pid=$obsPid)")
            Files.deleteIfExists(lockPath)
          } // else: someone re-acquired since we looked — leave it; re-loop re-reads
        } finally fl.release()
      } finally ch.close()
    } catch {
      // lost an intra-JVM race on the guard (or an exotic FS without file
      // locks): skip this steal attempt; the acquire loop re-evaluates
      case _: java.nio.channels.OverlappingFileLockException => ()
    }
  }

  /** Refresh the heartbeat timestamp (holder only; cheap tiny write). */
  private def heartbeat(): Unit = if (lockHeld) writeLockContent()

  private def ensureWriterLock(): Unit = synchronized {
    if (lockHeld) return
    val prev = DurableCrawler.heldRoots.putIfAbsent(canonicalRoot, lockToken)
    if (prev != null && prev != lockToken)
      throw new IllegalStateException(
        s"store $root already has a live writer in this process — " +
          "a snapshot store is single-writer; close() the other DurableCrawler first")
    try {
      var acquired = false
      while (!acquired) {
        try {
          Files.createDirectories(Paths.get(root))
          Files.createFile(lockPath) // atomic fail-if-exists
          writeLockContent()
          acquired = true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            val holderNode =
              try Option(mapper.readTree(Files.readString(lockPath)))
              catch { case scala.util.control.NonFatal(_) => None } // mid-write/torn → treat as live
            val holderPid = holderNode.flatMap(n => Option(n.get("pid")))
              .map(_.asLong()).getOrElse(-1L)
            val holderToken = holderNode.flatMap(n => Option(n.get("token")))
              .map(_.asText()).getOrElse("")
            val self = ProcessHandle.current().pid()
            val holderAlive = holderPid > 0 &&
              ProcessHandle.of(holderPid).map[Boolean](_.isAlive).orElse(false)
            // holderPid == self with no registry entry can only be a stale
            // file from a recycled pid (this process registers BEFORE
            // creating the file and unregisters only after deleting it).
            if (holderPid > 0 && (!holderAlive || holderPid == self)) {
              // guarded compare-and-delete (see stealStaleLock): only the
              // exact observed dead (pid, token) is ever removed, and only
              // by one stealer; re-loop re-races createFile
              stealStaleLock(holderPid, holderToken)
            } else throw new IllegalStateException(
              s"store $root is locked by a live writer (pid=$holderPid) — " +
                "a snapshot store is single-writer; stop the other driver or, if it " +
                s"crashed without cleanup, remove $lockPath")
        }
      }
      lockHeld = true
    } catch {
      case t: Throwable =>
        DurableCrawler.heldRoots.remove(canonicalRoot, lockToken); throw t
    }
  }

  /** Release the writer lock (no-op if never acquired / already closed).
    * The store handle stays usable for reads after close(). */
  override def close(): Unit = synchronized {
    if (lockHeld) {
      Files.deleteIfExists(lockPath)
      DurableCrawler.heldRoots.remove(canonicalRoot, lockToken)
      lockHeld = false
    }
  }
  // ---------------------------------------------------------------------

  // The three tables every round anti-joins against are hash-bucketed by
  // urlHash: their committed scans arrive pre-partitioned, so the per-round
  // dedup joins exchange ONLY the small candidate side (see CrawlRound).
  val frontier = new SnapshotTable(spark, root, "frontier",
    bucketKey = Some("urlHash"), nBuckets = cfg.stateBuckets)
  val seen = new SnapshotTable(spark, root, "seen",
    bucketKey = Some("urlHash"), nBuckets = cfg.stateBuckets)
  val shards = new SnapshotTable(spark, root, "shards")
  val failed = new SnapshotTable(spark, root, "failed",
    bucketKey = Some("urlHash"), nBuckets = cfg.stateBuckets)
  val cuckoo = new SnapshotTable(spark, root, "cuckoo")
  /** Frontier overflow under cfg.frontierCap — bucketed like the frontier
    * (the candidate dedup anti-chain joins it too). Only written when a
    * cap is configured and spill exists. */
  val spilled = new SnapshotTable(spark, root, "spilled",
    bucketKey = Some("urlHash"), nBuckets = cfg.stateBuckets)
  val pages = new SnapshotTable(spark, root, "pages", codec = cfg.pagesCodec)
  val lineage = new SnapshotTable(spark, root, "lineage")

  private val logDir = Paths.get(root, "roundlog")
  private val logPointer = logDir.resolve("current")

  case class RoundEntry(round: Int, frontierV: Long, seenV: Long, shardsV: Long,
                        failedV: Long, cuckooV: Long,
                        pagesV: Long, lineageV: Long,
                        spilledV: Long = Long.MinValue,
                        frontierSize: Long = -1L, spilledSize: Long = -1L,
                        failedSize: Long = -1L,
                        seenSize: Long = -1L, bloomKeysPerShard: Long = -1L)

  def lastCompleteRound: Option[Int] =
    if (Files.exists(logPointer)) Some(Files.readString(logPointer).trim.toInt) else None

  /** Round-log format version. v1 had no failedV/cuckooV (the deletable
    * seen-subset landed later); missing fields read as NO_TABLE so a store
    * written by the old format resumes with empty failed/cuckoo state
    * instead of NPE-ing. v3 declares that entries may SHARE a pagesV
    * (pages compaction) and readers must iterate distinct versions with a
    * per-round row filter — a v2 reader iterating per-round would silently
    * DOUBLE-READ a compacted store, so v3 makes it fail fast instead.
    * Unknown FUTURE versions fail fast with a clear message rather than
    * misreading fields. */
  private val FORMAT_VERSION = 3
  private val NO_TABLE = Long.MinValue

  private def optLong(n: com.fasterxml.jackson.databind.JsonNode, field: String): Long = {
    val v = n.get(field)
    if (v == null || v.isNull) NO_TABLE else v.asLong()
  }

  private def entry(round: Int): RoundEntry = {
    val n = mapper.readTree(Files.readString(logDir.resolve(s"round-$round.json")))
    val fmt = if (n.has("format")) n.get("format").asInt() else 1
    require(fmt <= FORMAT_VERSION,
      s"round-$round.json has format $fmt, newer than this build's $FORMAT_VERSION — " +
        "refusing to misread a future round-log")
    RoundEntry(n.get("round").asInt(), n.get("frontierV").asLong(),
      n.get("seenV").asLong(), n.get("shardsV").asLong(),
      optLong(n, "failedV"), optLong(n, "cuckooV"),
      n.get("pagesV").asLong(), n.get("lineageV").asLong(),
      spilledV = optLong(n, "spilledV"),
      frontierSize = if (n.has("frontierSize")) n.get("frontierSize").asLong() else -1L,
      spilledSize = if (n.has("spilledSize")) n.get("spilledSize").asLong() else -1L,
      failedSize = if (n.has("failedSize")) n.get("failedSize").asLong() else -1L,
      seenSize = if (n.has("seenSize")) n.get("seenSize").asLong() else -1L,
      bloomKeysPerShard =
        if (n.has("bloomKeysPerShard")) n.get("bloomKeysPerShard").asLong() else -1L)
  }

  /** Atomic entry-file write WITHOUT the pointer swap — `compactPages`
    * rewrites HISTORICAL entries, which must never move `current`
    * backwards. Entry writes are ATOMIC (temp + rename): refresh /
    * compaction REWRITE entries the pointer (transitively) references, so
    * a torn write would corrupt the visible state. */
  private def writeEntryFile(e: RoundEntry): Unit = {
    Files.createDirectories(logDir)
    val node = mapper.createObjectNode()
    node.put("format", FORMAT_VERSION)
    node.put("round", e.round)
    node.put("frontierV", e.frontierV); node.put("seenV", e.seenV)
    node.put("shardsV", e.shardsV)
    node.put("failedV", e.failedV); node.put("cuckooV", e.cuckooV)
    node.put("pagesV", e.pagesV); node.put("lineageV", e.lineageV)
    if (e.spilledV != NO_TABLE) node.put("spilledV", e.spilledV)
    if (e.frontierSize >= 0) node.put("frontierSize", e.frontierSize)
    if (e.spilledSize >= 0) node.put("spilledSize", e.spilledSize)
    if (e.failedSize >= 0) node.put("failedSize", e.failedSize)
    if (e.seenSize >= 0) node.put("seenSize", e.seenSize)
    if (e.bloomKeysPerShard >= 0) node.put("bloomKeysPerShard", e.bloomKeysPerShard)
    val etmp = logDir.resolve(s".round-${e.round}.json.tmp")
    Files.writeString(etmp, node.toString)
    Files.move(etmp, logDir.resolve(s"round-${e.round}.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def writeEntry(e: RoundEntry): Unit = {
    writeEntryFile(e)
    val tmp = logDir.resolve(s".current.tmp.${e.round}")
    Files.writeString(tmp, e.round.toString)
    Files.move(tmp, logPointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def stateAt(round: Int): CrawlRound.State = {
    val e = entry(round)
    CrawlRound.State(
      frontier = frontier.read(e.frontierV),
      seenExact = seen.read(e.seenV),
      bloomShards = shards.read(e.shardsV),
      failed = if (e.failedV == NO_TABLE) Crawler.emptyFailed(spark) else failed.read(e.failedV),
      cuckooShards = if (e.cuckooV == NO_TABLE) Crawler.emptyShards(spark) else cuckoo.read(e.cuckooV),
      spilled = if (e.spilledV == NO_TABLE) None else Some(spilled.read(e.spilledV)),
      frontierSize = e.frontierSize, spilledSize = e.spilledSize,
      failedSize = e.failedSize,
      seenSize = e.seenSize, bloomKeysPerShard = e.bloomKeysPerShard)
  }

  /** Round "-1": the seed state. Idempotent — safe to call on an
    * already-initialized root (no-op). */
  def init(seeds: Seq[String], robots: DataFrame): Unit = {
    if (lastCompleteRound.isDefined) return
    ensureWriterLock()
    val f0 = Robots.filterAllowed(Frontier.fromSeeds(spark, seeds), robots)
    writeEntry(RoundEntry(-1,
      frontierV = frontier.commit(f0),
      seenV = seen.commit(Crawler.emptySeen(spark)),
      shardsV = shards.commit(Crawler.emptyShards(spark)),
      failedV = failed.commit(Crawler.emptyFailed(spark)),
      cuckooV = cuckoo.commit(Crawler.emptyShards(spark)),
      pagesV = -1L, lineageV = -1L,
      spilledSize = 0L, failedSize = 0L, seenSize = 0L))
  }

  /** Lineage table rows: partitionId = -1 is the round total; every
    * partitionId ≥ 0 row carries ALL counters for that physical partition.
    * Forcing out.lineage here runs the round's single deferred counting
    * job (CrawlRound.Output scaladoc) — this is called inside the commit
    * wave's lineage future, so the count rides CONCURRENTLY with the
    * table commits instead of as its own serial driver wave. */
  private def lineageDf(out: CrawlRound.Output, r: Int): DataFrame = {
    import spark.implicits._
    (out.lineage +: out.partLineage).toDF()
  }

  /** The committed lineage table of a completed round. */
  def lineageAt(round: Int): DataFrame = lineage.read(entry(round).lineageV)

  /** Committed pages-table version of a round (time-travel handle; the
    * round-sliced read and its plan tests address versions through it). */
  def pagesVersionAt(round: Int): Long = entry(round).pagesV

  /** Run rounds (lastComplete+1 .. untilRound]. `failBeforeLogAt` injects a
    * crash AFTER the table commits but BEFORE the round-log swap of that
    * round — the kill-resume test's hook. Returns lineages of the rounds
    * actually run. */
  def runRounds(untilRound: Int, fetcher: Fetcher, robots: DataFrame,
                budgets: DataFrame, defaultBudget: Int,
                failBeforeLogAt: Int = Int.MinValue): Seq[RoundLineage] = {
    ensureWriterLock()
    val start = lastCompleteRound.getOrElse(
      throw new IllegalStateException("call init() first")) + 1
    val out = Seq.newBuilder[RoundLineage]
    var r = start
    var continue = true
    while (r <= untilRound && continue) {
      val prevEntry = entry(r - 1)
      val state = stateAt(r - 1)
      // WRITE-ONCE materialization of the round's widest data: the pages
      // snapshot commit IS the fused fetch pass's materializing action
      // (CrawlRound.fetchSink) — the committed version holds the FULL
      // fetch output (all statuses + links + priority), downstream round
      // logic and the corpus read paths consume column-pruned /
      // status-filtered projections of the committed scan, so the round's
      // widest data crosses the box once.
      var committedPagesV = -1L
      val res = CrawlRound.run(spark, state, robots, budgets, defaultBudget,
        fetcher, r, cfg, fetchSink = Some { df =>
          committedPagesV = pages.commit(df)
          pages.read(committedPagesV)
        })
      if (res.nPopped == 0) { continue = false }
      else {
        // The seven table commits are independent single-writer snapshots —
        // run them concurrently (serial parquet-write latencies never
        // amortize). The round-log entry BELOW remains the linearization
        // point: until it swaps, none of these versions are referenced.
        // A table CrawlRound returned BY REFERENCE from the state this
        // round read (failed/cuckoo on clean rounds, the spill between
        // compactions) is unchanged — its previous committed version is
        // REUSED instead of rescanning and rewriting the table, which for
        // the spill is by design the biggest table in the engine.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import graft.crawl.DriverWaves.ec
        def commitOrReuse(df: org.apache.spark.sql.DataFrame,
                          prevDf: org.apache.spark.sql.DataFrame,
                          table: SnapshotTable, prevV: Long): Future[Long] =
          if ((df eq prevDf) && prevV != NO_TABLE) Future.successful(prevV)
          else Future(table.commit(df))
        val spF = res.state.spilled.map(df =>
          commitOrReuse(df, state.spilled.orNull, spilled, prevEntry.spilledV))
        // The lineage job CHAINS AFTER the frontier commit instead of
        // racing it: both force the round's expansion/dedup chain through
        // the same unmaterialized persists, and Spark does not coordinate
        // duplicate in-flight computation of a cached partition across
        // concurrent jobs — launched together, the two jobs each computed
        // the full chain (measured ~3–3.6 s/round for lineage at 4–16
        // cores, scaling 1.19×). Sequenced, the frontier commit populates
        // the rawCandidates/newEntries caches and the lineage pass is two
        // narrow cached-scan aggregations. Still fully inside the commit
        // wave — the other table commits overlap the chain.
        val fvF = Future(frontier.commit(res.state.frontier))
        val lvF = fvF.map(_ => lineage.commit(lineageDf(res, r)))
        val Seq(sv, shv, flv, ckv) = Await.result(Future.sequence(Seq(
          Future(seen.commit(res.state.seenExact)),
          Future(shards.commit(res.state.bloomShards)),
          commitOrReuse(res.state.failed, state.failed, failed, prevEntry.failedV),
          commitOrReuse(res.state.cuckooShards, state.cuckooShards, cuckoo, prevEntry.cuckooV))),
          Duration.Inf)
        val fv = Await.result(fvF, Duration.Inf)
        val lv = Await.result(lvF, Duration.Inf)
        val spv = spF.map(Await.result(_, Duration.Inf)).getOrElse(Long.MinValue)
        val e = RoundEntry(r, frontierV = fv, seenV = sv, shardsV = shv,
          failedV = flv, cuckooV = ckv, pagesV = committedPagesV, lineageV = lv,
          spilledV = spv, frontierSize = res.state.frontierSize,
          spilledSize = res.state.spilledSize,
          failedSize = res.state.failedSize,
          seenSize = res.state.seenSize,
          bloomKeysPerShard = res.state.bloomKeysPerShard)
        if (r == failBeforeLogAt)
          throw new RuntimeException(s"injected kill before round-$r log commit")
        writeEntry(e)
        heartbeat() // staleness signal for cross-machine lock policies
        out += res.lineage
      }
      res.unpersistCached()
      r += 1
    }
    out.result()
  }

  /** RECRAWL (freshness refresh): re-enqueue every RETAINED page whose
    * latest fetch is ≤ `maxFetchRound` at `priority` (semantics + scale
    * shape in `Crawler.refreshEntries`), committing the augmented
    * frontier and atomically REWRITING the current round's log entry to
    * reference it — the next `runRounds` call pops the refreshed urls in
    * the normal deterministic order. Crash-safe: the frontier version
    * commits first; a kill before the entry rewrite leaves the store
    * exactly as before (orphan version, unreferenced). Pages older than
    * the gc retention are not visible to refresh — by design, a freshness
    * policy reads the live corpus. Returns the number of urls
    * re-enqueued. */
  def refresh(maxFetchRound: Int, priority: Double): Long = {
    ensureWriterLock()
    val last = lastCompleteRound.getOrElse(
      throw new IllegalStateException("call init() first"))
    require(last >= 0, "refresh needs at least one crawled round")
    val st = stateAt(last)
    val pagesAll = allPages().getOrElse(return 0L)
    enqueueEntries(last, st, Crawler.refreshEntries(pagesAll,
      Seq(st.frontier) ++ st.spilled.toSeq, maxFetchRound, last + 1, priority))
  }

  /** ADAPTIVE recrawl — the change-rate freshness policy (Cho &
    * Garcia-Molina, TODS 2003: refresh proportionally to each page's
    * observed change rate, not on a fixed clock). From the retained fetch
    * history, per url: firstFetch, lastFetch, and nContent = distinct
    * itemText hashes across its fetches. A url with nContent > 1 changed
    * at least nContent − 1 times over (lastFetch − firstFetch) rounds, so
    * its estimated change interval is (lastFetch − firstFetch) /
    * (nContent − 1); it is DUE when the rounds since its last fetch reach
    * that interval — evaluated by exact cross-multiplication, no float:
    *
    *   (now − lastFetch) · (nContent − 1) ≥ lastFetch − firstFetch
    *
    * Never-observed-to-change urls (nContent = 1, including every
    * single-fetch url) are never due here — they refresh via the plain
    * staleness cutoff `refresh`. Same commit/rewrite machinery, same
    * scale shape (ONE hash agg over the page log — the content hash rides
    * the same aggregation; anti-joins against the bucketed frontier).
    * Returns the number of urls re-enqueued at `priority`. */
  def refreshAdaptive(priority: Double): Long = {
    ensureWriterLock()
    val last = lastCompleteRound.getOrElse(
      throw new IllegalStateException("call init() first"))
    require(last >= 0, "refreshAdaptive needs at least one crawled round")
    val st = stateAt(last)
    val pagesAll = allPages().getOrElse(return 0L)
    val now = last + 1
    val due = pagesAll
      .groupBy("urlHash")
      .agg(
        max("fetchRound").as("lastFetch"),
        min("fetchRound").as("firstFetch"),
        countDistinct(xxhash64(col("itemText"))).as("nContent"),
        max_by(struct(col("url"), col("host"), col("depth")), col("fetchRound")).as("k"))
      .filter(col("nContent") > 1 &&
        (lit(now) - col("lastFetch")) * (col("nContent") - 1)
          >= col("lastFetch") - col("firstFetch"))
      .select(col("k.url").as("url"), col("urlHash"),
        col("k.host").as("host"), col("k.depth").as("depth"))
    enqueueEntries(last, st, Crawler.shapeReenqueue(due,
      Seq(st.frontier) ++ st.spilled.toSeq, now, priority))
  }

  /** Commit-and-rewrite tail shared by the refresh policies: union the
    * entries into the current frontier, commit the version, atomically
    * rewrite the current round's entry. A kill before the rewrite leaves
    * the store untouched (orphan version). */
  private def enqueueEntries(last: Int, st: CrawlRound.State,
                             entriesRaw: DataFrame): Long = {
    val e = entry(last)
    val entries = entriesRaw.persist()
    try {
      val n = entries.count() // refresh is a rare op; one small job keeps
                              // frontierSize exact through the rewrite
      if (n > 0) {
        val fv = frontier.commit(st.frontier.unionByName(entries))
        writeEntry(e.copy(frontierV = fv,
          frontierSize = if (e.frontierSize >= 0) e.frontierSize + n else -1L))
        heartbeat()
      }
      n
    } finally entries.unpersist()
  }

  /** Oldest round whose log entry is still on disk — gc() trims older
    * entries, so corpus reads start here instead of round 0. */
  def oldestRetainedRound: Option[Int] = lastCompleteRound.map { last =>
    var r = last
    while (r - 1 >= -1 && Files.exists(logDir.resolve(s"round-${r - 1}.json"))) r -= 1
    r
  }

  /** Round r's committed pages with a `fetchRound` column GUARANTEED: a
    * store written before the column existed (resume-compat path — the
    * seenSize/bloomKeysPerShard -1 fallbacks support exactly such stores)
    * has page versions without it, and a plain union with new-format
    * versions would throw AnalysisException on the first post-upgrade
    * round. A pre-column version is by construction exactly round r's
    * pages, so the round-log entry's round number IS its fetchRound.
    *
    * The stored version is the round's FULL fetch log (write-once commit —
    * all statuses plus the round-internal `links`/`priority`/`popRank`
    * working columns); `pageView` derives the corpus-facing pages table
    * from it: status==200 rows, the 12 page columns. Both reductions reach
    * the parquet scan (pushed status filter, pruned columns), so a corpus
    * read never pays for the fetch log's extra bytes. Older versions that
    * stored the filtered projection directly pass through unchanged
    * (status is all-200 there, and the selected columns are exactly their
    * schema). */
  private val PAGE_COLS = Seq("url", "urlHash", "host", "depth", "round",
    "fetchRound", "popRank", "status", "fetchTs", "lang", "itemText", "metrics")
  private def pageView(df: DataFrame, r: Int): DataFrame = {
    val stamped = if (df.columns.contains("fetchRound")) df
                  else df.withColumn("fetchRound", lit(r))
    stamped.filter(col("status") === 200).select(PAGE_COLS.map(col): _*)
  }
  private def pagesOfRound(r: Int): DataFrame =
    pageView(pages.read(entry(r).pagesV), r)

  /** The retained window's (pagesV → rounds pointing at it) map. Before
    * `compactPages` every version is pointed at by exactly one round;
    * after, a compacted version is shared by its window. Reads iterate
    * DISTINCT versions and row-filter to the rounds that point at each —
    * which also keeps every crash-prefix of a compaction's entry rewrites
    * exact (a half-repointed window reads the repointed rounds from the
    * merged version and the rest from their old per-round versions,
    * never both). */
  private def versionRounds(lo: Int, hi: Int): Seq[(Long, Seq[Int])] =
    (lo to hi).map(r => (entry(r).pagesV, r)).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (v, rs) => (v, rs.map(_._2)) }

  private def roundFiltered(df: DataFrame, rs: Seq[Int]): DataFrame =
    if (df.columns.contains("fetchRound"))
      df.filter(col("fetchRound").isin(rs.map(Int.box): _*))
    else df // pre-fetchRound versions are never shared (only compaction shares)

  /** All RETAINED pages up to the last complete round (the union over the
    * retention window's distinct page versions — the full corpus when
    * gc() has never run). */
  def allPages(): Option[DataFrame] = lastCompleteRound.filter(_ >= 0).map { last =>
    versionRounds(math.max(0, oldestRetainedRound.get), last)
      .map { case (v, rs) => roundFiltered(pageView(pages.read(v), rs.head), rs) }
      .reduce(_ unionByName _)
  }

  /** Garbage-collect history: keep the last `keepLastRounds` complete
    * rounds (plus everything their entries reference) and expire older
    * table versions + round-log entries — the Iceberg expire-snapshots
    * analog for the whole store. A snapshot-per-round state layout is
    * O(rounds × table size) on disk without this; with it, storage is
    * O(keepLastRounds × table size). Reuse-aware: failed/cuckoo/spill
    * versions committed long ago but still referenced by a KEPT entry
    * (clean rounds reuse them — commitOrReuse) are NOT expired, because
    * each table's expiry floor is the MINIMUM version any kept entry
    * references. Resume, kill-recovery, and reads within the retention
    * window are unaffected (GcSpec). Returns table → versions removed. */
  def gc(keepLastRounds: Int): Map[String, Seq[Long]] = {
    require(keepLastRounds >= 1, s"keepLastRounds must be >= 1, got $keepLastRounds")
    ensureWriterLock()
    val last = lastCompleteRound.getOrElse(return Map.empty)
    val keepFrom = math.max(-1, last - keepLastRounds + 1)
    val kept = (keepFrom to last).map(entry)
    def floor(f: RoundEntry => Long): Option[Long] = {
      val vs = kept.map(f).filter(v => v != NO_TABLE && v >= 0)
      if (vs.isEmpty) None else Some(vs.min)
    }
    val plan: Seq[(String, SnapshotTable, Option[Long])] = Seq(
      ("frontier", frontier, floor(_.frontierV)),
      ("seen", seen, floor(_.seenV)),
      ("shards", shards, floor(_.shardsV)),
      ("failed", failed, floor(_.failedV)),
      ("cuckoo", cuckoo, floor(_.cuckooV)),
      ("spilled", spilled, floor(_.spilledV)),
      ("pages", pages, floor(_.pagesV)),
      ("lineage", lineage, floor(_.lineageV)))
    val removed = plan.map { case (name, t, fl) =>
      name -> fl.map(t.expire).getOrElse(Seq.empty)
    }.toMap
    // drop the expired rounds' log entries LAST — table expiry above is
    // idempotent, so a crash mid-gc just re-runs
    var r = keepFrom - 1
    while (r >= -1 && Files.exists(logDir.resolve(s"round-$r.json"))) {
      Files.deleteIfExists(logDir.resolve(s"round-$r.json"))
      r -= 1
    }
    removed
  }

  /** Compact the pages history: merge rounds [lo, hi]'s page versions into
    * ONE committed version and repoint every entry in the window at it —
    * the Iceberg rewrite-data-files analog. A snapshot-per-round layout
    * accumulates one version (= one file set) per round forever; a 10^4-
    * round crawl pays 10^4 version opens per corpus read without this.
    * The merged version is range-partitioned and sorted on (fetchRound,
    * urlHash), so its per-file min/max stats stay TIGHT and
    * `pagesInRounds`'s readPruned file-prune keeps working across the
    * compacted window (CompactionSpec pins slice exactness after).
    *
    * Crash-safe at every prefix: the merged version commits first
    * (unreferenced orphan), then each entry repoints atomically WITHOUT
    * touching the `current` pointer; readers row-filter every version to
    * the rounds that point at it (`versionRounds`), so a half-repointed
    * window reads repointed rounds from the merged version and the rest
    * from their old versions — never both. Re-running completes
    * idempotently. Replaced versions become unreferenced and fall to the
    * next `gc`'s reuse-aware floor. Returns the merged version (or the
    * already-shared version when the window is a single version).
    * `failAfterRepoints` injects a crash after that many entry rewrites —
    * the CompactionSpec hook. */
  def compactPages(lo: Int, hi: Int, failAfterRepoints: Int = Int.MaxValue): Long = {
    ensureWriterLock()
    val last = lastCompleteRound.getOrElse(
      throw new IllegalStateException("call init() first"))
    val l = math.max(lo, math.max(0, oldestRetainedRound.get))
    val h = math.min(hi, last)
    require(l <= h, s"empty compaction window [$lo, $hi] within retention")
    val vr = versionRounds(l, h)
    if (vr.size <= 1) return vr.head._1
    val merged = vr.map { case (v, rs) =>
        val df = pages.read(v)
        // legacy versions (never shared) lack fetchRound: stamp from the
        // round-log so the merged version always file-prunes on it
        roundFiltered(
          if (df.columns.contains("fetchRound")) df
          else df.withColumn("fetchRound", lit(rs.head)), rs)
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .repartitionByRange(col("fetchRound"), col("urlHash"))
      .sortWithinPartitions("fetchRound", "urlHash")
    val vC = pages.commit(merged)
    var repointed = 0
    for (r <- l to h) {
      if (repointed >= failAfterRepoints)
        throw new RuntimeException(s"injected kill after $repointed compaction repoints")
      writeEntryFile(entry(r).copy(pagesV = vC))
      repointed += 1
    }
    heartbeat()
    vC
  }

  /** Pages crawled in rounds [lo, hi] — the round-sliced corpus read a
    * downstream consumer (e.g. the segmentation aggregation over one
    * crawl window) uses instead of scanning the archive:
    *
    *  1. the round LOG selects only the slice's page versions (the
    *     snapshot-level prune — other versions are never opened);
    *  2. each selected version reads through readPruned("fetchRound") —
    *     the manifest-stats file prune — so even a version whose files
    *     straddle the slice (a future multi-round compaction of the pages
    *     table) scans only intersecting files. RoundSliceSpec pins that
    *     out-of-slice files never reach a scan.
    *
    * None when the store has no complete round or the slice is empty. */
  def pagesInRounds(lo: Int, hi: Int): Option[DataFrame] =
    lastCompleteRound.filter(_ >= 0).flatMap { last =>
      val l = math.max(lo, math.max(0, oldestRetainedRound.get)) // gc-trimmed floor
      val h = math.min(hi, last)
      if (l > h) None
      else versionRounds(l, h).map { case (v, rs) =>
        // A pre-fetchRound version can't file-prune on the column (its
        // files carry no such stats) — but it IS whole-round r's pages and
        // r ∈ [l, h], so whole-version selection via the round log is the
        // exact slice; stamp the column so the union stays uniform.
        if (pages.schemaAt(v).fieldNames.contains("fetchRound"))
          roundFiltered(pageView(pages.readPruned("fetchRound", lo, hi, v), rs.head), rs)
        else pageView(pages.read(v), rs.head)
      }.reduceOption(_ unionByName _)
    }

  def currentState(): CrawlRound.State = stateAt(lastCompleteRound.get)

  /** The persisted web graph as (src, dst) urlHash edges — derived lazily
    * from the retained page versions that carry the `links` column (every
    * round's full fetch log; versions from stores written before the
    * write-once commit hold the filtered projection, no links, and
    * contribute no edges). None when no retained version has links. */
  def linkEdges(): Option[DataFrame] =
    lastCompleteRound.filter(_ >= 0).flatMap { last =>
      versionRounds(math.max(0, oldestRetainedRound.get), last).flatMap { case (v, rs) =>
        if (pages.schemaAt(v).fieldNames.contains("links"))
          Some(LinkGraph.edges(roundFiltered(pages.read(v), rs)))
        else None
      }.reduceOption(_ unionByName _)
    }

  /** PageRank over the persisted web graph (LinkGraph.pageRank — full
    * dangling-mass redistribution, Σ pr = 1). None when the store has no
    * link-carrying page versions. */
  def pageRank(iters: Int = 3, damping: Double = 0.85): Option[DataFrame] =
    linkEdges().map(e => LinkGraph.pageRank(spark, e, iters, damping))

  /** Re-prioritize the WAITING frontier from the web graph: every frontier
    * entry's priority becomes its PageRank (an unranked url — possible
    * only for never-linked seeds — floors at 0.0), committing the new
    * frontier version and atomically rewriting the current round's entry,
    * exactly like `refresh`. The next `runRounds` pops link-importance
    * order instead of the synthetic base priority — the OPIC-style
    * priority feedback loop a production crawler runs between crawl
    * waves. Crash-safe for the same reason as refresh (entry rewrite is
    * the linearization point). Returns the number of frontier entries
    * that received a graph rank. */
  def reprioritizeByRank(iters: Int = 3, damping: Double = 0.85): Long = {
    ensureWriterLock()
    val last = lastCompleteRound.getOrElse(
      throw new IllegalStateException("call init() first"))
    require(last >= 0, "reprioritizeByRank needs at least one crawled round")
    val ranks = pageRank(iters, damping).getOrElse(return 0L)
      .withColumnRenamed("id", "urlHash")
    val e = entry(last)
    val st = stateAt(last)
    def ranked(df: DataFrame): DataFrame = df
      .join(ranks, Seq("urlHash"), "left")
      .withColumn("priority", coalesce(col("pr"), lit(0.0)))
      .select("url", "urlHash", "host", "priority", "depth", "round")
    val fv = frontier.commit(ranked(st.frontier))
    // A capped crawl's spill must move to the SAME priority scale, or the
    // next compaction re-splits active ∪ spill across two incomparable
    // scales and the "active = global top-cap" invariant silently breaks.
    val spv = st.spilled.map(sp => spilled.commit(ranked(sp)))
    writeEntry(e.copy(frontierV = fv,
      spilledV = spv.getOrElse(e.spilledV)))
    heartbeat()
    st.frontier.join(ranks, Seq("urlHash"), "left_semi").count()
  }
}

object DurableCrawler {
  /** JVM-local registry of store roots with a live writer: pid-liveness
    * can't tell two writers in the SAME process apart, so same-process
    * double-open is caught here (root → holder's lock token). Registered
    * before the lock file is created, removed only after it is deleted,
    * so a registry miss + our own pid in the file proves a recycled pid. */
  private[store] val heldRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
}
