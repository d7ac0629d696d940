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
  * first (frontier / seen / shards / failed / cuckoo / pages / lineage —
  * each an atomic pointer swap), then ONE round-log entry records their
  * versions, then the round-log `current` pointer swaps atomically. The
  * round-log pointer is the linearization point: a kill anywhere before it
  * leaves the previous round as the visible state, and the re-run — being
  * a pure function of the committed inputs (deterministic pop order,
  * hash-derived priorities, no wall clock in the data path) — reproduces
  * byte-identical outputs. Orphaned table versions from a killed round
  * are unreferenced and harmless.
  *
  * The round log only grows: `init` and `runRounds` each write a NEW
  * entry, and no path rewrites a committed one, so every round owns the
  * pages version it committed.
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
    // Tempfile + ATOMIC_MOVE (the writeEntry pattern): an in-place
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
  // urlHash, at the session's shuffle-partition count: their committed
  // scans arrive pre-partitioned, so the per-round dedup joins exchange
  // ONLY the small candidate side (see CrawlRound).
  val frontier = new SnapshotTable(spark, root, "frontier",
    bucketKey = Some("urlHash"))
  val seen = new SnapshotTable(spark, root, "seen",
    bucketKey = Some("urlHash"))
  val shards = new SnapshotTable(spark, root, "shards")
  val failed = new SnapshotTable(spark, root, "failed",
    bucketKey = Some("urlHash"))
  val cuckoo = new SnapshotTable(spark, root, "cuckoo")
  val pages = new SnapshotTable(spark, root, "pages")
  val lineage = new SnapshotTable(spark, root, "lineage")

  private val logDir = Paths.get(root, "roundlog")
  private val logPointer = logDir.resolve("current")

  /** One round-log entry: the table versions a round committed (pagesV
    * and lineageV are -1 for the seed entry, round -1) and the State sizes
    * that ride the round counters. */
  case class RoundEntry(round: Int, frontierV: Long, seenV: Long, shardsV: Long,
                        failedV: Long, cuckooV: Long,
                        pagesV: Long, lineageV: Long,
                        failedSize: Long, seenSize: Long, bloomKeysPerShard: Long)

  def lastCompleteRound: Option[Int] =
    if (Files.exists(logPointer)) Some(Files.readString(logPointer).trim.toInt) else None

  /** Round-log format version. Every entry this build writes carries
    * every RoundEntry field, and this build reads only its own format: an
    * entry of any other format, or one missing a field, is refused with a
    * message naming the round and the format or field, never misread. */
  private val FORMAT_VERSION = 4

  private def entry(round: Int): RoundEntry = {
    val file = s"round-$round.json"
    val n = mapper.readTree(Files.readString(logDir.resolve(file)))
    val fmt = Option(n.get("format")).map(_.toString).getOrElse("none")
    require(fmt == FORMAT_VERSION.toString,
      s"$file has format $fmt; this build reads only round-log format $FORMAT_VERSION")
    def field(name: String): Long = {
      val v = n.get(name)
      require(v != null && v.canConvertToLong,
        s"$file (format $FORMAT_VERSION) has no numeric field $name")
      v.asLong()
    }
    RoundEntry(field("round").toInt, field("frontierV"), field("seenV"), field("shardsV"),
      field("failedV"), field("cuckooV"), field("pagesV"), field("lineageV"),
      field("failedSize"), field("seenSize"), field("bloomKeysPerShard"))
  }

  /** Commit a round: write its entry file, then swap `current` to it. Both
    * writes are atomic (temp + rename). The entry file of a round that
    * `current` does not yet reference may be replaced — a run killed
    * between the two writes re-runs that round — but a committed entry is
    * never written again. */
  private def writeEntry(e: RoundEntry): Unit = {
    Files.createDirectories(logDir)
    val node = mapper.createObjectNode()
    node.put("format", FORMAT_VERSION)
    node.put("round", e.round)
    node.put("frontierV", e.frontierV); node.put("seenV", e.seenV)
    node.put("shardsV", e.shardsV)
    node.put("failedV", e.failedV); node.put("cuckooV", e.cuckooV)
    node.put("pagesV", e.pagesV); node.put("lineageV", e.lineageV)
    node.put("failedSize", e.failedSize); node.put("seenSize", e.seenSize)
    node.put("bloomKeysPerShard", e.bloomKeysPerShard)
    val etmp = logDir.resolve(s".round-${e.round}.json.tmp")
    Files.writeString(etmp, node.toString)
    Files.move(etmp, logDir.resolve(s"round-${e.round}.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
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
      failed = failed.read(e.failedV),
      cuckooShards = cuckoo.read(e.cuckooV),
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
      failedSize = 0L, seenSize = 0L, bloomKeysPerShard = -1L))
  }

  /** Lineage table rows: partitionId = -1 is the round total; every
    * partitionId ≥ 0 row carries ALL counters for that physical partition.
    * Forcing out.lineage here runs the round's deferred counting action
    * (CrawlRound.Output scaladoc). runRounds calls this once the frontier
    * commit has finished, so the count reads that commit's cached
    * intermediates while the other table commits may still be running. */
  private def lineageDf(out: CrawlRound.Output): DataFrame = {
    import spark.implicits._
    (out.lineage +: out.partLineage).toDF()
  }

  /** The committed lineage table of a completed round. */
  def lineageAt(round: Int): DataFrame = lineage.read(entry(round).lineageV)

  /** The pages-table version round `round` committed (time-travel handle;
    * the round-sliced read and its plan tests address versions through
    * it). */
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
        // The six table commits are independent single-writer snapshots —
        // run them concurrently (serial parquet-write latencies never
        // amortize). The round-log entry BELOW remains the linearization
        // point: until it swaps, none of these versions are referenced.
        // A table CrawlRound returned BY REFERENCE from the state this
        // round read (failed/cuckoo on clean rounds) is unchanged — its
        // previous committed version is REUSED instead of rescanning and
        // rewriting the table.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import graft.crawl.DriverWaves.ec
        def commitOrReuse(df: DataFrame, prevDf: DataFrame,
                          table: SnapshotTable, prevV: Long): Future[Long] =
          if (df eq prevDf) Future.successful(prevV)
          else Future(table.commit(df))
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
        val lvF = fvF.map(_ => lineage.commit(lineageDf(res)))
        val Seq(sv, shv, flv, ckv) = Await.result(Future.sequence(Seq(
          Future(seen.commit(res.state.seenExact)),
          Future(shards.commit(res.state.bloomShards)),
          commitOrReuse(res.state.failed, state.failed, failed, prevEntry.failedV),
          commitOrReuse(res.state.cuckooShards, state.cuckooShards, cuckoo, prevEntry.cuckooV))),
          Duration.Inf)
        val fv = Await.result(fvF, Duration.Inf)
        val lv = Await.result(lvF, Duration.Inf)
        val e = RoundEntry(r, frontierV = fv, seenV = sv, shardsV = shv,
          failedV = flv, cuckooV = ckv, pagesV = committedPagesV, lineageV = lv,
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

  /** Oldest round whose log entry is still on disk — gc() trims older
    * entries, so corpus reads start here instead of round 0. */
  def oldestRetainedRound: Option[Int] = lastCompleteRound.map { last =>
    var r = last
    while (r - 1 >= -1 && Files.exists(logDir.resolve(s"round-${r - 1}.json"))) r -= 1
    r
  }

  /** The corpus-facing pages table of one committed pages version. The
    * stored version is the round's FULL fetch log (write-once commit — all
    * statuses plus the round-internal `links`/`priority` working columns);
    * this view keeps the status==200 rows and the 12 page columns. Both
    * reductions reach the parquet scan (pushed status filter, pruned
    * columns), so a corpus read never pays for the fetch log's extra
    * bytes. */
  private val PAGE_COLS = Seq("url", "urlHash", "host", "depth", "round",
    "fetchRound", "popRank", "status", "fetchTs", "lang", "itemText", "metrics")
  private def pageView(df: DataFrame): DataFrame =
    df.filter(col("status") === 200).select(PAGE_COLS.map(col): _*)

  /** The pages versions of rounds [lo, hi]. Every round owns the version it
    * committed, so a read takes each one whole. Entries that SHARE a
    * version (the layout of a pages compaction, which this build never
    * runs) would return the shared rows once per round that points at
    * them, so such a store fails fast here instead. */
  private def roundVersions(lo: Int, hi: Int): Seq[Long] = {
    val rv = (lo to hi).map(r => (r, entry(r).pagesV))
    val shared = rv.groupBy(_._2).collect { case (v, rs) if rs.size > 1 =>
      s"v$v <- rounds ${rs.map(_._1).mkString(",")}" }
    require(shared.isEmpty,
      s"round-log entries share a pages version (${shared.mkString("; ")}): " +
        "a pages compaction layout, which this build does not read — it expects " +
        "one pages version per round")
    rv.map(_._2)
  }

  /** All RETAINED pages up to the last complete round (the union of the
    * retention window's per-round page versions — the full corpus when
    * gc() has never run). */
  def allPages(): Option[DataFrame] = lastCompleteRound.filter(_ >= 0).map { last =>
    roundVersions(math.max(0, oldestRetainedRound.get), last)
      .map(v => pageView(pages.read(v)))
      .reduce(_ unionByName _)
  }

  /** Garbage-collect history: keep the last `keepLastRounds` complete
    * rounds (plus everything their entries reference) and expire older
    * table versions + round-log entries — the Iceberg expire-snapshots
    * analog for the whole store. A snapshot-per-round state layout is
    * O(rounds × table size) on disk without this; with it, storage is
    * O(keepLastRounds × table size). Reuse-aware: failed/cuckoo
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
      val vs = kept.map(f).filter(_ >= 0)
      if (vs.isEmpty) None else Some(vs.min)
    }
    val plan: Seq[(String, SnapshotTable, Option[Long])] = Seq(
      ("frontier", frontier, floor(_.frontierV)),
      ("seen", seen, floor(_.seenV)),
      ("shards", shards, floor(_.shardsV)),
      ("failed", failed, floor(_.failedV)),
      ("cuckoo", cuckoo, floor(_.cuckooV)),
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

  /** Pages crawled in rounds [lo, hi] — the round-sliced corpus read a
    * downstream consumer (e.g. the segmentation aggregation over one
    * crawl window) uses instead of scanning the archive:
    *
    *  1. the round LOG selects only the slice's page versions (the
    *     snapshot-level prune — other versions are never opened);
    *  2. each selected version reads through readPruned("fetchRound") —
    *     the manifest-stats file prune — so a file whose stats fall
    *     outside the slice never reaches a scan (RoundSliceSpec pins it).
    *     Every pages version this build commits carries `fetchRound` and
    *     its footer stats, so this is the one read path.
    *
    * None when the store has no complete round or the slice is empty. */
  def pagesInRounds(lo: Int, hi: Int): Option[DataFrame] =
    lastCompleteRound.filter(_ >= 0).flatMap { last =>
      val l = math.max(lo, math.max(0, oldestRetainedRound.get)) // gc-trimmed floor
      val h = math.min(hi, last)
      if (l > h) None
      else roundVersions(l, h)
        .map(v => pageView(pages.readPruned("fetchRound", lo, hi, v)))
        .reduceOption(_ unionByName _)
    }

  def currentState(): CrawlRound.State = stateAt(lastCompleteRound.get)
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
