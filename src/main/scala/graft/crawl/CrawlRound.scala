package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.expr.BloomOrExpr.bloom_or
import graft.expr.{Extractors, FilterExprs}
import graft.fetch.Fetcher

/** One crawl round (SURVEY.md §3.2) — a typed Dataset job:
  *
  *   frontier ──pop (W1, skew-safe)──► popped
  *   popped ──fetch (S7)──► fetched pages
  *   pages ──extract (X1/X2 Catalyst exprs)──► extracted
  *   pages ──explode links → canonicalize → hash (E1/P1/P2)──► candidates
  *   candidates ──map-side dedup → robots → bloom prefilter → exact anti
  *                (E2/S5/J5/J3: dedup-before-shuffle)──► enqueued
  *   frontier' = remaining ∪ enqueued;  seen' = seen ∪ popped;
  *   shards'  = shards ⊕ bloom(popped)  (incremental OR-merge)
  *
  * Exchanges: (1) pop windows [host,salt → host], (2) fetch join on url,
  * (3) candidate groupBy urlHash, (4) exact anti join for the maybe-seen
  * remainder only. Everything between is whole-stage codegen.
  */
object CrawlRound {

  /** Crawl state tables. The URL-seen set is split into a PERMANENT subset
    * (successful fetches — bloom-prefiltered, append-only) and a DELETABLE
    * subset (failed fetches — cuckoo-prefiltered, so retired entries can be
    * REMOVED for retry, which a Bloom filter cannot do). `seen` semantics
    * everywhere = seenExact ∪ failed.
    *
    *   failed:       (url, urlHash, host, priority, depth, failRound) —
    *                 full frontier shape, so retry re-enqueues directly
    *   cuckooShards: (shardId, bits, numKeys) — prefilter of failed */
  case class State(frontier: DataFrame, seenExact: DataFrame, bloomShards: DataFrame,
                   failed: DataFrame, cuckooShards: DataFrame,
                   /** Size of `failed`, maintained arithmetically from the
                     * round counters. 0 lets a clean round skip the whole
                     * deletable-subset machinery: no cuckoo shard collect
                     * job, no cuckoo probe term, no failed-side anti-joins
                     * — per-round driver actions are the Amdahl fixed cost
                     * that caps scaling efficiency at high parallelism. */
                   failedSize: Long,
                   /** Rows in `seenExact`, maintained arithmetically.
                     * Drives the bloom growth guard. */
                   seenSize: Long,
                   /** Keys-per-shard geometry the STANDING bloom shards
                     * were built for (−1 = cfg.expectedKeysPerShard). The
                     * guard doubles it when the seen set outgrows it —
                     * without a rebuild the filter silently saturates
                     * (fpp → 1) and the prefilter stops rerouting work,
                     * a pure-performance failure no correctness test can
                     * catch. Delta shards must build at THIS geometry
                     * (bloom OR-merge requires identical (m, k)). */
                   bloomKeysPerShard: Long = -1L)

  /** `cached`: intermediates persisted inside run(); the caller MUST
    * materialize (checkpoint/write) `state` and `pages` first, then call
    * `unpersistCached()` — releasing them earlier re-runs the round's
    * windows and fetch on every downstream use.
    *
    * `nPopped` is known from the round's one eager job (the fetch wave) —
    * termination checks use it WITHOUT forcing lineage.
    *
    * `lineage` is the round-total row (partitionId = -1); `partLineage`
    * carries one row per physical partition id with ALL counters. Forcing
    * either runs the round's DEFERRED counting action (memoized): one
    * collect over the persisted intermediates, which AQE runs as three
    * jobs (a map stage per aggregate, then the result). Callers that
    * consume lineage (the durable commit, the in-memory crawler, specs)
    * force it after the frontier commit or checkpoint, so it scans that
    * write's cached intermediates instead of recomputing them; callers
    * that only crawl (the bench loop) pay nothing. Either way the
    * raw/enqueued counts add no driver wave between the fetch and the
    * commit. Force lineage BEFORE unpersistCached(), or the action
    * recomputes the round.
    *
    * The stages partition independently, so partition p's popped/fetched
    * (fetch-stage partitions) and rawCandidates/enqueued (expand/dedup
    * stage partitions) describe different row sets that happen to share an
    * id — per-partition dedupDropped = rawCandidates − enqueued is the
    * per-stage-partition net and can be negative; only the total row's is
    * a true drop count. */
  case class Output(
      pages: DataFrame,
      popped: DataFrame,
      state: State,
      nPopped: Long,
      cached: Seq[DataFrame],
      private val mkLineage: () => (RoundLineage, Seq[RoundLineage])) {
    private lazy val lineageAll: (RoundLineage, Seq[RoundLineage]) = mkLineage()
    def lineage: RoundLineage = lineageAll._1
    def partLineage: Seq[RoundLineage] = lineageAll._2
    def unpersistCached(): Unit = cached.foreach(_.unpersist())
  }

  /** `fetchSink`: how the fused fetch→extract→links pass MATERIALIZES.
    * None (default, the in-memory path) persists it to the block store.
    * The durable path passes the snapshot WRITE itself (commit the full
    * fetch output to parquet, hand back the committed lazy scan) — so the
    * round's widest data crosses the box ONCE (the parquet write) instead
    * of twice (block-store persist + separate pages commit reading it
    * back). Downstream consumers (status counters, ok/fail hashes, link
    * expansion) read back column-pruned slices; the wide itemText column
    * is never re-read by the round itself. */
  def run(spark: SparkSession, state: State, robots: DataFrame,
          budgets: DataFrame, defaultBudget: Int, fetcher: Fetcher,
          round: Int, cfg: CrawlConfig,
          fetchSink: Option[DataFrame => DataFrame] = None): Output = {

    val (popped0, remaining0) = Frontier.pop(
      state.frontier, budgets, defaultBudget, cfg.saltBuckets)
    val popped = popped0.persist(StorageLevel.MEMORY_AND_DISK)
    // remaining is consumed twice (enqueue anti-join path + next frontier);
    // without a persist each use re-runs both pop windows over the full
    // frontier — the largest table in the round.
    val remaining = remaining0.persist(StorageLevel.MEMORY_AND_DISK)

    // The dedup prefilter probes the COMMITTED (previous-round) shard
    // tables, so their collect jobs have no dependency on this round's
    // fetch and launch NOW — fully off the critical path (per-round serial
    // driver time is the Amdahl fixed cost). This round's own ok/fail
    // hashes are excluded EXACTLY by the post-union broadcast anti-chain
    // below, so the stale prefilter never lets a just-popped url through:
    // prefilters only reroute work, the exact layer decides.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import DriverWaves.ec
    val haveFailedOld = state.failedSize != 0L
    val bloomArrF = Future(Seen.collectShardArray(state.bloomShards, cfg.nShards))
    val cuckooArrF =
      if (haveFailedOld) Some(Future(Seen.collectShardArray(state.cuckooShards, cfg.nShards)))
      else None

    // One FUSED pass: fetch → X1/X2 extraction → link extraction, all
    // inside the single eager job below. The raw page (`html` binary +
    // stripped `text`, the round's widest data by far) exists only
    // TRANSIENTLY inside this pipeline — per row, inside whole-stage
    // codegen — and never reaches the block store: what persists is the
    // round's OUTPUT shape (itemText/metrics + the ≤fanout extracted link
    // strings + narrow meta), roughly half the bytes. The unfused form
    // cached html+text and re-read them for extraction and expansion —
    // O(raw corpus) of extra single-box memory/page-cache traffic per
    // round, the measured reason the extract+checkpoint wave scaled only
    // 2.5× at 4→16 cores (BENCH/BASELINE.md round-4 stage table). The
    // persist is COLUMNAR (InMemoryRelation cached batches), so the many
    // narrow bookkeeping consumers (okHashes, fail rows, counters) read
    // only the columns they name, never the itemText payload.
    val okRow = col("status") === 200
    val fetchedRaw = fetcher.fetch(popped)
      .select(col("url"), col("urlHash"), col("host"), col("priority"),
        col("depth"), col("round"), col("popRank"), col("status"),
        col("fetchTs"), col("lang"),
        when(okRow, Extractors.extract_10k(col("text"))).as("itemText"),
        when(okRow, Extractors.extract_metrics(col("text"))).as("metrics"),
        when(okRow && col("depth") < cfg.maxDepth,
          Frontier.extractRawLinks(col("html"))).as("links"),
        // `round` is the entry's ENQUEUE round (an entry can wait several
        // rounds under budget); `fetchRound` is the round that actually
        // fetched it — the column round-sliced corpus reads prune on.
        lit(round).as("fetchRound"))
    val fetched = fetchSink match {
      case None       => fetchedRaw.persist(StorageLevel.MEMORY_AND_DISK)
      case Some(sink) => sink(fetchedRaw)
    }

    // One job yields popped+fetched PER PARTITION (the lineage contract):
    // the Fetcher contract is strictly 1:1 per popped url (Fetcher trait
    // scaladoc; asserted in CrawlSpec), so fetched rows = popped rows and
    // counting popped separately would be a second full pass. The groupBy
    // on spark_partition_id replaces the scalar agg — same single job, the
    // grouped result is #partitions rows collected to the driver. Without
    // a sink this is the action that materializes the fused pass above;
    // with one, the commit already materialized it and this job reads only
    // the status column back (a column-pruned KB-scale scan).
    val fetchParts = fetched.groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("n"), count_if(col("status") === 200).as("ok"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val nPopped = fetchParts.map(_._2).sum
    val nFetched = fetchParts.map(_._3).sum

    // itemText/metrics were computed in the fused pass — this is a pure
    // projection of the materialized columns (cached batches or the
    // committed scan, depending on fetchSink).
    val pages = fetched
      .filter(col("status") === 200)
      .select("url", "urlHash", "host", "depth", "round", "fetchRound",
        "popRank", "status", "fetchTs", "lang", "itemText", "metrics")

    // Seen-set update for the NEXT round's prefilters and the commit.
    // (This round's probe uses the committed tables — see above — and the
    // post-union anti-chain covers okHashes/failRows exactly.) Successful
    // fetches go to the PERMANENT subset (seenExact + bloom); failures go
    // to the DELETABLE subset (failed + cuckoo) so they can later be
    // retired for retry (Crawler.retryFailed).
    val okHashes = fetched.filter(col("status") === 200).select("urlHash")
    val seenExact2 = state.seenExact.unionByName(okHashes)
    // Bloom growth guard (the bloom twin of the cuckoo sizing guard): the
    // standing shards' geometry is fixed at build time while the seen set
    // grows forever — an unguarded incremental OR-merge saturates the
    // filter (fpp → 1) and the prefilter silently stops rerouting work.
    // All-arithmetic trigger (no extra jobs: seenSize rides the fetch
    // counters), geometric doubling so total rebuild cost over a crawl's
    // lifetime is O(final seen size).
    val seenSize2 = state.seenSize + nFetched
    val standingCap =
      if (state.bloomKeysPerShard > 0) state.bloomKeysPerShard
      else cfg.expectedKeysPerShard
    val projPerShard = seenSize2 / cfg.nShards + 1
    val (bloomShards2, bloomCap2) =
      if (projPerShard > standingCap * 85 / 100) {
        // outgrown: rebuild every shard from the exact table at doubled
        // geometry (≥ 2× projection) — one sharded groupBy, same shape as
        // the incremental build, amortized by doubling
        val newCap = math.max(standingCap * 2, projPerShard * 2)
        (Seen.buildBloomShards(seenExact2, cfg.nShards, newCap, cfg.bloomFpp), newCap)
      } else {
        // headroom confirmed: incremental delta merge, delta built at the
        // STANDING geometry (OR-merge requires identical (m, k))
        val deltaShards = Seen.buildBloomShards(
          okHashes, cfg.nShards, standingCap, cfg.bloomFpp)
        (state.bloomShards
          .withColumnRenamed("bits", "bitsOld").withColumnRenamed("numKeys", "nOld")
          .join(deltaShards, Seq("shardId"), "full_outer")
          .select(
            col("shardId"),
            coalesce(bloom_or(col("bitsOld"), col("bits")), col("bitsOld"), col("bits")).as("bits"),
            (coalesce(col("nOld"), lit(0L)) + coalesce(col("numKeys"), lit(0L))).as("numKeys")),
          standingCap)
      }
    // The failure/cuckoo side updates ONLY when this round actually failed
    // fetches (nFailed is already known from the fetch-stage counters):
    // returning the state tables by REFERENCE otherwise keeps the deletable
    // subset correct while skipping a delta-build job + merge + checkpoint
    // per round — per-round fixed cost is the serial fraction that caps
    // scaling efficiency at high parallelism (Amdahl), so no-op rounds must
    // cost nothing.
    val nFailed = nPopped - nFetched
    val failRowsOpt =
      if (nFailed == 0L) None
      else Some(fetched.filter(col("status") =!= 200)
        .select(col("url"), col("urlHash"), col("host"), col("priority"),
          col("depth"), lit(round).as("failRound")))
    val (failed2, cuckooShards2) = failRowsOpt match {
      case None => (state.failed, state.cuckooShards)
      case Some(failRows) =>
        // Sizing guard BEFORE the merge: the standing geometry is fixed at
        // build time while the failed set accumulates across rounds, so an
        // unguarded incremental merge would eventually overflow a shard
        // (CuckooMergeOverflow). One tiny job over ≤nShards rows reads the
        // standing geometry (from length(bits) — no deserialization) and
        // the worst post-merge per-shard load; only failing rounds pay it.
        val deltaCounts = failRows
          .groupBy(Seen.shardFor(col("urlHash"), cfg.nShards).as("shardId"))
          .agg(count(lit(1)).as("nNew"))
        val guard = state.cuckooShards
          .select(col("shardId"), col("numKeys").as("nOld"), length(col("bits")).as("len"))
          .join(deltaCounts, Seq("shardId"), "full_outer")
          .agg(max(col("len")).as("len"),
            max(coalesce(col("nOld"), lit(0L)) + coalesce(col("nNew"), lit(0L))).as("projMax"))
          .head()
        val standingBuckets =
          if (guard.isNullAt(0)) None
          else Some(graft.filters.GraftCuckooFilter.bucketsOfSerializedLength(guard.getInt(0)))
        val projMax = guard.getLong(1)
        val slots = graft.filters.GraftCuckooFilter.SLOTS
        val f2 = state.failed.unionByName(failRows)
        val merged = standingBuckets match {
          case Some(b) if projMax <= b.toLong * slots * 85 / 100 =>
            // Headroom confirmed (merge's eviction cascade reaches ~95%
            // load; 85% is the guard margin): incremental shard merge.
            val deltaCuckoo = Seen.buildCuckooShardsWithBuckets(
              failRows.select("urlHash"), cfg.nShards, b)
            state.cuckooShards
              .withColumnRenamed("bits", "bitsOld").withColumnRenamed("numKeys", "nOld")
              .join(deltaCuckoo, Seq("shardId"), "full_outer")
              .select(
                col("shardId"),
                coalesce(FilterExprs.cuckoo_merge(col("bitsOld"), col("bits")),
                  col("bitsOld"), col("bits")).as("bits"),
                (coalesce(col("nOld"), lit(0L)) + coalesce(col("numKeys"), lit(0L))).as("numKeys"))
          case _ =>
            // First failures, or projected load breaches the margin:
            // (re)build every shard from the exact failed table with
            // geometry sized from ACTUAL counts (2× headroom) — never
            // smaller than the configured default.
            Seen.buildCuckooShards(f2.select("urlHash"), cfg.nShards,
              math.max(cfg.expectedKeysPerShard, projMax * 2))
        }
        (f2, merged)
    }

    // Frontier expansion with dedup-before-shuffle. The committed-shard
    // collects launched at round start have been running alongside the
    // whole fetch wave by now. NO count job here: the expansion
    // materializes inside whichever downstream action runs first (the
    // caller's state checkpoint / commits), and its per-partition counts
    // ride the deferred lineage action — a serial expand-count wave
    // was pure per-round driver fixed cost (the Amdahl fraction the
    // scaling bench exposes).
    // failedSize after this round's failures (arithmetic).
    val failedSize2 = state.failedSize + nFailed
    val rawCandidates = Frontier.expandFromLinks(fetched).persist(StorageLevel.MEMORY_AND_DISK)
    val allowed = Robots.filterAllowed(rawCandidates, robots)
    // Anti vs the CHECKPOINTED input frontier, not `remaining`: frontier =
    // remaining ∪ popped and popped ⊆ seen (already excluded by filterNew),
    // so the result is identical — but the input frontier needs no
    // recomputation.
    // Exact layer in COMPONENTS: the committed seen/failed tables are the
    // BIG sides (hash-bucketed snapshots — their scans arrive
    // pre-partitioned on urlHash, so the anti-join chain exchanges only
    // the small maybe-seen remainder, once). Both the prefilter and the
    // big exact layer use the COMMITTED state (so the shard collects
    // overlapped the fetch wave); this round's ok/fail deltas are excluded
    // exactly by the post-union broadcast anti-chain below, which must
    // cover BOTH probe branches — a candidate the stale prefilter calls
    // "definitely new" can be a url fetched this very round.
    val exactBig = Seq(state.seenExact) ++ (if (haveFailedOld) Seq(state.failed) else Nil)
    val deduped = Seen.filterNewWithArrays(allowed,
      Await.result(bloomArrF, Duration.Inf),
      cuckooArrF.map(Await.result(_, Duration.Inf)),
      exactBig = exactBig,
      exactSmall = Nil, nShards = cfg.nShards)
    // The standing frontier is committed bucketed by urlHash, keeping the
    // chain one-exchange. The ok/fail deltas ride the same chain as
    // broadcast antis (they apply to ALL candidates, not just the
    // maybe-seen remainder — see above).
    val exactSmall = Seq(okHashes) ++ failRowsOpt.toSeq
    val newEntries = Seen.antiChain(deduped, Seq(state.frontier), exactSmall)
      .withColumn("round", lit(round + 1))
      .select("url", "urlHash", "host", "priority", "depth", "round")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val frontier2 = remaining.unionByName(newEntries)

    // The deferred lineage action: ONE collect computing every
    // per-partition counter not already known from the fetch wave (expand
    // and dedup counts), as a union of narrow aggregates over the round's
    // persisted intermediates. Memoized by Output; consumers force it
    // after the frontier write has filled those persists (Output
    // scaladoc).
    val mkLineage: () => (RoundLineage, Seq[RoundLineage]) = () => {
      val pid = spark_partition_id().as("pid")
      val rows = rawCandidates.groupBy(pid).agg(count(lit(1)).as("n"))
        .select(lit(0).as("src"), col("pid"), col("n"))
        .unionByName(newEntries.groupBy(pid).agg(count(lit(1)).as("n"))
          .select(lit(1).as("src"), col("pid"), col("n")))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      val rawParts = rows.filter(_._1 == 0).map(t => (t._2, t._3)).toSeq
      val enqParts = rows.filter(_._1 == 1).map(t => (t._2, t._3)).toSeq
      val nRaw = rawParts.map(_._2).sum
      val nEnqueued = enqParts.map(_._2).sum

      val total = RoundLineage(
        round = round, partitionId = -1,
        popped = nPopped, fetched = nFetched,
        extracted = nFetched, // every 200 page yields an extraction (spec'd noMatch="" otherwise)
        rawCandidates = nRaw, enqueued = nEnqueued,
        dedupDropped = nRaw - nEnqueued)

      // Per-partition rows: merge the three per-stage maps on partition id.
      val fetchMap = fetchParts.map(t => t._1 -> (t._2, t._3)).toMap
      val rawMap = rawParts.toMap
      val enqMap = enqParts.toMap
      val parts = (fetchMap.keySet ++ rawMap.keySet ++ enqMap.keySet)
        .toSeq.sorted.map { p =>
          val (po, fe) = fetchMap.getOrElse(p, (0L, 0L))
          val ra = rawMap.getOrElse(p, 0L)
          val en = enqMap.getOrElse(p, 0L)
          RoundLineage(round = round, partitionId = p,
            popped = po, fetched = fe, extracted = fe,
            rawCandidates = ra, enqueued = en, dedupDropped = ra - en)
        }
      (total, parts)
    }

    Output(pages, popped,
      State(frontier2, seenExact2, bloomShards2, failed2, cuckooShards2,
        failedSize2, seenSize2, bloomCap2),
      nPopped = nPopped,
      cached = (if (fetchSink.isEmpty) Seq(fetched) else Nil) ++
        Seq(popped, remaining, rawCandidates, newEntries),
      mkLineage = mkLineage)
  }
}
