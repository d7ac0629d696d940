package graft.crawl

import java.sql.Timestamp

/** Crawl data model (SURVEY.md §1.2). All tables are column-named
  * DataFrames internally (joins rename too much for typed Datasets to pay
  * off mid-pipeline); these case classes pin the schemas at API edges. */

/** One frontier entry. `urlHash = xxhash64(canonical url)` is the identity
  * everywhere (dedup, seen set, joins); `priority` and all ordering inputs
  * are pure functions of the data so the pop order is identical at any
  * partition count. */
case class FrontierEntry(
    url: String,
    urlHash: Long,
    host: String,
    priority: Double,
    depth: Int,
    round: Int)

case class RobotsRules(
    host: String,
    allow: Seq[String],
    disallow: Seq[String],
    crawlDelayMs: Long)

case class HostBudget(host: String, maxFetchesPerRound: Int)

case class FetchResult(
    url: String,
    urlHash: Long,
    status: Int,
    fetchTs: Timestamp,
    html: Array[Byte])

/** Per-round, per-partition counters (BASELINE.json: "per-partition
  * lineage + metrics"). partitionId = -1 marks the round-total row. */
case class RoundLineage(
    round: Int,
    partitionId: Int,
    popped: Long,
    fetched: Long,
    extracted: Long,
    rawCandidates: Long,
    enqueued: Long,
    dedupDropped: Long,
    /** Frontier-compaction counters (total row only; eviction is a
      * round-level policy, not a per-partition stage). */
    evicted: Long = 0L,
    readmitted: Long = 0L)

/** Knobs, sized for the sandbox by default; the 10^10-scale values are a
  * config change, not a code change (SURVEY.md §7 hard part 4). */
case class CrawlConfig(
    nShards: Int = 16,
    expectedKeysPerShard: Long = 1L << 16,
    bloomFpp: Double = 0.01,
    defaultBudget: Int = 5,
    /** Salt buckets for the two-phase skew-safe frontier pop (§4.4). */
    saltBuckets: Int = 16,
    /** Children enter the frontier at basePriority / 2^depth. */
    priorityHalving: Boolean = true,
    maxDepth: Int = 100,
    /** true: broadcast all bloom shards (small-shard scale). false: the
      * 10^10 path — shuffle-hash-join the shard table on shardId so each
      * shard's bits travel once to its reducer (Seen.filterNew §4.10). */
    broadcastBloomProbe: Boolean = true,
    /** Parquet codec for the pages table (the store's bulk bytes — state
      * tables are narrow). None = session default (snappy): fastest wall
      * on a single box. "zstd" writes ~1.9× fewer bytes at 2–3× encoder
      * CPU (round-5 codec A/B, BENCH/BASELINE.md) — the right
      * default on a cluster where page bytes hit real storage. */
    pagesCodec: Option[String] = None,
    /** Hash-bucket count for the durable frontier/seen/failed tables
      * (storage-partitioned anti-joins — SnapshotTable bucketKey). At
      * cluster scale set ≈ total executor cores. */
    stateBuckets: Int = 32,
    /** Active-frontier size cap. When the frontier outgrows it, the
      * lowest-priority entries are EVICTED to a spill table (priority-floor
      * compaction — Frontier.splitTopByPriority) and re-admitted,
      * highest-priority first, as pops drain the active set below the cap:
      * a 10^10-URL discovery never grows unbounded state, and no URL is
      * ever lost (eventual-completeness pinned by FrontierCapSpec). None =
      * unbounded (the default; small crawls never pay the histogram). */
    frontierCap: Option[Long] = None) {
  // cap=0 would strand every enqueued URL in the spill immediately (an
  // active frontier that can hold nothing never pops, never drains, never
  // re-admits) — refuse it at construction, not mid-crawl.
  require(frontierCap.forall(_ >= 1), s"frontierCap must be >= 1, got $frontierCap")
}
