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
    dedupDropped: Long)

/** The crawl knobs a caller sets, sized for the sandbox by default. The
  * per-round host budget default is a `CrawlRound.run` argument, and the
  * durable state tables bucket at the session's shuffle-partition count,
  * which each version's manifest records (SnapshotTable). */
case class CrawlConfig(
    nShards: Int = 16,
    expectedKeysPerShard: Long = 1L << 16,
    bloomFpp: Double = 0.01,
    /** Salt buckets for the two-phase skew-safe frontier pop (§4.4). */
    saltBuckets: Int = 16,
    maxDepth: Int = 100)
