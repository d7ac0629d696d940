package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.FilterAggregators
import graft.expr.FilterExprs

/** The URL-seen set (SURVEY.md §2.4 J3/J5, §2.5 A5/A6, §4.10): a sharded
  * Bloom prefilter in front of an exact urlHash table.
  *
  * Dedup-before-shuffle: candidates are probed against broadcast Bloom
  * shards MAP-SIDE (inside codegen, before any exchange). Rows the Bloom
  * rejects are DEFINITELY new and skip the expensive exact check entirely;
  * only the "maybe seen" remainder (≈ seen ∩ candidates, plus fpp noise)
  * shuffles into the exact anti-join. At 10^10 frontier scale this is the
  * difference between shuffling every candidate and shuffling only the
  * revisit fraction.
  *
  * Tables:
  *   seenExact:  (urlHash: long)            — the ground truth
  *   bloomShards:(shardId: int, bits: binary, numKeys: long)
  */
object Seen {

  def shardFor(urlHash: org.apache.spark.sql.Column, nShards: Int) =
    pmod(urlHash, lit(nShards.toLong)).cast("int")

  /** Build (or rebuild) Bloom shards from an exact-seen hash table.
    * One grouped aggregation; each shard is built independently. */
  def buildBloomShards(seenExact: DataFrame, nShards: Int,
                       expectedPerShard: Long, fpp: Double = 0.01): DataFrame =
    seenExact
      .withColumn("shardId", shardFor(col("urlHash"), nShards))
      .groupBy("shardId")
      .agg(
        FilterAggregators.bloom_agg(expectedPerShard, fpp)(col("urlHash")).as("bits"),
        count(lit(1)).as("numKeys"))

  /** Cuckoo shards over the DELETABLE seen-subset (failed/expired fetches
    * that may be retired for retry). Same sharded groupBy shape as the
    * bloom build — every shard is an independent reducer; no single global
    * aggregate anywhere in the cuckoo path. */
  def buildCuckooShards(hashes: DataFrame, nShards: Int,
                        expectedPerShard: Long): DataFrame =
    buildCuckooShardsWithBuckets(hashes, nShards,
      graft.filters.GraftCuckooFilter.bucketsFor(expectedPerShard))

  /** Explicit-geometry build — delta shards must match the STANDING
    * shard's bucket count for merge, which can exceed the configured
    * default after an overflow rebuild (CrawlRound's sizing guard). */
  def buildCuckooShardsWithBuckets(hashes: DataFrame, nShards: Int,
                                   numBuckets: Int): DataFrame =
    hashes
      .withColumn("shardId", shardFor(col("urlHash"), nShards))
      .groupBy("shardId")
      .agg(
        FilterAggregators.cuckoo_agg_buckets(numBuckets)(col("urlHash")).as("bits"),
        count(lit(1)).as("numKeys"))

  /** Retire a batch of hashes from the cuckoo shards (the delete path —
    * what the Bloom side can never do). Deletes are grouped per shard and
    * applied in ONE deserialize/serialize round-trip per shard row per
    * CHUNK: a mega-batch retire (a shard's deletes approaching
    * executor-array scale) is split into deterministic `chunkSize` groups
    * and applied as successive passes, so per-group delete arrays are
    * bounded at ~8 MB regardless of batch size — normal batches stay one
    * pass. Callers must only retire hashes that were actually inserted
    * (the standard cuckoo delete contract); the crawl guarantees this by
    * anti-joining the exact failed table first. */
  def retireFromCuckoo(cuckooShards: DataFrame, retireHashes: DataFrame,
                       nShards: Int, chunkSize: Int = 1 << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shardId").orderBy("urlHash")
    // Persisted: the maxChunk probe below materializes it once, and the
    // per-chunk delete passes then reuse the cached rows instead of
    // re-running the window shuffle+sort per chunk (evictable storage;
    // retire batches are bounded by the failed set).
    val keyed = retireHashes
      .withColumn("shardId", shardFor(col("urlHash"), nShards))
      .withColumn("__chunk", ((row_number().over(w) - 1) / chunkSize).cast("int"))
      .persist()
    try {
      val maxChunk = keyed.agg(max("__chunk")).head() match {
        case r if r.isNullAt(0) => return cuckooShards // empty retire batch
        case r => r.getInt(0)
      }
      val merged = (0 to maxChunk).foldLeft(cuckooShards) { (shards, k) =>
        val dels = keyed.filter(col("__chunk") === k)
          .groupBy("shardId")
          .agg(collect_list("urlHash").as("dels"), count(lit(1)).as("nDels"))
        shards.join(dels, Seq("shardId"), "left")
          .select(
            col("shardId"),
            when(col("dels").isNull, col("bits"))
              .otherwise(FilterExprs.cuckoo_delete_all(col("bits"), col("dels"))).as("bits"),
            (col("numKeys") - coalesce(col("nDels"), lit(0L))).as("numKeys"))
      }
      // Materialize eagerly (≤ nShards small rows) so `keyed` can be
      // released HERE — returning the lazy fold would pin the cached blocks
      // until the caller's next checkpoint, a block-manager leak over a
      // long crawl. Retire is a rare, batch-sized operation; one eager job
      // on a tiny table is the right trade.
      merged.localCheckpoint(true)
    } finally keyed.unpersist()
  }

  /** Collect a (shardId, bits, …) shard table into a dense array indexed
    * by shardId (missing shards stay null = empty), ready to broadcast for
    * the zero-copy probe expressions. Driver-side size = the full shard
    * table. Callers on a hot path can run this inside a Future
    * CONCURRENTLY with other driver actions (it is an independent Spark
    * job) and hand the array to [[probeWithArrays]]. */
  def collectShardArray(shards: DataFrame, nShards: Int): Array[Array[Byte]] = {
    val arr = new Array[Array[Byte]](nShards)
    shards.select("shardId", "bits").collect()
      .foreach(r => arr(r.getInt(0)) = r.getAs[Array[Byte]](1))
    arr
  }

  /** Add `maybe_seen` from pre-collected shard arrays (zero-copy probe
    * expressions — see graft.expr.ShardedProbe). An all-empty cuckoo array
    * (no standing failures) contributes nothing — its probe term and
    * broadcast are skipped entirely. */
  def probeWithArrays(candidates: DataFrame, bloomArr: Array[Array[Byte]],
                      cuckooArr: Option[Array[Array[Byte]]],
                      nShards: Int): DataFrame = {
    val sc = candidates.sparkSession.sparkContext
    val sid = shardFor(col("urlHash"), nShards)
    val bloomHit = graft.expr.ShardedProbe.bloom_shards_probe(
      sc.broadcast(bloomArr), sid, col("urlHash"))
    val hit = cuckooArr.filter(_.exists(_ != null)) match {
      case Some(arr) =>
        bloomHit || graft.expr.ShardedProbe.cuckoo_shards_probe(
          sc.broadcast(arr), sid, col("urlHash"))
      case None => bloomHit
    }
    candidates.withColumn("maybe_seen", hit)
  }

  /** Anti-join chain: A \ (B₁ ∪ B₂ ∪ …) = ((A \ B₁) \ B₂) \ … — each BIG
    * committed table is anti-joined DIRECTLY so a hash-bucketed scan keeps
    * its storage partitioning (a union with the delta would destroy it and
    * re-shuffle the 10^10-row table every round); each small per-round
    * delta is broadcast-anti-joined (no shuffle at all). The first big
    * join exchanges only the candidate side — to the bucket count — and
    * its output partitioning then satisfies every later big join, so the
    * small maybe-seen remainder shuffles exactly once total. */
  def antiChain(cands: DataFrame, exactBig: Seq[DataFrame],
                exactSmall: Seq[DataFrame]): DataFrame = {
    val afterBig = exactBig.foldLeft(cands)(
      (c, t) => c.join(t.select("urlHash"), Seq("urlHash"), "left_anti"))
    exactSmall.foldLeft(afterBig)(
      (c, t) => c.join(broadcast(t.select("urlHash")), Seq("urlHash"), "left_anti"))
  }

  /** The bloom-then-exact dedup from PRE-COLLECTED shard arrays — the
    * crawl-round hot path, where the shard collects run concurrently with
    * the expansion count (independent jobs; per-round serial driver time is
    * the Amdahl fraction that caps scaling efficiency). The exact layer is
    * passed in COMPONENTS (committed tables vs per-round deltas), not
    * pre-unioned — see [[antiChain]]. */
  def filterNewWithArrays(candidates: DataFrame,
                          bloomArr: Array[Array[Byte]],
                          cuckooArr: Option[Array[Array[Byte]]],
                          exactBig: Seq[DataFrame],
                          exactSmall: Seq[DataFrame],
                          nShards: Int): DataFrame = {
    val probed = probeWithArrays(candidates, bloomArr, cuckooArr, nShards)
    val definitelyNew = probed.filter(!col("maybe_seen")).drop("maybe_seen")
    val confirmedNew = antiChain(
      probed.filter(col("maybe_seen")).drop("maybe_seen"), exactBig, exactSmall)
    definitelyNew.unionByName(confirmedNew)
  }

  /** Candidates → the definitely-new subset, using bloom-then-exact.
    * `candidates` must carry `urlHash`; all its columns survive.
    *
    * Probe side: the shard tables are collected and broadcast as plain
    * arrays, and the probe is a custom expression that reads the shared
    * bytes ZERO-COPY inside codegen (see graft.expr.ShardedProbe). A
    * broadcast JOIN would be map-side too, but its per-row `bits` column
    * read copies the whole shard per candidate row (~40 GB/round of memcpy
    * at bench scale) — pure memory bandwidth, the one resource a single box
    * cannot scale. The exact layer anti-joins the maybe-seen remainder
    * against BOTH ground-truth tables (permanent seen + deletable failed),
    * so filter false positives never drop a genuinely new url. */
  def filterNew(candidates: DataFrame, seenExact: DataFrame,
                bloomShards: DataFrame, nShards: Int,
                failedHashes: Option[DataFrame] = None,
                cuckooShards: Option[DataFrame] = None): DataFrame =
    filterNewWithArrays(candidates, collectShardArray(bloomShards, nShards),
      cuckooShards.map(collectShardArray(_, nShards)),
      exactBig = Seq(seenExact) ++ failedHashes.toSeq, exactSmall = Nil, nShards = nShards)
}
