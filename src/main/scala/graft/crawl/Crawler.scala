package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.fetch.Fetcher

/** Multi-round crawl orchestration (in-memory state; graft.store snapshots
  * add durability/resume on top — §3.4). Each round's state DataFrames are
  * eagerly localCheckpoint-ed: the iterative plan would otherwise grow
  * exponentially, and a checkpoint keeps per-round planning cost constant —
  * the same role the Iceberg-style snapshot write plays in the durable
  * pipeline. */
object Crawler {

  case class Result(
      pages: DataFrame,
      popLog: DataFrame,
      state: CrawlRound.State,
      lineages: Seq[RoundLineage])

  /** Eager-checkpoint the five state tables CONCURRENTLY — they are
    * independent jobs, and running them serially adds five job-launch
    * latencies to every round (pure driver-side fixed cost that would never
    * amortize, at any cluster size). */
  def checkpointState(s: CrawlRound.State,
                      prev: Option[CrawlRound.State] = None): CrawlRound.State = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import DriverWaves.ec
    // A table CrawlRound returned BY REFERENCE from the previous
    // (already-checkpointed) state is unchanged — re-checkpointing it
    // would be a pure fixed-cost job (the failure-side tables are
    // unchanged on every clean round).
    def ck(df: DataFrame, prevDf: Option[DataFrame]) =
      if (prevDf.exists(_ eq df)) Future.successful(df)
      else Future(df.localCheckpoint(true))
    val Seq(f, se, bs, fl, cks) = Await.result(Future.sequence(Seq(
      ck(s.frontier, prev.map(_.frontier)),
      ck(s.seenExact, prev.map(_.seenExact)),
      ck(s.bloomShards, prev.map(_.bloomShards)),
      ck(s.failed, prev.map(_.failed)),
      ck(s.cuckooShards, prev.map(_.cuckooShards)))), Duration.Inf)
    s.copy(frontier = f, seenExact = se, bloomShards = bs, failed = fl, cuckooShards = cks)
  }

  def emptySeen(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[Long].toDF("urlHash")
  }

  def emptyShards(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("shardId", IntegerType),
        StructField("bits", BinaryType),
        StructField("numKeys", LongType))))

  def emptyFailed(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("url", StringType),
        StructField("urlHash", LongType),
        StructField("host", StringType),
        StructField("priority", DoubleType),
        StructField("depth", IntegerType),
        StructField("failRound", IntegerType))))

  def emptyState(spark: SparkSession, frontier: DataFrame): CrawlRound.State =
    CrawlRound.State(
      frontier = frontier,
      seenExact = emptySeen(spark),
      bloomShards = emptyShards(spark),
      failed = emptyFailed(spark),
      cuckooShards = emptyShards(spark),
      failedSize = 0L,
      seenSize = 0L)

  /** Retire failed fetches matching `pred` back into the frontier for a
    * retry at `nextRound` (503s after a backoff window, infra incidents,
    * …). This is what the cuckoo side of the seen set exists for:
    *  1. the retired rows are DELETED from the cuckoo shards — one grouped
    *     delete batch per shard, no rebuild of the surviving entries;
    *  2. removed from the exact failed table (anti join);
    *  3. re-enqueued as frontier entries (dedup vs the standing frontier).
    * The bloom/permanent side is untouched — successful fetches are never
    * re-crawled. */
  def retryFailed(state: CrawlRound.State, nextRound: Int,
                  cfg: CrawlConfig,
                  pred: org.apache.spark.sql.Column = lit(true)): CrawlRound.State = {
    val toRetry = state.failed.filter(pred).persist()
    try {
      // one small job keeps failedSize exact through the retire (the next
      // round's clean-path skip depends on it); retire is a rare operation
      val nRetired = toRetry.count()
      val keep = state.failed.join(toRetry.select("urlHash"), Seq("urlHash"), "left_anti")
      val cuckoo2 = Seen.retireFromCuckoo(
        state.cuckooShards, toRetry.select("urlHash"), cfg.nShards)
      val retryEntries = toRetry
        .select(col("url"), col("urlHash"), col("host"), col("priority"),
          col("depth"), lit(nextRound).as("round"))
        .join(state.frontier.select("urlHash"), Seq("urlHash"), "left_anti")
        .select("url", "urlHash", "host", "priority", "depth", "round")
      // Checkpoint the two tables whose plans reference `toRetry` eagerly
      // (concurrently — independent jobs) so its cached blocks release on
      // return instead of leaking until the caller's next state checkpoint.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import DriverWaves.ec
      val Seq(frontier2, keep2) = Await.result(Future.sequence(Seq(
        Future(state.frontier.unionByName(retryEntries).localCheckpoint(true)),
        Future(keep.localCheckpoint(true)))), Duration.Inf)
      state.copy(
        frontier = frontier2,
        failed = keep2,
        cuckooShards = cuckoo2,
        failedSize = state.failedSize - nRetired)
    } finally toRetry.unpersist()
  }

  def run(spark: SparkSession, seeds: Seq[String], fetcher: Fetcher,
          robots: DataFrame, budgets: DataFrame, defaultBudget: Int,
          nRounds: Int, cfg: CrawlConfig = CrawlConfig()): Result = {

    var state = emptyState(spark,
      Robots.filterAllowed(Frontier.fromSeeds(spark, seeds), robots)
        .localCheckpoint(true))

    val pagesAcc = Seq.newBuilder[DataFrame]
    val popAcc = Seq.newBuilder[DataFrame]
    val lineages = Seq.newBuilder[RoundLineage]

    var r = 0
    var continue = true
    while (r < nRounds && continue) {
      val out = CrawlRound.run(spark, state, robots, budgets, defaultBudget,
        fetcher, r, cfg)
      if (out.nPopped == 0) {
        continue = false // frontier drained
      } else {
        // One concurrent wave: pages/pop checkpoints and the state
        // checkpoints (internally concurrent) — all independent actions
        // over the round's persisted intermediates. Serializing them would
        // re-add the per-round driver fixed cost the scaling bench
        // exposes. The lineage job runs AFTER the state checkpoint, not
        // concurrently with it: both force the expansion/dedup chain
        // through the same unmaterialized persists, and concurrent jobs
        // duplicate in-flight computation of a cached partition — after
        // the frontier checkpoint populates the caches, the lineage pass
        // is two narrow cached-scan aggregations (it still overlaps the
        // pages/pop checkpoint tails).
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import DriverWaves.ec
        val pagesF = Future(out.pages.localCheckpoint(true))
        val popF = Future(out.popped
          .select(lit(r).as("popRound"), col("host"), col("popRank"),
            col("url"), col("urlHash"), col("priority"), col("depth"))
          .localCheckpoint(true))
        state = Crawler.checkpointState(out.state, Some(state))
        val lineageF = Future(out.lineage)
        pagesAcc += Await.result(pagesF, Duration.Inf)
        popAcc += Await.result(popF, Duration.Inf)
        lineages += Await.result(lineageF, Duration.Inf)
        out.unpersistCached()
      }
      r += 1
    }

    val pages = pagesAcc.result().reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Nil)))
    val pops = popAcc.result().reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Nil)))
    Result(pages, pops, state, lineages.result())
  }

  /** The canonical popped-URL sequence — THE crawl-ordering artifact the
    * golden test pins (BASELINE.json: "matching the reference's crawl
    * ordering"): total order (popRound, host, popRank). */
  def popSequence(popLog: DataFrame): Seq[String] =
    popLog.orderBy("popRound", "host", "popRank")
      .select(concat_ws("\t", col("popRound"), col("host"), col("popRank"), col("url")))
      .collect().map(_.getString(0)).toSeq

  /** The final URL-seen set as a sorted hash dump (the seen-set parity
    * artifact). "Seen" = permanent subset ∪ deletable failed subset —
    * everything ever popped and not retired. */
  def seenDump(state: CrawlRound.State): Seq[Long] =
    state.seenExact.select("urlHash")
      .unionByName(state.failed.select("urlHash"))
      .orderBy("urlHash").collect().map(_.getLong(0)).toSeq
}
