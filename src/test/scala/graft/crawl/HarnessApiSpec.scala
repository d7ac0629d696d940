package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.fetch.GenerativeFetcher
import graft.fixtures.SyntheticCorpus
import graft.store.DurableCrawler

/** Pins the crawl API that the benchmark harness
  * (`perfbench/src/main/scala/perfbench/Crawl.scala`) compiles against.
  * The harness is its own sbt build, so the test suite never compiles it:
  * without this spec a renamed field, a removed method or a reordered
  * parameter breaks only the benchmark build. Each call below has the
  * harness's shape — `CrawlConfig` by field name, `CrawlRound.run`
  * positionally. Compiling the calls is the check; the spec runs no job. */
class HarnessApiSpec extends AnyFunSuite {

  private def harnessConfig: CrawlConfig = CrawlConfig(nShards = 32,
    expectedKeysPerShard = 1L << 17, bloomFpp = 0.01, saltBuckets = 32, maxDepth = 100)

  /** The harness's calls, in its order. Never invoked. */
  def harnessCalls(spark: SparkSession, robots: DataFrame, budgets: DataFrame,
                   root: String, round: Int, budget: Int): Unit = {
    val cfg = harnessConfig
    val fetcher = new GenerativeFetcher(1000L, 1L, 10, 4, 60)
    val seeds = Seq(SyntheticCorpus.canonicalUrl(0L, 1L, 10))

    val s: CrawlRound.State = Crawler.emptyState(spark,
      Robots.filterAllowed(Frontier.fromSeeds(spark, seeds), robots).localCheckpoint(true))
    val out: CrawlRound.Output =
      CrawlRound.run(spark, s, robots, budgets, budget, fetcher, round, cfg)
    val next: CrawlRound.State = Crawler.checkpointState(out.state, Some(s))
    val seen: Seq[DataFrame] = Seq(next.seenExact, next.failed)
    val outputs: (Long, DataFrame, DataFrame) = (out.nPopped, out.popped, out.pages)
    val roundLineage: RoundLineage = out.lineage
    out.unpersistCached()

    val d = new DurableCrawler(spark, root, cfg)
    d.init(seeds, robots)
    val ls: Seq[RoundLineage] = d.runRounds(round, fetcher, robots, budgets, budget)
    val pages: DataFrame = d.pages.read(d.pagesVersionAt(round))
    val last: Option[Int] = d.lastCompleteRound
    val state: CrawlRound.State = d.currentState()
    d.close()
    val counters: Seq[Long] = ls.flatMap(l => Seq(l.popped, l.fetched, l.rawCandidates, l.enqueued))
  }

  test("the benchmark harness's crawl calls compile, CrawlConfig by field name") {
    val cfg = harnessConfig
    assert((cfg.nShards, cfg.expectedKeysPerShard, cfg.bloomFpp, cfg.saltBuckets, cfg.maxDepth) ==
      ((32, 1L << 17, 0.01, 32, 100)))
  }
}
