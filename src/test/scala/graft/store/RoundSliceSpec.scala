package graft.store

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.crawl.{CrawlFixture, Robots}
import graft.fetch.CorpusFetcher
import graft.fixtures.SyntheticCorpus

/** Round-sliced corpus reads (DurableCrawler.pagesInRounds): the round log
  * prunes whole versions, and the manifest-stats prune (readPruned on
  * fetchRound) keeps out-of-slice FILES from ever reaching a scan — the
  * Iceberg-metadata-prune analog on the crawl's own read path. */
class RoundSliceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private lazy val crawler = {
    val fetcher = new CorpusFetcher(() => {
      import spark.implicits._
      SyntheticCorpus.pages(spark, CrawlFixture.N_URLS, nHosts = CrawlFixture.N_HOSTS).toDF()
    })
    val robots = Robots.load(spark, s"${CrawlFixture.fixturesDir}/robots.json")
    val (budgets, default) = Robots.loadBudgets(spark, s"${CrawlFixture.fixturesDir}/budgets.json")
    val seeds = Files.readAllLines(
      java.nio.file.Paths.get(s"${CrawlFixture.fixturesDir}/seeds.txt")).asScala.toSeq
    val root = Files.createTempDirectory("crawlSlice").toString
    val d = new DurableCrawler(spark, root, CrawlFixture.cfg)
    d.init(seeds, robots)
    d.runRounds(2, fetcher, robots, budgets, default)
    d
  }

  // Point round `round`'s log entry at pages version `v` — the only way a
  // test can reproduce a store shape this build never writes itself.
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def repoint(round: Int, v: Long): Unit = {
    val p = java.nio.file.Paths.get(crawler.root, "roundlog", s"round-$round.json")
    val n = mapper.readTree(Files.readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    n.put("pagesV", v)
    Files.writeString(p, n.toString)
  }

  test("pagesInRounds slices exactly: each slice holds its rounds' pages only") {
    val all = crawler.allPages().get
    val slice1 = crawler.pagesInRounds(1, 1).get
    assert(slice1.select("fetchRound").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(slice1.count() ==
      all.filter(org.apache.spark.sql.functions.col("fetchRound") === 1).count())
    val whole = crawler.pagesInRounds(0, 99).get
    assert(whole.count() == all.count())
  }

  test("out-of-slice page files never reach a scan (manifest-stats prune)") {
    // every file of round 2's version carries fetchRound == 2 in its
    // footer stats — a [0,1] slice must prune ALL of them
    val v2 = crawler.pagesVersionAt(2)
    assert(crawler.pages.readPruned("fetchRound", 0, 1, v2).rdd.getNumPartitions <= 1)
    val plan = crawler.pages.readPruned("fetchRound", 0, 1, v2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains(".parquet"), s"a pruned-out file still reached the scan:\n$plan")
    // and an intersecting slice reads the version's files normally
    assert(crawler.pages.readPruned("fetchRound", 2, 2, v2).count() > 0)
  }

  test("rounds sharing a pages version (a compacted store) fail fast on read") {
    val v1 = crawler.pagesVersionAt(1)
    repoint(1, crawler.pagesVersionAt(0))
    try {
      for (read <- Seq(() => crawler.allPages(), () => crawler.pagesInRounds(0, 1))) {
        val e = intercept[IllegalArgumentException](read())
        assert(e.getMessage.contains("pages compaction"), e.getMessage)
      }
    } finally repoint(1, v1)
    assert(crawler.allPages().isDefined)
  }
}
