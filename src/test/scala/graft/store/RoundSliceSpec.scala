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

  test("a pre-fetchRound pages version (old-build store) still reads via allPages and pagesInRounds") {
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.selectExpr(df.columns.sorted.toSeq: _*).collect().map(_.toString).sorted.toSeq
    val expectAll = rows(crawler.allPages().get)
    val expectR0 = rows(crawler.pagesInRounds(0, 0).get)
    val expectR1 = rows(crawler.pagesInRounds(1, 1).get)
    val edgesAll = rows(crawler.linkEdges().get)
    val v1 = crawler.pagesVersionAt(1)
    val edgesR1 = rows(graft.crawl.LinkGraph.edges(crawler.pages.read(v1)))
    assert(edgesR1.nonEmpty, "round 1 must carry links for the edge check to bite")

    // Old-store shapes, each committed as a new pages version that the
    // round log's pagesV is repointed at (the round log is the only
    // reference — data-file immutability is preserved):
    //  - round 0 as written by a build that predates the fetchRound column
    //    (a column-less copy);
    //  - round 1 as written before the write-once commit: the filtered
    //    projection (status 200, the 12 page columns, no links).
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def repoint(round: Int, v: Long): Unit = {
      val p = java.nio.file.Paths.get(crawler.root, "roundlog", s"round-$round.json")
      val n = mapper.readTree(Files.readString(p))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      n.put("pagesV", v)
      Files.writeString(p, n.toString)
    }
    repoint(0, crawler.pages.commit(
      crawler.pages.read(crawler.pagesVersionAt(0)).drop("fetchRound")))
    repoint(1, crawler.pages.commit(crawler.pages.read(v1)
      .filter(col("status") === 200)
      .select(Seq("url", "urlHash", "host", "depth", "round", "fetchRound", "popRank",
        "status", "fetchTs", "lang", "itemText", "metrics").map(col): _*)))

    // allPages: the old versions union with new-format rounds (no
    // AnalysisException), fetchRound coalesced from the round-log round.
    assert(rows(crawler.allPages().get) == expectAll)
    // pagesInRounds: whole-version selection for the column-less round,
    // the usual file prune for the projected one — both exact.
    val r0 = crawler.pagesInRounds(0, 0).get
    assert(rows(r0) == expectR0)
    assert(r0.select("fetchRound").distinct().collect().map(_.getInt(0)).toSeq == Seq(0))
    assert(rows(crawler.pagesInRounds(1, 1).get) == expectR1)
    // a slice excluding round 0 must not read the column-less version at all
    assert(crawler.pagesInRounds(1, 2).get.filter(col("fetchRound") === 0).count() == 0)
    // linkEdges skips the link-less version: exactly round 1's edges drop
    assert(rows(crawler.linkEdges().get) == edgesAll.diff(edgesR1))
  }
}
