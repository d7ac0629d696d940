package graft.store

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.crawl.{CrawlFixture, Crawler, Robots}
import graft.fetch.CorpusFetcher
import graft.fixtures.SyntheticCorpus

/** §5.5 — the resume-exactness gate (BASELINE.json: "a killed run resumes
  * exactly"): kill a run after round 3's table commits but before its
  * round-log commit, resume in a fresh DurableCrawler (fresh "process"),
  * and require the final state byte-identical to an uninterrupted run. */
class KillResumeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def fetcher = new CorpusFetcher(() => {
    import spark.implicits._
    SyntheticCorpus.pages(spark, CrawlFixture.N_URLS, nHosts = CrawlFixture.N_HOSTS).toDF()
  })
  private def robots = Robots.load(spark, s"${CrawlFixture.fixturesDir}/robots.json")
  private def budgetsAndDefault = Robots.loadBudgets(spark, s"${CrawlFixture.fixturesDir}/budgets.json")
  private def seeds = Files.readAllLines(
    java.nio.file.Paths.get(s"${CrawlFixture.fixturesDir}/seeds.txt")).asScala.toSeq

  private def sortedRows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols: _*).collect().map(_.toString).sorted.toSeq
  }

  test("killed-and-resumed run is byte-identical to an uninterrupted run") {
    val (budgets, default) = budgetsAndDefault

    // uninterrupted reference run, rounds 0..4
    val rootA = Files.createTempDirectory("crawlA").toString
    val a = new DurableCrawler(spark, rootA, CrawlFixture.cfg)
    a.init(seeds, robots)
    a.runRounds(4, fetcher, robots, budgets, default)

    // killed at round 3 (after table commits, before round-log commit)
    val rootB = Files.createTempDirectory("crawlB").toString
    val b1 = new DurableCrawler(spark, rootB, CrawlFixture.cfg)
    b1.init(seeds, robots)
    intercept[RuntimeException] {
      b1.runRounds(4, fetcher, robots, budgets, default, failBeforeLogAt = 3)
    }
    assert(b1.lastCompleteRound.contains(2), "kill must leave round 2 visible")
    b1.close() // the "killed" process is gone — release its writer lock

    // fresh crawler over the same root = restarted process; resume to 4
    val b2 = new DurableCrawler(spark, rootB, CrawlFixture.cfg)
    assert(b2.lastCompleteRound.contains(2))
    b2.runRounds(4, fetcher, robots, budgets, default)
    assert(b2.lastCompleteRound.contains(4))

    // byte-identical final state
    val stA = a.currentState(); val stB = b2.currentState()
    assert(sortedRows(stA.frontier) == sortedRows(stB.frontier))
    assert(sortedRows(stA.seenExact) == sortedRows(stB.seenExact))
    assert(sortedRows(a.allPages().get.drop("metrics")) ==
      sortedRows(b2.allPages().get.drop("metrics")))
    assert(sortedRows(a.allPages().get.selectExpr("urlHash", "map_entries(metrics) as me")) ==
      sortedRows(b2.allPages().get.selectExpr("urlHash", "map_entries(metrics) as me")))
  }

  test("lineage carries ALL counters for every partitionId >= 0, summing to the totals") {
    val (budgets, default) = budgetsAndDefault
    val root = Files.createTempDirectory("crawlL").toString
    val d = new DurableCrawler(spark, root, CrawlFixture.cfg)
    d.init(seeds, robots)
    d.runRounds(2, fetcher, robots, budgets, default)
    for (r <- 0 to 2) {
      val rows = d.lineageAt(r).collect()
      val total = rows.find(_.getAs[Int]("partitionId") == -1).get
      val parts = rows.filter(_.getAs[Int]("partitionId") >= 0)
      assert(parts.nonEmpty, s"round $r has no per-partition rows")
      for (c <- Seq("popped", "fetched", "extracted", "rawCandidates", "enqueued"))
        assert(parts.map(_.getAs[Long](c)).sum == total.getAs[Long](c),
          s"round $r: per-partition $c does not sum to the round total")
      // every per-partition row carries every counter column (non-null)
      parts.foreach(p => Seq("popped", "fetched", "extracted", "rawCandidates",
        "enqueued", "dedupDropped").foreach(c => assert(!p.isNullAt(p.fieldIndex(c)))))
    }
  }

  test("capped durable crawl kill-resumes byte-identical, spill table included") {
    val (budgets, default) = budgetsAndDefault
    val cfg = CrawlFixture.cfg.copy(frontierCap = Some(120L))

    val rootA = Files.createTempDirectory("crawlCapA").toString
    val a = new DurableCrawler(spark, rootA, cfg)
    a.init(seeds, robots)
    a.runRounds(3, fetcher, robots, budgets, default)

    val rootB = Files.createTempDirectory("crawlCapB").toString
    val b1 = new DurableCrawler(spark, rootB, cfg)
    b1.init(seeds, robots)
    intercept[RuntimeException] {
      b1.runRounds(3, fetcher, robots, budgets, default, failBeforeLogAt = 2)
    }
    b1.close()
    val b2 = new DurableCrawler(spark, rootB, cfg)
    b2.runRounds(3, fetcher, robots, budgets, default)

    val stA = a.currentState(); val stB = b2.currentState()
    assert(stA.frontier.count() <= 120L)
    assert(stA.spilled.isDefined, "cap fixture must actually spill")
    assert(sortedRows(stA.frontier) == sortedRows(stB.frontier))
    assert(sortedRows(stA.spilled.get) == sortedRows(stB.spilled.get))
    assert(sortedRows(stA.seenExact) == sortedRows(stB.seenExact))
    assert(stA.frontierSize == stB.frontierSize && stA.spilledSize == stB.spilledSize)
  }

  test("v1 round-log (no failedV/cuckooV fields) resumes with empty deletable state, no NPE") {
    val (budgets, default) = budgetsAndDefault
    val root = Files.createTempDirectory("crawlV1").toString
    val d = new DurableCrawler(spark, root, CrawlFixture.cfg)
    d.init(seeds, robots)
    d.runRounds(1, fetcher, robots, budgets, default)
    d.close()
    // Rewrite every round-log entry to the v1 shape: strip the format tag
    // and the failedV/cuckooV fields the old format never wrote.
    val logDir = java.nio.file.Paths.get(root, "roundlog")
    Files.list(logDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("round-")).foreach { p =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val n = mapper.readTree(Files.readString(p))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        n.remove("format"); n.remove("failedV"); n.remove("cuckooV")
        Files.writeString(p, n.toString)
      }
    val resumed = new DurableCrawler(spark, root, CrawlFixture.cfg)
    assert(resumed.lastCompleteRound.contains(1))
    val st = resumed.currentState() // v2 reader on v1 entries: must not NPE
    assert(st.failed.count() == 0L && st.cuckooShards.count() == 0L)
    resumed.runRounds(2, fetcher, robots, budgets, default) // and keeps crawling
    assert(resumed.lastCompleteRound.contains(2))
  }

  test("a FUTURE round-log format is refused with a clear message, not misread") {
    val (budgets, default) = budgetsAndDefault
    val root = Files.createTempDirectory("crawlVN").toString
    val d = new DurableCrawler(spark, root, CrawlFixture.cfg)
    d.init(seeds, robots)
    d.runRounds(0, fetcher, robots, budgets, default)
    val p = java.nio.file.Paths.get(root, "roundlog", "round-0.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.readTree(Files.readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    n.put("format", 99)
    Files.writeString(p, n.toString)
    val resumed = new DurableCrawler(spark, root, CrawlFixture.cfg)
    val e = intercept[IllegalArgumentException] { resumed.currentState() }
    assert(e.getMessage.contains("format 99"))
  }

  test("durable run reproduces the in-memory crawler's seen set") {
    val (budgets, default) = budgetsAndDefault
    val root = Files.createTempDirectory("crawlC").toString
    val d = new DurableCrawler(spark, root, CrawlFixture.cfg)
    d.init(seeds, robots)
    d.runRounds(CrawlFixture.ROUNDS - 1, fetcher, robots, budgets, default)
    val durableSeen = d.currentState().seenExact
      .collect().map(_.getLong(0)).sorted.toSeq
    val golden = Files.readAllLines(
      java.nio.file.Paths.get(s"${CrawlFixture.goldenDir}/seen_set.txt"))
      .asScala.map(_.toLong).toSeq
    assert(durableSeen == golden)
  }
}
