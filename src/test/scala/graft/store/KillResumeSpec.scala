package graft.store

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.withShufflePartitions
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

  test("a store resumed at another shuffle parallelism crawls exactly as an uninterrupted run") {
    val (budgets, default) = budgetsAndDefault
    // Three seed pages are missing: round 0 fails them into `failed`, and
    // the failure-free rounds after it carry that version forward
    // (commitOrReuse), so the resumed rounds anti-join a `failed` version
    // bucketed at the first session's width next to seen/frontier
    // versions bucketed at the second's.
    val missing = seeds.take(3)
    val gappy = new CorpusFetcher(() => {
      import spark.implicits._
      SyntheticCorpus.pages(spark, CrawlFixture.N_URLS, nHosts = CrawlFixture.N_HOSTS).toDF()
        .filter(!col("url").isin(missing: _*))
    })

    val rootA = Files.createTempDirectory("crawlP4").toString
    val a = new DurableCrawler(spark, rootA, CrawlFixture.cfg)
    withShufflePartitions(4) {
      a.init(seeds, robots)
      a.runRounds(4, gappy, robots, budgets, default)
    }
    val rootB = Files.createTempDirectory("crawlP4to13").toString
    val b1 = new DurableCrawler(spark, rootB, CrawlFixture.cfg)
    withShufflePartitions(4) {
      b1.init(seeds, robots)
      b1.runRounds(2, gappy, robots, budgets, default)
    }
    b1.close()
    val b2 = new DurableCrawler(spark, rootB, CrawlFixture.cfg)
    withShufflePartitions(13)(b2.runRounds(4, gappy, robots, budgets, default))
    assert(a.lastCompleteRound.contains(4) && b2.lastCompleteRound.contains(4))

    // pop sequence (every fetch, failed ones too), seen set and pages
    def pops(d: DurableCrawler): Seq[String] = (0 to 4).flatMap { r =>
      sortedRows(d.pages.read(d.pagesVersionAt(r))
        .select("fetchRound", "host", "popRank", "url", "status"))
    }
    assert(pops(a) == pops(b2))
    assert(Crawler.seenDump(a.currentState()) == Crawler.seenDump(b2.currentState()))
    assert(sortedRows(a.allPages().get.drop("metrics")) ==
      sortedRows(b2.allPages().get.drop("metrics")))
    assert(sortedRows(a.allPages().get.selectExpr("urlHash", "map_entries(metrics) as me")) ==
      sortedRows(b2.allPages().get.selectExpr("urlHash", "map_entries(metrics) as me")))

    // every bucketed version's manifest names the width it was committed
    // at: versions the rounds up to 2 reference were written at 4, any
    // other version rounds 3-4 reference was written at 13
    val mapper = new ObjectMapper()
    def logEntry(r: Int) = mapper.readTree(
      Files.readString(java.nio.file.Paths.get(rootB, "roundlog", s"round-$r.json")))
    def bucketsOf(table: String, v: Long): Int = mapper.readTree(Files.readString(
      java.nio.file.Paths.get(rootB, table, "metadata", s"v$v.json"))).get("nBuckets").asInt()
    for ((table, field) <- Seq("frontier" -> "frontierV", "seen" -> "seenV",
                               "failed" -> "failedV")) {
      val at4 = (-1 to 2).map(r => logEntry(r).get(field).asLong()).toSet
      at4.foreach(v => assert(bucketsOf(table, v) == 4, s"$table v$v"))
      for (r <- 3 to 4; v = logEntry(r).get(field).asLong())
        assert(bucketsOf(table, v) == (if (at4(v)) 4 else 13), s"$table v$v (round $r)")
    }
    // the mix the test is for: the resumed rounds carried forward a
    // non-empty `failed` written at 4 while writing `seen` at 13
    val last = logEntry(4)
    assert(last.get("failedSize").asLong() > 0, "no fetch failed: the test lost its gap")
    assert(bucketsOf("failed", last.get("failedV").asLong()) == 4)
    assert(bucketsOf("seen", last.get("seenV").asLong()) == 13)
    a.close(); b2.close()
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

  test("a FUTURE round-log format is refused with a clear message, not misread") {
    val (budgets, default) = budgetsAndDefault
    val root = Files.createTempDirectory("crawlVN").toString
    val d = new DurableCrawler(spark, root, CrawlFixture.cfg)
    d.init(seeds, robots)
    d.runRounds(0, fetcher, robots, budgets, default)
    val p = java.nio.file.Paths.get(root, "roundlog", "round-0.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val written = Files.readString(p)
    def refusal(edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
      val n = mapper.readTree(written)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      edit(n)
      Files.writeString(p, n.toString)
      val resumed = new DurableCrawler(spark, root, CrawlFixture.cfg)
      intercept[IllegalArgumentException] { resumed.currentState() }.getMessage
    }
    assert(refusal(_.put("format", 99)).contains("format 99"))
    // an older format is refused too: this build reads only its own
    assert(refusal(_.put("format", 3)).contains("format 3"))
    // a current-format entry missing a field names the round and the field
    val missing = refusal(_.remove("seenV"))
    assert(missing.contains("round-0.json") && missing.contains("seenV"), missing)
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
