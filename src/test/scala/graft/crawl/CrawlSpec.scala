package graft.crawl

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The crawl-ordering + URL-seen-set parity gate (BASELINE.json north_rule,
  * SURVEY.md §5.4): K rounds over the deterministic synthetic graph must
  * reproduce the committed golden pop sequence and seen set, and must be
  * invariant to the partitioning. */
class CrawlSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private lazy val result = CrawlFixture.runCrawl(spark)
  private lazy val popSeq = Crawler.popSequence(result.popLog)
  private lazy val seen = Crawler.seenDump(result.state)

  test("popped-URL sequence matches the committed golden ordering") {
    val golden = Files.readAllLines(
      Paths.get(s"${CrawlFixture.goldenDir}/pop_order.txt")).asScala.toSeq
    assert(popSeq == golden)
  }

  test("final URL-seen set matches the committed golden dump") {
    val golden = Files.readAllLines(
      Paths.get(s"${CrawlFixture.goldenDir}/seen_set.txt")).asScala.map(_.toLong).toSeq
    assert(seen == golden)
  }

  test("crawl is partition-count independent (the real determinism gate)") {
    TestSpark.withShufflePartitions(13) {
      val res13 = CrawlFixture.runCrawl(spark)
      assert(Crawler.popSequence(res13.popLog) == popSeq)
      assert(Crawler.seenDump(res13.state) == seen)
    }
  }

  test("robots: no /private/ URL is ever popped") {
    assert(result.popLog.filter(col("url").contains("/private/")).count() == 0)
  }

  test("politeness: mega-host pops ≤ its budget (2) per round") {
    val over = result.popLog.filter(col("host") === "h0.example")
      .groupBy("popRound").count().filter(col("count") > 2).count()
    assert(over == 0)
    // and the throttle actually bites: the mega-host hits its cap
    val capped = result.popLog.filter(col("host") === "h0.example").count()
    assert(capped == CrawlFixture.ROUNDS * 2,
      s"expected the mega-host budget to bind every round, got $capped pops")
  }

  test("frontier never contains a duplicate urlHash") {
    val f = result.state.frontier
    assert(f.count() == f.select("urlHash").distinct().count())
  }

  test("seen set equals all popped hashes") {
    val popped = result.popLog.select("urlHash").distinct()
    assert(popped.count() == seen.size)
    assert(result.popLog.count() == seen.size) // nothing popped twice
  }

  test("lineage counters are internally consistent") {
    result.lineages.foreach { l =>
      assert(l.popped > 0)
      assert(l.enqueued <= l.rawCandidates)
      assert(l.dedupDropped == l.rawCandidates - l.enqueued)
    }
    assert(result.lineages.map(_.popped).sum == seen.size)
  }
}
