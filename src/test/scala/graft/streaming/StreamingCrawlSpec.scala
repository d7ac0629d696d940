package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.crawl.FrontierEntry
import graft.fixtures.SyntheticCorpus

class StreamingCrawlSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def entry(url: String, prio: Double): FrontierEntry = {
    val canonical = graft.expr.UrlCanonicalizer.canonicalize(url)
    FrontierEntry(canonical,
      urlHash = canonical.hashCode.toLong, // any deterministic id works here
      host = new java.net.URI(canonical).getHost, prio, depth = 0, round = 0)
  }

  test("hostWindowCounts: batch semantics — counts per (host, window)") {
    val pages = SyntheticCorpus.pages(spark, 200L, nHosts = 10).toDF()
    val out = StreamingCrawl.hostWindowCounts(pages, "7 days", "1 hour")
      .collect()
    assert(out.map(_.getLong(2)).sum == 200L)
    assert(out.forall(_.getLong(2) > 0))
  }

  // Test names keep the `[fmgws]` tag: the gate runs on flatMapGroupsWithState.
  test("politenessGate[fmgws] streaming: ≤ budget per host per trigger, priority order") {
    val ms = MemoryStream[FrontierEntry](spark)
    val gated = StreamingCrawl.politenessGate(ms.toDS(), 2)
    val q = gated.writeStream
      .format("memory").queryName("gate_out").outputMode(OutputMode.Append)
      .start()
    try {
      // trigger 1: host a has 3 candidates — only top-2 by priority emit
      ms.addData(
        entry("https://a.example/1", 0.9), entry("https://a.example/2", 0.5),
        entry("https://a.example/3", 0.7), entry("https://b.example/1", 0.1))
      q.processAllAvailable()
      val t1 = spark.table("gate_out").as[FrontierEntry].collect()
      assert(t1.count(_.host == "a.example") == 2)
      assert(t1.filter(_.host == "a.example").map(_.priority).sorted.toSeq == Seq(0.7, 0.9))
      assert(t1.count(_.host == "b.example") == 1)

      // trigger 2: fresh budget for host a
      ms.addData(entry("https://a.example/4", 0.2), entry("https://a.example/5", 0.3))
      q.processAllAvailable()
      val t2 = spark.table("gate_out").as[FrontierEntry].collect()
      assert(t2.count(_.host == "a.example") == 4)
    } finally q.stop()
  }

  test("politenessGate[fmgws]: maxTotalPerHost caps a host across triggers") {
    val ms = MemoryStream[FrontierEntry](spark)
    val gated = StreamingCrawl.politenessGate(ms.toDS(), 2, 3L)
    val q = gated.writeStream
      .format("memory").queryName("gate_cap").outputMode(OutputMode.Append)
      .start()
    try {
      ms.addData(entry("https://c.example/1", 0.9), entry("https://c.example/2", 0.8))
      q.processAllAvailable()
      ms.addData(entry("https://c.example/3", 0.7), entry("https://c.example/4", 0.6))
      q.processAllAvailable()
      ms.addData(entry("https://c.example/5", 0.5))
      q.processAllAvailable()
      val out = spark.table("gate_cap").as[FrontierEntry].collect()
      // 2 in trigger 1, 1 in trigger 2 (ledger hits the cap), 0 in trigger 3
      assert(out.length == 3)
      assert(out.map(_.priority).sorted.toSeq == Seq(0.7, 0.8, 0.9))
    } finally q.stop()
  }
}
