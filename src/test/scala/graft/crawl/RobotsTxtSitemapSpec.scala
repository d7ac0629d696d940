package graft.crawl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Real robots.txt parsing (group-aware `*` scope, crawl-delay, global
  * Sitemap directives), including rule-equivalence with the JSON loader
  * through the same filterAllowed path. */
class RobotsTxtSitemapSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val robotsBody =
    """# corp robots
      |User-agent: deepcrawler
      |Disallow: /
      |
      |USER-AGENT: *
      |Disallow: /private/
      |Allow: /private/press/
      |Crawl-Delay: 1.5
      |
      |Sitemap: https://h0.example/sitemap.xml
      |
      |User-agent: otherbot
      |User-agent: *
      |Disallow: /tmp/
      |Disallow:
      |Unknown-directive: x
      |""".stripMargin

  test("parseRobotsTxt: star-group scoping, delay, global sitemaps, JSON parity") {
    val rules = Robots.parseRobotsTxt(Seq(("h0.example", robotsBody)).toDF("host", "body"))
    val r = rules.head()
    assert(r.getAs[collection.Seq[String]]("allow") == Seq("/private/press/"), s"row: $r")
    // deepcrawler's Disallow:/ is NOT ours; both * groups merge; empty Disallow dropped
    assert(r.getAs[collection.Seq[String]]("disallow") == Seq("/private/", "/tmp/"))
    assert(r.getAs[Long]("crawlDelayMs") == 1500L)
    assert(r.getAs[collection.Seq[String]]("sitemaps") == Seq("https://h0.example/sitemap.xml"))

    // rule parity: the parsed rules filter exactly like the JSON form
    val urls = Seq(
      "https://h0.example/private/x", "https://h0.example/private/press/y",
      "https://h0.example/tmp/z", "https://h0.example/ok")
      .toDF("url").withColumn("host", lit("h0.example"))
    val viaTxt = Robots.filterAllowed(urls, rules)
      .select("url").collect().map(_.getString(0)).toSet
    assert(viaTxt == Set(
      "https://h0.example/private/press/y", "https://h0.example/ok"))
    // derived budget from the parsed delay: 1000 ms window / 1500 ms delay → min 1
    val b = Robots.budgetsFromCrawlDelay(rules, roundWindowMs = 3000)
      .head()
    assert(b.getString(0) == "h0.example" && b.getInt(1) == 2)
  }

  test("fetchRules bootstraps rules from the crawl's own fetcher") {
    import java.nio.charset.StandardCharsets.UTF_8
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // a corpus holding robots.txt for h0/h1 (h1 all-blocked); h2 has none
    val corpus = Seq(
      ("https://h0.example/robots.txt", ts, robotsBody.getBytes(UTF_8), robotsBody, "en"),
      ("https://h1.example/robots.txt", ts,
        "User-agent: *\nDisallow: /".getBytes(UTF_8), "User-agent: *\nDisallow: /", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val hosts = Seq("h0.example", "h1.example", "h2.example").toDF("host")
    val rules = Robots.fetchRules(hosts, new graft.fetch.CorpusFetcher(() => corpus))
      .orderBy("host").collect()
    assert(rules.map(_.getString(0)).toSeq == Seq("h0.example", "h1.example"),
      "missing robots.txt (h2) yields no rules row = unrestricted")
    assert(rules(0).getAs[collection.Seq[String]]("disallow") == Seq("/private/", "/tmp/"))
    assert(rules(1).getAs[collection.Seq[String]]("disallow") == Seq("/"))

    val urls = Seq("https://h0.example/ok", "https://h1.example/ok", "https://h2.example/ok")
      .toDF("url").withColumn("host", regexp_extract(col("url"), "//([^/]+)/", 1))
    val allowed = Robots.filterAllowed(urls,
      Robots.fetchRules(hosts, new graft.fetch.CorpusFetcher(() => corpus)))
      .select("url").collect().map(_.getString(0)).toSet
    assert(allowed == Set("https://h0.example/ok", "https://h2.example/ok"))
  }
}
