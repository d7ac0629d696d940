package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.crawl.{CrawlFixture, Crawler, Robots}
import graft.fetch.CorpusFetcher
import graft.fixtures.SyntheticCorpus

/** WARC export/ingest: byte-exact roundtrip of the canonical input table,
  * per-file independence (member-per-record splittability), and a crawl
  * over the WARC-ingested corpus byte-identical to one over the generated
  * corpus. */
class WarcSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def corpus: DataFrame =
    SyntheticCorpus.pages(spark, CrawlFixture.N_URLS, nHosts = CrawlFixture.N_HOSTS).toDF()

  private def canon(df: DataFrame): Seq[String] =
    df.selectExpr("url", "cast(warc_ts as string) ts", "base64(html) h", "text", "lang")
      .collect().map(_.toString).sorted.toSeq

  test("write → read roundtrips the input table byte-exactly") {
    val dir = Files.createTempDirectory("warc").toString
    Warc.write(corpus, dir, nFiles = 3)
    val back = Warc.read(spark, dir)
    assert(canon(back) == canon(corpus))
    // files parse independently — the splittability property
    val files = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".warc.gz")).toSeq
    assert(files.size >= 2, "fixture must produce multiple files")
    val perFile = files.map { f =>
      Warc.parseWarcGz(Files.readAllBytes(f)).size
    }
    assert(perFile.sum == corpus.count())
    assert(perFile.forall(_ > 0))
    // raw format: gzip magic, then a WARC version line in the first member
    val head = Files.readAllBytes(files.head)
    assert((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b)
    val first = Warc.parseWarcGz(head).next()
    assert(first._1.startsWith("http"))
  }

  test("crawl over the WARC-ingested corpus is byte-identical to the generated one") {
    val dir = Files.createTempDirectory("warcC").toString
    Warc.write(corpus, dir)
    val viaWarc = Warc.read(spark, dir).cache()
    val robots = Robots.load(spark, s"${CrawlFixture.fixturesDir}/robots.json")
    val (budgets, default) = Robots.loadBudgets(spark, s"${CrawlFixture.fixturesDir}/budgets.json")
    val seeds = Files.readAllLines(
      java.nio.file.Paths.get(s"${CrawlFixture.fixturesDir}/seeds.txt")).asScala.toSeq

    def run(c: () => DataFrame) = Crawler.run(spark, seeds, new CorpusFetcher(c),
      robots, budgets, default, nRounds = 2, CrawlFixture.cfg)
    val a = run(() => corpus)
    val b = run(() => viaWarc)
    def rows(df: DataFrame) = df.drop("metrics").collect().map(_.toString).sorted.toSeq
    assert(rows(a.pages) == rows(b.pages))
    assert(rows(a.state.seenExact) == rows(b.state.seenExact))
    viaWarc.unpersist()
  }

  test("a truncated final record FAILS the parse instead of silently dropping") {
    // r6 fix: EOF is clean only BEFORE a record's first header line. A
    // record whose payload is cut (Content-Length past the actual bytes —
    // what a .warc.gz copied mid-write looks like) must throw, because the
    // exactly-once file source will never re-offer the file.
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("ISO-8859-1")); g.close()
      bos.toByteArray
    }
    val good =
      "WARC/1.0\r\nWARC-Target-URI: http://a/1\r\n" +
        "WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    // complete record parses fine
    assert(Warc.parseWarcGz(gz(good)).size == 1)
    // truncated payload: header promises 100 bytes, stream ends after 2
    val truncated = good.replace("Content-Length: 2", "Content-Length: 100")
    val e = intercept[java.io.IOException] {
      Warc.parseWarcGz(gz(truncated)).size
    }
    assert(e.getMessage.contains("truncated WARC"))
    // EOF mid-headers (after the version line) must also fail loud
    val cutHeaders = "WARC/1.0\r\nWARC-Target-URI: http://a/1\r\n"
    val e2 = intercept[java.io.IOException] {
      Warc.parseWarcGz(gz(cutHeaders)).size
    }
    assert(e2.getMessage.contains("truncated WARC"))
    // a whole, well-terminated archive still ends cleanly (EOF between
    // records is not an error)
    assert(Warc.parseWarcGz(gz(good + good.replace("http://a/1", "http://a/2"))).size == 2)
  }
}
