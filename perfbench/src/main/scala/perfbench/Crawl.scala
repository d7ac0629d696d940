package perfbench

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawl._
import graft.fetch.GenerativeFetcher
import graft.fixtures.SyntheticCorpus
import graft.store.DurableCrawler

/** Workload `crawl`: two crawls of the synthetic web of `SyntheticCorpus`
  * for the data seed, served by `GenerativeFetcher`, run side by side in one
  * JVM:
  *
  *  - `crawl_fat`: in memory, ~24 KB pages. Each round forces the extracted
  *    pages while `Crawler.checkpointState` runs, as `CrawlBench.timedCrawl`
  *    does: the fused fetch→extract wave dominates.
  *  - `crawl_thin_durable`: a `DurableCrawler`, ~0.4 KB pages, every round
  *    committed to parquet: frontier pop, seen probe, expand/dedup and the
  *    store write path dominate.
  *
  * Both crawls are set up and warmed (init, round 0) first, side by side;
  * then timed rounds alternate between them, `timedRounds(seconds)` each, so host
  * drift touches both alike. Every round pops at most `budget` URLs per
  * host and the seeds give each host several rounds of standing frontier,
  * so rounds pop about `budget × hosts` URLs each. */
object Crawl {

  final case class Mode(name: String, fillScale: Int, budget: Int, durable: Boolean)
  val Fat = Mode("crawl_fat", fillScale = 60, budget = 10, durable = false)
  val ThinDurable = Mode("crawl_thin_durable", fillScale = 1, budget = 20, durable = true)

  val N_URLS = 200000L
  val N_HOSTS = 1000
  val FANOUT = 4
  /** Every SEED_STRIDE-th corpus URL is a seed. */
  val SEED_STRIDE = 10
  /** Per-host budget of the warm-up round: enough to compile every plan. */
  val WARMUP_BUDGET = 2
  /** Seconds of a run per timed round of each crawl: a round of both
    * crawls takes about 15 s on a 4-core host. */
  val ROUND_S = 10

  /** Timed rounds per crawl for a run of `seconds`: fixed by `seconds`, so
    * every run of the same length does the same work. */
  def timedRounds(seconds: Double): Int = math.max(1, math.ceil(seconds / ROUND_S).toInt)

  val cfg: CrawlConfig = CrawlConfig(nShards = 32, expectedKeysPerShard = 1L << 17,
    bloomFpp = 0.01, saltBuckets = 32, maxDepth = 100)

  def robots(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until N_HOSTS).map(h => RobotsRules(s"h$h.example", Seq(), Seq("/private/"), 100L)).toDF()
  }

  def seenPrint(s: CrawlRound.State): (Long, Long, Long) =
    urlSetPrint(s.seenExact.select("urlHash").unionByName(s.failed.select("urlHash")))

  /** One round's outcome. `lineage` is forced only in traced runs (in the
    * in-memory crawl it costs a job the untraced loop never runs). */
  final case class Round(phase: String, round: Int, timed: Boolean, popped: Long, wallS: Double,
                         runS: Double, pagesS: Double, checkpointS: Double,
                         lineage: Option[RoundLineage], pageChars: Long, pageMetrics: Long) {
    def toMap: Map[String, Any] = Map(
      "phase" -> phase, "round" -> round, "timed" -> timed, "popped" -> popped,
      "wall_s" -> wallS, "run_s" -> runS, "pages_s" -> pagesS, "checkpoint_s" -> checkpointS,
      "fetched" -> lineage.map(_.fetched), "raw_candidates" -> lineage.map(_.rawCandidates),
      "enqueued" -> lineage.map(_.enqueued),
      "page_chars" -> pageChars, "page_metrics" -> pageMetrics)
  }

  /** Fingerprint of the set of URL hashes in `df`, mod-reduced so sums from
    * different scans compare. */
  def urlSetPrint(df: DataFrame): (Long, Long, Long) = {
    val (n, x, s) = Main.hashPrint(df.select("urlHash"), "urlHash")
    (n, x, s % Main.P)
  }

  def run(spark: SparkSession, tracer: Tracer, res: Main.Result, seed: Long,
          seconds: Double, work: String): Double = {
    val seeds = (0L until N_URLS by SEED_STRIDE.toLong)
      .map(i => SyntheticCorpus.canonicalUrl(i, seed, N_HOSTS))
    val rb = robots(spark)
    val budgets = {
      import spark.implicits._
      Seq.empty[(String, Int)].toDF("host", "budget")
    }
    def fetcher(m: Mode) = new GenerativeFetcher(N_URLS, seed, N_HOSTS, FANOUT, m.fillScale)
    // Set-up: both crawls are built and warmed (round 0, untimed) at once,
    // the durable one on a second thread.
    val thin = Future {
      val rn = durable(spark, tracer, res, ThinDurable, fetcher(ThinDurable), seeds, rb, budgets,
        s"$work/store")
      (rn, rn.round(0, WARMUP_BUDGET))
    }(ExecutionContext.global)
    val fat = inMemory(spark, tracer, res, Fat, fetcher(Fat), seeds, rb, budgets)
    val fatWarm = fat.round(0, WARMUP_BUDGET)
    val (thinRunner, thinWarm) = Await.result(thin, Duration.Inf)
    val runners = Seq(fat, thinRunner)

    val rounds = Seq.newBuilder[Round]
    rounds += fatWarm
    rounds += thinWarm
    val heap = Seq.newBuilder[Double]
    heap += Main.liveHeapMb() // every timed round starts after a full collection
    val firstOpMs = System.currentTimeMillis().toDouble
    for (r <- 1 to timedRounds(seconds); rn <- runners) {
      res.attempted += 1
      rounds += rn.round(r, rn.mode.budget)
      heap += Main.liveHeapMb()
    }
    res.put("timed_done_s", (System.currentTimeMillis() - firstOpMs) / 1000.0)
    val all = rounds.result()
    res.put("rounds", all.map(_.toMap))
    res.put("heap_live_mb", heap.result())
    res.put("seen", runners.map(rn => rn.mode.name -> rn.finish(all.filter(_.phase == rn.mode.name))).toMap)
    firstOpMs
  }

  /** One crawl: runs round `r` with a per-host `budget`; `finish` checks the
    * whole crawl and returns its final seen-set fingerprint. */
  trait Runner {
    def mode: Mode
    def round(r: Int, budget: Int): Round
    def finish(rounds: Seq[Round]): Seq[Long]
  }

  /** The end-of-run seen set must be exactly the set of URLs the rounds
    * popped: no URL fetched twice, none lost. */
  private def checkSeen(res: Main.Result, phase: String, rounds: Seq[Round],
                        seen: (Long, Long, Long), popped: (Long, Long, Long)): Seq[Long] = {
    val total = rounds.map(_.popped).sum
    res.check(s"$phase.seen_rows_equal_popped", seen._1 == total, s"seen ${seen._1} vs popped $total")
    res.check(s"$phase.seen_set_equals_popped_set", seen == popped, s"seen $seen vs popped $popped")
    Seq(seen._1, seen._2, seen._3)
  }

  private def inMemory(spark: SparkSession, tracer: Tracer, res: Main.Result, m: Mode,
                       fetcher: GenerativeFetcher, seeds: Seq[String], rb: DataFrame,
                       budgets: DataFrame): Runner = new Runner {
    import graft.crawl.DriverWaves.ec
    val mode = m
    var state = tracer.span("Crawler.emptyState", "crawl.Crawler") {
      Crawler.emptyState(spark,
        Robots.filterAllowed(Frontier.fromSeeds(spark, seeds), rb).localCheckpoint(true))
    }
    var popped = (0L, 0L, 0L)
    def finish(rounds: Seq[Round]): Seq[Long] =
      tracer.span("seen_check", "harness") { checkSeen(res, m.name, rounds, seenPrint(state), popped) }
    def round(r: Int, budget: Int): Round = {
      val t0 = System.nanoTime()
      var runS, pagesS, checkpointS = 0.0
      val (out, sums, next) = tracer.span(s"${m.name}.round", "crawl.CrawlRound", timed = r > 0) {
        val out = tracer.span("CrawlRound.run", "crawl.CrawlRound") {
          CrawlRound.run(spark, state, rb, budgets, budget, fetcher, r, cfg)
        }
        runS = (System.nanoTime() - t0) / 1e9
        if (out.nPopped == 0) throw new IllegalStateException(s"frontier drained at round $r")
        // Force the extracted pages (a bare count would let Catalyst prune the
        // extraction) while the state checkpoint runs: two independent jobs.
        val prev = state
        val ckpt = Future {
          val a = System.nanoTime()
          val s = Crawler.checkpointState(out.state, Some(prev))
          checkpointS = (System.nanoTime() - a) / 1e9
          s
        }
        val tp = System.nanoTime()
        val sums = tracer.span("pages", "crawl.CrawlRound") {
          out.pages.agg(coalesce(sum(length(col("itemText"))), lit(0L)),
            coalesce(sum(size(col("metrics"))), lit(0L))).head()
        }
        pagesS = (System.nanoTime() - tp) / 1e9
        (out, sums, tracer.span("checkpoint_wait", "crawl.Crawler") { Await.result(ckpt, Duration.Inf) })
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      state = next
      // Outside the round wall: the popped set, and the lineage counters.
      val lineage = tracer.span("round_check", "harness") {
        val p = urlSetPrint(out.popped)
        popped = (popped._1 + p._1, popped._2 ^ p._2, (popped._3 + p._3) % Main.P)
        if (tracer.enabled) Some(out.lineage) else None
      }
      out.unpersistCached()
      Round(m.name, r, r > 0, out.nPopped, wallS, runS, pagesS, checkpointS, lineage,
        sums.getLong(0), sums.getLong(1))
    }
  }

  private def durable(spark: SparkSession, tracer: Tracer, res: Main.Result, m: Mode,
                      fetcher: GenerativeFetcher, seeds: Seq[String], rb: DataFrame,
                      budgets: DataFrame, root: String): Runner = new Runner {
    val mode = m
    val d = new DurableCrawler(spark, root, cfg)
    // DurableCrawler launches no job of its own: its work runs through
    // SnapshotTable commits and CrawlRound, so its spans charge that layer.
    tracer.span("DurableCrawler.init", "store.SnapshotTable") { d.init(seeds, rb) }
    def finish(rounds: Seq[Round]): Seq[Long] = {
      d.close()
      res.put("store_bytes", Using.resource(Files.walk(Paths.get(root))) { files =>
        files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      })
      tracer.span("recovery_check", "harness") {
        // What the run fetched: every popped URL has a row, of any status,
        // in its round's committed pages version.
        val fetched = urlSetPrint(rounds.map(rd => d.pages.read(d.pagesVersionAt(rd.round))
          .select("urlHash")).reduce(_ unionByName _))
        val reopened = new DurableCrawler(spark, root, cfg)
        try {
          res.check(s"${m.name}.reopen_last_complete_round",
            reopened.lastCompleteRound.contains(rounds.last.round),
            s"${reopened.lastCompleteRound} vs ${rounds.last.round}")
          checkSeen(res, m.name, rounds, seenPrint(reopened.currentState()), fetched)
        } finally reopened.close()
      }
    }
    def round(r: Int, budget: Int): Round = {
      val t0 = System.nanoTime()
      val ls = tracer.span(s"${m.name}.round", "store.SnapshotTable", timed = r > 0) {
        d.runRounds(r, fetcher, rb, budgets, budget)
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      if (ls.isEmpty) throw new IllegalStateException(s"frontier drained at round $r")
      Round(m.name, r, r > 0, ls.map(_.popped).sum, wallS, wallS, 0.0, 0.0, ls.headOption, 0L, 0L)
    }
  }
}
