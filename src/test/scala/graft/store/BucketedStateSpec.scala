package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.withShufflePartitions

/** The storage-partitioned-join guard: committed frontier/seen/failed
  * snapshots are hash-bucketed by urlHash, so the per-round exact-dedup
  * anti-joins must read them PRE-PARTITIONED — zero shuffle on the big
  * committed side, one shuffle total for the small candidate side, no
  * matter how many bucketed tables the chain anti-joins. This is the plan
  * that survives a 10^10-row seen set; a regression here re-shuffles the
  * largest tables in the engine every round. */
class BucketedStateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def shuffleExchanges(df: DataFrame): Int = {
    df.collect()
    // AQE's plan string repeats every node in its "Initial Plan" section;
    // materialized shuffles appear exactly once each as a
    // ShuffleQueryStage in the final plan (broadcasts become
    // BroadcastQueryStage and are deliberately not counted).
    df.queryExecution.executedPlan.toString.linesIterator
      .count(_.contains("ShuffleQueryStage"))
  }

  private def withNoBroadcast[T](f: => T): T = {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  /** The shuffle exchanges' partitionings, e.g. "hashpartitioning(urlHash, 4)"
    * (expression ids stripped). */
  private def exchangePartitionings(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .map(l => "hashpartitioning\\([^)]*\\)".r.findFirstIn(l).get.replaceAll("#\\d+L?", ""))
      .toSeq.distinct

  test("bucketed snapshot read keeps its bucketing: anti-join needs no exchange on the big side") {
    val root = Files.createTempDirectory("bucketed1").toString
    val t = new SnapshotTable(spark, root, "seen", bucketKey = Some("urlHash"))
    withShufflePartitions(4) {
      t.commit((0L until 5000L).map(i => (i, s"u$i")).toDF("urlHash", "url"))
    }
    val big = t.read()
    val cands = (2500L until 7500L).toDF("urlHash")
    withNoBroadcast {
      val out = cands.join(big.select("urlHash"), Seq("urlHash"), "left_anti")
      assert(out.count() == 2500)
      // exactly ONE exchange: the candidate side, to the bucket count;
      // the committed side scans pre-partitioned.
      assert(shuffleExchanges(out) == 1,
        out.queryExecution.executedPlan.toString.take(2000))
    }
  }

  test("anti-join CHAIN across two bucketed tables still shuffles candidates exactly once") {
    val root = Files.createTempDirectory("bucketed2").toString
    val seen = new SnapshotTable(spark, root, "seen", bucketKey = Some("urlHash"))
    val failed = new SnapshotTable(spark, root, "failed", bucketKey = Some("urlHash"))
    withShufflePartitions(4) {
      seen.commit((0L until 3000L).toDF("urlHash"))
      failed.commit((3000L until 4000L).toDF("urlHash"))
    }
    val cands = (2000L until 6000L).toDF("urlHash")
    withNoBroadcast {
      val out = graft.crawl.Seen.antiChain(cands,
        exactBig = Seq(seen.read(), failed.read()), exactSmall = Nil)
      assert(out.count() == 2000)
      // first anti-join's output keeps hashpartitioning(urlHash, 4), so the
      // second bucketed join adds NO exchange on either side.
      assert(shuffleExchanges(out) == 1,
        out.queryExecution.executedPlan.toString.take(3000))
    }
    // A round committed in a session of another width: the seen and
    // frontier versions bucket at that width, and the round's chain
    // against them still exchanges only the candidates, once, to it.
    withShufflePartitions(6) {
      val frontier = new SnapshotTable(spark, root, "frontier", bucketKey = Some("urlHash"))
      seen.commit((0L until 3000L).toDF("urlHash"))
      frontier.commit((3500L until 4500L).toDF("urlHash"))
      withNoBroadcast {
        val out = graft.crawl.Seen.antiChain(cands,
          exactBig = Seq(seen.read(), frontier.read()), exactSmall = Nil)
        assert(out.count() == 2000)
        val plan = out.queryExecution.executedPlan.toString
        assert(shuffleExchanges(out) == 1, plan.take(3000))
        assert(exchangePartitionings(out) == Seq("hashpartitioning(urlHash, 6)"),
          plan.take(3000))
        assert(out.rdd.getNumPartitions == 6, plan.take(3000))
      }
    }
  }

  test("per-round deltas broadcast-anti with zero shuffles") {
    val root = Files.createTempDirectory("bucketed3").toString
    val seen = new SnapshotTable(spark, root, "seen", bucketKey = Some("urlHash"))
    withShufflePartitions(4)(seen.commit((0L until 3000L).toDF("urlHash")))
    val cands = (2000L until 5000L).toDF("urlHash")
    val delta = (4500L until 4600L).toDF("urlHash")
    withNoBroadcast {
      val out = graft.crawl.Seen.antiChain(cands,
        exactBig = Seq(seen.read()), exactSmall = Seq(delta))
      assert(out.count() == 1900)
      val plan = { out.collect(); out.queryExecution.executedPlan.toString }
      assert(plan.contains("BroadcastExchange"), plan.take(2000))
      assert(shuffleExchanges(out) == 1, plan.take(2000))
    }
  }

  test("bucketed commit → read round-trips rows and survives a fresh-catalog resume") {
    val root = Files.createTempDirectory("bucketed4").toString
    val t = new SnapshotTable(spark, root, "frontier", bucketKey = Some("urlHash"))
    val rows = (0L until 1000L).map(i => (i, s"https://h/$i", 1.0 - i * 0.001))
    withShufflePartitions(4)(t.commit(rows.toDF("urlHash", "url", "priority")))
    // same-session read
    assert(t.read().count() == 1000)
    // fresh SnapshotTable instance over the same root (resume path — the
    // deterministic ident re-registers idempotently via IF NOT EXISTS)
    val t2 = new SnapshotTable(spark, root, "frontier", bucketKey = Some("urlHash"))
    val back = t2.read().select("urlHash", "url", "priority").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(back.toSeq == rows)
    // time travel still works for bucketed tables
    withShufflePartitions(4) {
      t2.commit((0L until 10L).map(i => (i, s"x$i", 0.0)).toDF("urlHash", "url", "priority"))
    }
    assert(t2.read(0).count() == 1000 && t2.read(1).count() == 10)
  }
}
