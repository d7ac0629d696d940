package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke + determinism gate for the driver-harness registry: every
  * registered query must materialize on sf0.001 without error, and its
  * collected result must be identical at different partitionings (the
  * ordering-determinism requirement behind the crawl-ordering parity gate,
  * SURVEY.md §7 hard part 2). DuckDB value parity is the driver's job;
  * this suite catches Spark-side regressions early. */
class QueriesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching queries key") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet -- qs
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  for (q <- SparkEntry.registry) {
    test(s"query ${q.name} materializes on sf0.001") {
      val n = q.run(spark, sf).count()
      assert(n >= 0)
    }
  }

  test("dedup_paragraph drops a NULL-text document, as the oracle's UNNEST does") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-null-text").toString
    val words = (1 to 12).map(i => s"w$i").mkString(" ")
    spark.createDataFrame(Seq((1L, words), (2L, null: String), (3L, "")))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val q = SparkEntry.registry.find(_.name == "dedup_paragraph").get
    val got = q.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    // the empty text is one empty token, so one (empty) segment
    assert(got == Seq((1L, 2L, 2L, words), (3L, 1L, 1L, "")))
  }

  // Collected output must not depend on the partitioning — re-run a
  // representative slice with a different shuffle-partition count.
  private val determinismSlice = Seq(
    "window_rank_per_key", "topk_limit", "dedup_minhash", "dedup_simhash",
    "ann_lsh_topk", "agg_rollup", "text_fingerprint", "join_asof_latest")

  for (name <- determinismSlice) {
    test(s"query $name is partitioning-independent") {
      val q = SparkEntry.registry.find(_.name == name).get
      val a = q.run(spark, sf).collect().map(_.toString).toSeq
      val b = TestSpark.withShufflePartitions(13) {
        q.run(spark, sf).collect().map(_.toString).toSeq
      }
      assert(a == b, s"$name output changed with partition count")
    }
  }
}
