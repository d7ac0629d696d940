package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §5.6 — physical-plan guards. These assert the *shape* Catalyst
  * must keep for the 100 TB story to hold: filters reach the parquet scan,
  * projections prune the read schema, dimension joins broadcast, and the
  * custom expressions stay inside whole-stage codegen (no interpreted
  * fallback in the hot path). A regression here is invisible to value
  * tests but turns into a full-scan / full-shuffle at scale. */
class PlanShapeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def q(name: String) =
    SparkEntry.registry.find(_.name == name).get.run(spark, sf)

  private def planOf(df: DataFrame): String = {
    // Execute THIS DataFrame (count() would plan a different query and
    // leave this one's AQE plan unfinalized).
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filter_pushdown: predicates reach the parquet scan") {
    val p = planOf(q("filter_pushdown"))
    assert(p.contains("PushedFilters: ["), p.take(800))
    assert(p.contains("GreaterThanOrEqual(l_quantity") ||
      p.contains("EqualTo(l_returnflag"), p.take(800))
  }

  test("project_prune: read schema carries only the selected columns") {
    val p = planOf(q("project_prune"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("o_orderkey") && read.contains("o_totalprice"))
    assert(!read.contains("o_comment") && !read.contains("o_custkey"), read)
  }

  test("join_broadcast: dimension join is a BroadcastHashJoin") {
    val p = planOf(q("join_broadcast"))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("join_anti: seen-set layer compiles to a real anti join") {
    val p = planOf(q("join_anti"))
    assert(p.contains("LeftAnti"), p.take(1200))
  }

  test("custom expressions run inside whole-stage codegen (no fallback)") {
    for (name <- Seq("extract_10k", "canonicalize_url", "hash64")) {
      val df = q(name)
      val p = planOf(df)
      // Codegen stages print as "*(n) Op" in the physical plan; the project
      // evaluating the custom expression must carry the marker.
      val projLine = p.linesIterator
        .find(l => l.contains("Project") &&
          (l.contains("extract_filing_text") || l.contains("canonicalize_url") ||
            l.contains("xxhash64")))
        .getOrElse(fail(s"$name: no project line found in\n${p.take(800)}"))
      assert(projLine.contains("*("), s"$name project not codegen'd: $projLine")
      assert(!p.contains("CodegenFallback"), s"$name fell back: ${p.take(400)}")
    }
  }

  test("frontier pop: budget join broadcasts; pop is window-ranked") {
    import spark.implicits._
    val frontier = graft.crawl.Frontier.fromSeeds(spark,
      (0 until 50).map(i => s"https://h$i.example/doc/$i"))
    val budgets = Seq(("h1.example", 2)).toDF("host", "budget")
    val (popped, _) = graft.crawl.Frontier.pop(frontier, budgets, 5, 4)
    popped.collect()
    val p = popped.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("Window"), p.take(1200))
  }

  test("seen filter: bloom probe happens before the exact anti join's shuffle") {
    import spark.implicits._
    val candidates = spark.range(100)
      .select(col("id").as("urlHash"), concat(lit("u"), col("id")).as("url"))
    val seen = spark.range(0, 50).select(col("id").as("urlHash"))
    val shards = graft.crawl.Seen.buildBloomShards(seen, 4, 1024)
    val out = graft.crawl.Seen.filterNew(candidates, seen, shards, 4)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    // The probe is the zero-copy broadcast-array expression — a codegen'd
    // Filter directly over the scan, not a join carrying shard bytes...
    assert(p.contains("Filter NOT bloom_shards_probe"), p.take(1500))
    // ...and the exact layer is an anti join fed by the maybe-seen remainder.
    assert(p.contains("LeftAnti"), p.take(1500))
  }

  test("seen filter with deletable subset: cuckoo probe is map-side, exact backstop covers both tables") {
    import spark.implicits._
    val candidates = spark.range(100)
      .select(col("id").as("urlHash"), concat(lit("u"), col("id")).as("url"))
    val seen = spark.range(0, 40).select(col("id").as("urlHash"))
    val failedHashes = spark.range(40, 60).select(col("id").as("urlHash"))
    val bloom = graft.crawl.Seen.buildBloomShards(seen, 4, 1024)
    val cuckoo = graft.crawl.Seen.buildCuckooShards(failedHashes, 4, 1024)
    val out = graft.crawl.Seen.filterNew(candidates, seen, bloom, 4,
      failedHashes = Some(failedHashes), cuckooShards = Some(cuckoo))
    val rows = out.collect()
    // exact semantics: new = everything not in seen ∪ failed
    assert(rows.map(_.getLong(0)).sorted.toSeq == (60L until 100L).toSeq)
    val p = out.queryExecution.executedPlan.toString
    // both probes are zero-copy broadcast-array expressions evaluated as
    // codegen'd Filters over the scan (no probe joins carrying shard bytes;
    // the only join is the exact anti-join backstop)
    assert(p.contains("cuckoo_shards_probe"), p.take(2000))
    assert(p.contains("Filter (NOT bloom_shards_probe"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
  }

  test("seen filter probes 64 bloom+cuckoo shards exactly") {
    import spark.implicits._
    // 64 shards: the broadcast shard arrays are indexed far past shard 7,
    // with bloom AND cuckoo bytes present, across 4 candidate partitions.
    // The result must be exactly the candidates in neither seen nor failed.
    val candidates = spark.range(5000)
      .select(col("id").as("urlHash"), concat(lit("u"), col("id")).as("url"))
      .repartition(4)
    val seen = spark.range(0, 3000).select(col("id").as("urlHash"))
    val failedHashes = spark.range(3000, 3500).select(col("id").as("urlHash"))
    val bloom = graft.crawl.Seen.buildBloomShards(seen, 64, 256)
    val cuckoo = graft.crawl.Seen.buildCuckooShards(failedHashes, 64, 256)
    val out = graft.crawl.Seen.filterNew(candidates, seen, bloom, 64,
      failedHashes = Some(failedHashes), cuckooShards = Some(cuckoo))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == (3500L until 5000L).toSeq)
  }

  test("decontaminate: the eval-gram probe broadcasts, never shuffles the corpus grams") {
    val p = planOf(q("decontaminate"))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("link_pagerank: N rides a broadcast 1-row aggregate, never a driver collect") {
    val p = planOf(q("link_pagerank"))
    // the ÷N / ×N factors join in via BroadcastNestedLoopJoin over the
    // single-row count aggregate — a shape with zero driver actions
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("BroadcastExchange"), p.take(1500))
  }
}
