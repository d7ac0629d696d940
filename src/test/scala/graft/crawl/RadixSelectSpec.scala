package graft.crawl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.expr.PriorityBucket

/** The radix select behind the registry's `topk_split_histogram`
  * (Frontier.splitTopByPriority): an exact deterministic top-n, and a
  * priority FLOOD — millions of rows in one priority quantization cell,
  * the case that used to fall to an RDD sort path / a multi-MB driver key
  * collect — must now resolve through extra 16-bit digit levels with a
  * bounded driver footprint and no sort anywhere in the plan. */
class RadixSelectSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("radix digits are order-isomorphic to (priority DESC, urlHash ASC)") {
    val rnd = new scala.util.Random(7)
    def key(p: Double, h: Long): Seq[Int] =
      (0 until 8).map(PriorityBucket.radixDigit(p, h, _))
    val samples = Seq.fill(4000)((rnd.nextDouble() * math.pow(10, rnd.nextInt(6) - 3),
      rnd.nextLong())) ++
      Seq((0.0, 1L), (0.0, -1L), (-0.0, 5L), (1e-300, 0L), (1e300, Long.MinValue),
        (0.5, Long.MaxValue), (0.5, Long.MinValue), (-1.5, 3L), (-1.5, 4L))
    // normalize ±0.0 the way SQL comparison does (they compare equal) —
    // Scala's TotalOrdering would otherwise rank -0.0 < 0.0 and disagree
    // with the digit order on that one edge
    def norm(p: Double, h: Long): (Double, Long) = (-(p + 0.0) + 0.0, h)
    val byOrder = samples.sortBy { case (p, h) => norm(p, h) }
    val byDigits = samples.sortBy { case (p, h) => key(p, h) }(
      Ordering.Implicits.seqOrdering[Seq, Int])
    assert(byDigits.map { case (p, h) => norm(p, h) } ==
      byOrder.map { case (p, h) => norm(p, h) })
  }

  test("2M+ equal-priority flood: exact split, driver collect stays bounded") {
    val n = 2200000L
    val take = 1000000L
    // every row in the SAME priority cell at every priority digit level —
    // only the urlHash digit levels can split this
    val df = spark.range(n).select(
      (col("id") * 2654435761L + 99L).as("urlHash"),
      lit(0.5).as("priority"))
    val (top, rest, nRest) = Frontier.splitTopByPriority(df, take)
    assert(Frontier.lastMaxCollected <= 65536L,
      s"driver collect grew to ${Frontier.lastMaxCollected} rows — the flood " +
        "must resolve via digit recursion, not a bulk key collect")
    assert(nRest == n - take)
    assert(top.count() == take && rest.count() == n - take)
    // exactness without a test-side global sort: counts partition the input
    // AND the worst kept key outranks the best rejected key in total order
    val topFloor = top.agg(max(struct((col("priority") * -1).as("a"),
      col("urlHash").as("b")))).head.getStruct(0)
    val restTop = rest.agg(min(struct((col("priority") * -1).as("a"),
      col("urlHash").as("b")))).head.getStruct(0)
    val aKey = (topFloor.getDouble(0), topFloor.getLong(1))
    val rKey = (restTop.getDouble(0), restTop.getLong(1))
    assert(Ordering.Tuple2[Double, Long].lt(aKey, rKey),
      s"kept floor $aKey must outrank rejected top $rKey")
  }

  test("flood split has no sort / no RDD scan in either output plan") {
    val df = spark.range(400000L).select(
      (col("id") * 2654435761L + 7L).as("urlHash"), lit(0.25).as("priority"))
    val (top, rest, _) = Frontier.splitTopByPriority(df, 150000L)
    for (out <- Seq(top, rest)) {
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Sort"), s"unexpected sort:\n$plan")
      assert(!plan.contains("ExistingRDD"), s"unexpected RDD scan:\n$plan")
    }
  }

  test("flood split is partition-count independent") {
    def run(parts: Int): Set[Long] = {
      val df = spark.range(300000L).select(
        (col("id") * 2654435761L + 5L).as("urlHash"), lit(0.75).as("priority"))
        .repartition(parts)
      val (top, _, _) = Frontier.splitTopByPriority(df, 123457L)
      top.select("urlHash").collect().map(_.getLong(0)).toSet
    }
    assert(run(3) == run(17))
  }

  test("splitTopByPriority is an exact deterministic top-n at any partitioning") {
    import spark.implicits._
    // unique urlHash (odd multiplier, no mod) — ties in priority are
    // broken by hash, so the expected order is total
    val rows = (0L until 5000L)
      .map(i => (s"u$i", i * 2654435761L, s"h${i % 7}",
        (i % 997).toDouble / 997.0, 1, 0))
    val df = rows.toDF("url", "urlHash", "host", "priority", "depth", "round")
    val expected = rows.sortBy(r => (-r._4, r._2)).take(1234)
      .map(_._2).sorted
    for (parts <- Seq(1, 7)) {
      val (top, rest, nRest) = Frontier.splitTopByPriority(df.repartition(parts), 1234L)
      assert(top.count() == 1234 && nRest == 5000 - 1234)
      assert(top.select("urlHash").collect().map(_.getLong(0)).sorted.toSeq == expected.toSeq)
      assert(rest.count() == 5000 - 1234)
    }
  }
}
