package graft.crawl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expr.CanonicalizeUrl.canonicalize_url

/** The partitioned priority frontier (SURVEY.md §2.6 W1, §2.7, §4.4).
  *
  * Ordering contract: every ordering flows from DATA — (priority DESC,
  * urlHash ASC) is a total order because urlHash is unique per frontier
  * entry — never from partition/task order. This is what makes the popped
  * sequence identical at local[1] and local[32] (the crawl-ordering parity
  * gate). */
object Frontier {

  /** Deterministic base priority of a url — a pure function of its hash. */
  def basePriority(urlHash: Column): Column =
    pmod(urlHash, lit(1000L)).cast("double") / lit(1000.0)

  /** S4 — seed ingestion: canonicalize, hash, host, depth 0, round 0. */
  def fromSeeds(spark: SparkSession, rawUrls: Seq[String]): DataFrame = {
    import spark.implicits._
    val df = rawUrls.toDF("rawUrl")
      .select(canonicalize_url(col("rawUrl")).as("url"))
      .withColumn("urlHash", xxhash64(col("url")))
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .withColumn("priority", basePriority(col("urlHash")))
      .withColumn("depth", lit(0))
      .withColumn("round", lit(0))
    dedupEntries(df)
  }

  /** Canonical representative per urlHash, with DETERMINISTIC aggregates
    * only (min/max — never first()): best priority, shallowest depth. */
  def dedupEntries(entries: DataFrame): DataFrame =
    entries.groupBy("urlHash").agg(
      min("url").as("url"),
      min("host").as("host"),
      max("priority").as("priority"),
      min("depth").as("depth"),
      min("round").as("round"))
      .select("url", "urlHash", "host", "priority", "depth", "round")

  /** W1 — the frontier pop: per host, take the top-`budget` entries by
    * (priority DESC, urlHash ASC), under domain skew.
    *
    * Two-phase skew defuse (§4.4): phase 1 ranks within (host, salt) — the
    * shuffle is spread over `saltBuckets` partitions per host, so a
    * mega-host (15% of the frontier) cannot pin one reducer. Phase 2 ranks
    * the ≤ saltBuckets·budget phase-1 survivors per host — a tiny window.
    * Identical result to a single per-host window, provably: the global
    * per-host top-B is contained in the union of per-salt top-Bs.
    *
    * @return (popped with popRank column, remaining frontier) */
  def pop(frontier: DataFrame, budgets: DataFrame, defaultBudget: Int,
          saltBuckets: Int): (DataFrame, DataFrame) = {
    val cols = frontier.columns.map(col).toSeq
    val withBudget = frontier
      .join(broadcast(budgets), Seq("host"), "left")
      .withColumn("__budget", coalesce(col("budget"), lit(defaultBudget)))
      .drop("budget")
      .withColumn("__salt", pmod(col("urlHash"), lit(saltBuckets.toLong)))

    val w1 = Window.partitionBy("host", "__salt")
      .orderBy(col("priority").desc, col("urlHash").asc)
    val s1 = withBudget.withColumn("__rn1", row_number().over(w1))
    val keep1 = s1.filter(col("__rn1") <= col("__budget"))
    val rest1 = s1.filter(col("__rn1") > col("__budget"))

    val w2 = Window.partitionBy("host")
      .orderBy(col("priority").desc, col("urlHash").asc)
    val s2 = keep1.withColumn("__rn2", row_number().over(w2))
    val popped = s2.filter(col("__rn2") <= col("__budget"))
      .select(cols :+ col("__rn2").as("popRank"): _*)
    val remaining = rest1.select(cols: _*)
      .unionByName(s2.filter(col("__rn2") > col("__budget")).select(cols: _*))
    (popped, remaining)
  }

  /** Exact global top-`n` split by (priority DESC, urlHash ASC) — the
    * kernel of the registry query `topk_split_histogram`. A global rank
    * window would funnel the whole table through one reducer, and a global
    * sort would shuffle the whole 10^10-row table; instead this is a
    * distributed RADIX SELECT of the exact n-th composite key:
    *
    *  1. one narrow aggregate histograms the first 16-bit digit of the
    *     (priority DESC, urlHash ASC) radix key (≤ 2^16 rows to the
    *     driver — graft.expr.PriorityBucket.radixDigit);
    *  2. the walk locates the boundary digit; the cell shrinks ~2^16× per
    *     level, and LOWER digit levels (next priority bits, then urlHash
    *     bits — hashes are unique, so some level always splits) repeat the
    *     histogram ONLY while the cell stays larger than
    *     [[SMALL_COLLECT_CAP]] — a priority flood of millions of equal
    *     priorities costs a couple of extra narrow aggregates, never a
    *     sort, never a multi-MB driver collect;
    *  3. once the cell is ≤ [[SMALL_COLLECT_CAP]], its 16-byte keys visit
    *     the driver (≤ ~64 KB) and the exact n-th key is picked locally.
    *
    * The split itself is then ONE map-side struct-comparison filter against
    * the boundary key — no unions, no shuffle, whole-stage codegen, the
    * same filter at any partition count (deterministic: the ordering is
    * total because urlHash is unique per entry — the documented input
    * contract, enforced with a clear error if digits exhaust).
    *
    * @return (top, rest, nRest) where top holds exactly min(n, |df|) rows.
    *         Requires columns (priority, urlHash); all columns survive. */
  def splitTopByPriority(df: DataFrame, n: Long): (DataFrame, DataFrame, Long) = {
    import graft.expr.PriorityBucket.radix_digit16
    def digitCol(level: Int) = radix_digit16(col("priority"), col("urlHash"), level)
    def histogram(cell: DataFrame, level: Int): Array[(Int, Long)] =
      cell.groupBy(digitCol(level).as("__d")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)

    val hist0 = histogram(df, 0)
    val total = hist0.map(_._2).sum
    lastMaxCollected = hist0.length.toLong
    if (total <= n) return (df, df.limit(0), 0L)

    // Radix-select the exact n-th smallest composite key (digit order is
    // exactly pop order: priority desc, urlHash asc).
    var rank = n // 1-indexed rank of the boundary key within the cell
    var cell = df
    var cellCount = total
    var level = 0
    var histOpt: Option[Array[(Int, Long)]] = Some(hist0)
    var boundary: (Double, Long) = null
    while (boundary == null) {
      if (cellCount <= SMALL_COLLECT_CAP) {
        // `+ 0.0` normalizes a negated zero priority to +0.0 BEFORE the
        // local sort: Scala's total double ordering puts -0.0 < 0.0 while
        // the distributed split filter compares with SQL semantics
        // (-0.0 == 0.0, ties broken by urlHash) — an unnormalized boundary
        // cell holding both zero signs could pick a boundary key that
        // disagrees with the filter and return more than n rows.
        val keys = cell.select(col("priority"), col("urlHash")).collect()
          .map(r => (-r.getDouble(0) + 0.0, r.getLong(1))).sorted
        lastMaxCollected = math.max(lastMaxCollected, keys.length.toLong)
        val (np, h) = keys(rank.toInt - 1)
        boundary = (np, h)
      } else {
        require(level < 8,
          s"radix digits exhausted with $cellCount rows in one cell: " +
            "urlHash is not unique in this frontier (input contract violation)")
        val hist = histOpt.getOrElse(histogram(cell, level))
        histOpt = None
        lastMaxCollected = math.max(lastMaxCollected, hist.length.toLong)
        var cum = 0L; var i = 0
        while (cum + hist(i)._2 < rank) { cum += hist(i)._2; i += 1 }
        rank -= cum
        cellCount = hist(i)._2
        cell = cell.filter(digitCol(level) === lit(hist(i)._1))
        level += 1
      }
    }
    val keyCol = struct((col("priority") * -1).as("a"), col("urlHash").as("b"))
    val thr = struct(lit(boundary._1).as("a"), lit(boundary._2).as("b"))
    (df.filter(keyCol <= thr), df.filter(keyCol > thr), total - n)
  }

  /** Cells at or below this row count resolve via a driver key-select (two
    * narrow columns, ≤ ~64 KB); larger cells recurse another digit level. */
  private[crawl] val SMALL_COLLECT_CAP = 4096L

  /** Test instrumentation only: the largest driver-side collect (histogram
    * entries or boundary keys) of the most recent splitTopByPriority call —
    * lets specs pin that a priority flood never grows the driver footprint. */
  @volatile private[graft] var lastMaxCollected: Long = 0L

  private val HREF_PATTERN = """href="([^"]+)""""

  /** The raw href targets of an `html` binary column, as array<string> —
    * the link-extraction kernel of the crawl round's FUSED fetch pass,
    * which computes it inline (only for status-200 rows below maxDepth) so
    * the wide html bytes never need to be cached for a later expansion
    * scan. */
  def extractRawLinks(html: Column): Column = {
    val htmlStr = decode(html, "UTF-8")
    regexp_extract_all(htmlStr, lit(HREF_PATTERN), lit(1))
  }

  /** The candidate-shaping chain: (rawUrl, parentDepth) rows →
    * canonical deduped frontier entries. Children inherit priority
    * basePriority/2^depth. */
  private def shapeCandidates(raw: DataFrame): DataFrame = {
    val shaped = raw
      .select(canonicalize_url(col("rawUrl")).as("url"), col("parentDepth"))
      .filter(col("url").startsWith("http"))
      .withColumn("urlHash", xxhash64(col("url")))
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .withColumn("depth", col("parentDepth") + 1)
      .withColumn("priority", basePriority(col("urlHash")) / pow(lit(2.0), col("depth")))
      .withColumn("round", lit(0)) // caller stamps the real round
      .select("url", "urlHash", "host", "priority", "depth", "round")
    dedupEntries(shaped)
  }

  /** E1/E2 — candidate shaping for rows whose links are ALREADY extracted
    * (the fused fetch pass, see [[extractRawLinks]]): `processed` carries
    * links:array<string> — null on non-200 / max-depth rows, which
    * explode() drops. Hrefs are canonicalized, hashed and deduped map-side
    * by the partial aggregation of the groupBy (dedup-before-shuffle
    * layer 1). */
  def expandFromLinks(processed: DataFrame): DataFrame =
    shapeCandidates(
      processed.select(explode(col("links")).as("rawUrl"),
        col("depth").as("parentDepth")))
}
