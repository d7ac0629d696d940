package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md §1).
  *
  * All queries receive the scale-factor directory from the harness; nothing
  * here hard-codes a scale. Reads are plain parquet scans so Catalyst gets
  * full pushdown/pruning (SURVEY.md §2.1 S1).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Scale-adaptive scan fan-out (optimization guide §2.2/§6): a scan's
    * task count is bytes-derived (maxPartitionBytes over files/row-groups),
    * which under-parallelizes CPU-BOUND per-row kernels over compact rows —
    * the driver tables are one single-row-group file each, so a bare scan
    * is ONE task and everything fused above it (regex chains, shingle
    * hashing, md5 folds, media codecs) runs on one core regardless of
    * cores. Widen such inputs to the session's default parallelism before
    * the kernel. At real scale the scan already carries >= cores splits and
    * this is a NO-OP (the guard below) — it never adds a corpus-wide
    * shuffle to a big input; for the small-file case the round-robin
    * exchange moves KBs. Parameterised by defaultParallelism, never a
    * constant.
    *
    * Precondition: `df` is shuffle-free (scans, and projections, filters
    * and unions over them, or a SessionCache memo). The split count is
    * probed through `df.rdd`, which finalizes the child's physical plan:
    * under AQE a child with an exchange would run that shuffle stage on
    * the driver's call, while the query is still being built. */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }

  /** Globally-ordered fan-out (the sort-first pattern's exchange): range
    * partition by `key` into `defaultParallelism` partitions and sort each.
    * Output row order is identical to `orderBy(key)` (range partitions are
    * read in index order; AQE never coalesces an explicitly-numbered
    * repartition), but the downstream CPU-dense stage KEEPS the
    * parallelism — a plain orderBy's ENSURE_REQUIREMENTS exchange is
    * byte-coalesced by AQE, which serializes tiny-but-expensive kernels.
    * A session-wide `coalescePartitions.minPartitionSize` nudge was
    * measured first and rejected: it widened every trivial exchange and
    * cost ~0.2-0.3 s per cheap query in stage-wave overhead. */
  def sortedWide(df: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val p = df.sparkSession.sparkContext.defaultParallelism
    df.repartitionByRange(p, col(key)).sortWithinPartitions(key)
  }
}
