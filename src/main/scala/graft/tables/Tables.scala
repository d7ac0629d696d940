package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, UnionExec}
import graft.queries.SessionCache

/** Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md §1).
  *
  * All queries receive the scale-factor directory from the harness; nothing
  * here hard-codes a scale. Reads are plain parquet scans so Catalyst gets
  * full pushdown/pruning (SURVEY.md §2.1 S1).
  */
object Tables {

  /** A parquet scan of `<sfDir>/<name>.parquet` read with a known schema.
    * `spark.read.parquet` infers the schema with a Spark job of its own on
    * every call; a registry pass loads its ten tables ~94 times. The schema
    * is inferred once per session and file contents — keyed by the
    * qualified path, the total length and the latest modification time of
    * the files under it, so a file rewritten in place is inferred again —
    * and the read reuses it (the idiom `SnapshotTable.read` applies to its
    * manifest schema). The memo lives in [[SessionCache]] and is dropped
    * with the session's other entries. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = SessionCache.schema(spark, stamp(spark, path))(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** `qualified path:total length:latest modification time` over the files
    * at `path` (a file lists itself, a directory its files). */
  private def stamp(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(p, true)
    var len = 0L
    var mtime = 0L
    while (files.hasNext) {
      val f = files.next()
      len += f.getLen
      mtime = math.max(mtime, f.getModificationTime)
    }
    s"${fs.makeQualified(p)}:$len:$mtime"
  }

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
    * The split count is read off the planned (never executed) physical
    * plan's leaves — see [[splits]] — so building a query runs no job. */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (splits(df.queryExecution.sparkPlan).exists(_ >= p)) df else df.repartition(p)
  }

  /** Partitions `plan` yields, from its leaves' input RDDs (a file scan's
    * splits, a checkpointed memo's RDD) through narrow unary operators and
    * unions (the sum). None once a node needs its child shuffled: AQE sizes
    * that shuffle when it runs, so its count is not known while the query
    * is being built, and `fanOut` then widens. */
  private def splits(plan: SparkPlan): Option[Int] = plan match {
    case u: UnionExec =>
      val parts = u.children.map(splits)
      if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
    case leaf: CodegenSupport if leaf.children.isEmpty =>
      Some(leaf.inputRDDs().map(_.getNumPartitions).sum)
    case n if n.requiredChildDistribution == Seq(UnspecifiedDistribution) =>
      splits(n.children.head)
    case _ => None
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

  /** A query's final sort: the rows and row order of `df.orderBy(cols*)`.
    * A global sort range-partitions, and its RangePartitioner runs a
    * sampling job on the driver's call before the query's own job, for
    * boundaries that a small result does not need. So a result whose
    * analyzed size estimate is at most the session's
    * `spark.sql.autoBroadcastJoinThreshold` is gathered into ONE partition
    * (a SinglePartition exchange, read in map order) and sorted there, and
    * only a bigger one takes `orderBy`. The broadcast threshold is the
    * session's existing bound on what one task may hold whole: a relation
    * under it is already shipped to every task as a broadcast. The
    * analyzed estimate needs no extra optimizer pass; without CBO a join's
    * estimate is the product of its sides, so joins mostly keep the range
    * path. Keep `orderBy` where it is planned without a range exchange
    * (`orderBy(…).limit(n)`, a TakeOrderedAndProject), inside windows, and
    * in `sort_global`, the registry's global-sort operator. */
  def ordered(df: DataFrame, cols: Column*): DataFrame = {
    val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (df.queryExecution.analyzed.stats.sizeInBytes <= limit)
      df.repartition(1).sortWithinPartitions(cols: _*)
    else df.orderBy(cols: _*)
  }

  def ordered(df: DataFrame, col: String, cols: String*): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    ordered(df, (col +: cols).map(c): _*)
  }
}
