package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.Tables

/** `Tables` launches no job for what the driver already knows: a table
  * file's schema is inferred once per session and file contents, a small
  * result's final sort runs no range-sampling job, and `fanOut` sizes its
  * input without executing it. */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Jobs `body` launches on this thread (tagged by a job group of its own). */
  private def jobsIn(body: => Unit): Int = {
    val group = s"tables-spec-${System.nanoTime()}"
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, group)
    try body
    finally {
      spark.sparkContext.clearJobGroup()
      GraftSqlBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(l)
    }
    n.get()
  }

  private def tmpDir(): String = Files.createTempDirectory("tables-spec").toString

  test("two loads of one table file launch exactly one schema-inference job") {
    val dir = tmpDir()
    spark.range(20).selectExpr("id", "cast(id as string) AS s").write.parquet(s"$dir/t.parquet")
    var a, b: DataFrame = null
    val jobs = jobsIn { a = Tables.load(spark, dir, "t"); b = Tables.load(spark, dir, "t") }
    assert(jobs == 1, s"$jobs jobs: each load inferred the schema again")
    assert(a.schema == b.schema && b.count() == 20)
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = tmpDir()
    spark.range(5).selectExpr("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id"))
    spark.range(5).selectExpr("id", "id * 2 AS twice")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val reread = Tables.load(spark, dir, "t")
    assert(reread.columns.toSeq == Seq("id", "twice"))
    assert(reread.agg(sum("twice")).head().getLong(0) == 20L)
  }

  test("a session end drops the schema memo through SessionCache's one listener") {
    val dir = tmpDir()
    spark.range(3).selectExpr("id").write.parquet(s"$dir/t.parquet")
    Tables.load(spark, dir, "t")
    val listeners = GraftSqlBridge.listenerCount(spark, "SessionCache")
    graft.queries.SessionCache.df(spark, "tables-spec-memo")(spark.range(2).toDF())
    assert(jobsIn(Tables.load(spark, dir, "t")) == 0)
    assert(GraftSqlBridge.listenerCount(spark, "SessionCache") == listeners,
      "schemas and memos must share the session's one ApplicationEnd listener")
    GraftSqlBridge.fireApplicationEnd(spark)
    assert(jobsIn(Tables.load(spark, dir, "t")) == 1, "the memo outlived the session end")
  }

  // Duplicate keys across 4 input partitions: the order within a key is
  // the order rows reach the sort, which both plans must keep alike.
  private def dupKeys: DataFrame =
    spark.range(0, 400, 1, 4).selectExpr("id % 7 AS k", "id % 3 AS j", "id AS v")

  test("ordered returns orderBy's rows in orderBy's order, duplicate keys included") {
    def rows(df: DataFrame) = df.collect().toSeq
    assert(rows(Tables.ordered(dupKeys, "k")) == rows(dupKeys.orderBy("k")))
    assert(rows(Tables.ordered(dupKeys, col("j").desc, col("k"))) ==
      rows(dupKeys.orderBy(col("j").desc, col("k"))))
  }

  test("ordered gathers a small result without a range exchange, a big one keeps it") {
    def plan(df: DataFrame) = { df.collect(); df.queryExecution.executedPlan.toString }
    val small = plan(Tables.ordered(dupKeys, "k"))
    assert(!small.contains("rangepartitioning") && small.contains("SinglePartition"), small)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "100") // below the fixture's estimate
      val big = plan(Tables.ordered(dupKeys, "k"))
      assert(big.contains("rangepartitioning"), big)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("fanOut over an aggregated input launches no job at call time") {
    val agg = spark.range(0, 100, 1, 2).groupBy((col("id") % 3).as("g")).count()
    var out: DataFrame = null
    assert(jobsIn { out = Tables.fanOut(agg) } == 0)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(out.count() == 3)
  }

  test("fanOut keeps an input that already has enough splits") {
    val p = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 100, 1, p).toDF()
    assert(Tables.fanOut(wide) eq wide)
    val narrow = spark.range(0, 100, 1, 1).toDF()
    assert(Tables.fanOut(narrow).rdd.getNumPartitions == p)
  }
}
