package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (Spark sessions are
  * expensive; ScalaTest suites all reuse this). Mirrors the Verify/Bench
  * configuration: UTC, ANSI off, AQE on, shuffle partitions = cores. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  /** Runs `f` with the session's shuffle-partition count set to `n`, then
    * restores the previous count. */
  def withShufflePartitions[T](n: Int)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  val sf0001 = "/root/testdata/sf0.001"
}
