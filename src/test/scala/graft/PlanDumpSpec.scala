package graft

import org.scalatest.funsuite.AnyFunSuite

/** PlanDump reports the queries it could not plan instead of swallowing
  * the failure (its main exits 1 on a non-empty result). */
class PlanDumpSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("dump returns the names of the queries that failed") {
    val base = java.nio.file.Files.createTempDirectory("plandump")
    val failed = PlanDump.dump(spark, base.resolve("no-such-sf").toString,
      base.resolve("out").toString, Set("scan_parquet"))
    assert(failed == Seq("scan_parquet"))
  }
}
