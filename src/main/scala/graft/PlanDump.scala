package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Optimization-round tooling (guide §1.1/§7.2): dump `explain("formatted")`
  * for registry queries to a directory, so plan shapes (Exchange count, join
  * strategy, PushedFilters/ReadSchema, WholeStageCodegen spans) can be
  * diffed before/after a change. Separate main — Bench.scala is frozen.
  *
  * Usage: runMain graft.PlanDump <outDir> [comma,separated,query,names]
  * (no filter = all). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as Bench.
  * Exits 1, after naming them, when any query failed.
  *
  * Note: queries with driver-side iteration (dedup_clusters,
  * topk_split_histogram) execute jobs while building their final plan —
  * the dumped plan is the plan of the RETURNED DataFrame.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.headOption.getOrElse("plans/tmp")
    val only: Set[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = try dump(spark, sfDir, outDir, only) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Write `<outDir>/<name>.txt` for every registry query in `only` (all
    * when empty); returns the names of the queries that failed. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Set[String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.registry.filter(q => only.isEmpty || only(q.name)).flatMap { q =>
      try {
        val df = q.run(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${q.name}.txt"), plan)
        println(s"[plandump] wrote ${q.name}")
        None
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[plandump] ${q.name} failed: ${e.getMessage}")
          Some(q.name)
      }
    }
  }
}
