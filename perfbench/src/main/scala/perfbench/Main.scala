package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in a fresh JVM: one workload, one seed, one closed-loop
  * client (this thread issues each query or round only after the previous
  * one finished), `local[4]`.
  *
  * Usage: Main --workload <registry|crawl> --seed <data seed> --seconds <s>
  *             --trace <0|1> --work <dir> --out <result.json> [--data <dir>]
  *
  * The JVM writes raw samples, check outcomes and (traced) the span and job
  * records to `--out`; `perfbench/run.py` turns them into metrics. */
object Main {

  final class Result {
    val values = mutable.LinkedHashMap.empty[String, Any]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    var failed = 0
    def put(k: String, v: Any): Unit = values(k) = v
    /** An output check; a failing check counts as a failed operation. */
    def check(name: String, ok: Boolean, detail: String = ""): Unit = {
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
      if (!ok) failed += 1
    }
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.default.parallelism", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Heap in use right after a full collection, in MiB. The first collection
    * lets Spark's context cleaner release what unreachable plans and blocks
    * still hold; the second one frees that too. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  val P = 1000000007L

  /** Order-independent fingerprint of a hash column: (rows, xor, sum mod p). */
  def hashPrint(df: DataFrame, column: String): (Long, Long, Long) = {
    val r = df.select(xxhash64(col(column)).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(pmod(col("h"), lit(P))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val spark = session(work)
    val res = new Result
    res.put("session_ready_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    val tracer = new Tracer(traced)
    if (traced) spark.sparkContext.addSparkListener(tracer)
    val firstOpMs = try {
      workload match {
        case "registry" => Registry.run(spark, tracer, res, opts("data"))
        case "crawl" => Crawl.run(spark, tracer, res, seed, seconds, work)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        // A workload that cannot finish is reported, never timed.
        res.check("workload_completed", ok = false, e.toString)
        res.attempted = res.attempted.max(1)
        Double.NaN
    }
    res.put("setup_s", (firstOpMs - jvmStartMs) / 1000.0)
    res.put("workload_done_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "values" -> res.values, "checks" -> res.checks)
    if (traced) out ++= tracer.dump()
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(opts("out")), mapper.writeValueAsString(out))
  }
}
