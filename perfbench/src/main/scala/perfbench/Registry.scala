package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.queries.{Relational, SeenOps, SessionCache, Stats, TextOps, VectorOps}

/** Workload `registry`: one pass over every `SparkEntry.registry` query, in
  * registry order, each written to the noop sink (which evaluates every
  * column). The memo cache is empty when the pass starts, so a memoized
  * intermediate is charged to the first query that builds it.
  *
  * Every query's output is fingerprinted as the noop write streams it: an
  * observed aggregate (rows, xor and sum mod p of a per-row hash of all
  * columns) that costs a hash per output row and no extra job. The
  * fingerprints are compared with goldens by `perfbench/checks.py`, after the
  * pass. */
object Registry {

  val modules: Seq[(String, Seq[graft.queries.Q])] = Seq(
    "Relational" -> Relational.all, "Stats" -> Stats.all,
    "TextOps" -> TextOps.all, "VectorOps" -> VectorOps.all,
    "SeenOps" -> SeenOps.all)

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, qs) if qs.exists(_.name == name) => m }
      .getOrElse("Other")

  /** A column in a form whose hash is the same on every run: doubles are
    * rounded to float precision (summation order may move their last bits),
    * maps become key-sorted entry arrays (maps cannot be hashed). */
  def stable(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(et, _) => transform(c, x => stable(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => stable(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(stable(e.getField("key"), kt).as("k"), stable(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** `df` with an observed fingerprint of its rows attached. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val h = xxhash64(df.schema.fields.toIndexedSeq.map(f => stable(col(s"`${f.name}`"), f.dataType)): _*)
    df.observe(obs, count(lit(1)).as("rows"), coalesce(bit_xor(h), lit(0L)).as("xor"),
      coalesce(sum(pmod(h, lit(Main.P))), lit(0L)).as("sum"))
  }

  def run(spark: SparkSession, tracer: Tracer, res: Main.Result, data: String): Double = {
    // Warm the session's generic paths (codegen, the parquet reader) on data
    // no query reads, so the first query does not carry them.
    tracer.span("warmup", "harness") {
      spark.range(100000).selectExpr("sum(id) s", "count(*) c")
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$data/region.parquet").collect()
    }
    SessionCache.invalidate(spark)
    val heapBefore = Main.liveHeapMb() // the pass starts after a full collection

    val firstOpMs = System.currentTimeMillis().toDouble
    val rows = SparkEntry.registry.map { q =>
      val module = moduleOf(q.name)
      res.attempted += 1
      val obs = Observation(q.name)
      val t0 = System.nanoTime()
      val err =
        try {
          tracer.span(q.name, s"queries.$module", timed = true) {
            observed(q.run(spark, data), obs).write.format("noop").mode("overwrite").save()
          }
          None
        } catch { case NonFatal(e) => Some(e.toString) }
      val s = (System.nanoTime() - t0) / 1e9
      err.foreach(e => res.check(s"query_ran:${q.name}", ok = false, e))
      val print = if (err.isEmpty) {
        val m = obs.get
        Seq(m("rows"), m("xor"), m("sum"))
      } else Seq.empty
      Map("name" -> q.name, "module" -> module, "s" -> s, "ok" -> err.isEmpty,
        "print" -> print)
    }
    res.put("queries", rows)
    res.put("session_cache_entries", SessionCache.sizeFor(spark))
    res.put("heap_live_mb", Seq(heapBefore, Main.liveHeapMb()))
    firstOpMs
  }
}
