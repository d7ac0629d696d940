package graft.queries

import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Statistical aggregate surface: stddev/variance/corr/covar and exact
  * percentiles. Rounded on both sides — the engines use different
  * one-vs-two-pass formulations, so only ~1e-9 relative agreement is
  * guaranteed. */
object Stats {

  private val aggStats = Q(
    "agg_stats",
    """SELECT l_returnflag,
      |       round(stddev_samp(l_quantity), 4) AS sd_qty,
      |       round(var_samp(l_discount), 6) AS var_disc,
      |       round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
      |       round(covar_samp(l_quantity, l_discount), 6) AS cov_qd
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    lineitem(s, d).groupBy("l_returnflag").agg(
      round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
      round(var_samp(col("l_discount")), 6).as("var_disc"),
      round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
      round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"))
      .transform(ordered(_, "l_returnflag"))
  }

  private val aggPercentile = Q(
    "agg_percentile",
    """SELECT o_orderstatus,
      |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50,
      |       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    // A fanOut before the aggregation was measured both ways: warm it is
    // a wash (the partial percentile buffers partition the input either
    // way), cold it costs ~+0.3 s (extra exchange + stage codegen), so
    // the plain single-split build stays.
    orders(s, d).groupBy("o_orderstatus").agg(
      round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
      round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
      .transform(ordered(_, "o_orderstatus"))
  }

  val all: Seq[Q] = Seq(aggStats, aggPercentile)
}
