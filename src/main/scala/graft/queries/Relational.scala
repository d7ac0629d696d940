package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._

/** SURVEY.md §2 relational operator surface (M1): scans, filters,
  * projections, joins (J1–J4, J6–J7), aggregations (A1–A4, A7–A8),
  * windows/sorts/top-k (W1–W5), set ops (E1, E3–E4), scalar function
  * families (F1–F9). Each entry is the Spark-idiomatic plan — broadcast
  * hints on dimension joins, window rank for per-key top-N, pushdown-friendly
  * filters — with a DuckDB oracle where SQL-expressible.
  */
object Relational {

  // ---------------------------------------------------------------- scans
  private val scanParquet = Q(
    "scan_parquet",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .transform(ordered(_, "l_orderkey", "l_linenumber"))
  }

  private val filterPushdown = Q(
    "filter_pushdown",
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .transform(ordered(_, "l_orderkey", "l_linenumber"))
  }

  private val projectPrune = Q(
    "project_prune",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey") { (s, d) =>
    orders(s, d).select("o_orderkey", "o_totalprice").transform(ordered(_, "o_orderkey"))
  }

  // ----------------------------------------------------------- aggregates
  /** A1 — the segmentation flagship: grouped aggregation over the
    * extracted-text-shaped table (BASELINE.json north_star downstream). */
  private val aggSegmentation = Q(
    "agg_segmentation",
    """SELECT lang, count(*) AS n_docs,
      |       round(avg(n_chars), 4) AS avg_chars,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    documents(s, d).groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      round(avg("n_chars"), 4).as("avg_chars"),
      sum("n_chars").cast("long").as("total_chars"))
      .transform(ordered(_, "lang"))
  }

  private val aggCountByKey = Q(
    "agg_count_by_key",
    "SELECT source, count(*) AS n FROM documents GROUP BY source ORDER BY source") { (s, d) =>
    documents(s, d).groupBy("source").agg(count(lit(1)).as("n")).transform(ordered(_, "source"))
  }

  private val aggDistinct = Q(
    "agg_distinct",
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    lineitem(s, d).select("l_returnflag", "l_linestatus")
      .distinct().transform(ordered(_, "l_returnflag", "l_linestatus"))
  }

  /** A4 — approximate (HLL++); engine-specific, no SQL oracle. */
  private val aggApproxDistinct = Q.noOracle("agg_approx_distinct") { (s, d) =>
    lineitem(s, d).agg(
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      approx_count_distinct(col("l_orderkey")).as("approx_orders"))
  }

  private val aggRollup = Q(
    "agg_rollup",
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |       round(sum(l_quantity), 2) AS qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
    lineitem(s, d).rollup("l_returnflag", "l_linestatus").agg(
      count(lit(1)).as("n"),
      round(sum("l_quantity"), 2).as("qty"))
      .transform(ordered(_, asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")))
  }

  /** A8 — max_by with a UNIQUE ordering key (o_orderkey) so ties cannot
    * make the result nondeterministic across engines. */
  private val aggMaxBy = Q(
    "agg_max_by",
    """SELECT o_orderstatus,
      |       max_by(o_custkey, o_orderkey) AS last_cust,
      |       CAST(max(o_orderkey) AS BIGINT) AS max_key
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    orders(s, d).groupBy("o_orderstatus").agg(
      max_by(col("o_custkey"), col("o_orderkey")).as("last_cust"),
      max("o_orderkey").cast("long").as("max_key"))
      .transform(ordered(_, "o_orderstatus"))
  }

  // ---------------------------------------------------------------- joins
  /** J1 — dimension joins with explicit broadcast hints: at 100 TB the fact
    * side never shuffles for a small-dim join. */
  private val joinBroadcast = Q(
    "join_broadcast",
    """SELECT r.r_name, count(*) AS n_cust, round(sum(c.c_acctbal), 1) AS bal
      |FROM customer c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").agg(
        count(lit(1)).as("n_cust"),
        round(sum("c_acctbal"), 1).as("bal"))
      .transform(ordered(_, "r_name"))
  }

  /** J1b — fact ⋈ two broadcast dims (part, supplier): the classic star
    * join. Both dims broadcast explicitly; the fact never shuffles for the
    * join, only for the final aggregation. */
  private val joinMultiway = Q(
    "join_multiway",
    """SELECT p.p_brand, s.s_nationkey AS nat,
      |       count(*) AS n, CAST(sum(l.l_quantity) AS BIGINT) AS qty
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |GROUP BY p.p_brand, s.s_nationkey
      |ORDER BY p_brand, nat""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"), col("s_nationkey").as("nat"))
      .agg(count(lit(1)).as("n"), sum("l_quantity").cast("long").as("qty"))
      .transform(ordered(_, "p_brand", "nat"))
  }

  /** J2 — fact⋈fact equi join; Catalyst/AQE picks SMJ or SHJ. Sum rounded to
    * integer dollars: cross-engine double-summation order differs by ~1e-5
    * at this magnitude, so 0 dp keeps the hash compare stable. */
  private val joinSortMerge = Q(
    "join_sortmerge",
    """SELECT o.o_orderstatus, count(*) AS n,
      |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 0) AS revenue
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin) { (s, d) =>
    orders(s, d).join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus").agg(
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"))
      .transform(ordered(_, "o_orderstatus"))
  }

  /** J3 — left anti: the exact layer of the URL-seen set (SURVEY.md §2.4). */
  private val joinAnti = Q(
    "join_anti",
    """SELECT c.c_custkey, c.c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name").transform(ordered(_, "c_custkey"))
  }

  private val joinSemi = Q(
    "join_semi",
    """SELECT c.c_custkey, c.c_acctbal FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |ORDER BY c.c_custkey""".stripMargin) { (s, d) =>
    customer(s, d).join(
      orders(s, d).filter(col("o_totalprice") > 400000),
      col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_acctbal").transform(ordered(_, "c_custkey"))
  }

  /** J6 — latest row per key ("as-of" style): window rank with a fully
    * deterministic tiebreak (shipdate desc, linenumber desc). */
  private val joinAsofLatest = Q(
    "join_asof_latest",
    """SELECT l_orderkey, l_linenumber, l_shipdate FROM (
      |  SELECT l_orderkey, l_linenumber, l_shipdate,
      |         row_number() OVER (PARTITION BY l_orderkey
      |                            ORDER BY l_shipdate DESC, l_linenumber DESC) AS rn
      |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin) { (s, d) =>
    // Same relation as the window form, via ONE hash aggregation: the
    // row_number()=1 row under ORDER BY (shipdate DESC, linenumber DESC)
    // is exactly max_by over the lexicographic (shipdate, linenumber)
    // struct — (shipdate, linenumber) is unique within an order, so there
    // are no ties. Partial aggregation reduces the exchange to one row
    // per key and drops both window sorts (guide §2.3 "aggregate before
    // you shuffle"); proven equal to the unchanged DuckDB oracle.
    lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(max_by(
        struct(col("l_linenumber"), col("l_shipdate")),
        struct(col("l_shipdate"), col("l_linenumber"))).as("m"))
      .select(col("l_orderkey"),
        col("m.l_linenumber").as("l_linenumber"),
        col("m.l_shipdate").as("l_shipdate"))
      .transform(ordered(_, "l_orderkey"))
  }

  /** J7 — non-equi (theta) join on a deliberately tiny table: BNLJ. */
  private val joinTheta = Q(
    "join_theta",
    """SELECT n1.n_name AS a, n2.n_name AS b FROM nation n1
      |JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey
      |               AND n1.n_nationkey < n2.n_nationkey
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    val n1 = nation(s, d).select(
      col("n_nationkey").as("k1"), col("n_regionkey").as("r1"), col("n_name").as("a"))
    val n2 = nation(s, d).select(
      col("n_nationkey").as("k2"), col("n_regionkey").as("r2"), col("n_name").as("b"))
    n1.join(n2, col("r1") === col("r2") && col("k1") < col("k2"))
      .select("a", "b").transform(ordered(_, "a", "b"))
  }

  // -------------------------------------------------------------- windows
  /** W1 — the frontier-pop shape: rank per key under a budget, deterministic
    * tiebreak on the unique key (SURVEY.md §2.6, crawl-ordering parity). */
  private val windowRankPerKey = Q(
    "window_rank_per_key",
    """SELECT c_nationkey, c_custkey, c_acctbal, rnk FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |         row_number() OVER (PARTITION BY c_nationkey
      |                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
      |  FROM customer) WHERE rnk <= 3 ORDER BY c_nationkey, rnk""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    customer(s, d).withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("c_nationkey", "c_custkey", "c_acctbal", "rnk")
      .transform(ordered(_, "c_nationkey", "rnk"))
  }

  private val windowRunningSum = Q(
    "window_running_sum",
    """SELECT user_id, event_id,
      |       round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
      |         AS running
      |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("user_id"), col("event_id"),
        round(sum("value").over(w), 2).as("running"))
      .transform(ordered(_, "user_id", "event_id"))
  }

  private val windowMovingAvg = Q(
    "window_moving_avg",
    """SELECT user_id, event_id,
      |       round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
      |                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
      |         AS mavg
      |FROM events ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-2, 0)
    events(s, d)
      .select(col("user_id"), col("event_id"),
        round(avg("value").over(w), 4).as("mavg"))
      .transform(ordered(_, "user_id", "event_id"))
  }

  /** W1/T4-adjacent — gap-based sessionization as a batch window job:
    * a new session starts after a >30-minute silence per user. */
  private val windowSessionize = Q(
    "window_sessionize",
    """SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |       count(*) AS n_events, min(ts) AS session_start
      |FROM (
      |  SELECT user_id, ts,
      |         sum(CASE WHEN prev_ts IS NULL
      |                    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY event_id) AS session_id
      |  FROM (SELECT user_id, event_id, ts,
      |               lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
      |        FROM events))
      |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin) { (s, d) =>
    val byUser = Window.partitionBy("user_id").orderBy("event_id")
    events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp"))) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_sess").over(byUser).cast("long"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"))
      .transform(ordered(_, "user_id", "session_id"))
  }

  /** T1 — tumbling 1h window as batch aggregation (epoch-aligned, so
    * Spark's window() start == DuckDB's date_trunc). */
  private val windowTumbling = Q(
    "window_tumbling",
    """SELECT date_trunc('hour', ts) AS win_start, event_type,
      |       count(*) AS n, round(sum(value), 2) AS total
      |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
    events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"), col("total"))
      .transform(ordered(_, "win_start", "event_type"))
  }

  private val sortGlobal = Q(
    "sort_global",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin) { (s, d) =>
    orders(s, d).select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
  }

  /** W5 — TakeOrderedAndProject: never a global sort at scale. */
  private val topkLimit = Q(
    "topk_limit",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin) { (s, d) =>
    lineitem(s, d).select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)
  }

  /** The frontier-compaction kernel (Frontier.splitTopByPriority) under an
    * exact oracle: top-500 orders by (price DESC, key ASC) via the
    * histogram + boundary-cell split — no global sort, no global window —
    * must equal DuckDB's ORDER BY/LIMIT answer exactly. */
  private val topkSplitHistogram = Q(
    "topk_split_histogram",
    """SELECT urlHash, price FROM (
      |  SELECT o_orderkey AS urlHash, round(o_totalprice, 2) AS price
      |  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 500)
      |ORDER BY urlHash""".stripMargin) { (s, d) =>
    val df = orders(s, d).select(
      col("o_orderkey").as("urlHash"), col("o_totalprice").as("priority"))
    val (top, _, _) = graft.crawl.Frontier.splitTopByPriority(df, 500L)
    top.select(col("urlHash"), round(col("priority"), 2).as("price"))
      .transform(ordered(_, "urlHash"))
  }

  // -------------------------------------------------------------- set ops
  private val setopUnion = Q(
    "setop_union",
    """SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0
      |UNION
      |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 450000
      |ORDER BY k""".stripMargin) { (s, d) =>
    customer(s, d).filter(col("c_acctbal") < 0).select(col("c_custkey").as("k"))
      .union(orders(s, d).filter(col("o_totalprice") > 450000).select(col("o_custkey").as("k")))
      .distinct().transform(ordered(_, "k"))
  }

  private val setopExcept = Q(
    "setop_except",
    """SELECT c_custkey AS k FROM customer
      |EXCEPT SELECT o_custkey AS k FROM orders
      |ORDER BY k""".stripMargin) { (s, d) =>
    customer(s, d).select(col("c_custkey").as("k"))
      .except(orders(s, d).select(col("o_custkey").as("k")))
      .transform(ordered(_, "k"))
  }

  // ----------------------------------------------- scalar function families
  private val scalarString = Q(
    "scalar_string",
    """SELECT doc_id, upper(substr(text, 1, 10)) AS head,
      |       CAST(length(text) AS BIGINT) AS len,
      |       concat_ws('|', lang, source) AS tag,
      |       split_part(text, ' ', 1) AS first_word,
      |       trim(lpad(lang, 4, ' ')) AS padded
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    // sort-first: the tokenizing projection runs ONCE above the narrow
    // sort instead of twice below it (range-sample pass re-executes the
    // child; see TextOps.docsSorted) and keeps the exchange's parallelism
    graft.tables.Tables.sortedWide(
      documents(s, d).select("doc_id", "text", "lang", "source"), "doc_id")
      .select(
        col("doc_id"),
        upper(substring(col("text"), 1, 10)).as("head"),
        length(col("text")).cast("long").as("len"),
        concat_ws("|", col("lang"), col("source")).as("tag"),
        element_at(split(col("text"), " "), 1).as("first_word"),
        trim(lpad(col("lang"), 4, " ")).as("padded"))
  }

  private val scalarRegex = Q(
    "scalar_regex",
    """SELECT doc_id,
      |       regexp_extract(text, '(key|agg) (row|scan|join)', 1) AS hit,
      |       regexp_replace(text, '[aeiou]', '_', 'g') LIKE '%t_bl_%' AS has_table,
      |       CAST(len(regexp_extract_all(text, 'value')) AS BIGINT) AS n_value
      |FROM documents
      |WHERE regexp_matches(text, '(key|agg) (row|scan|join)')
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d)
      .filter(col("text").rlike("(key|agg) (row|scan|join)"))
      .select(
        col("doc_id"),
        regexp_extract(col("text"), "(key|agg) (row|scan|join)", 1).as("hit"),
        regexp_replace(col("text"), "[aeiou]", "_").like("%t_bl_%").as("has_table"),
        size(expr("regexp_extract_all(text, 'value', 0)")).cast("long").as("n_value"))
      .transform(ordered(_, "doc_id"))
  }

  // `day` is an ISO STRING on BOTH sides: Spark's date_trunc returns
  // TIMESTAMP while DuckDB's returns DATE for date-granularity parts, and
  // even explicit DATE casts hash differently across the engines' parquet
  // date encodings — the formatted string is the only bit-stable form.
  private val scalarDate = Q(
    "scalar_date",
    """SELECT event_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |       CAST(hour(ts) AS BIGINT) AS hr,
      |       CAST(month(ts) AS BIGINT) AS mo,
      |       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    events(s, d).select(
      col("event_id"),
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
      hour(col("ts")).cast("long").as("hr"),
      month(col("ts")).cast("long").as("mo"),
      unix_timestamp(col("ts")).as("epoch_s"))
      .transform(ordered(_, "event_id"))
  }

  /** F4 — only IEEE-exact math ops (sqrt/abs/floor/ceil/mod), so the
    * cross-engine hash compare is bit-stable without rounding. */
  private val scalarMath = Q(
    "scalar_math",
    """SELECT l_orderkey, l_linenumber,
      |       sqrt(l_quantity) AS root_qty,
      |       abs(l_discount - 0.05) AS disc_dev,
      |       floor(l_extendedprice) AS floor_price,
      |       ceil(l_extendedprice) AS ceil_price,
      |       CAST(l_orderkey % 7 AS BIGINT) AS bucket
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      sqrt(col("l_quantity")).as("root_qty"),
      abs(col("l_discount") - 0.05).as("disc_dev"),
      floor(col("l_extendedprice")).cast("double").as("floor_price"),
      ceil(col("l_extendedprice")).cast("double").as("ceil_price"),
      (col("l_orderkey") % 7).cast("long").as("bucket"))
      .transform(ordered(_, "l_orderkey", "l_linenumber"))
  }

  private val scalarArray = Q(
    "scalar_array",
    """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
      |       CAST(embedding[1] AS DOUBLE) AS first_v,
      |       CAST(embedding[64] AS DOUBLE) AS last_v,
      |       CAST(label AS BIGINT) AS label
      |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
    embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      element_at(col("embedding"), 1).cast("double").as("first_v"),
      element_at(col("embedding"), 64).cast("double").as("last_v"),
      col("label").cast("long").as("label"))
      .transform(ordered(_, "vec_id"))
  }

  /** F6 — map build + extract; the oracle computes the scalar directly
    * (DuckDB map⇄parquet round-trips are not schema-stable vs Spark). */
  private val scalarMap = Q(
    "scalar_map",
    """SELECT doc_id, lang AS lang_v, source AS src_v FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d)
      .withColumn("m", map(lit("lang"), col("lang"), lit("src"), col("source")))
      .select(
        col("doc_id"),
        element_at(col("m"), "lang").as("lang_v"),
        element_at(col("m"), "src").as("src_v"))
      .transform(ordered(_, "doc_id"))
  }

  private val scalarJson = Q(
    "scalar_json",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))
      .transform(ordered(_, "event_id"))
  }

  private val scalarCond = Q(
    "scalar_cond",
    """SELECT o_orderkey,
      |       CASE WHEN o_totalprice > 300000 THEN 'big'
      |            WHEN o_totalprice > 100000 THEN 'mid'
      |            ELSE 'small' END AS size_band,
      |       coalesce(nullif(o_orderstatus, 'O'), 'open') AS status
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    orders(s, d).select(
      col("o_orderkey"),
      when(col("o_totalprice") > 300000, "big")
        .when(col("o_totalprice") > 100000, "mid")
        .otherwise("small").as("size_band"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status"))
      .transform(ordered(_, "o_orderkey"))
  }

  /** F8/P2 — 64-bit hashing for URL-seen keys. xxhash64 is Spark-specific;
    * no DuckDB equivalent → rows-only check. */
  private val hash64 = Q.noOracle("hash64") { (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      xxhash64(col("text")).as("text_hash"),
      xxhash64(col("text"), col("lang")).as("seeded_hash"),
      hash(col("text")).cast("long").as("murmur"),
      crc32(col("text").cast("binary")).as("crc"))
      .transform(ordered(_, "doc_id"))
  }

  /** P3 — host extraction from a synthesized URL column (the test tables
    * carry no URLs; both engines build the identical string first). */
  private val parseUrlHost = Q(
    "parse_url_host",
    """SELECT doc_id,
      |       regexp_extract('https://' || source || '.example.com/docs/'
      |                       || CAST(doc_id AS VARCHAR) || '?ref=x#frag',
      |                      '^[a-z]+://([^/?#]+)', 1) AS host
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d)
      .withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          col("doc_id").cast("string"), lit("?ref=x#frag")))
      .select(col("doc_id"), parse_url(col("url"), lit("HOST")).as("host"))
      .transform(ordered(_, "doc_id"))
  }

  /** E1 — token/link extraction via regexp + explode (generator). */
  private val explodeLinks = Q(
    "explode_links",
    """SELECT w AS word, count(*) AS n FROM (
      |  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS w FROM documents)
      |GROUP BY w ORDER BY n DESC, word LIMIT 100""".stripMargin) { (s, d) =>
    documents(s, d)
      .select(explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(100)
  }

  /** E5 — link-graph PageRank, the canonical crawl-priority signal
    * (Page et al. 1999; what a production frontier feeds its priority
    * column from). The test tables carry no link graph, so one is
    * synthesized deterministically from doc_id (the parse_url_host
    * pattern): every doc links to (m·id² + c) mod N for three (m, c)
    * pairs — quadratic maps are non-bijective, so in-degrees are
    * irregular and the stationary distribution is non-uniform (affine
    * maps with gcd(m, N) = 1 are permutations and PageRank degenerates
    * to exactly uniform). Uniform out-degree 3 ⇒ no dangling mass.
    * Three power iterations, damping 0.85, unrolled identically in both
    * engines; ranks are scaled by N (≈ 1.0) and rounded to 6 dp to
    * absorb cross-engine summation-order noise (true drift ≤ ~1e-13).
    *
    * Scale shape: each iteration is ONE equi-shuffle of the narrow
    * (src, dst) edge list against the narrow (id, rank) vector plus ONE
    * hash re-aggregation on dst — the Pregel/GraphX plan. N arrives by
    * broadcasting a 1-row aggregate (never a driver collect). At a real
    * 10^10-edge graph the edge list comes from the crawl store bucketed
    * by src (co-partitioned join, no big-side exchange) and ranks
    * localCheckpoint every few iterations to truncate lineage. */
  private val linkPagerank = Q(
    "link_pagerank",
    """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |nodes AS (SELECT doc_id FROM documents),
      |edges AS (SELECT doc_id AS src, (m * doc_id * doc_id + c) % (SELECT n FROM nn) AS dst
      |          FROM nodes, (VALUES (1, 1), (3, 7), (5, 11)) AS t(m, c)),
      |r0 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r FROM nodes),
      |r1 AS (SELECT nodes.doc_id, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
      |              + CAST(0.85 AS DOUBLE) * COALESCE(c.s, 0) AS r
      |       FROM nodes LEFT JOIN (SELECT e.dst AS doc_id, sum(p.r / 3) AS s
      |                             FROM edges e JOIN r0 p ON e.src = p.doc_id
      |                             GROUP BY 1) c USING (doc_id)),
      |r2 AS (SELECT nodes.doc_id, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
      |              + CAST(0.85 AS DOUBLE) * COALESCE(c.s, 0) AS r
      |       FROM nodes LEFT JOIN (SELECT e.dst AS doc_id, sum(p.r / 3) AS s
      |                             FROM edges e JOIN r1 p ON e.src = p.doc_id
      |                             GROUP BY 1) c USING (doc_id)),
      |r3 AS (SELECT nodes.doc_id, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
      |              + CAST(0.85 AS DOUBLE) * COALESCE(c.s, 0) AS r
      |       FROM nodes LEFT JOIN (SELECT e.dst AS doc_id, sum(p.r / 3) AS s
      |                             FROM edges e JOIN r2 p ON e.src = p.doc_id
      |                             GROUP BY 1) c USING (doc_id))
      |SELECT doc_id, round(r * (SELECT n FROM nn), 6) AS pr
      |FROM r3 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val nodes = documents(s, d).select(col("doc_id"))
    val withN = nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).cast("long").as("n"))))
    val sq = col("doc_id") * col("doc_id")
    val edges = withN.select(
      col("doc_id").as("src"),
      explode(array(
        (sq * 1 + 1) % col("n"),
        (sq * 3 + 7) % col("n"),
        (sq * 5 + 11) % col("n"))).as("dst"))
    var ranks = withN.select(col("doc_id"), (lit(1.0) / col("n")).as("r"))
    for (_ <- 1 to 3) {
      val contribs = edges
        .join(ranks.select(col("doc_id").as("src"), col("r")), "src")
        .groupBy("dst").agg(sum(col("r") / 3).as("s"))
      ranks = withN
        .join(contribs, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          (lit(0.15) / col("n") + lit(0.85) * coalesce(col("s"), lit(0.0))).as("r"))
    }
    ranks
      .crossJoin(broadcast(nodes.agg(count(lit(1)).cast("long").as("n2"))))
      .select(col("doc_id"), round(col("r") * col("n2"), 6).as("pr"))
      .transform(ordered(_, "doc_id"))
  }

  val all: Seq[Q] = Seq(
    scanParquet, filterPushdown, projectPrune,
    aggSegmentation, aggCountByKey, aggDistinct, aggApproxDistinct,
    aggRollup, aggMaxBy,
    joinBroadcast, joinMultiway, joinSortMerge, joinAnti, joinSemi,
    joinAsofLatest, joinTheta,
    windowRankPerKey, windowRunningSum, windowMovingAvg, windowSessionize,
    windowTumbling, sortGlobal, topkLimit, topkSplitHistogram,
    setopUnion, setopExcept,
    scalarString, scalarRegex, scalarDate, scalarMath, scalarArray,
    scalarMap, scalarJson, scalarCond, hash64, parseUrlHost, explodeLinks,
    linkPagerank)
}
