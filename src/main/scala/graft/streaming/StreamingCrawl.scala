package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.crawl.FrontierEntry

/** SURVEY.md §2.9 — the Structured-Streaming tier. The crawl contract is
  * batch rounds (BASELINE.json: "Each crawl round is a typed Dataset job");
  * these operators are the streaming re-expression of its two stateful
  * pieces, for pipelines that ingest pages as an unbounded stream:
  *
  *  - T1/T3: tumbling-window discovery counts with a watermark (late pages
  *    beyond the watermark are dropped by Spark, not by us);
  *  - T4: per-host politeness as keyed state — the streaming analog of the
  *    batch frontier pop's per-host budget (W1), enforced per trigger with
  *    a cumulative per-host ledger in [[GroupState]].
  *
  * Both run identically over a bounded DataFrame (batch mode), which is how
  * the specs pin their semantics before the streaming runner exercises
  * triggers. */
object StreamingCrawl {

  /** Pages discovered per (host, tumbling window of warc_ts). Works on a
    * `readStream` source or a bounded frame. Watermark bounds state: hosts
    * stop accumulating once their window is `lateness` past the max seen
    * event time. */
  def hostWindowCounts(pages: DataFrame,
                       windowLen: String = "10 minutes",
                       lateness: String = "1 hour"): DataFrame =
    pages
      .withColumn("host", parse_url(col("url"), lit("HOST")))
      .withWatermark("warc_ts", lateness)
      .groupBy(window(col("warc_ts"), windowLen), col("host"))
      .agg(count(lit(1)).as("n_pages"))
      .select(col("window.start").as("w_start"), col("host"), col("n_pages"))

  /** Cumulative per-host ledger carried across triggers. */
  case class HostLedger(emitted: Long)

  /** Top-k of a group by (priority DESC, urlHash ASC) in O(k) memory — the
    * politeness gate's selection kernel. Deterministic order within the
    * trigger — never arrival order — via a BOUNDED heap: a mega-host group
    * streams through in O(budget) memory instead of materializing (it.toSeq
    * would hold the whole group, and one hot host can be most of a
    * trigger). */
  private def selectTopK(it: Iterator[FrontierEntry], k: Int): Seq[FrontierEntry] =
    if (k <= 0) Seq.empty
    else {
      val rank = (e: FrontierEntry) => (-e.priority, e.urlHash)
      // max-heap on rank: the WORST kept entry sits on top.
      val pq = scala.collection.mutable.PriorityQueue.empty[FrontierEntry](
        Ordering.by(rank))
      it.foreach { e =>
        if (pq.size < k) pq.enqueue(e)
        else if (Ordering[(Double, Long)].lt(rank(e), rank(pq.head))) {
          pq.dequeue(); pq.enqueue(e)
        }
      }
      pq.dequeueAll.reverse.toSeq
    }

  /** The politeness gate: per host, emit at most `budgetPerTrigger` entries
    * per micro-batch, highest (priority, then urlHash) first — the same
    * deterministic total order as the batch pop (crawl-ordering parity).
    * State tracks the cumulative emitted count per host; `maxTotalPerHost`
    * (if ≥ 0) additionally caps a host across the whole stream. */
  def politenessGate(entries: Dataset[FrontierEntry],
                     budgetPerTrigger: Int,
                     maxTotalPerHost: Long = -1L): Dataset[FrontierEntry] = {
    val spark = entries.sparkSession
    import spark.implicits._
    entries
      .groupByKey(_.host)
      .flatMapGroupsWithState[HostLedger, FrontierEntry](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (host: String, it: Iterator[FrontierEntry], state: GroupState[HostLedger]) =>
          val used = state.getOption.map(_.emitted).getOrElse(0L)
          val headroom =
            if (maxTotalPerHost < 0) budgetPerTrigger
            else budgetPerTrigger.toLong.min((maxTotalPerHost - used).max(0L)).toInt
          val take = selectTopK(it, headroom)
          state.update(HostLedger(used + take.size))
          take.iterator
      }
  }
}
