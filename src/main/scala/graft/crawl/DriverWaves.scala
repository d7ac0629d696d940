package graft.crawl

import java.util.concurrent.Executors

import scala.concurrent.ExecutionContext

/** Dedicated execution context for the driver's concurrent per-round waves
  * (shard collects, table commits, state checkpoints, the deferred lineage
  * job). These are independent BLOCKING Spark actions — the global
  * fork-join pool (`ExecutionContext.Implicits.global`) can starve under
  * nested blocking futures, and sizing it is a process-global decision this
  * library must not make for its host application. A small fixed pool of
  * daemon threads is the robust choice. Sizing: the widest wave is the
  * durable round commit (6 concurrent table commits); one caller (the
  * bench) additionally runs checkpointState — which spawns ~6 nested
  * futures and BLOCKS on them — inside a pool thread, so the pool must
  * hold a full wave plus its one blocking parent with headroom. 16 covers
  * every current shape at twice the margin; leaf futures never block on
  * other futures, so exhaustion degrades to queuing, never deadlock. */
object DriverWaves {
  implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(
    Executors.newFixedThreadPool(16, r => {
      val t = new Thread(r, "graft-driver-wave")
      t.setDaemon(true)
      t
    }))
}
