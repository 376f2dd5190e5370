package graft.streaming

import graft.plans.MisraGriesAgg
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.jdk.CollectionConverters._

/** Streaming heavy hitters — the incremental counterpart of the batch
  * t17 operator: keys arrive on a stream and each micro-batch refreshes
  * a bounded Misra-Gries summary, without reprocessing history.
  *
  * State is SHARDED by `h mod shards`: each shard holds its own k-counter
  * MG map in `GroupState`, so state partitions spread across executors
  * and no single hot state bottlenecks the trigger. Because sharding is
  * BY KEY, an item's entire mass lands in one shard, and the shard-local
  * guarantee implies the global one: any item with total count
  * > N_total/(k+1) ≥ N_shard/(k+1) survives its shard's summary. Reading
  * the per-shard summaries back is the same union `mg_merge`
  * ([[graft.plans.MisraGriesAgg]]) performs for stored batch summaries
  * (counter-wise sum + trim) — or, for candidate routing, just the
  * concatenation (still a superset). Each shard counts through the batch
  * aggregate's own update rule, [[graft.plans.MisraGriesAgg.offer]].
  *
  * Emission is `Update`-mode: each trigger re-emits the summaries of the
  * shards that changed; the memory/table sink keeps the latest row per
  * (shard, h). Production bounds state with the RocksDB store provider;
  * the MG map itself is already k-bounded by construction.
  */
object StreamingHeavyHitters {

  case class ShardCounter(shard: Int, h: Long, cnt_lb: Long)

  /** `keys` → one refreshed summary row per (shard, surviving key) each
    * trigger. `k` counters per shard. */
  def summaries(keys: Dataset[Long], shards: Int, k: Int): Dataset[ShardCounter] = {
    import keys.sparkSession.implicits._
    keys.groupByKey(h => (h % shards + shards).toInt % shards)
      .flatMapGroupsWithState[Map[Long, Long], ShardCounter](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (shard: Int, rows: Iterator[Long], state: GroupState[Map[Long, Long]]) =>
          val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
          state.getOption.foreach(_.foreach { case (h, c) => m.put(h, c) })
          rows.foreach(h => MisraGriesAgg.offer(m, h, k))
          val summary = m.asScala.map { case (h, c) => (h.longValue, c.longValue) }.toMap
          state.update(summary)
          summary.iterator.map { case (h, c) => ShardCounter(shard, h, c) }
      }
  }
}
