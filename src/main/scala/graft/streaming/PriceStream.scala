package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extension (SURVEY §2.12): the reference is
  * batch-only, but its spot-price history rows (source-timestamped,
  * `vendors/_aws.py:166-174, 1102-1104`) are a natural streaming source.
  * This module provides price-CHANGE detection via typed per-key state
  * (flatMapGroupsWithState) — emit only rows whose price moved — which
  * Pipeline's streaming stage drives.
  *
  * Scale: state is partitioned by key across executors (RocksDB-backed
  * state store in production).
  */
object PriceStream {

  /** Event shape for the typed state operator. */
  case class PriceObs(key: String, ts: java.sql.Timestamp, price: Double)
  case class PriceChange(key: String, ts: java.sql.Timestamp,
                         price: Double, prevPrice: Option[Double])

  /** Emit only price CHANGES per key (first observation always emits).
    * Typed state: last seen price per key; processing-time timeout can be
    * layered on for state expiry. */
  def priceChanges(stream: Dataset[PriceObs]): Dataset[PriceChange] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.key)
      .flatMapGroupsWithState[Double, PriceChange](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[PriceObs], state: GroupState[Double]) =>
          // within a micro-batch, apply observations in event-time order
          val ordered = rows.toSeq.sortBy(_.ts.getTime)
          val out = scala.collection.mutable.ListBuffer.empty[PriceChange]
          var last: Option[Double] = state.getOption
          ordered.foreach { obs =>
            if (!last.contains(obs.price)) {
              out += PriceChange(key, obs.ts, obs.price, last)
              last = Some(obs.price)
            }
          }
          last.foreach(state.update)
          out.iterator
      }
  }
}
