package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Broadcast-state pattern (ref: `DataStream.broadcast(stateDesc)`
  * `DataStream.java:430`, `BroadcastProcessFunction` /
  * `KeyedBroadcastProcessFunction` — a control/rules stream broadcast
  * to every parallel instance of the main stream's operator, SURVEY
  * §2.3).
  *
  * Spark has no broadcast STATE primitive; the idiomatic port
  * (SURVEY: "join with a slowly-changing dimension via `foreachBatch`
  * refresh") re-resolves the dimension at every micro-batch boundary
  * and BROADCAST-joins it with the batch: each batch observes the
  * rules as of its own processing time — the same consistency the
  * reference gives (rule updates apply from the next element on, never
  * retroactively), with the rule snapshot versioned by `batchId`.
  *
  * Scale shape: the rules side must stay broadcast-sized (it is
  * cluster-wide replicated state in BOTH engines); the main stream is
  * never shuffled by the rules application — the broadcast join keeps
  * the batch's partitioning intact.
  */
object BroadcastState {

  /** Run `stream` with per-batch refreshed broadcast rules: for each
    * micro-batch, `rulesFor(batchId)` resolves the current rules
    * snapshot (a read of the live dimension in production; a versioned
    * fixture in tests), `apply` combines batch × broadcast(rules), and
    * the result is batch `batchId`'s delta in `store` (a retried batch
    * rewrites it). AvailableNow: drains the source,
    * preserving the per-batch rule refresh.
    */
  def withBatchRules(
      stream: DataFrame,
      rulesFor: Long => DataFrame,
      store: DeltaStore
  )(apply: (DataFrame, DataFrame) => DataFrame): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.append(batchId, apply(batch, broadcast(rulesFor(batchId))))
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
