package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Late-data side output (ref: WindowedStream.sideOutputLateData /
  * allowedLateness — WindowOperator.java's late branch): Spark's
  * watermark silently DROPS rows older than the watermark; this splitter
  * captures them on a side channel instead of losing them.
  *
  * Semantics mirror the engine's: the watermark applied to micro-batch N
  * is derived from batches < N (global max event time seen so far minus
  * the delay — monotonic), so a batch's own rows never mark each other
  * late, exactly like Spark's and the reference's watermark propagation.
  * The handler gets the rows at/above the cutoff (on time), the rest
  * (late) and the batch id, so one batch can write both to one
  * batch-stamped store version. Use it as the `foreachBatch` of an
  * update/append stream whose downstream state the on-time rows feed.
  *
  * The split itself is executor-parallel (two pushed-down filters over
  * the cached batch); only the scalar max-ts and the watermark variable
  * live on the driver — same footprint as the engine's own watermark
  * tracking.
  */
final class LateData(tsCol: String, delayMs: Long) extends Serializable {
  @volatile private var wmUs: Long = Long.MinValue

  /** current watermark in event-time microseconds (MinValue before data) */
  def watermarkUs: Long = wmUs

  def foreachBatch(handler: (DataFrame, DataFrame, Long) => Unit): (Dataset[Row], Long) => Unit =
    (batch, batchId) => {
      val b = batch.persist()
      try {
        val cutoff = wmUs
        val onTime = unix_micros(col(tsCol)) >= cutoff
        handler(b.filter(onTime), b.filter(!onTime), batchId)
        val mx = b.agg(max(unix_micros(col(tsCol)))).head.get(0)
        if (mx != null)
          wmUs = math.max(wmUs, mx.asInstanceOf[Long] - delayMs * 1000L)
      } finally b.unpersist()
    }
}
