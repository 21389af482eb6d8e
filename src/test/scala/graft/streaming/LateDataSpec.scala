package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp
import scala.collection.mutable

/** Late-data side output: rows the engine's watermark would silently
  * drop land on the side channel instead (ref: sideOutputLateData).
  */
class LateDataSpec extends SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ev(id: Long, tsMs: Long) = Event(id, new Timestamp(tsMs), 1L, "x", 1.0)

  test("splitter routes watermark-late rows to the late sink, batch-boundary semantics") {
    val input = MemoryStream[Event]
    val mainIds = mutable.ArrayBuffer.empty[Long]
    val lateIds = mutable.ArrayBuffer.empty[Long]
    def drain(buf: mutable.ArrayBuffer[Long])(df: DataFrame): Unit =
      buf.synchronized { buf ++= df.select("event_id").as[Long].collect() }

    val splitter = new LateData("ts", delayMs = 5000)
    val q = input.toDF().writeStream
      .foreachBatch(splitter.foreachBatch { (onTime, late, _) =>
        drain(mainIds)(onTime)
        drain(lateIds)(late)
      })
      .start()
    try {
      input.addData(ev(1, 10000), ev(2, 60000))
      q.processAllAvailable() // wm after batch: 55s; batch itself all on-time
      input.addData(ev(3, 20000), ev(4, 70000)) // 3 is below wm 55s → late
      q.processAllAvailable() // wm → 65s
      input.addData(ev(5, 64000), ev(6, 80000)) // 5 below 65s → late
      q.processAllAvailable()
      assert(mainIds.sorted.toSeq === Seq(1L, 2L, 4L, 6L))
      assert(lateIds.sorted.toSeq === Seq(3L, 5L))
      assert(splitter.watermarkUs === 75000L * 1000L)
    } finally q.stop()
  }
}
