package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The contract every multi-batch maintainer rests on
  * ([[StreamingQueries.replay]]): part b replays as batch b, the body
  * sees the batches in order, each batch holds exactly its part's rows,
  * and a body that throws fails the maintainer instead of being skipped.
  */
class ReplaySpec extends SparkSpec {

  /** Part b = ids [10b, 10b + 3 + b) — distinct sizes, so a batch that
    * held another part's rows could not pass.
    */
  private def partRows(b: Long): Seq[Long] = (b * 10L until b * 10L + 3 + b).toSeq
  private def parts: Seq[DataFrame] =
    (0L until 3L).map(b => spark.range(b * 10L, b * 10L + 3 + b).toDF("id"))

  test("a 3-part replay calls the body with ids 0, 1, 2 in order, batch b = part b's rows") {
    val seen = new ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val last = StreamingQueries.replay("replay-spec", "order", parts) { (batch, batchId) =>
      seen.add(batchId -> batch.collect().map(_.getLong(0)).sorted.toSeq)
    }
    val got = seen.asScala.toSeq
    assert(got.map(_._1) === Seq(0L, 1L, 2L))
    got.foreach { case (b, rows) => assert(rows === partRows(b), s"batch $b") }
    assert(last === 2L)
  }

  test("a body that throws makes the replay throw") {
    val e = intercept[Exception] {
      StreamingQueries.replay("replay-spec", "boom", parts) { (_, batchId) =>
        if (batchId == 1L) throw new IllegalStateException("body failed on batch 1")
      }
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => String.valueOf(c.getMessage).contains("body failed on batch 1")),
      chain.map(_.toString).mkString("\n"))
  }
}
