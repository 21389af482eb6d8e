package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** Versioned state store for `foreachBatch` incremental maintenance —
  * the operator-shaped form of the read-v(b−1) / write-v(b) discipline
  * every streaming maintainer here follows (k-means accumulators,
  * connected-components forests, expectation reports, metric counts;
  * ref analog: the reference's checkpointed operator state, re-expressed
  * as immutable table versions).
  *
  * Why versions instead of appends: a `foreachBatch` body can RETRY
  * after a failure, and an append-mode write would duplicate that
  * batch's rows. Writing version `v(b)` with overwrite is idempotent —
  * a retry rewrites the same version from the same inputs — so the
  * whole job is exactly-once without a transactional sink. (At
  * production scale the same contract is a table format's snapshot
  * commit; the immutable-version discipline is identical.)
  *
  * Each store write is `coalesce(1)` — state here is deliberately
  * CORPUS-INDEPENDENT (k·dim accumulator rows, node-count forests,
  * per-rule counts, hour grids), so one file per version keeps
  * re-reads from drowning in file-open overhead. A corpus-sized store
  * (e.g. the delta-dedup band index) should append bucketed files
  * instead — that is a different contract, not this helper.
  */
final case class VersionedStore(spark: SparkSession, base: String) {

  private def path(v: String): String = s"$base/v_$v"

  /** Seed the pre-first-batch version (typically an empty or prior
    * table with the store's schema).
    */
  def init(df: DataFrame): Unit =
    // seeding the store is replay-fixture setup, not maintenance work —
    // booked as fixture time so Bench can stamp the split
    graft.BenchMeters.fixture {
      df.write.mode("overwrite").parquet(path("init"))
    }

  /** State-Processor-API writer analog (ref `flink-state-processing-api`
    * `Savepoint.create` / `BootstrapTransformation`): build the keyed
    * state OFFLINE with an ordinary batch job and install it as the
    * pre-first-batch version, so a streaming maintainer RESUMES from it
    * exactly as if it had processed that history itself. Unlike
    * [[init]] this is measured operator work, not replay-fixture setup —
    * the bootstrap aggregation is the point of the API.
    */
  def bootstrap(df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path("init"))

  /** The version the previous batch left (the seed before batch 0). */
  def prior(batchId: Long): DataFrame =
    spark.read.parquet(path(if (batchId == 0L) "init" else (batchId - 1).toString))

  /** Write this batch's version — overwrite, so a batch RETRY is
    * idempotent.
    */
  def write(batchId: Long, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path(batchId.toString))

  /** The sum-merge of this batch's `delta` into the previous version —
    * the merge of every ADDITIVE store (counts, sums, moment grids): the
    * prior version ∪ `delta`, grouped by `keys`, every other column of
    * `delta` summed under its own name, keys first, then the sums in
    * `delta`'s column order. No keys sums the whole union into one row.
    */
  def sumMerge(batchId: Long, delta: DataFrame, keys: String*): DataFrame = {
    val sums = delta.columns.toSeq.filterNot(keys.contains).map(c => sum(c).as(c))
    prior(batchId).unionByName(delta).groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  /** Read the final state after the stream drained. */
  def version(batchId: Long): DataFrame =
    spark.read.parquet(path(batchId.toString))
}
