package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType

/** Versioned state store for `foreachBatch` incremental maintenance —
  * the operator-shaped form of the read-v(b−1) / write-v(b) discipline
  * every streaming maintainer here follows (k-means accumulators,
  * connected-components forests, expectation reports, metric counts;
  * ref analog: the reference's checkpointed operator state, re-expressed
  * as immutable table versions).
  *
  * The seed is version −1, the state before batch 0. It is never
  * written: `prior(0)` / `version(-1)` return the seed frame itself, so
  * its plan is re-evaluated by every read. A seed must therefore be
  * deterministic, and one that is costly and read more than once is
  * pinned at the call site with `localCheckpoint()`. An empty seed
  * (`limit(0)`, `range(0)`) folds to an empty relation and costs nothing.
  * The seed also declares the store's one schema — its columns, all
  * nullable, as any parquet read declares them: every version is read
  * with it (no footer-inference job per read), and a `write` whose
  * column names, order or types differ from it fails, naming the store
  * and both column lists.
  *
  * Why versions instead of appends: a `foreachBatch` body can RETRY
  * after a failure, and an append-mode write would duplicate that
  * batch's rows. Writing version `v(b)` with overwrite is idempotent —
  * a retry rewrites the same version from the same inputs (versions
  * < b and the deterministic seed) — so the whole job is exactly-once
  * without a transactional sink. (At production scale the same contract
  * is a table format's snapshot commit; the immutable-version discipline
  * is identical.)
  *
  * Each store write is `coalesce(1)` — state here is deliberately
  * CORPUS-INDEPENDENT (k·dim accumulator rows, node-count forests,
  * per-rule counts, hour grids), so one file per version keeps
  * re-reads from drowning in file-open overhead. A corpus-sized store
  * (e.g. the delta-dedup band index) should append bucketed files
  * instead — that is [[DeltaStore]]'s contract, not this helper.
  */
final case class VersionedStore(base: String, seed: DataFrame) {

  private val spark = seed.sparkSession
  val schema: StructType = StoreSchema.of(seed)

  private def path(v: Long): String = s"$base/v_$v"

  /** The version the previous batch left (the seed before batch 0). */
  def prior(batchId: Long): DataFrame = version(batchId - 1)

  /** Write this batch's version — overwrite, so a batch RETRY is
    * idempotent.
    */
  def write(batchId: Long, df: DataFrame): Unit = {
    StoreSchema.check(s"VersionedStore $base", schema, df)
    df.coalesce(1).write.mode("overwrite").parquet(path(batchId))
  }

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

  /** The state batch `batchId` left; version −1 is the seed. */
  def version(batchId: Long): DataFrame =
    if (batchId < 0) seed else spark.read.schema(schema).parquet(path(batchId))
}

/** The one schema a store declares from its seed, and the check every
  * store write makes against it.
  */
private[streaming] object StoreSchema {

  def of(seed: DataFrame): StructType = ColumnBridge.asNullable(seed.schema)

  /** Fails unless `df` has the declared column names, in order, with the
    * declared types (nullability ignored).
    */
  def check(store: String, declared: StructType, df: DataFrame): Unit = {
    // a type's SQL form spells no nullability
    def cols(s: StructType) = s.fields.toSeq.map(f => s"${f.name}: ${f.dataType.sql}")
    if (cols(df.schema) != cols(declared))
      throw new IllegalArgumentException(s"$store: frame columns (${cols(df.schema).mkString(", ")})" +
        s" differ from the seed's (${cols(declared).mkString(", ")})")
  }
}
