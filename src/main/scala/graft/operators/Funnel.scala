package graft.operators

import org.apache.spark.sql.DataFrame

/** Stage-boundary materialization for composed pipelines.
  *
  * Composing library operators the natural way (`val deduped = …;
  * val clean = f(deduped); g(clean, deduped)`) silently duplicates
  * work: every REFERENCE to a stage's DataFrame splices the whole
  * upstream subtree into the consumer's logical plan, and Catalyst's
  * ReuseExchange does NOT rescue cross-stage sharing — the round-6
  * funnel composition scanned the corpus parquet 24 times in one
  * physical plan this way. The reference runtime never exhibits the
  * failure mode because its job graph shares intermediate results by
  * construction (flink-streaming-java
  * StreamingJobGraphGenerator.java:94 chains each operator exactly
  * once; DataSet plans share sources); in Spark, sharing across an
  * action-free composition must be DECLARED.
  *
  * [[stageLazy]] is that declaration: a materialization boundary.
  * Downstream consumers — however many — read the materialized blocks,
  * so each stage's work runs exactly once. With a configured checkpoint
  * directory the boundary is a reliable checkpoint (at 100 TB a lost
  * executor mid-funnel must not recompute three upstream stages);
  * locally it is a local checkpoint (executor block storage, no
  * filesystem round-trip). Both truncate lineage, which also keeps
  * loop-shaped callers' plans from growing without bound — the same
  * discipline [[Components.minLabel]] and [[Iterations]] apply inside
  * their contraction loops.
  *
  * When NOT to use it: a stage referenced exactly once downstream needs
  * no boundary — leaving it lazy lets Catalyst fuse, prune, and push
  * down across the stage seam (the funnel-v1 `min_by` single-pass shape
  * is the counter-example worth preserving). Materialize where fan-out
  * happens, not everywhere.
  */
object Funnel {

  /** Materialize `df` as a pipeline-stage boundary with LAZY
    * materialization: the logical plan is truncated immediately, so
    * every downstream reference computes the stage exactly once. With a
    * checkpoint directory (cluster posture) the boundary is a reliable
    * `checkpoint(eager = false)`, which still recomputes the full lineage
    * in its own job after the first action (Spark's reliable checkpoint
    * writes from lineage, not from cached blocks); locally it is
    * `localCheckpoint(eager = false)`, whose blocks populate inside
    * whichever action consumes the stage first instead of a dedicated
    * eager job. Only the plan's last stage waits, though: the call
    * builds the stage's RDD, and under AQE that runs every map stage
    * below the plan's exchanges at the call, one job each. A stage
    * with an exchange therefore starts jobs before any action
    * (`q_stream_kmv`'s ranking window over the final store version
    * runs its single-partition shuffle at this call, not in the
    * collect). The right boundary for LOOP-internal stages whose every
    * consumer is a full-scan action (iterative graph rounds: each
    * round's aggregate feeds the next round's join or a terminal count)
    * — there an eager job is pure job-count floor, rounds × one
    * scheduling round-trip of it. Where a partial action
    * (head/take/isEmpty/limit) may touch the stage first, materialize
    * eagerly instead (`localCheckpoint()`): a lazy boundary would then
    * checkpoint only the computed partitions and re-derive the rest
    * from the un-truncated RDD lineage on the next consumer.
    */
  def stageLazy(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)
}
