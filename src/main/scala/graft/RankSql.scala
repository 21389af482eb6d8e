package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SQL statement route for the streaming RANK pattern (ref:
  * `StreamExecRank.scala` / `StreamExecDeduplicate.scala` — the
  * reference planner SUBSUMES
  * `SELECT … FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY k
  * ORDER BY o) AS rn FROM t) WHERE rn <= N` into an incremental
  * Rank/Deduplicate operator instead of a full over-window; a user's
  * first streaming top-N or dedup-last attempt is this statement, not
  * a builder API).
  *
  * Batch inputs pass through to Catalyst verbatim (Spark's own planner
  * handles the pattern). Streaming inputs lower onto incremental
  * maintenance: per micro-batch, the per-key rank state — the current
  * top-N rows of each partition, N from the rank predicate — merges
  * with the increment through one keyed window over (state ∪ batch)
  * and is trimmed back to N rows per key, exactly the reference
  * operator's state shape (`UpdatableTopNFunction`'s treemap of the N
  * best per key, `DeduplicateKeepLastRowFunction`'s single row at
  * N = 1). Trimming is safe for insert-only streams: a row outside the
  * current top-N can never re-enter. State rides a [[VersionedStore]]
  * (retry-idempotent versioned writes = exactly-once), and after the
  * available-now drain the ORIGINAL statement re-runs over the final
  * state — the outer projection, predicate, and ordering are then
  * Catalyst's, so any select list the batch form accepts works on the
  * streaming form too, and equality with the whole-corpus batch
  * statement holds by construction.
  */
object RankSql {

  private val pat =
    ("""(?is)^\s*(SELECT\s+.+?)\s+FROM\s*\(\s*SELECT\s+\*\s*,\s*ROW_NUMBER\s*\(\s*\)\s+OVER\s*\(""" +
      """\s*PARTITION\s+BY\s+([\w\s,]+?)\s+ORDER\s+BY\s+([\w\s,]+?)\s*\)\s+AS\s+(\w+)""" +
      """\s+FROM\s+(\w+)\s*\)\s*WHERE\s+(\w+)\s*(=|<=)\s*(\d+)\s*(ORDER\s+BY\s+[\w\s,]+)?\s*$""").r

  def applies(sql: String): Boolean = pat.findFirstMatchIn(sql).isDefined

  /** @param stateDir base directory for the maintenance store when the
    *                 input is streaming (unused on the batch path).
    */
  def run(spark: SparkSession, sql: String, stateDir: String): DataFrame = {
    val m = pat.findFirstMatchIn(sql).getOrElse(
      throw new IllegalArgumentException(s"not a rank-pattern statement: $sql"))
    val table = m.group(5)
    val src = spark.table(table)
    if (!src.isStreaming) return spark.sql(sql)

    val partCols = m.group(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val orderSpecs = m.group(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { spec =>
      val parts = spec.split("\\s+")
      // refuse modifiers we would silently mistranslate (NULLS FIRST/LAST
      // would change which rows the incremental trim keeps vs Catalyst)
      require(parts.length <= 2 &&
        (parts.length == 1 || parts(1).equalsIgnoreCase("ASC")
          || parts(1).equalsIgnoreCase("DESC")),
        s"rank route supports only `col [ASC|DESC]` order specs, got: $spec")
      (parts(0), parts.length > 1 && parts(1).equalsIgnoreCase("DESC"))
    }
    val rnAlias = m.group(4)
    require(m.group(6).equalsIgnoreCase(rnAlias),
      s"rank predicate must test the ROW_NUMBER alias $rnAlias")
    val n = m.group(8).toInt
    require(m.group(7) == "<=" || n == 1, s"rank predicate ${m.group(7)} $n: = requires 1")

    val orderExprs = orderSpecs.map { case (c, desc) => if (desc) col(c).desc else col(c).asc }
    // deterministic tie-break: without it the incremental trim keeps an
    // ARBITRARY row among ORDER BY ties, so which rows survive would
    // depend on batch boundaries; appending the remaining columns makes
    // the kept set a pure function of the row multiset
    val named = (partCols ++ orderSpecs.map(_._1)).map(_.toLowerCase).toSet
    val tieBreak = src.columns.filterNot(c => named.contains(c.toLowerCase)).map(col(_).asc).toSeq
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(orderExprs ++ tieBreak: _*)
    def topN(df: DataFrame): DataFrame =
      df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")

    // a per-RUN unique store directory: a fixed path keyed by view name
    // would let two concurrent JVMs (different datasets, same view name)
    // read each other's state versions
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
    val runDir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(stateDir), s"ranksql_${table}_")
    val store = graft.streaming.VersionedStore(runDir.toString,
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], src.schema))
    @volatile var last = -1L // written from the stream-execution thread
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.write(batchId, topN(store.prior(batchId).unionByName(batch)))
        last = math.max(last, batchId)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the statement itself now runs over the maintained state — outer
    // projection/ordering semantics are Catalyst's, not re-implemented.
    // Zero micro-batches = the empty seed (version -1): the statement
    // returns its (empty) result exactly as the batch form would.
    val state = store.version(last)
    val view = s"__ranksql_${table}_state"
    state.createOrReplaceTempView(view)
    spark.sql(sql.replaceAll(s"(?i)\\bFROM\\s+$table\\b", s"FROM $view"))
  }
}
