package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Changelog/retraction handling (SURVEY §7 hard part #1; ref:
  * flink-core RowKind.java:32-55, ChangelogMode, and
  * TwoPhaseCommitSinkFunction.java for the exactly-once sink contract):
  * the reference propagates UPDATE_BEFORE/UPDATE_AFTER row kinds through
  * operator chains; Spark confines updates to the sink. The supported
  * strategy: run the stateful operator in Update mode and COLLAPSE the
  * upsert stream at the sink via foreachBatch merge — the sink-side
  * analog of ChangelogMode.upsert().
  *
  * `upsertForeachBatch` merges each micro-batch into a keyed store via
  * last-writer-wins per key — with an idempotent store this also gives
  * the exactly-once effect TwoPhaseCommitSinkFunction provides (the
  * batchId makes redelivery detectable).
  */
object ChangelogSink {

  /** Pluggable upsert target (JDBC table, KV store, delta table ...). */
  trait UpsertStore[K] extends Serializable {
    def upsert(batchId: Long, rows: Seq[(K, Row)]): Unit
  }

  /** In-memory reference store for tests/demos; replayed batches with
    * the same batchId are ignored (idempotence).
    */
  final class MemoryUpsertStore[K] extends UpsertStore[K] {
    val data = new ConcurrentHashMap[K, Row]()
    private val seen = ConcurrentHashMap.newKeySet[Long]()
    override def upsert(batchId: Long, rows: Seq[(K, Row)]): Unit = {
      if (seen.add(batchId)) rows.foreach { case (k, r) => data.put(k, r) }
    }
    def snapshot: Map[K, Row] = data.asScala.toMap
  }

  /** Attach an upsert-collapsing foreachBatch sink to an update-mode
    * stream. `keyOf` extracts the upsert key from each row.
    */
  def upsertWriter[K](
      updates: DataFrame,
      keyOf: Row => K,
      store: UpsertStore[K]
  ): DataStreamWriter[Row] =
    updates.writeStream
      .outputMode("update")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // collect per micro-batch: the upsert stream is already reduced
        // to one row per changed key by the stateful operator upstream
        store.upsert(batchId, batch.collect().toSeq.map(r => keyOf(r) -> r))
      }

  /** DISTRIBUTED upsert sink (the scale-safe counterpart of
    * [[MemoryUpsertStore]] — no `.collect()` anywhere): each micro-batch
    * lands executor-parallel as a parquet partition directory keyed by
    * batchId; a replayed batchId overwrites its own directory with the
    * same deterministic content, which is the parquet analog of the
    * store-side idempotence check. `snapshot` resolves last-writer-wins
    * per key at read time with one hash-partitioned window — the same
    * merge a JDBC/Delta MERGE sink would run, kept engine-local here.
    */
  object ParquetUpsertSink {
    val batchCol = "ingest_batch"

    /** Idempotent landing of one micro-batch (exposed for tests/replay). */
    def writeBatch(batch: Dataset[Row], batchId: Long, path: String): Unit =
      batch.write.mode("overwrite").parquet(s"$path/$batchCol=$batchId")

    def writer(updates: DataFrame, path: String): DataStreamWriter[Row] =
      updates.writeStream
        .outputMode("update")
        .foreachBatch((batch: Dataset[Row], batchId: Long) => writeBatch(batch, batchId, path))

    /** Current upserted state: latest batch wins per key; `tieBreak`
      * orders rows that share key AND batch (unneeded when the upstream
      * operator emits ≤1 row per key per batch, the update-mode norm).
      *
      * `asOfBatch` = TIME TRAVEL: restrict to batches ≤ the given id
      * and the same last-writer-wins collapse reproduces the store
      * exactly as it stood after that batch committed — the batch
      * partitioning IS the version history (the lakehouse snapshot
      * read), and the as-of filter is partition pruning, so old
      * versions cost only the partitions they touch.
      */
    def snapshot(spark: SparkSession, path: String, keyCols: Seq[String],
        tieBreak: Seq[String] = Nil, asOfBatch: Option[Long] = None): DataFrame = {
      val all = spark.read.parquet(path) // partition discovery adds batchCol
      val visible = asOfBatch.fold(all)(b => all.filter(col(batchCol) <= b))
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col(batchCol).desc +: tieBreak.map(col(_).desc): _*)
      visible.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", batchCol)
    }
  }

  /** JDBC upsert sink (ref: flink-jdbc JdbcUpsertTableSink /
    * TableJdbcUpsertOutputFormat): each micro-batch merges
    * EXECUTOR-PARALLEL into a keyed table — one connection per
    * partition, UPDATE-then-INSERT per key (the dialect-portable MERGE).
    * Key-based last-writer-wins makes replayed batches rewrite the same
    * state — the idempotence the two-phase-commit contract needs from a
    * keyed external store. Runs here against embedded Derby (the
    * environment's only DB); against a server-mode DB the same code
    * fans out one connection per executor partition.
    */
  object JdbcUpsertSink {

    /** `keyCols` become the table's PRIMARY KEY. [[writer]] applies each
      * partition as ONE transaction, so a failed or retried task rolls
      * back wholesale rather than leaving half-applied rows. Stated
      * tradeoff: under speculative execution a duplicate task now
      * BLOCKS on the original's row locks until its end-of-partition
      * commit (and may hit the DB's lock timeout → clean rollback →
      * retry) instead of interleaving per-row — correct but slower in
      * that corner; the 23505 duplicate-key backstop below remains for
      * the residual window where a concurrent writer commits between
      * this transaction's UPDATE miss and INSERT. The exercised path
      * here (embedded Derby, one writer per partition, no speculation)
      * never blocks.
      */
    def ensureTable(url: String, table: String, ddlColumns: String,
        keyCols: Seq[String] = Nil): Unit = {
      val pk = if (keyCols.isEmpty) ""
        else s", PRIMARY KEY (${keyCols.map(c => "\"" + c + "\"").mkString(", ")})"
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().executeUpdate(s"CREATE TABLE $table ($ddlColumns$pk)")
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () } // exists
      finally conn.close()
    }

    def writer(updates: DataFrame, url: String, table: String,
        keyCols: Seq[String]): DataStreamWriter[Row] = {
      val cols = updates.columns.toSeq
      val valCols = cols.filterNot(keyCols.contains)
      def q(c: String) = "\"" + c + "\"" // quoted: column names may be SQL reserved words
      val update = s"UPDATE $table SET ${valCols.map(c => s"${q(c)} = ?").mkString(", ")} " +
        s"WHERE ${keyCols.map(c => s"${q(c)} = ?").mkString(" AND ")}"
      val insert = s"INSERT INTO $table (${cols.map(q).mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")})"
      updates.writeStream
        .outputMode("update")
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          batch.foreachPartition { rows: Iterator[Row] =>
            if (rows.nonEmpty) {
              val conn = java.sql.DriverManager.getConnection(url)
              try {
                // one transaction per partition: a failed task's partial
                // writes roll back, so a retry re-applies the partition
                // from a clean slate instead of racing its own leftovers
                conn.setAutoCommit(false)
                try {
                  val up = conn.prepareStatement(update)
                  val ins = conn.prepareStatement(insert)
                  rows.foreach { r =>
                    valCols.zipWithIndex.foreach { case (c, i) => up.setObject(i + 1, r.getAs[Any](c)) }
                    keyCols.zipWithIndex.foreach { case (c, i) => up.setObject(valCols.length + i + 1, r.getAs[Any](c)) }
                    if (up.executeUpdate() == 0) {
                      cols.zipWithIndex.foreach { case (c, i) => ins.setObject(i + 1, r.getAs[Any](c)) }
                      try ins.executeUpdate()
                      catch {
                        // duplicate key ⇒ lost an insert race with a
                        // CONCURRENT (speculative) task that committed
                        // this key — the row exists, so last-writer-wins
                        // via the UPDATE
                        case e: java.sql.SQLException if e.getSQLState == "23505" =>
                          up.executeUpdate()
                      }
                    }
                  }
                  conn.commit()
                } catch {
                  case t: Throwable =>
                    try conn.rollback() catch { case _: java.sql.SQLException => () }
                    throw t
                }
              } finally conn.close()
            }
          }
        }
    }
  }
}
