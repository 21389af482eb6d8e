package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink/format coverage (SURVEY §2.1): numeric range source,
  * CSV and JSON round-trips (writeAsCsv/readTextFile/Csv/Json format
  * family), and a dynamic-partition parquet sink
  * (FileSystemTableSink/DynamicPartitionWriter ≈ write.partitionBy).
  * Each query WRITES through the sink then READS back through the
  * matching source, so both directions are exercised; the oracle
  * computes the same result directly from the warehouse tables.
  */
object SourceQueries {

  private def sinkDir(dir: String, name: String): String =
    s"/tmp/graft-sink/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/$name"

  /** env.generateSequence ≈ spark.range. */
  def sourceRange(s: SparkSession, dir: String): DataFrame =
    s.range(1, 1001)
      .agg(count(lit(1)).as("cnt"), sum("id").as("total"),
        min("id").as("mn"), max("id").as("mx"))

  val sourceRangeSql: String =
    """SELECT count(*) AS cnt, CAST(sum(i) AS BIGINT) AS total,
      |  min(i) AS mn, max(i) AS mx
      |FROM range(1, 1001) t(i)""".stripMargin

  /** Custom DataSource V2 connector, BATCH read (see
    * [[graft.sources.SeqSource]] — the `SourceFunction` extension-API
    * parity): 10k deterministic rows over 8 independent range splits;
    * the oracle regenerates the same content arithmetically, so the
    * provider → scan → partitions → readers machinery is what the
    * hash checks.
    */
  def customSource(s: SparkSession, dir: String): DataFrame =
    s.read.format(classOf[graft.sources.SeqSource].getName)
      .option("rows", 10000).option("partitions", 8).load()
      .orderBy("id")

  val customSourceSql: String =
    """SELECT i AS id, md5(i::VARCHAR) AS payload
      |FROM range(0, 10000) t(i) ORDER BY id""".stripMargin

  /** The same connector as a MICRO-BATCH stream: offsets advance 4000
    * ids per trigger (the rate-limited replay shape), AvailableNow
    * drains the 10k range in three deterministic batches whose
    * boundaries the oracle recomputes as id div 4000. Each batch's
    * aggregate lands in a [[graft.streaming.DeltaStore]] under its batch
    * id, so a retried batch overwrites its own row instead of booking it
    * twice, and the result is read back under the store's declared
    * schema.
    */
  def customSourceStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val store = graft.streaming.DeltaStore(sinkDir(dir, "custom_src_stream"),
      s.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        StructType.fromDDL("batch BIGINT, cnt BIGINT, sum_id BIGINT")))
    var last = -1L
    val q = s.readStream.format(classOf[graft.sources.SeqSource].getName)
      .option("rows", 10000).option("partitions", 8)
      .option("rowsPerBatch", 4000).load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        store.append(batchId, batch.agg(count(lit(1)).as("cnt"), sum("id").as("sum_id"))
          .select(lit(batchId).as("batch"), col("cnt"), col("sum_id")).coalesce(1))
        last = math.max(last, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    store.snapshot(last).orderBy("batch")
  }

  val customSourceStreamSql: String =
    """SELECT (i // 4000)::BIGINT AS batch, count(*)::BIGINT AS cnt,
      |  sum(i)::BIGINT AS sum_id
      |FROM range(0, 10000) t(i) GROUP BY 1 ORDER BY batch""".stripMargin

  /** CSV sink + source round-trip of an aggregate. */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(dir, "csv_agg")
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(out)
    s.read
      .schema(StructType(Seq(
        StructField("o_orderstatus", StringType),
        StructField("cnt", LongType),
        StructField("total", DoubleType))))
      .option("header", "true")
      .csv(out)
      .orderBy("o_orderstatus")
  }

  val csvRoundtripSql: String =
    """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** JSON sink + source round-trip. */
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(dir, "json_agg")
    Tables.customer(s, dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), round(avg("c_acctbal"), 4).as("avg_bal"))
      .coalesce(1)
      .write.mode("overwrite").json(out)
    s.read
      .schema(StructType(Seq(
        StructField("c_mktsegment", StringType),
        StructField("cnt", LongType),
        StructField("avg_bal", DoubleType))))
      .json(out)
      .orderBy("c_mktsegment")
  }

  val jsonRoundtripSql: String =
    """SELECT c_mktsegment, count(*) AS cnt, round(avg(c_acctbal), 4) AS avg_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Dynamic-partition parquet sink: write orders partitioned by
    * status, read back with partition pruning (one status), aggregate.
    */
  def partitionedSink(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(dir, "orders_by_status")
    Tables.orders(s, dir)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    s.read.parquet(out)
      .filter(col("o_orderstatus") === "F") // prunes to the F partition dir
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderpriority")
  }

  val partitionedSinkSql: String =
    """SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Z-order clustered write + 2-D box read-back
    * ([[graft.operators.ZOrder.writeZOrdered]]): events clustered on
    * (day-of-month bucket, user_id bucket) along the Morton curve, so
    * every output file holds a narrow min–max range in BOTH dimensions
    * and the box predicate (5-day window × low-user range) prunes most
    * files from footer stats alone — ZOrderSpec measures the pruning
    * against an unclustered write of the same rows. The read-back
    * aggregate equals the plain filtered aggregate (clustering must be
    * semantically invisible), which is what the oracle replays.
    */
  def zorderSink(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ZOrder
    val out = sinkDir(dir, "events_zorder")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        dayofmonth(col("ts")).as("day"))
    ZOrder.writeZOrdered(ev, out,
      ZOrder.bucketize(col("day"), 1, 32, 64),
      ZOrder.bucketize(col("user_id"), 0, 4096, 64),
      numFiles = 16)
    s.read.parquet(out)
      .filter(col("day") >= 10 && col("day") < 15 && col("user_id") < 8)
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
      .orderBy("user_id")
  }

  val zorderSinkSql: String =
    graft.Tables.eventsCte +
      """
        |SELECT user_id, count(*)::BIGINT AS cnt, round(sum(value), 2) AS sv
        |FROM ev WHERE day(ts) >= 10 AND day(ts) < 15 AND user_id < 8
        |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Small-file compaction (the OPTIMIZE/rewrite maintenance pass; ref
    * analog: StreamingFileSink.java accumulates one part file per
    * subtask per checkpoint — the small-files debt every file-based
    * sink builds up and a maintenance rewrite must pay down): a
    * deliberately fragmented table (64 shard files)
    * rewrites into 4 range-clustered files — `repartitionByRange` +
    * `sortWithinPartitions` so each output file owns a contiguous
    * user_id range (footer min/max stay narrow, downstream scans
    * prune), `maxRecordsPerFile` as the size governor. Compaction must
    * be semantically invisible: the read-back aggregate equals the
    * plain aggregate over the original rows, which is exactly what the
    * oracle replays. CompactionSpec pins the mechanical claims (file
    * count collapses, ranges disjoint).
    */
  def compactSink(s: SparkSession, dir: String): DataFrame = {
    val frag = sinkDir(dir, "events_fragmented")
    val out = sinkDir(dir, "events_compacted")
    Tables.events(s, dir).repartition(64)
      .write.mode("overwrite").parquet(frag)
    s.read.parquet(frag)
      .repartitionByRange(4, col("user_id"), col("event_id"))
      .sortWithinPartitions("user_id", "event_id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 1000000)
      .parquet(out)
    s.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
      .orderBy("event_type")
  }

  val compactSinkSql: String =
    graft.Tables.eventsCte +
      """
        |SELECT event_type, count(*)::BIGINT AS cnt, round(sum(value), 2) AS sv
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Bucketed tables + co-located join (the "bucketing for co-located
    * joins" scale technique; ref analog: Flink's batch-shuffle reuse /
    * pre-partitioned inputs): write orders and customer bucketed 8 ways
    * on the join key, then join + aggregate with ZERO hash exchanges —
    * the bucket layout carries the required partitioning from scan
    * through sort-merge join into the aggregate (plan-locked). At
    * 100 TB this is how repeated fact-dim joins amortize their shuffle:
    * pay it once at write time, every downstream join is exchange-free.
    * The merge hint keeps the tiny bench-scale dim side from
    * broadcasting, which would bypass the layout being demonstrated.
    */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val base = sinkDir(dir, "bucketed")
    Tables.orders(s, dir).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$base/orders").saveAsTable("b_orders")
    Tables.customer(s, dir).write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$base/customer").saveAsTable("b_customer")
    s.table("b_orders").hint("merge")
      .join(s.table("b_customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("c_custkey")
  }

  val bucketedJoinSql: String =
    """SELECT c_custkey, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Dynamic partition pruning (runtime partition elimination — the
    * scan-reduction that makes star-schema joins viable at 100 TB):
    * the fact table is partitioned on the join key; the dim side's
    * filter is only known at runtime, so Catalyst injects a dynamic
    * pruning subquery (reusing the broadcast) and the fact scan reads
    * ONLY the surviving partitions (plan-locked on
    * dynamicpruningexpression). Static pruning's counterpart is
    * q_sink_partitioned.
    */
  def dppJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = sinkDir(dir, "orders_by_priority_dpp")
    Tables.orders(s, dir).write.mode("overwrite")
      .partitionBy("o_orderpriority").parquet(out)
    val fact = s.read.parquet(out)
    // the dim must be a FILE relation: a filtered in-memory relation is
    // constant-folded (ConvertToLocalRelation) before the pruning rule
    // runs, leaving no selective predicate for DPP to key on
    val dimPath = s"${sinkDir(dir, "priority_dim")}"
    Seq(("1-URGENT", "hot"), ("2-HIGH", "hot"), ("3-MEDIUM", "warm"),
        ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold"))
      .toDF("priority", "temp").write.mode("overwrite").parquet(dimPath)
    val dim = s.read.parquet(dimPath)
    fact.join(dim.filter(col("temp") === "hot"),
        col("o_orderpriority") === col("priority"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderpriority")
  }

  val dppJoinSql: String =
    """SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
      |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Parquet schema EVOLUTION (mergeSchema): a v1 writer lands three
    * columns, a later v2 writer adds `o_orderpriority`; reading the mixed
    * directory with `mergeSchema` unions the schemas and v1 rows carry
    * NULL for the new column — the additive-evolution contract every
    * long-lived ingest directory depends on (ref: the reference's
    * format-deserialization schema projection;
    * ParquetColumnarRowSplitReader's requested-schema handling). The
    * oracle replicates the writer split and the NULL semantics.
    */
  def evolutionSource(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(dir, "orders_evolution")
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(out)
    o.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .write.mode("append").parquet(out)
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>")).as("priority"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("priority")
  }

  val evolutionSourceSql: String =
    """SELECT coalesce(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
      |                '<pre-evolution>') AS priority,
      |  count(*)::BIGINT AS cnt, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin

  /** Corrupt-record quarantine (PERMISSIVE JSON source with a
    * columnNameOfCorruptRecord): a tenth of the feed is written as
    * malformed lines; the permissive read parses the rest, lands the
    * raw text of bad lines in the corrupt column with NULL data
    * fields, and the query quarantines them as their own group — the
    * poison-pill ingest contract (a FAILFAST reader dies on line one;
    * DROPMALFORMED silently loses data; quarantining keeps both the
    * data and the evidence).
    */
  def corruptSource(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(dir, "json_corrupt")
    Tables.customer(s, dir)
      .select(when(col("c_custkey") % 10 === 3,
          concat(lit("{broken "), col("c_custkey").cast("string")))
        .otherwise(to_json(struct(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal")))).as("value"))
      .coalesce(1).write.mode("overwrite").text(out)
    s.read
      .schema(StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_mktsegment", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("_corrupt", StringType))))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(out)
      .groupBy(coalesce(col("c_mktsegment"), lit("<corrupt>")).as("seg"))
      .agg(count(lit(1)).as("cnt"),
        round(coalesce(sum("c_acctbal"), lit(0.0)), 2).as("total_bal"))
      .orderBy("seg")
  }

  val corruptSourceSql: String =
    """SELECT seg, count(*)::BIGINT AS cnt,
      |  round(coalesce(sum(bal), 0), 2) AS total_bal
      |FROM (SELECT CASE WHEN c_custkey % 10 = 3 THEN '<corrupt>' ELSE c_mktsegment END AS seg,
      |        CASE WHEN c_custkey % 10 <> 3 THEN c_acctbal END AS bal
      |      FROM customer)
      |GROUP BY 1 ORDER BY seg""".stripMargin

  /** Partition-scoped BACKFILL via dynamic partition overwrite — the
    * idempotent reprocessing pattern every production metric store
    * needs (and the reference's bounded-reprocessing story:
    * re-run the job over one time slice, sink overwrites only that
    * slice): monthly order metrics land partitioned by month; a
    * CORRECTED rule (exclude status-'F' orders) reprocesses one month
    * and `partitionOverwriteMode=dynamic` replaces ONLY that month's
    * partition — a static overwrite would truncate the whole store.
    * Re-running the backfill is idempotent (same partition rewritten
    * to the same bytes). The oracle replicates the month-conditional
    * rule over the raw table.
    */
  def backfillSink(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(dir, "monthly_metrics_backfill")
    val base = Tables.orders(s, dir)
      .withColumn("m", date_format(col("o_orderdate"), "yyyy-MM"))
    def metrics(df: DataFrame) = df.groupBy("m", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
    metrics(base).write.mode("overwrite").partitionBy("m").parquet(out)
    // dynamic-overwrite scoped to THIS write via the writer option —
    // mutating the session conf around the write races with any
    // concurrent query on the same session (r7 advice)
    metrics(base.filter(col("m") === "1996-06" && col("o_orderstatus") =!= "F"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("m").parquet(out)
    s.read.parquet(out)
      .select(col("m"), col("o_orderpriority"), col("cnt"), col("total"))
      .orderBy("m", "o_orderpriority")
  }

  val backfillSinkSql: String =
    """WITH b AS (SELECT strftime(o_orderdate, '%Y-%m') AS m, o_orderpriority,
      |             o_orderstatus, o_totalprice FROM orders),
      |k AS (SELECT * FROM b WHERE m <> '1996-06' OR o_orderstatus <> 'F')
      |SELECT m, o_orderpriority, count(*)::BIGINT AS cnt,
      |  round(sum(o_totalprice), 2) AS total
      |FROM k GROUP BY 1, 2 ORDER BY m, o_orderpriority""".stripMargin

  /** ORC sink + source round-trip (ref: OrcColumnarRowSplitReader /
    * flink-orc — Spark's vectorized ORC reader is built in).
    */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(dir, "orc_agg")
    Tables.part(s, dir)
      .groupBy("p_type")
      .agg(count(lit(1)).as("cnt"), round(avg("p_retailprice"), 4).as("avg_price"))
      .coalesce(1)
      .write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy("p_type")
  }

  val orcRoundtripSql: String =
    """SELECT p_type, count(*) AS cnt, round(avg(p_retailprice), 4) AS avg_price
      |FROM part GROUP BY p_type ORDER BY p_type""".stripMargin

  /** JDBC sink + source round-trip (ref: flink-jdbc
    * JDBCOutputFormat/JDBCInputFormat — Spark's built-in jdbc data source).
    * The environment ships no DB server, so this runs against embedded
    * Derby (in /opt/spark/jars for the Hive metastore) — same JVM, real
    * JDBC protocol, DerbyDialect type mapping. The sink write is
    * `coalesce(1)` because embedded Derby serializes concurrent writers;
    * against a server-mode DB the partitioned write (one connection per
    * partition, numPartitions/batchsize options) is the scale path. Read
    * back with a pushed predicate (shows up in the generated WHERE).
    */
  def jdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    System.setProperty("derby.stream.error.file", "/tmp/graft-derby/derby.log")
    val db  = sinkDir(dir, "derby_db").replace("/tmp/graft-sink", "/tmp/graft-derby")
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Tables.nation(s, dir)
      .select("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1)
      .write.mode("overwrite")
      .option("createTableColumnTypes", "n_name VARCHAR(64)")
      .jdbc(url, "NATION_T", props)
    s.read.jdbc(url, "NATION_T", props)
      .filter(col("n_regionkey") < 3) // pushed into the Derby-side WHERE
      .orderBy("n_nationkey")
  }

  val jdbcRoundtripSql: String =
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_regionkey < 3 ORDER BY n_nationkey""".stripMargin

  /** Avro sink + source round-trip (ref: flink-formats/flink-avro —
    * AvroWriterFactory/AvroInputFormat). Implemented directly on the
    * Avro jars Spark itself ships (no spark-avro module on this
    * classpath) — see [[graft.sources.AvroIO]]: per-partition container
    * files out, a splittable Hadoop input format back in. The slice
    * written here carries long, string, double and timestamp-micros
    * columns, so both logical-type directions are exercised; the oracle
    * computes the same aggregate straight from the parquet table.
    */
  def avroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(dir, "avro_orders")
    graft.sources.AvroIO.write(
      Tables.orders(s, dir)
        .filter(col("o_totalprice") > 150000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"),
      out)
    graft.sources.AvroIO.read(s, out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("mn_key"), max("o_orderdate").as("mx_date"))
      .orderBy("o_orderstatus")
  }

  val avroRoundtripSql: String =
    """SELECT o_orderstatus, count(*) AS cnt, round(sum(o_totalprice), 2) AS total,
      |  min(o_orderkey) AS mn_key, max(o_orderdate) AS mx_date
      |FROM orders WHERE o_totalprice > 150000
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** The reference user's first act, end-to-end through SQL TEXT (ref:
    * SqlCreateTable.java / SqlCreateView.java /
    * TableEnvironmentImpl.java:605 executeSql): CREATE TABLE over the
    * warehouse path, CREATE TABLE for a parquet sink, CREATE VIEW with
    * a derived column, INSERT INTO the sink from the view, then SELECT
    * the sink back — every statement a string through
    * [[graft.TableEnv.executeSql]], nothing programmatic. Quantities go
    * through integer micro-units so the written/re-read aggregate is
    * exact on both engines.
    */
  def sqlDdlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(dir, "ddl_rt")
    val env = graft.TableEnv(s, dir)
    env.executeSql(
      s"""CREATE TABLE ddl_lineitem (
         |  l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,
         |  l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,
         |  l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING,
         |  l_linestatus STRING, l_shipdate TIMESTAMP(3)
         |) WITH ('connector'='filesystem', 'path'='$dir/lineitem.parquet',
         |  'format'='parquet')""".stripMargin)
    env.executeSql(
      s"""CREATE TABLE ddl_pricing (flag STRING, status STRING, cnt BIGINT, qty BIGINT)
         |WITH ('connector'='filesystem', 'path'='$out', 'format'='parquet')""".stripMargin)
    env.executeSql(
      """CREATE VIEW ddl_base AS SELECT l_returnflag, l_linestatus,
        |  CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qc
        |FROM ddl_lineitem""".stripMargin)
    env.executeSql(
      """INSERT OVERWRITE ddl_pricing
        |SELECT l_returnflag, l_linestatus, count(*), sum(qc)
        |FROM ddl_base GROUP BY l_returnflag, l_linestatus""".stripMargin)
    env.executeSql("SELECT flag, status, cnt, qty FROM ddl_pricing ORDER BY flag, status")
  }

  val sqlDdlRoundtripSql: String =
    """SELECT l_returnflag AS flag, l_linestatus AS status,
      |  count(*)::BIGINT AS cnt,
      |  (sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)))::BIGINT AS qty
      |FROM lineitem GROUP BY 1, 2 ORDER BY flag, status""".stripMargin

  /** Computed columns + PROCTIME in SQL DDL (ref: SqlTableColumn.java's
    * computed variant / SqlCreateTable.java — nearly every reference
    * DDL example declares `p AS PROCTIME()` or a derived expression
    * column): the source table declares two chained computed columns
    * (micro-unit gross referencing a prior computed column) and a
    * PROCTIME attribute; a downstream INSERT consumes the computed
    * columns and filters on the proctime attribute (`p IS NOT NULL` —
    * deterministically true, so the statement exercises the attribute
    * without emitting a wall-clock value the oracle cannot replay).
    */
  def sqlDdlComputed(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(dir, "ddl_comp")
    val env = graft.TableEnv(s, dir)
    env.executeSql(
      s"""CREATE TABLE ddlc_lineitem (
         |  l_orderkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE,
         |  l_discount DOUBLE,
         |  gross AS l_extendedprice * (1 - l_discount),
         |  gross_c AS CAST(floor(gross * 100 + 0.5) AS BIGINT),
         |  qc AS CAST(floor(l_quantity * 100 + 0.5) AS BIGINT),
         |  p AS PROCTIME()
         |) WITH ('connector'='filesystem', 'path'='$dir/lineitem.parquet',
         |  'format'='parquet')""".stripMargin)
    env.executeSql(
      s"""CREATE TABLE ddlc_sink (bucket BIGINT, cnt BIGINT, gross_sum BIGINT, qty BIGINT)
         |WITH ('connector'='filesystem', 'path'='$out', 'format'='parquet')""".stripMargin)
    env.executeSql(
      """INSERT OVERWRITE ddlc_sink
        |SELECT l_orderkey % 10, count(*), sum(gross_c), sum(qc)
        |FROM ddlc_lineitem WHERE p IS NOT NULL GROUP BY l_orderkey % 10""".stripMargin)
    env.executeSql("SELECT bucket, cnt, gross_sum, qty FROM ddlc_sink ORDER BY bucket")
  }

  val sqlDdlComputedSql: String =
    """SELECT l_orderkey % 10 AS bucket, count(*)::BIGINT AS cnt,
      |  sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))::BIGINT AS gross_sum,
      |  sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))::BIGINT AS qty
      |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin

  /** PARTITIONED BY through the SQL DDL route (ref:
    * SqlCreateTable.java:306 — the filesystem connector's warehouse
    * posture): the sink declares a partition column, INSERT lays the
    * files out as partition directories, and the read-back filter on
    * the partition column prunes whole directories at plan time (the
    * pruning plan lock lives in TableEnvSpec).
    */
  def sqlDdlPartitioned(s: SparkSession, dir: String): DataFrame = {
    val out = sinkDir(dir, "ddl_part")
    val env = graft.TableEnv(s, dir)
    env.executeSql(
      s"""CREATE TABLE ddlp_orders (o_orderkey BIGINT, o_totalprice DOUBLE,
         |  o_orderstatus STRING)
         |WITH ('connector'='filesystem', 'path'='$dir/orders.parquet',
         |  'format'='parquet')""".stripMargin)
    env.executeSql(
      s"""CREATE TABLE ddlp_sink (o_orderkey BIGINT, cents BIGINT, o_orderstatus STRING)
         |PARTITIONED BY (o_orderstatus)
         |WITH ('connector'='filesystem', 'path'='$out', 'format'='parquet')""".stripMargin)
    env.executeSql(
      """INSERT OVERWRITE ddlp_sink
        |SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), o_orderstatus
        |FROM ddlp_orders""".stripMargin)
    env.executeSql(
      """SELECT o_orderstatus, count(*) AS cnt, sum(cents) AS total,
        |  min(o_orderkey) AS mn
        |FROM ddlp_sink WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  val sqlDdlPartitionedSql: String =
    """SELECT o_orderstatus, count(*)::BIGINT AS cnt,
      |  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS total,
      |  min(o_orderkey)::BIGINT AS mn
      |FROM orders WHERE o_orderstatus <> 'P'
      |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  /** StatementSet multi-sink execution (ref: StatementSetImpl /
    * TableEnvironmentImpl.createStatementSet — the reference batches N
    * INSERTs into one execute() over shared registered views): two
    * sinks fill from the same DDL-declared source in one
    * `StatementSet.execute()`, then both are read back tagged. The
    * oracle computes both sink contents directly.
    */
  def sqlStatementSet(s: SparkSession, dir: String): DataFrame = {
    val outA = sinkDir(dir, "ss_by_region")
    val outB = sinkDir(dir, "ss_by_prefix")
    val env = graft.TableEnv(s, dir)
    env.executeSql(
      s"""CREATE TABLE ss_nation (n_nationkey BIGINT, n_name STRING,
         |  n_regionkey BIGINT, n_comment STRING)
         |WITH ('connector'='filesystem', 'path'='$dir/nation.parquet', 'format'='parquet')""".stripMargin)
    env.executeSql(
      s"""CREATE TABLE ss_sink_a (k STRING, n BIGINT)
         |WITH ('connector'='filesystem', 'path'='$outA', 'format'='parquet')""".stripMargin)
    env.executeSql(
      s"""CREATE TABLE ss_sink_b (k STRING, n BIGINT)
         |WITH ('connector'='filesystem', 'path'='$outB', 'format'='parquet')""".stripMargin)
    // OVERWRITE so reruns are deterministic (the sink paths persist)
    env.createStatementSet()
      .addInsertSql(
        """INSERT OVERWRITE ss_sink_a
          |SELECT CAST(n_regionkey AS STRING), count(*) FROM ss_nation GROUP BY n_regionkey""".stripMargin)
      .addInsertSql(
        """INSERT OVERWRITE ss_sink_b
          |SELECT substr(n_name, 1, 1), count(*) FROM ss_nation GROUP BY substr(n_name, 1, 1)""".stripMargin)
      .execute()
    env.executeSql(
      """SELECT 'region' AS which, k, n FROM ss_sink_a
        |UNION ALL SELECT 'prefix' AS which, k, n FROM ss_sink_b
        |ORDER BY which, k""".stripMargin)
  }

  val sqlStatementSetSql: String =
    """SELECT * FROM (
      |  SELECT 'region' AS which, CAST(n_regionkey AS VARCHAR) AS k, count(*)::BIGINT AS n
      |  FROM nation GROUP BY n_regionkey
      |  UNION ALL
      |  SELECT 'prefix' AS which, substr(n_name, 1, 1) AS k, count(*)::BIGINT AS n
      |  FROM nation GROUP BY substr(n_name, 1, 1))
      |ORDER BY which, k""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_sql_ddl_roundtrip", sqlDdlRoundtrip, Some(sqlDdlRoundtripSql)),
    Q("q_sql_ddl_computed", sqlDdlComputed, Some(sqlDdlComputedSql)),
    Q("q_sql_ddl_partitioned", sqlDdlPartitioned, Some(sqlDdlPartitionedSql)),
    Q("q_sql_statement_set", sqlStatementSet, Some(sqlStatementSetSql)),
    Q("q_sink_avro", avroRoundtrip, Some(avroRoundtripSql)),
    Q("q_jdbc_roundtrip", jdbcRoundtrip, Some(jdbcRoundtripSql)),
    Q("q_source_range", sourceRange, Some(sourceRangeSql)),
    Q("q_source_custom", customSource, Some(customSourceSql)),
    Q("q_stream_custom_source", customSourceStream, Some(customSourceStreamSql)),
    Q("q_sink_orc", orcRoundtrip, Some(orcRoundtripSql)),
    Q("q_sink_bucketed", bucketedJoin, Some(bucketedJoinSql)),
    Q("q_sink_dpp", dppJoin, Some(dppJoinSql)),
    Q("q_sink_csv", csvRoundtrip, Some(csvRoundtripSql)),
    Q("q_sink_json", jsonRoundtrip, Some(jsonRoundtripSql)),
    Q("q_sink_partitioned", partitionedSink, Some(partitionedSinkSql)),
    Q("q_sink_backfill", backfillSink, Some(backfillSinkSql)),
    Q("q_source_evolution", evolutionSource, Some(evolutionSourceSql)),
    Q("q_source_corrupt", corruptSource, Some(corruptSourceSql)),
    Q("q_sink_zorder", zorderSink, Some(zorderSinkSql)),
    Q("q_sink_compact", compactSink, Some(compactSinkSql))
  )
}
