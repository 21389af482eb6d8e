package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver testdata tables (TESTDATA.md / FIXTURES.md).
  *
  * All tables are plain parquet reads — filters/projections placed on top
  * by callers reach the scan via Catalyst pushdown, so no rows are cached
  * or materialized here. What is cached is each file's schema: a plain
  * `spark.read.parquet` runs one Spark job to read the footer and infer
  * it, on every read, and the same immutable fixture files are read by
  * every query (a `TableEnv` open alone read all ten). So every read goes
  * through [[parquet]], which infers a regular file's schema once, with
  * Spark's own inference, and hands it to `spark.read.schema(..)`; later
  * reads launch no job. The memo is JVM-wide, keyed by the canonical
  * path, the file's size, full-precision mtime and file key (a rewritten
  * file is re-inferred) and the session's set `spark.sql.parquet.*` /
  * `spark.sql.legacy.parquet.*` entries (which change what inference
  * returns, e.g. `nanosAsLong`).
  *
  * The one normalization: `events.ts`. The fixture files write it as
  * parquet TIMESTAMP(MICROS) with isAdjustedToUTC=false, which Spark reads
  * as TIMESTAMP_NTZ; we reinterpret it as a UTC instant (the session TZ
  * is pinned to UTC, so the cast is value-preserving). Older generators
  * wrote TIMESTAMP(NANOS), which Spark's vectorized reader rejects
  * ([PARQUET_TYPE_ILLEGAL]); every table is read with
  * `spark.sql.legacy.parquet.nanosAsLong=true` (long nanos), and `ts` is
  * converted to a microsecond TimestampType with integer division —
  * `div 1000`, not `/1000.0`, because epoch-nanos (~1.7e18) exceed the
  * 2^53 exact-integer range of doubles and a float division would
  * corrupt low microseconds.
  * DuckDB oracles must mirror this with `ts::TIMESTAMP` (ns → µs
  * truncation, same floor behavior).
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case _        => parquet(spark, s"$dir/$name.parquet")
    }

  def region(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(parquet(spark, s"$dir/events.parquet"))

  /** The schema `events.parquet` is read with, before [[normalizeTs]] —
    * what a stream over the same file must declare.
    */
  private[graft] def rawEventsSchema(spark: SparkSession, dir: String): StructType =
    parquet(spark, s"$dir/events.parquet").schema

  /** `ts` as a µs TimestampType, whichever encoding the file has. */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      // TIMESTAMP(NANOS) file read as long nanos — floor-divide to µs.
      case LongType            => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                   => raw
    }

  private final case class SchemaKey(path: String, size: Long, mtime: FileTime,
      fileKey: AnyRef, conf: Map[String, String])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** `spark.read.parquet(path)` with a regular file's inferred schema
    * memoized (see the object doc). Anything else — a directory, a
    * missing path — is today's plain read, so it fails the same way.
    * Inference runs outside any lock; a racing reader's equal schema wins.
    * Every table is read with `nanosAsLong` set (events needs it), not
    * only events: otherwise the tables read before a session's first
    * events read would key on other settings than the ones read after.
    */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val file = Paths.get(path)
    if (!Files.isRegularFile(file)) spark.read.parquet(path)
    else {
      val attrs = Files.readAttributes(file, classOf[BasicFileAttributes])
      val conf = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }
      val key = SchemaKey(file.toRealPath().toString, attrs.size, attrs.lastModifiedTime,
        attrs.fileKey, conf)
      val schema = Option(schemas.get(key)).getOrElse {
        val inferred = spark.read.parquet(path).schema
        Option(schemas.putIfAbsent(key, inferred)).getOrElse(inferred)
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Oracle-side CTE mirroring the events ns→µs truncation. Prepend to any
    * DuckDB oracle that touches `events`.
    */
  val eventsCte: String =
    "WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"
}
