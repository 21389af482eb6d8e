package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The fixture-schema memo in [[Tables]]: a re-read of an unchanged file
  * launches no Spark job, reads what a plain `spark.read.parquet` reads,
  * and a rewritten file is re-inferred.
  */
class TablesSchemaSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def withTempDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("tables-schema-spec")
    try body(dir)
    finally scala.util.Using.resource(Files.walk(dir))(
      _.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f)))
  }

  /** Writes `df` as one parquet file at `target`, replacing what is there. */
  private def writeSingleFile(df: DataFrame, target: Path): Unit = {
    val staging = Files.createTempDirectory(target.getParent, "staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging.resolve("out").toString)
    val part = scala.util.Using.resource(Files.list(staging.resolve("out")))(
      _.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get)
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second TableEnv open on the same directory launches no Spark job") {
    TableEnv(spark, sf)
    assert(jobsOf(TableEnv(spark, sf)) === Nil)
  }

  test("the memoized read of every sf0.001 table equals a plain parquet read") {
    tables.foreach { t =>
      val path = s"$sf/$t.parquet"
      val (memo, plain) =
        if (t == "events") (Tables.events(spark, sf), Tables.normalizeTs(spark.read.parquet(path)))
        else (Tables(spark, sf, t), spark.read.parquet(path))
      assert(memo.schema === plain.schema, t)
      assert(rows(memo) === rows(plain), t)
    }
    assert(Tables.rawEventsSchema(spark, sf) === spark.read.parquet(s"$sf/events.parquet").schema)
  }

  test("a file rewritten with another schema is re-inferred") {
    withTempDir { dir =>
      val target = dir.resolve("t.parquet")
      val a = spark.range(5).select(col("id"), (col("id") * 2).as("x"))
      writeSingleFile(a, target)
      assert(Tables(spark, dir.toString, "t").schema.fieldNames.toSeq === Seq("id", "x"))
      assert(jobsOf(Tables(spark, dir.toString, "t").schema) === Nil, "schema not memoized")

      writeSingleFile(a.withColumn("y", lit("b")), target)
      val b = Tables(spark, dir.toString, "t")
      assert(b.schema.fieldNames.toSeq === Seq("id", "x", "y"))
      assert(rows(b) === rows(spark.read.parquet(target.toString)))
    }
  }

  test("a missing table fails with the same exception class as a plain read") {
    withTempDir { dir =>
      val viaTables = intercept[Exception](Tables(spark, dir.toString, "nosuch"))
      val plain = intercept[Exception](spark.read.parquet(s"$dir/nosuch.parquet"))
      assert(viaTables.getClass === plain.getClass)
    }
  }

  test("the raw events schema is the one the event stream used to spell out") {
    // the literal StreamingQueries.eventStream declared before it took the
    // schema from Tables: only ts's type varied with the file's encoding
    def literal(tsType: DataType) = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { d =>
      val raw = Tables.rawEventsSchema(spark, s"/root/testdata/$d")
      assert(Seq(LongType, TimestampNTZType).contains(raw("ts").dataType), d)
      assert(raw === literal(raw("ts").dataType), d)
    }
  }
}
