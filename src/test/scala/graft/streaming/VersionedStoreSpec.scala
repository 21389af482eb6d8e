package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** [[VersionedStore]]: the seed is version −1 and declares the store's
  * schema, reads of written versions run no Spark job, a write that
  * does not match the seed fails, and [[VersionedStore.sumMerge]]
  * replaces the hand-written additive merge (`prior ∪ delta`, grouped by
  * the keys, each value summed under its own name) with the same
  * columns, plan and rows.
  */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(n: String): String =
    java.nio.file.Files.createTempDirectory(s"vstore-$n").toString

  test("sumMerge = the hand-written union + groupBy + sum: columns, plan and rows") {
    val store = VersionedStore(tmp("sum"), Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("k", "c1", "c2"))
    val delta = Seq(("a", 3L, 30L), ("c", 4L, 40L)).toDF("k", "c1", "c2")
    val merged = store.sumMerge(0L, delta, "k")
    val byHand = store.prior(0L).unionByName(delta)
      .groupBy("k").agg(sum("c1").as("c1"), sum("c2").as("c2"))
    assert(merged.columns.toSeq === Seq("k", "c1", "c2"))
    assert(merged.schema === byHand.schema)
    assert(merged.queryExecution.optimizedPlan.sameResult(byHand.queryExecution.optimizedPlan))
    assert(merged.as[(String, Long, Long)].collect().sortBy(_._1).toSeq ===
      Seq(("a", 4L, 40L), ("b", 2L, 20L), ("c", 4L, 40L)))
  }

  test("sumMerge with no keys sums the whole union into one row") {
    val store = VersionedStore(tmp("nokeys"), Seq((1L, 2L)).toDF("n", "s"))
    store.write(0L, store.sumMerge(0L, Seq((3L, 4L), (5L, 6L)).toDF("n", "s")))
    assert(store.version(0L).as[(Long, Long)].collect().toSeq === Seq((9L, 12L)))
  }

  test("version −1 is the seed itself; the declared schema is the seed's, all nullable") {
    val seed = spark.range(0).select(col("id").as("k"), lit("x").as("v"))
    val store = VersionedStore(tmp("seed"), seed)
    assert(store.prior(0L) eq seed)
    assert(store.version(-1L) eq seed)
    assert(store.schema.map(f => (f.name, f.dataType, f.nullable)) ===
      Seq(("k", LongType, true), ("v", StringType, true)))
  }

  test("reading prior and version of a written store launches no Spark job") {
    val store = VersionedStore(tmp("nojob"), Seq.empty[(Long, String)].toDF("k", "v"))
    store.write(0L, Seq((1L, "a")).toDF("k", "v"))
    store.write(1L, Seq((2L, "b")).toDF("k", "v"))
    assert(jobsOf {
      store.prior(1L)
      store.prior(2L)
      store.version(1L)
    } === Nil)
    assert(store.version(1L).as[(Long, String)].collect().toSeq === Seq((2L, "b")))
  }

  test("a write whose columns or types differ from the seed throws and names the columns") {
    val store = VersionedStore(tmp("check"), Seq.empty[(Long, String)].toDF("k", "v"))
    val renamed = intercept[IllegalArgumentException](
      store.write(0L, Seq((1L, "a")).toDF("k", "w")))
    assert(renamed.getMessage.contains("w: STRING") && renamed.getMessage.contains("v: STRING"))
    assert(renamed.getMessage.contains(store.base))
    val retyped = intercept[IllegalArgumentException](
      store.write(0L, Seq((1, "a")).toDF("k", "v")))
    assert(retyped.getMessage.contains("k: INT") && retyped.getMessage.contains("k: BIGINT"))
    val reordered = intercept[IllegalArgumentException](
      store.write(0L, Seq(("a", 1L)).toDF("v", "k")))
    assert(reordered.getMessage.contains("(v: STRING, k: BIGINT)"))
    // nullability is not part of the check: `k` is non-null here and
    // nullable in the declared schema
    store.write(0L, Seq((1L, "a")).toDF("k", "v"))
    assert(store.version(0L).count() === 1L)
  }

  test("reading a missing version throws what a plain parquet read throws") {
    val store = VersionedStore(tmp("missing"), Seq.empty[Long].toDF("k"))
    val viaStore = intercept[Exception](store.version(7L))
    val plain = intercept[Exception](spark.read.parquet(s"${store.base}/v_7"))
    assert(viaStore.getClass === plain.getClass)
  }
}
