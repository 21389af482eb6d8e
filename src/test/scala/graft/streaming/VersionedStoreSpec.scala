package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[VersionedStore.sumMerge]] replaces the hand-written additive merge
  * (`prior ∪ delta`, grouped by the keys, each value summed under its
  * own name): it must produce the same columns in the same order, the
  * same plan and the same rows.
  */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(n: String): String =
    java.nio.file.Files.createTempDirectory(s"vstore-$n").toString

  test("sumMerge = the hand-written union + groupBy + sum: columns, plan and rows") {
    val store = VersionedStore(spark, tmp("sum"))
    store.init(Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("k", "c1", "c2"))
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
    val store = VersionedStore(spark, tmp("nokeys"))
    store.init(Seq((1L, 2L)).toDF("n", "s"))
    store.write(0L, store.sumMerge(0L, Seq((3L, 4L), (5L, 6L)).toDF("n", "s")))
    assert(store.version(0L).as[(Long, Long)].collect().toSeq === Seq((9L, 12L)))
  }
}
