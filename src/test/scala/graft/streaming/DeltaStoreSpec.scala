package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The IVM storage contracts: DeltaStore per-batch writes track the
  * increment (never the view size), compaction folds without changing
  * the snapshot, retries are idempotent, the seed is the state before
  * batch 0 and declares the schema (reads run no job, a mismatched
  * append fails); BucketStore rewrites only the buckets a delta touches,
  * keeps net-multiplicity live state and follows the same seed contract.
  */
class DeltaStoreSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("DeltaStore: per-batch written rows track the delta, snapshot accumulates, compact folds") {
    import spark.implicits._
    val store = DeltaStore(tmp("dstore"), Seq.empty[(Long, Long)].toDF("k", "v"))
    // batches of very different sizes: written rows must equal THAT
    // batch's delta size, not the accumulated view size
    val sizes = Seq(100, 3, 50)
    sizes.zipWithIndex.foreach { case (n, b) =>
      store.append(b.toLong, (1 to n).map(i => (b.toLong * 1000 + i, i.toLong)).toDF("k", "v"))
    }
    assert(sizes.zipWithIndex.forall { case (n, b) => store.deltaRows(b.toLong) == n.toLong })
    assert(store.snapshot(2L).count() === sizes.sum.toLong)
    assert(store.snapshot(1L).count() === (sizes(0) + sizes(1)).toLong)
    // compaction folds history without changing the visible state
    val before = store.snapshot(2L).as[(Long, Long)].collect().toSet
    store.compact(2L)
    assert(store.snapshot(2L).as[(Long, Long)].collect().toSet === before)
    // post-compaction appends stack on the compacted base
    store.append(3L, Seq((9999L, 9L)).toDF("k", "v"))
    assert(store.snapshot(3L).count() === sizes.sum.toLong + 1)
    // a retried batch overwrites its own delta — the same rows, no
    // duplicate (what a same-directory append would add)
    val once = store.snapshot(3L).as[(Long, Long)].collect().sorted.toSeq
    store.append(3L, Seq((9999L, 9L)).toDF("k", "v"))
    assert(store.snapshot(3L).as[(Long, Long)].collect().sorted.toSeq === once)
  }

  test("DeltaStore: snapshot(-1) is the seed, and the seed stays in every snapshot until a compaction") {
    import spark.implicits._
    val seed = Seq((0L, 0L)).toDF("k", "v")
    val store = DeltaStore(tmp("dseed"), seed)
    assert(store.snapshot(-1L) eq seed)
    store.append(0L, Seq((1L, 1L)).toDF("k", "v"))
    assert(store.snapshot(0L).as[(Long, Long)].collect().toSet === Set((0L, 0L), (1L, 1L)))
    store.compact(0L)
    store.append(1L, Seq((2L, 2L)).toDF("k", "v"))
    assert(store.snapshot(1L).as[(Long, Long)].collect().toSet ===
      Set((0L, 0L), (1L, 1L), (2L, 2L)))
  }

  test("DeltaStore: reading a snapshot of written deltas launches no Spark job") {
    import spark.implicits._
    val store = DeltaStore(tmp("dnojob"), Seq.empty[(Long, String)].toDF("k", "v"))
    store.append(0L, Seq((1L, "a")).toDF("k", "v"))
    store.append(1L, Seq((2L, "b")).toDF("k", "v"))
    store.compact(1L)
    store.append(2L, Seq((3L, "c")).toDF("k", "v"))
    assert(jobsOf {
      store.snapshot(-1L)
      store.snapshot(0L)
      store.snapshot(2L)
    } === Nil)
    assert(store.snapshot(2L).count() === 3L)
  }

  test("DeltaStore: an append whose columns or types differ from the seed throws and names them") {
    import spark.implicits._
    val store = DeltaStore(tmp("dcheck"), Seq.empty[(Long, String)].toDF("k", "v"))
    val e = intercept[IllegalArgumentException](store.append(0L, Seq((1L, 2L)).toDF("k", "v")))
    assert(e.getMessage.contains("DeltaStore") && e.getMessage.contains(store.base))
    assert(e.getMessage.contains("(k: BIGINT, v: BIGINT)") &&
      e.getMessage.contains("(k: BIGINT, v: STRING)"))
    assert(!new java.io.File(s"${store.base}/d_0").exists(), "a rejected append wrote nothing")
  }

  private def kMult(rows: (Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "mult")
  }

  private def bucketStore(name: String, numBuckets: Int, seed: DataFrame): BucketStore =
    BucketStore(tmp(name), seed, "k", "mult", numBuckets)

  test("BucketStore: only touched buckets are rewritten; net state is the live set") {
    import spark.implicits._
    val nb = 8
    val store = bucketStore("bstore", nb, kMult())
    // batch 0: a spread of keys over all buckets
    val keys = (1L to 64L)
    store.applyDelta(0L, kMult(keys.map(k => (k, 1L)): _*))
    assert(store.snapshot(0L).count() === 64L)
    val allBuckets = store.bucketsWritten(0L)
    assert(allBuckets.size === nb, "64 keys over 8 buckets should hit all of them")
    // batch 1: touch ONE key — only its bucket may be rewritten
    store.applyDelta(1L, kMult((7L, 1L)))
    assert(store.bucketsWritten(1L).size === 1, "untouched buckets must not be rewritten")
    assert(store.rowsWritten(1L) < 64L, "write cost must track the touched working set")
    val s1 = store.snapshot(1L).as[(Long, Long)].collect().toMap
    assert(s1(7L) === 2L && s1(8L) === 1L && s1.size === 64)
    // batch 2: retract key 7 down to zero — it leaves the live set
    store.applyDelta(2L, kMult((7L, -2L)))
    val s2 = store.snapshot(2L).as[(Long, Long)].collect().toMap
    assert(!s2.contains(7L) && s2.size === 63)
    // a retried applyDelta recomputes the same version from prior state
    store.applyDelta(2L, kMult((7L, -2L)))
    assert(store.snapshot(2L).as[(Long, Long)].collect().toMap === s2)
  }

  test("BucketStore: retracting a bucket's ENTIRE net state leaves it empty, not resurrected") {
    import spark.implicits._
    // single bucket so the only key's full retraction empties the whole
    // bucket — the case where partitionBy writes no directory and a
    // stale older version would otherwise stay the bucket's latest
    val store = bucketStore("bempty", 1, kMult())
    store.applyDelta(0L, kMult((1L, 1L)))
    assert(store.snapshot(0L).count() === 1L)
    store.applyDelta(1L, kMult((1L, -1L)))
    assert(store.snapshot(1L).count() === 0L,
      "a fully-retracted bucket must read empty, not its stale prior version")
    // and a later insert starts from the emptied state
    store.applyDelta(2L, kMult((2L, 1L)))
    val s2 = store.snapshot(2L).as[(Long, Long)].collect().toMap
    assert(s2 === Map(2L -> 1L), s"expected only the new row, got $s2")
  }

  test("BucketStore: snapshot shadows per bucket (older versions of a touched bucket are invisible)") {
    import spark.implicits._
    val store = bucketStore("bshadow", 4, kMult())
    store.applyDelta(0L, kMult((1L, 1L), (2L, 1L)))
    // key 1 and key 2 may share a bucket or not; touch key 1 twice more
    store.applyDelta(1L, kMult((1L, 1L)))
    store.applyDelta(2L, kMult((1L, 1L)))
    val s = store.snapshot(2L).as[(Long, Long)].collect().toMap
    assert(s(1L) === 3L && s(2L) === 1L, s"shadowing broke net state: $s")
    // reading an OLDER snapshot sees the state as of that batch
    val s0 = store.snapshot(0L).as[(Long, Long)].collect().toMap
    assert(s0(1L) === 1L && s0(2L) === 1L)
  }

  test("BucketStore: reading a snapshot launches no Spark job, emptied buckets included") {
    val store = bucketStore("bnojob", 4, kMult())
    store.applyDelta(0L, kMult((1L, 1L), (2L, 1L), (3L, 1L)))
    // retract every key: each touched bucket of version 1 is an empty marker
    store.applyDelta(1L, kMult((1L, -1L), (2L, -1L), (3L, -1L)))
    assert(jobsOf {
      store.snapshot(-1L)
      store.snapshot(0L)
      store.snapshot(1L)
    } === Nil)
    assert(store.snapshot(0L).count() === 3L && store.snapshot(1L).count() === 0L)
  }

  test("BucketStore: seed rows serve the buckets no version wrote, and are shadowed once written") {
    import spark.implicits._
    val seed = kMult((1L to 16L).map(k => (k, 1L)): _*)
    val store = bucketStore("bseed", 4, seed)
    assert(store.snapshot(-1L).as[(Long, Long)].collect().toMap === (1L to 16L).map(_ -> 1L).toMap)
    store.applyDelta(0L, kMult((1L, 1L)))
    val touched = store.bucketsWritten(0L)
    assert(touched.size === 1)
    // key 1's bucket now reads from version 0, where the seed row folded
    // in; every other seed row still reads from the seed, each once
    val s0 = store.snapshot(0L).as[(Long, Long)].collect().toSeq
    assert(s0.size === 16 && s0.toMap === (1L to 16L).map(_ -> 1L).toMap.updated(1L, 2L))
    // retracting key 1 fully: the seed's (1, 1) must not come back
    store.applyDelta(1L, kMult((1L, -2L)))
    val s1 = store.snapshot(1L).as[(Long, Long)].collect().toMap
    assert(s1 === (2L to 16L).map(_ -> 1L).toMap, s"seed row resurrected or lost: $s1")
  }

  test("BucketStore: a delta whose columns or types differ from the seed throws and names them") {
    import spark.implicits._
    val store = bucketStore("bcheck", 4, kMult())
    val e = intercept[IllegalArgumentException](
      store.applyDelta(0L, Seq((1L, "x")).toDF("k", "mult")))
    assert(e.getMessage.contains("BucketStore") && e.getMessage.contains(store.base))
    assert(e.getMessage.contains("(k: BIGINT, mult: STRING)") &&
      e.getMessage.contains("(k: BIGINT, mult: BIGINT)"))
    assert(!new java.io.File(s"${store.base}/v_0").exists(), "a rejected delta wrote nothing")
  }
}
