package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Queryable-state registry + client semantics: read-committed (a query
  * sees the seed until a publish lands), point lookups hit only the
  * requested keys, monotonic publish (an older batch id never moves the
  * pointer back), and unknown names fail like the reference's
  * UnknownKvStateLocation. Savepoint-bootstrap: a store seeded with an
  * offline-built state serves it as prior(0).
  */
class QueryableStateSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit(); d.toString
  }

  private def kv(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("k", "n")
  }

  test("client sees the init seed before any publish, and each published version after") {
    val store = VersionedStore(tmp("qs1"), kv(1L -> 10L, 2L -> 20L))
    QueryableState.register("qs1", store)
    val client = new QueryableState.Client
    assert(client.currentVersion("qs1") === -1L)
    assert(client.getKvState("qs1", "k", 2L).select("n").head().getLong(0) === 20L)
    store.write(0L, kv(1L -> 11L, 2L -> 21L))
    // not yet published — the client still reads the committed seed
    assert(client.getKvState("qs1", "k", 2L).select("n").head().getLong(0) === 20L)
    QueryableState.publish("qs1", 0L)
    assert(client.currentVersion("qs1") === 0L)
    assert(client.getKvState("qs1", "k", 2L).select("n").head().getLong(0) === 21L)
    QueryableState.deregister("qs1")
  }

  test("point lookups return only the requested keys; batched form = union of singles") {
    val store = VersionedStore(tmp("qs2"), kv(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    QueryableState.register("qs2", store)
    val client = new QueryableState.Client
    assert(client.getKvState("qs2", "k", 3L).collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(client.getKvState("qs2", "k", 99L).count() === 0L) // absent key: empty, not error
    val batched = client.getKvStates("qs2", "k", Seq(1L, 4L))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(batched === Set(1L, 4L))
    QueryableState.deregister("qs2")
  }

  test("publish is monotonic — a replayed older batch never rolls the pointer back") {
    val store = VersionedStore(tmp("qs3"), kv(1L -> 0L))
    store.write(0L, kv(1L -> 1L))
    store.write(1L, kv(1L -> 2L))
    QueryableState.register("qs3", store)
    QueryableState.publish("qs3", 1L)
    QueryableState.publish("qs3", 0L) // retry of an old batch
    val client = new QueryableState.Client
    assert(client.currentVersion("qs3") === 1L)
    assert(client.getKvState("qs3", "k", 1L).select("n").head().getLong(0) === 2L)
    QueryableState.deregister("qs3")
  }

  test("unknown names fail on client and on publish") {
    val client = new QueryableState.Client
    intercept[NoSuchElementException](client.getKvState("nope", "k", 1L))
    intercept[IllegalStateException](QueryableState.publish("nope", 0L))
  }

  test("bootstrap-seeded store: prior(0) is the offline-built state (savepoint restore)") {
    val offline = kv(7L -> 70L, 7L -> 5L).groupBy("k").agg(sum("n").as("n"))
    val store = VersionedStore(tmp("qs4"), offline)
    assert(store.prior(0L).select("n").head().getLong(0) === 75L)
  }
}
