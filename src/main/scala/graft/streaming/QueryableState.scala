package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Queryable-state analog — the reference exposes a running job's keyed
  * state for external point queries (`KeyedStream.asQueryableState:1015-1082`,
  * served by `flink-queryable-state`'s KvStateServer / QueryableStateClient
  * pair); SURVEY §2.12 had parked this as out of scope.
  *
  * Re-expressed for Spark's micro-batch model:
  *
  *  - a streaming maintainer REGISTERS its [[VersionedStore]] under a
  *    public name ([[register]]) and PUBLISHES each version it commits
  *    ([[publish]]) — the atomic pointer swap is the analog of the
  *    reference's state-registry notification;
  *  - a [[Client]] resolves the name and point-looks-up a key against the
  *    LATEST COMMITTED version while the job keeps running. Reads never
  *    block writes (versions are immutable files; the pointer swap is the
  *    only coordination), and a query sees exactly the state some completed
  *    batch left — the same read-committed contract the reference's client
  *    gives, never a half-written batch.
  *
  * Scale posture: the lookup plans a key-predicate scan of one committed
  * version — with a corpus-independent store (the maintainer discipline
  * here) that is a single-file read; a corpus-sized store would be a
  * bucketed/indexed table where the same predicate prunes to one bucket.
  * Like the reference's KvStateServer, the registry lives where the
  * maintainer runs (the driver, for foreachBatch) — a multi-driver
  * deployment would put the same (name → store, version) pointer in an
  * external catalog; the store files themselves are already shared.
  */
object QueryableState {

  /** name → (store, last published batchId; -1 = only the seed). */
  private val registry = new ConcurrentHashMap[String, (VersionedStore, Long)]()

  /** Register a maintainer's store before the stream starts; the client
    * can immediately query the seed (version -1).
    */
  def register(name: String, store: VersionedStore): Unit =
    registry.put(name, (store, -1L))

  /** Publish batch `batchId`'s committed version. Monotonic: a late or
    * replayed publish of an older batch never moves the pointer back
    * (a retried batch rewrites the SAME version, so re-publishing the
    * same id is idempotent by construction).
    */
  def publish(name: String, batchId: Long): Unit =
    registry.compute(name, (_, cur) => cur match {
      case null             => throw new IllegalStateException(s"unknown queryable state '$name'")
      case (store, last)    => (store, math.max(last, batchId))
    })

  /** Drop a name (end-of-job cleanup; queries after this throw like the
    * reference's UnknownKvStateLocation).
    */
  def deregister(name: String): Unit = registry.remove(name)

  /** The point-query client (`QueryableStateClient.getKvState` analog).
    * Stateless — resolves the registry on every call, so a client created
    * before the stream starts observes each published version as the job
    * advances.
    */
  final class Client {

    private def latest(name: String): DataFrame = registry.get(name) match {
      case null => throw new NoSuchElementException(s"unknown queryable state '$name'")
      case (store, last) => store.version(last)
    }

    /** Point lookup of one key against the latest committed version. */
    def getKvState(name: String, keyCol: String, key: Any): DataFrame =
      latest(name).filter(col(keyCol) === key)

    /** Batched point lookups — one key-pushdown read for a key set (the
      * client-side batching a real deployment does to avoid N round
      * trips; the predicate still prunes at the scan).
      */
    def getKvStates(name: String, keyCol: String, keys: Seq[Any]): DataFrame =
      latest(name).filter(col(keyCol).isin(keys: _*))

    /** The published version id a query would read (-1 = the seed). */
    def currentVersion(name: String): Long = registry.get(name) match {
      case null      => throw new NoSuchElementException(s"unknown queryable state '$name'")
      case (_, last) => last
    }
  }
}
