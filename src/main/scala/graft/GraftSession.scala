package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession builder for the graft engine: AQE with skew
  * handling on (runtime re-planning replaces the reference's cost-based
  * batch optimizer choices), UTC session time, shuffle parallelism from
  * the environment. On a real cluster the same settings hold — only
  * master/memory change. The only `SparkSession.builder()` in the
  * project (`SessionBuilderGuardSpec`): every entry point and every test
  * runs with the settings below.
  *
  * Four settings remove fixed costs below Spark that every pass paid
  * again (measured with `perfbench/run.py`, seed 1, 4-vCPU host):
  *  - `spark.sql.codegen.cache.maxEntries` = `CodegenCacheEntries`.
  *    Spark's default keeps 100 generated classes, LRU. One pass of the
  *    `stream_replay` workload compiles about 175 distinct classes
  *    (`olap_sql` 61; the largest single query of the sf0.01 sweep,
  *    `q_emb_compression_recall`, 165), so at 100 each repeated pass
  *    recompiled about 160 of them with Janino and ran them in the
  *    interpreter again; at 2000 a measured pass compiles 7–17. The cache
  *    is split into segments that each evict on their own, so the bound
  *    keeps an order of magnitude of headroom over one pass. A static
  *    conf: the first session of a JVM fixes it.
  *  - `fs.file.impl` = [[GraftLocalFileSystem]], which sets permissions
  *    and reads link status in-process. Stock Hadoop without its native
  *    library starts a `chmod` child process per created file and
  *    directory and a `readlink` per link-status call: about 1,160
  *    child processes per `stream_replay` run, 20 with it.
  *  - `spark.sql.streaming.checkpointFileManagerClass` =
  *    `FileSystemBasedCheckpointFileManager`, so streaming checkpoint
  *    logs go through that filesystem; the default `FileContext` manager
  *    builds its own stock local filesystem and runs `readlink` on every
  *    rename. The trade-off: it moves a finished log into place with an
  *    `exists` check and a plain rename, which is not atomic on every
  *    store (an object store copies), so a checkpoint directory must
  *    have a single writer. Each streaming query here owns its own.
  *  - `spark.sql.artifact.isolation.enabled` = false. Spark's code cache
  *    is keyed by (context class loader, code), and with isolation on
  *    every session gets its own artifact state, for which the executor
  *    builds a new `ExecutorClassLoader`. A streaming query runs its
  *    batches on a clone of the session, a new session per run, so each
  *    run of `q_stream_kmv` compiled the same 7 classes again under a
  *    new loader. With isolation off every task runs under the
  *    executor's one default loader: over sf0.001 passes of
  *    `q_stream_kmv` and `q_stream_tclose`, byte-identical recompiles
  *    per pass after the first went 7 / 7 / 7 → 0 / 0 / 0. The
  *    trade-off: jars or files added to one session are visible to the
  *    others. The engine adds none. Also a creation-time setting.
  */
object GraftSession {

  /** Generated classes Spark keeps compiled (see the class comment). */
  private val CodegenCacheEntries = 2000

  def builder(appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
      shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Broadcast threshold stays at the 10m default: raising it globally
      // flips fact-fact joins (lineitem⋈orders at bench scale) into
      // broadcasts, which at cluster scale means shipping multi-GB build
      // sides to every executor. Joins that WANT a big broadcast payload
      // (dedup/similarity verify phases) carry an explicit broadcast()
      // hint at the join site instead, where the size reasoning lives.
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.sql.artifact.isolation.enabled", "false")

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.register(s)
    s
  }
}
