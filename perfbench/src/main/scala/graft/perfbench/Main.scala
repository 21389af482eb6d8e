package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{BenchMeters, GraftSession, SparkEntry, TableEnv}
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One run of one workload: set-up (repeated), then a closed loop of
  * passes over the query list, one query at a time. Writes `run.json`
  * (per-query records, set-up records, traced layer metrics) and, for
  * each query, its first complete result as parquet for the oracle
  * check, which `run.py` does outside this process.
  *
  * Usage: Main --workload W --queries q1,q2 --warmup-passes N
  *   --seconds S --trace 0|1 --data DIR --out DIR
  */
object Main {

  private val Setups = 3
  // pass_s is a median over the measured passes: never a single pass
  private val MinMeasuredPasses = 2
  private val QueryTimeoutS = 90.0

  final case class Opts(workload: String, queries: Seq[String], warmupPasses: Int,
      seconds: Double, trace: Boolean, data: String, out: String)

  /** One timed call of a query: span edges in [[Clock]] milliseconds. */
  final case class Run(name: String, pass: Int, warmup: Boolean, traced: Boolean,
      t0: Double, tBuild: Double, tPlan: Double, t1: Double, error: Option[String],
      rows: Long, fingerprint: String, phases: Map[String, Double], fixtureS: Double,
      gcS: Double, openT0: Double, openT1: Double)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Opts(m("workload"), list("queries"), m("warmup-passes").toInt, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("out"))
  }

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** The isolation policy of graft.Bench, applied outside the timed
    * window: drop temp and memory-sink views, clear the cache, force a GC.
    */
  private def isolate(spark: SparkSession): Unit = {
    try {
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
      spark.sharedState.cacheManager.clearCache()
    } catch { case _: Throwable => () }
    System.gc()
  }

  /** Order-insensitive digest of a result, to check that every later
    * pass returns exactly the rows the oracle-checked pass returned.
    */
  private def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Runs `body` on its own thread; on timeout cancels the session's
    * jobs and streams so the loop can go on to the next query.
    */
  private def withTimeout[T](spark: SparkSession, seconds: Double)(body: => T): Either[String, T] = {
    @volatile var result: Either[String, T] = Left("did not finish")
    val th = new Thread(() => {
      result = try Right(body) catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }, "perfbench-query")
    th.setDaemon(true)
    th.start()
    th.join((seconds * 1000).toLong)
    if (th.isAlive) {
      spark.sparkContext.cancelAllJobs()
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      th.interrupt()
      th.join(15000)
      Left(f"timeout after $seconds%.0f s")
    } else result
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val known = SparkEntry.queries
    val unknown = o.queries.filterNot(known.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    Files.createDirectories(Paths.get(o.out, "results"))
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // ---- set-up, repeated: session, function registry, table views
    var spark: SparkSession = null
    val setups = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 1) procStartMs else Clock.nowMs
      val (s, getS) = secondsOf(GraftSession.get("perfbench"))
      spark = s
      val (_, registerS) = secondsOf(GraftFunctions.register(spark))
      val (_, openS) = secondsOf(TableEnv(spark, o.data))
      Map("setup_s" -> (Clock.nowMs - t0) / 1e3, "GraftSession.get_s" -> getS,
        "GraftFunctions.register_s" -> registerS, "TableEnv.open_s" -> openS)
    }

    // ---- closed loop. Warm-up first, in whole passes: the first pass
    // takes every query's first touch (codegen, file listing, class
    // loading) and counts as set-up; further warm-up passes are untimed
    // and give C2 time to compile the hot paths. Then either
    // measured passes, at least two and more while `--seconds` have
    // not passed (the last runs to its end), or, traced, two traced
    // passes (the exact-repeat check) and one untraced pass (the tracing
    // overhead).
    val tracer = new Tracer
    def setTracing(on: Boolean): Unit =
      if (on) { spark.sparkContext.addSparkListener(tracer); spark.streams.addListener(tracer.streamListener) }
      else { spark.sparkContext.removeSparkListener(tracer); spark.streams.removeListener(tracer.streamListener) }
    val runs = ArrayBuffer.empty[Run]
    val passWalls = ArrayBuffer.empty[Map[String, Any]]
    val firstRows = scala.collection.mutable.Map.empty[String, String]
    var pass = 0

    def runPass(warmup: Boolean, traced: Boolean): Unit = {
      System.err.println(f"[perfbench] pass $pass start, ${(Clock.nowMs - procStartMs) / 1e3}%.1f s after JVM start")
      var sum = 0.0
      o.queries.foreach { q =>
        isolate(spark)
        val (openT0, openT1) = if (traced) {
          val a = Clock.nowMs; TableEnv(spark, o.data); (a, Clock.nowMs)
        } else (0.0, 0.0)
        BenchMeters.reset()
        val gc0 = gcSeconds
        val t0 = Clock.nowMs
        var tb, tp = t0
        val out = withTimeout(spark, QueryTimeoutS) {
          val df: DataFrame = known(q)(spark, o.data)
          tb = Clock.nowMs
          df.queryExecution.executedPlan
          tp = Clock.nowMs
          (df, df.collect())
        }
        val t1 = Clock.nowMs
        val gcS = gcSeconds - gc0
        val fixtureS = BenchMeters.fixtureSeconds
        val run = out match {
          case Left(err) => Run(q, pass, warmup, traced, t0, tb, tp, t1, Some(err), 0, "", Map.empty,
            fixtureS, gcS, openT0, openT1)
          case Right((df, rows)) =>
            val fp = fingerprint(rows)
            val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
            // the first complete result goes to the oracle check; later
            // passes must reproduce it exactly
            val err = firstRows.get(q) match {
              case None =>
                spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
                  .write.mode("overwrite").parquet(Paths.get(o.out, "results", q).toString)
                firstRows(q) = fp
                None
              case Some(fp0) if fp0 != fp => Some(s"result differs from its first complete result ($fp vs $fp0)")
              case _ => None
            }
            Run(q, pass, warmup, traced, t0, tb, tp, t1, err, rows.length.toLong, fp, phases,
              fixtureS, gcS, openT0, openT1)
        }
        run.error.foreach(e => System.err.println(s"[perfbench] $q pass $pass failed: $e"))
        runs += run
        sum += (t1 - t0) / 1e3
      }
      passWalls += Map("pass" -> pass, "warmup" -> warmup, "traced" -> traced, "wall_s" -> sum)
      pass += 1
    }

    def passesFor(seconds: Double)(body: => Unit): Unit = {
      val start = System.nanoTime()
      var n = 0
      while ({ body; n += 1; n < MinMeasuredPasses || (System.nanoTime() - start) / 1e9 < seconds }) ()
    }
    (1 to o.warmupPasses).foreach(_ => runPass(warmup = true, traced = false))
    // peak RSS counts from here: the first-touch spike of the warm-up
    // (heap G1 grew then and keeps) is set-up, not the program's peak
    System.gc()
    Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    if (o.trace) {
      setTracing(on = true)
      runPass(warmup = false, traced = true)
      runPass(warmup = false, traced = true)
      setTracing(on = false)
      runPass(warmup = false, traced = false)
    } else passesFor(o.seconds)(runPass(warmup = false, traced = false))
    spark.stop() // drains the listener bus before the traced events are read

    val oracle = SparkEntry.oracleSql
    val trace = if (o.trace) Some(Ledger(tracer, runs.filter(_.traced).toSeq)) else None
    val json = Map(
      "workload" -> o.workload,
      "queries" -> o.queries,
      "setups" -> setups,
      "passes" -> passWalls,
      "runs" -> runs.map { r =>
        Map("name" -> r.name, "pass" -> r.pass, "warmup" -> r.warmup, "traced" -> r.traced,
          "wall_s" -> (r.t1 - r.t0) / 1e3, "build_s" -> (r.tBuild - r.t0) / 1e3,
          "plan_s" -> (r.tPlan - r.tBuild) / 1e3, "exec_s" -> (r.t1 - r.tPlan) / 1e3,
          "error" -> r.error, "rows" -> r.rows, "fingerprint" -> r.fingerprint,
          "phases" -> r.phases, "fixture_s" -> r.fixtureS, "gc_s" -> r.gcS)
      },
      "oracle_sql" -> o.queries.distinct.flatMap(q => oracle.get(q).map(q -> _)).toMap,
      "peak_rss_mb" -> peakRssMb,
      "ledger" -> trace.map(_.perQuery))
    Files.writeString(Paths.get(o.out, "run.json"), Json.write(json))
    trace.foreach(t => Files.writeString(Paths.get(o.out, "spans.json"), t.spansJson))
  }

  /** Peak resident set of this JVM (VmHWM) since the warm-up, in MB. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}
