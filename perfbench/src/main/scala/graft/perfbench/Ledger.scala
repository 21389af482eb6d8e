package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON writer for the run files: Jackson with its Scala module, both on
  * Spark's classpath. Scala maps, sequences and options encode as JSON
  * objects, arrays and null.
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** One span of a traced query, on the [[Clock]] axis; `level` orders
  * the nesting (query 0, build|plan|exec 1, batch 2, job 3, stage 4).
  */
final case class Span(kind: String, label: String, start: Double, end: Double, level: Int) {
  def dur: Double = end - start
}

/** The per-layer ledger of a traced run: Spark's scheduler and streaming
  * events attributed to queries by time window, layer metrics per
  * query, and the span tree with self times.
  *
  * Spans nest query > build|plan|exec > micro-batch > job > stage; a
  * span's parent is the innermost span of a higher level that holds its
  * start. Self time is a span's duration minus the time its child spans
  * cover; where children overlap (concurrent jobs), the shared time is
  * split evenly between them, so the self times of a query's span tree
  * add up to the time the tree covers. The self-check compares that
  * sum with the query's wall time: a job or stage booked to a query but
  * running outside its window makes them differ.
  */
final case class Ledger(tracer: Tracer, runs: Seq[Main.Run]) {
  private val jobs = tracer.jobs.asScala.toSeq.sortBy(_.startMs)
  private val stagesById = tracer.stages.asScala.toSeq.groupBy(_.id)
  private val tasksByStage = tracer.tasks.asScala.toSeq.groupBy(_.stageId)
  private val batches = tracer.batches.asScala.toSeq.sortBy(_.startMs)

  /** Listener times are whole milliseconds; allow one either side. */
  private def within(t: Double, a: Double, b: Double) = t >= a - 1.0 && t <= b + 1.0

  private def union(iv: Seq[(Double, Double)]): Double =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) {
      case ((acc, end), (a, b)) =>
        if (a >= end) (acc + (b - a), b) else if (b > end) (acc + (b - end), b) else (acc, end)
    }._1

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Self time of each span by a sweep over the span boundaries. */
  private def selfTimes(spans: IndexedSeq[Span]): IndexedSeq[Double] = {
    val self = Array.fill(spans.length)(0.0)
    val cuts = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val open = spans.indices.filter(i => spans(i).start <= a && spans(i).end >= b)
      if (open.nonEmpty) {
        val deepest = open.map(spans(_).level).max
        val inner = open.filter(spans(_).level == deepest)
        inner.foreach(i => self(i) += (b - a) / inner.length)
      }
    }
    self.toIndexedSeq
  }

  private case class Attributed(run: Main.Run, metrics: Map[String, Double], batchMs: Seq[Double],
      spans: IndexedSeq[Span], self: IndexedSeq[Double], coveredMs: Double)

  private lazy val attributed: Seq[Attributed] = runs.filter(_.error.isEmpty).map { r =>
    val qJobs = jobs.filter(j => within(j.startMs, r.t0, r.t1))
    val openJobs = jobs.filter(j => within(j.startMs, r.openT0, r.openT1))
    val qStages = qJobs.flatMap(_.stageIds).distinct.flatMap(id => stagesById.getOrElse(id, Nil))
    val qTasks = qStages.map(_.id).distinct.flatMap(id => tasksByStage.getOrElse(id, Nil))
    val qBatches = batches.filter(b => within(b.startMs, r.t0, r.t1))
    def sumL(f: StageRec => Long) = qStages.map(f).sum.toDouble
    val wallMs = r.t1 - r.t0
    val jobCover = union(qJobs.map(j => (j.startMs.max(r.t0), j.endMs.min(r.t1))))
    val longest = if (qStages.isEmpty) None else Some(qStages.maxBy(s => s.endMs - s.startMs))
    val skew = longest.map { s =>
      val t = tasksByStage.getOrElse(s.id, Nil).map(_.runMs.toDouble)
      if (t.isEmpty) 1.0 else t.max.max(1.0) / median(t).max(1.0)
    }.getOrElse(1.0)
    val rowsIn = sumL(_.readRows)
    // state size: the last progress of each streaming query in the window
    val lastProgress = qBatches.groupBy(_.queryId).values.map(_.maxBy(_.startMs)).toSeq
    val m = Map(
      "TableEnv.open_s" -> (r.openT1 - r.openT0) / 1e3,
      "TableEnv.open_jobs" -> openJobs.size.toDouble,
      "queries.build_s" -> (r.tBuild - r.t0) / 1e3,
      "queries.build_jobs" -> qJobs.count(_.startMs < r.tBuild).toDouble,
      "catalyst.analysis_s" -> r.phases.getOrElse("analysis", 0.0),
      "catalyst.optimization_s" -> r.phases.getOrElse("optimization", 0.0),
      "catalyst.planning_s" -> r.phases.getOrElse("planning", 0.0),
      "plan_s" -> (r.tPlan - r.tBuild) / 1e3,
      "queries.exec_s" -> (r.t1 - r.tPlan) / 1e3,
      "queries.exec_jobs" -> qJobs.count(_.startMs >= r.tBuild).toDouble,
      "spark.jobs" -> qJobs.size.toDouble,
      "spark.stages" -> qStages.size.toDouble,
      "spark.tasks" -> qTasks.size.toDouble,
      "spark.sched_delay_s" -> qTasks.map(_.schedDelayMs).sum / 1e3,
      "spark.driver_idle_s" -> (wallMs - jobCover).max(0.0) / 1e3,
      "task.run_s" -> sumL(_.runMs) / 1e3,
      "task.cpu_s" -> sumL(_.cpuNs) / 1e9,
      "task.gc_s" -> sumL(_.gcMs) / 1e3,
      "task.deser_s" -> sumL(_.deserMs) / 1e3,
      "task.cpu_ns_per_row" -> (if (rowsIn > 0) sumL(_.cpuNs) / rowsIn else 0.0),
      "shuffle.write_bytes" -> sumL(_.shuffleWriteBytes),
      "shuffle.read_bytes" -> sumL(_.shuffleReadBytes),
      "shuffle.fetch_wait_s" -> sumL(_.fetchWaitMs) / 1e3,
      "shuffle.spill_bytes" -> sumL(_.spillBytes),
      "stage.skew" -> skew,
      "io.read_bytes" -> sumL(_.readBytes),
      "io.read_rows" -> sumL(_.readRows),
      "io.write_bytes" -> sumL(_.writeBytes),
      "io.write_rows" -> sumL(_.writeRows),
      "streaming.batches" -> qBatches.size.toDouble,
      "streaming.input_rows" -> qBatches.map(_.inputRows).sum.toDouble,
      "streaming.add_batch_s" -> qBatches.map(_.addBatchMs).sum / 1e3,
      "streaming.query_planning_s" -> qBatches.map(_.planningMs).sum / 1e3,
      "streaming.wal_commit_s" -> qBatches.map(_.walCommitMs).sum / 1e3,
      "streaming.latest_offset_s" -> qBatches.map(_.latestOffsetMs).sum / 1e3,
      "streaming.state_rows" -> lastProgress.map(_.stateRows).sum.toDouble,
      "streaming.state_bytes" -> lastProgress.map(_.stateBytes).sum.toDouble,
      "streaming.late_dropped" -> qBatches.map(_.lateDropped).sum.toDouble,
      "BenchMeters.fixture_s" -> r.fixtureS,
      "jvm.gc_s" -> r.gcS)
    val spans = (Seq(Span("query", r.name, r.t0, r.t1, 0),
        Span("build", r.name, r.t0, r.tBuild, 1), Span("plan", r.name, r.tBuild, r.tPlan, 1),
        Span("exec", r.name, r.tPlan, r.t1, 1)) ++
      qBatches.map(b => Span("batch", b.queryId, b.startMs, b.endMs, 2)) ++
      qJobs.map(j => Span("job", j.id.toString, j.startMs, j.endMs, 3)) ++
      qStages.map(s => Span("stage", s"${s.id}.${s.attempt}", s.startMs, s.endMs, 4))).toIndexedSeq
    val self = selfTimes(spans)
    Attributed(r, m, qBatches.map(b => b.endMs - b.startMs), spans, self, self.sum)
  }

  def perQuery: Seq[Map[String, Any]] = attributed.map { a =>
    Map("name" -> a.run.name, "pass" -> a.run.pass, "metrics" -> a.metrics,
      "batch_ms" -> a.batchMs, "wall_ms" -> (a.run.t1 - a.run.t0), "self_sum_ms" -> a.coveredMs)
  }

  def spansJson: String = Json.write(attributed.flatMap { a =>
    a.spans.indices.map { i =>
      val s = a.spans(i)
      Map("query" -> a.run.name, "pass" -> a.run.pass, "kind" -> s.kind, "label" -> s.label,
        "start_ms" -> s.start, "dur_ms" -> s.dur, "self_ms" -> a.self(i))
    }
  })
}
