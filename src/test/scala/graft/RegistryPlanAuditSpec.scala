package graft

/** Registry-WIDE physical-plan audit: every batch query in
  * `SparkEntry.queries` is planned (not executed) and screened against
  * the scale blacklist — the failure classes that turn a working
  * sf0.01 query into a 100-TB outage:
  *
  *  - `CartesianProduct`: an unconditioned big×big cross product.
  *  - `BatchEvalPython` / `ArrowEvalPython`: no Python in the hot path
  *    of a Scala library (belt and braces — nothing should ever plan
  *    one).
  *  - `BroadcastNestedLoopJoin`: only legal where one side is a
  *    broadcast SCALAR (a 1-row aggregate or literal dimension —
  *    `crossJoin(broadcast(totals))`); every such query is whitelisted
  *    by name with the scalar side noted, so a NEW un-keyed join
  *    anywhere else fails this suite instead of shipping.
  *
  * Per-query plan locks live in PlanSpec/AnalyticsSpec; this suite is
  * the safety net for queries nobody wrote a lock for — including the
  * ones future rounds add.
  *
  * Streaming queries are excluded (invoking them replays a multi-batch
  * job, and their stateful plans legitimately differ); sink/JDBC
  * queries are excluded because building them performs the write.
  */
class RegistryPlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val excluded: String => Boolean = n =>
    n.startsWith("q_stream_") || n.startsWith("q_sink_") || n.startsWith("q_jdbc_")

  /** The queries where a BroadcastNestedLoopJoin is the RIGHT plan
    * because the broadcast side is a scalar or a bounded (query-
    * parameter-sized) table — audited per entry. The test asserts this
    * set EQUALS the actual BNL set, so a new un-keyed join fails the
    * suite and a query that stops BNL-joining must be pruned here.
    */
  private val scalarBnlJoins: Set[String] = Set(
    "q_doc_bm25", // 1-row avgdl/N corpus statistics broadcast
    "q_doc_ir_metrics", // inherits docBm25's 1-row stats broadcast (the eval leg)
    "q_evt_ks", // 1-row (n1, n2) totals crossed into the bin CDF
    "q_doc_hll", // 1-row register rollup vs scalar constants
    "q_doc_hll_by_source", // per-source register rows (|sources|-bounded)
    "q_evt_wau_hll", // per-day register grid: |days| × 64 buckets, both bounded
    "q_evt_cms_window", // probe grid: |days| × 10 probe users, both bounded
    "q_evt_bursts", // automaton grid: |types| × |days| daily-total cross, both bounded aggregates
    "q_doc_hybrid_rrf", // 1-row corpus stats for the BM25 leg
    "q_doc_prf", // 1-row corpus stats (both rounds) + 1-row expansion string
    "q_evt_qini", // 1-row decile bounds + 1-row curve endpoint broadcast
    "q_evt_conformal", // 1-row fold quantile bounds + 1-row q-hat broadcast
    "q_evt_cms_change", // 1-row min-day scalar + 2-row window-id probe cross
    "q_evt_benford", // 1-row digit-total scalar broadcast
    "q_evt_kruskal", // 1-row bin totals + 1-row H summary broadcast
    "q_evt_mood", // 1-row median/total/margin scalars broadcast
    "q_evt_jt", // 1-row JT statistic x 1-row moment table broadcast
    "q_evt_mcnemar", // 1-row day-span scalar broadcast
    "q_evt_cochranq", // 1-row day-span + 1-row row-moment broadcast
    "q_doc_isotonic", // bounded score-block pair frame (≤1001² j≤k minimax grid)
    "q_doc_llr_bigrams", // 1-row bigram-total scalar broadcast
    "q_evt_churn", // 1-row span-origin scalar broadcast
    // (q_doc_heaps' 1-row bound crosses run inside its stage boundary,
    // so the executed plan the audit sees carries no BNL node)
    "q_doc_tfidf", // 1-row doc-count scalar for smooth idf
    "q_doc_vocab", // 1-row corpus token total for shares
    "q_emb_decontaminate", // broadcast EVAL embeddings, cosine-threshold residual
    "q_emb_delta_assign", // k-row centroid table broadcast
    "q_emb_ivf", // k-row centroid table broadcast (cell assignment)
    "q_emb_recall", // 10-query probe side broadcast (brute-force leg)
    "q_emb_topk", // 10-query probe side broadcast (brute-force contract)
    "q_emb_knn_probe", // k-row centroid table broadcast (IVF candidate
    // route, r11) — the corpus itself meets only a cid equi-join; the
    // r10 corpus-broadcast BNL is gone
    "q_emb_knn_auto", // the same k-row centroid broadcast, k sized
    // sqrt(n) by autoNlist (r13) — still query-parameter-bounded
    "q_join_theta", // deliberate non-equi theta join, small side broadcast
    "q_doc_bigram_logprob", // 1-row bigram-total scalar broadcast
    "q_doc_dsir", // 1-row source-mass totals broadcast
    "q_doc_dsir_ess", // inherits docDsir's 1-row totals broadcast (the ESS readout)
    "q_doc_goodturing", // 1-row corpus bigram total crossed into the <=15-row FoF table
    "q_doc_unigram_lm", // 1-row piece-mass total crossed into the 64-row TakeOrdered top-k
    "q_doc_hll_setops", // constant register-index table (literal)
    "q_doc_kmv", // 1-row theta estimate + exact audit vs ≤k value rows
    "q_doc_kmv_setops", // 1-row theta bounds over ≤k-row staged value tables
    "q_doc_kn_logprob", // 1-row discount/continuation totals
    "q_doc_mix_temperature", // 1-row mass-total scalar for the exponent
    "q_doc_pmi_bigrams", // 1-row corpus token/bigram totals
    "q_doc_quality_apply", // trained 1-row weight vector broadcast
    "q_doc_sample_balanced", // bounded per-class rate table broadcast
    "q_doc_unigram_logprob", // 1-row corpus token total
    "q_emb_ivf_kmeans", // k-row centroid table broadcast
    "q_emb_kmeans", // k-row centroid table broadcast per Lloyd round
    "q_emb_silhouette", // k-row trained-centroid table broadcast (rank-1/rank-2 frame)
    "q_emb_kmeans_par", // 1-row collected candidate-array broadcast (bounded model)
    "q_emb_rp_recall", // 10-query probe side broadcast (both brute-force legs)
    "q_evt_itemsets", // 1-row basket-count scalar for the lift denominator
    "q_emb_negatives", // 10-anchor probe side broadcast (exclusion + candidate legs)
    "q_evt_rfm", // 1-row now-scalar + 1-row tertile-threshold table broadcast
    "q_doc_mg_heavy", // 1-row stream-total scalar for the n/(k+1) threshold
    "q_doc_mink", // 1-row percentile-threshold scalar broadcast
    "q_doc_linkage", // 1-row EM-parameter broadcast onto the <=8-row pattern table
    "q_emb_ivfpq", // nlist-row coarse-centroid table broadcast (cell assignment)
    "q_emb_rq", // 10-query probe side broadcast vs the staged reconstruction
    "q_emb_sq8", // 1-row min/max envelope + 10-query probe side broadcast
    "q_graph_hits", // 1-row hub/auth normalization totals broadcast
    "q_doc_neyman", // 1-row weight-total + 1-row remainder crossed with |strata| rows
    "q_emb_compression_recall", // 10-query probe sides broadcast (brute-force + tier legs)
    "q_graph_kcore", // 1-row node-stat × 1-row edge-count per k stage
    "q_evt_survival", // 1-row corpus-end scalar crossed into the session frame
    "q_evt_cumhaz", // same 1-row corpus-end scalar (the shared lifetime grid)
    "q_doc_js_drift", // 1-row corpus token total crossed into the (source, word) frame
    "q_evt_bootstrap_ci", // 1-row CI × 1-row corpus stats
    "q_evt_did", // 1-row midpoint + 1-row median-exposure scalars broadcast
    "q_evt_shapley", // 2^k-coalition × ≤2^k-mask bounded frames (subset-test join)
    "q_evt_cuped", // 1-row midpoint + 1-row pooled-theta scalars broadcast
    "q_doc_minhash_recall", // three 1-row count aggregates crossed
    "q_emb_matryoshka", // 10-query probe side broadcast (both brute-force legs)
    "q_evt_next_acc" // 1-row midpoint scalar crossed into the pair frame
  )

  test("no batch query plans a CartesianProduct, Python eval, or un-keyed nested-loop join") {
    val names = SparkEntry.queries.keys.toSeq.filterNot(excluded).sorted
    var bnlActual = Set.empty[String]
    val violations = names.flatMap { name =>
      val plan =
        try SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"PLANNING FAILED: ${e.getMessage}" }
      if (plan.contains("BroadcastNestedLoopJoin")) bnlActual += name
      val bad = Seq(
        "CartesianProduct" -> plan.contains("CartesianProduct"),
        "PythonEval" -> (plan.contains("BatchEvalPython") || plan.contains("ArrowEvalPython")),
        "BroadcastNestedLoopJoin" ->
          (plan.contains("BroadcastNestedLoopJoin") && !scalarBnlJoins(name)),
        "planning-failure" -> plan.startsWith("PLANNING FAILED")
      ).collect { case (what, true) => what }
      if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(", ")}")
    }
    assert(violations.isEmpty,
      s"scale-blacklist violations:\n  ${violations.mkString("\n  ")}")
    // the whitelist must not rot: a query that stops BNL-joining gets pruned
    val stale = scalarBnlJoins -- bnlActual
    assert(stale.isEmpty, s"whitelisted but no longer BNL-joining (prune): $stale")
  }

  /** Queries where an UNPARTITIONED ordered window is the right plan
    * because its input is already a bounded domain (an aggregate of
    * query-parameter size), audited per entry. Everywhere else a
    * partition-less window funnels the whole dataset through ONE task —
    * the q_doc_budget failure class its bucketed prefix sum exists to
    * avoid.
    *
    * Each entry CARRIES its domain bound (r11 verdict: the boundedness
    * argument must not live only in scaladoc) and the executed-metrics
    * test below ENFORCES it — rows actually flowing into every
    * whitelisted single-partition WindowExec at sf0.01 must stay under
    * the declared bound, so an unbounded-domain copy of the pattern
    * (window input scaling with corpus rows: ≥27k events / ≥500 docs
    * at this SF) trips the audit instead of shipping. Bounds are the
    * PROVABLE domain sizes (quantization grids, TakeOrdered limits,
    * calendar spans), not observed counts.
    */
  private val boundedGlobalWindows: Map[String, Long] = Map(
    "q_doc_auc" -> 1001L, // quantized-score grid: milli-scores 0..1000
    "q_doc_zipf" -> 1000L, // TakeOrdered top-k limit
    "q_evt_funnel" -> 3L, // 3-row step table
    "q_doc_budget" -> 256L, // bucket-offset table (corpus side is bucket-partitioned)
    "q_doc_waterfill" -> 256L, // per-stratum levels (strata = source labels, low-cardinality)
    "q_doc_vocab" -> 1000L, // TakeOrdered top-k feeds the rank/cum-frac window
    "q_doc_bpe" -> 50L, // TakeOrdered top-k feeds the rank window
    "q_doc_neyman" -> 256L, // largest-remainder rank over the |strata|-row quota table
    "q_evt_ks" -> 4901L, // CDF window over the deci-bucket bin domain
    "q_evt_mannwhitney" -> 4901L, // midrank window over the same bin domain as q_evt_ks
    "q_evt_cliffs" -> 4901L, // the same bounded bin-domain midrank window (effect-size readout)
    "q_doc_prauc" -> 1001L, // PR-curve walk over the deci-milli score-block domain (the q_doc_auc shape)
    // (q_doc_isotonic's block window runs inside its stage boundary — no window node in the executed plan)
    "q_doc_unigram_lm" -> 64L, // rank window over the 64-row TakeOrdered final-vocab cut (the q_doc_vocab shape)
    "q_evt_survival" -> 2000L, // KM windows over the |distinct duration-minutes| bucket aggregate (fixture horizon; 37 rows at sf0.01)
    "q_evt_cumhaz" -> 2000L, // Nelson–Aalen windows over the same bounded bucket aggregate
    "q_evt_msprt" -> 366L, // cumulative readout over the daily aggregate (calendar-bounded)
    "q_evt_lorenz" -> 40L // trapezoid lag over the STAGED 10-row decile curve (both legs)
    // (q_evt_qini's decile cumulation runs inside a stage boundary, so
    // the executed plan the audit sees carries no window node)
    // (q_evt_chi2's margin windows are unpartitioned but UNORDERED over
    // the 35-row contingency aggregate — outside this check's scope,
    // which hunts ordered global windows; noted here for the reader)
  )

  test("no batch query runs an unpartitioned window over unbounded input") {
    val names = SparkEntry.queries.keys.toSeq.filterNot(excluded).sorted
    // windowspecdefinition(part#1, ts#2 ASC ...) = partitioned;
    // windowspecdefinition(ts#2 ASC ...) = partition-less (first arg is
    // already a sort order)
    val unpart = "windowspecdefinition\\(([^,()]*(?: ASC| DESC))".r
    var globalActual = Set.empty[String]
    val violations = names.flatMap { name =>
      val plan =
        try SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
        catch { case e: Throwable => "" }
      val hasGlobal = unpart.findFirstIn(plan).isDefined
      if (hasGlobal) globalActual += name
      if (hasGlobal && !boundedGlobalWindows.contains(name)) Some(name) else None
    }
    assert(violations.isEmpty,
      s"unpartitioned window over potentially unbounded input:\n  ${violations.mkString("\n  ")}")
    val stale = boundedGlobalWindows.keySet -- globalActual
    assert(stale.isEmpty, s"whitelisted but no longer globally-windowed (prune): $stale")
  }

  // --- executed-metrics enforcement of the declared window bounds ---

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.window.WindowExec

  private def expand(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case o => o.children ++ o.subqueries
  }
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: expand(p).flatMap(planNodes)

  /** Row-MULTIPLYING nodes (explode / rollup-expand shapes): a count
    * taken from BELOW one of these under-states what actually flowed
    * into the window above it, so the walker refuses to descend past
    * one that carries no usable numOutputRows of its own (r12 verdict
    * What's-wrong #1 — in stock Spark both node classes define the
    * metric, so this trap firing means a new plan shape appeared and
    * the walker needs a real extension, not a silent pass).
    */
  private def multiplies(p: SparkPlan): Boolean =
    p.nodeName == "Generate" || p.nodeName == "Expand"

  /** Rows a node produced, from executed SQL metrics: TakeOrdered caps
    * its output at `limit` by construction (its shuffle metrics read 0
    * when it ran locally); otherwise the first descendant carrying
    * numOutputRows, else non-zero shuffle record counts; else the sum
    * over children (exact for unions, identity for chains) — unless
    * the metric-less node MULTIPLIES rows, which fails loud instead of
    * under-counting.
    */
  private[graft] def rowsProduced(p: SparkPlan): Option[Long] = p match {
    case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => Some(t.limit.toLong)
    case _ =>
      p.metrics.get("numOutputRows").map(_.value)
        .orElse(p.metrics.get("recordsRead").map(_.value).filter(_ > 0))
        .orElse(p.metrics.get("shuffleRecordsWritten").map(_.value).filter(_ > 0))
        .orElse {
          if (multiplies(p)) throw new IllegalStateException(
            s"row-multiplying ${p.nodeName} carries no numOutputRows — " +
              "a child count would under-state the window input (extend the walker)")
          val counts = expand(p).flatMap(rowsProduced)
          if (counts.isEmpty) None else Some(counts.sum)
        }
  }

  test("whitelisted unpartitioned windows stay within their declared domain bounds (executed)") {
    // sf0.01 (not the audit's sf0.001): 10× the rows makes a corpus-
    // scaling window input unmissable against the constant bounds
    val boundDir = "/root/testdata/sf0.01"
    val failures = boundedGlobalWindows.toSeq.sortBy(_._1).flatMap { case (name, bound) =>
      val df = SparkEntry.queries(name)(spark, boundDir)
      df.collect()
      val windows = planNodes(df.queryExecution.executedPlan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty => w
      }
      if (windows.isEmpty)
        Seq(s"$name: no single-partition WindowExec found to measure (extend the walker)")
      else windows.flatMap { w =>
        try expand(w).flatMap(rowsProduced) match {
          case Nil => Some(s"$name: window input rows unmeasurable (extend the walker)")
          case counts if counts.sum > bound =>
            Some(s"$name: window input ${counts.sum} rows exceeds declared domain bound $bound")
          case _ => None
        } catch { // the multiplying-node trap surfaces as a failure line
          case e: IllegalStateException => Some(s"$name: ${e.getMessage}")
        }
      }
    }
    assert(failures.isEmpty, s"window-bound violations:\n  ${failures.mkString("\n  ")}")
  }

  test("the walker fails LOUD on a metric-less row-multiplying node (never under-counts past it)") {
    // stock GenerateExec/ExpandExec always define numOutputRows, so the
    // trap is exercised with a minimal metric-less stand-in of the same
    // nodeName — exactly the future plan shape the r12 review warned
    // would silently under-count if the walker just summed its children
    val child = spark.range(3).queryExecution.executedPlan
    val e = intercept[IllegalStateException] {
      rowsProduced(RegistryPlanAuditSpec.MetriclessGenerate(child))
    }
    assert(e.getMessage.contains("extend the walker"))
    assert(e.getMessage.contains("Generate"))
  }
}

object RegistryPlanAuditSpec {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Attribute
  import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

  /** Test-only stand-in: row-multiplying nodeName, NO metrics. */
  final case class MetriclessGenerate(child: SparkPlan) extends UnaryExecNode {
    override def nodeName: String = "Generate"
    override def output: Seq[Attribute] = child.output
    override protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] =
      throw new UnsupportedOperationException("audit stand-in, never executed")
    override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
      copy(child = newChild)
  }
}
