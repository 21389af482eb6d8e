package graft.queries

import graft.Tables
import graft.operators.{Dedup, Funnel, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log analytics and corpus-evaluation operators: gap-based
  * sessionization, cohort retention, last-touch attribution (the classic
  * user-behavior OLAP family over the `events` table — the batch
  * counterpart of the reference's sessionizing/CEP streaming jobs), plus
  * corpus EVALUATION metrics a training-data pipeline reports alongside
  * its filters: quality-score AUC, Zipf rank-frequency fit, ROUGE-1
  * pair overlap, sentence-level duplication, and ANN recall@k.
  *
  * Scale notes are per query; the common discipline: one hash shuffle
  * per logical regroup, windows partitioned by a high-cardinality key
  * (user_id / doc pair), and every global ordered structure either
  * top-k-truncated (TakeOrdered, no global sort) or reduced to a
  * provably bounded aggregate domain before a single-partition window
  * touches it (the [[graft.operators.Curation]] budget-snapshot
  * discipline).
  */
object AnalyticsQueries {

  private val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  // ---------------------------------------------------------------- events

  /** Gap-based sessionization (30-min inactivity gap): the batch analog
    * of the reference's session windows (SURVEY §2.6) computed with the
    * lag/cumulative-sum idiom. ONE shuffle: the user_id window's
    * exchange also satisfies the (user_id, sess) aggregation —
    * clustering by user_id alone co-locates every (user_id, sess) group,
    * so Catalyst reuses the partitioning (plan-locked in
    * AnalyticsSpec). Timestamps are floored to epoch seconds on BOTH
    * sides before gap arithmetic.
    */
  def evtSessionize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tss = col("ts").cast("long")
    val prev = lag(col("ts"), 1).over(w).cast("long")
    val tagged = ev
      .withColumn("new_sess",
        when(prev.isNull || (tss - prev > 1800), 1L).otherwise(0L))
      .withColumn("sess", sum("new_sess").over(w))
    tagged
      .groupBy(col("user_id"), col("sess"))
      .agg(
        min(tss).as("start_s"),
        count(lit(1)).as("n_events"),
        (max(tss) - min(tss)).as("duration_s"),
        round(sum("value"), 2).as("total_value"))
      .orderBy("user_id", "sess")
  }

  val evtSessionizeSql: String =
    Tables.eventsCte +
      """
        |, t AS (SELECT user_id, event_id, ts, value,
        |    (epoch_us(ts) // 1000000) AS tss,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR (epoch_us(ts) // 1000000)
        |              - (epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000) > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev),
        |s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess FROM t)
        |SELECT user_id, sess::BIGINT AS sess, min(tss)::BIGINT AS start_s,
        |  count(*)::BIGINT AS n_events, (max(tss) - min(tss))::BIGINT AS duration_s,
        |  round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin

  /** Weekly cohort retention: users cohorted by their first active day;
    * n_users = distinct users from that cohort active in week `w` after
    * it. Shape: per-user min (map-side-combinable agg, shuffle on
    * user_id), join back on user_id (same key — the aggregated side
    * reuses the shuffle), then a small (cohort, week) count-distinct.
    * At 100 TB the only wide structure is keyed by user_id.
    */
  def evtRetention(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = d.groupBy("user_id").agg(min("d").as("d0"))
    d.join(first, Seq("user_id"))
      .groupBy(col("d0").cast("string").as("cohort_start"),
        expr("datediff(d, d0) div 7").as("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("cohort_start", "week_offset")
  }

  val evtRetentionSql: String =
    Tables.eventsCte +
      """
        |, d AS (SELECT user_id, ts::DATE AS d FROM ev),
        |f AS (SELECT user_id, min(d) AS d0 FROM d GROUP BY 1)
        |SELECT d0::VARCHAR AS cohort_start,
        |  (datediff('day', d0, d.d) // 7)::BIGINT AS week_offset,
        |  count(DISTINCT d.user_id)::BIGINT AS n_users
        |FROM d JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Cohort LTV triangle — the revenue sibling of [[evtRetention]]'s
    * activity triangle: users cohorted by the day of their first
    * event (the retention grain), purchase revenue per (cohort,
    * age-week), and
    * cumulative lifetime value per user as the running sum within each
    * cohort. Everything is a second-level aggregate of ONE staged
    * (user, day, revenue) pre-aggregate — the events scan happens
    * once, the join back is user-keyed, and the running window is
    * partitioned by cohort over ≤ |weeks| rows. Weekly revenue rounds
    * to cents BEFORE the cumulative sum so both engines accumulate the
    * same quantized sequence in the same window order.
    */
  def evtLtv(s: SparkSession, dir: String): DataFrame = {
    val pu = Funnel.stageLazy(Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)).as("rev")))
    // cohort = the user's first DAY — the same grain as evtRetention
    // (the driver fixture has every user active from week one, so a
    // weekly cohort would collapse the triangle to a single column)
    val u = pu.groupBy("user_id").agg(min(col("d")).as("cohort"))
    val sizes = u.groupBy("cohort").agg(count(lit(1)).as("n_users"))
    val g = pu.join(u, Seq("user_id"))
      .groupBy(col("cohort"), expr("datediff(d, cohort) div 7").as("age_weeks"))
      .agg(round(sum("rev"), 2).as("revenue"))
    val w = Window.partitionBy("cohort").orderBy("age_weeks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.join(sizes, Seq("cohort"))
      .select(col("cohort").cast("string").as("cohort"), col("age_weeks"),
        col("n_users"), col("revenue"),
        round(sum(col("revenue")).over(w) / col("n_users"), 6).as("ltv_per_user"))
      .orderBy("cohort", "age_weeks")
  }

  val evtLtvSql: String =
    Tables.eventsCte +
      """
        |, pu AS (SELECT user_id, ts::DATE AS d,
        |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS rev
        |  FROM ev GROUP BY 1, 2),
        |u AS (SELECT user_id, min(d) AS cohort FROM pu GROUP BY 1),
        |sz AS (SELECT cohort, count(*)::BIGINT AS n_users FROM u GROUP BY 1),
        |g AS (SELECT cohort,
        |        (datediff('day', cohort, d) // 7)::BIGINT AS age_weeks,
        |        round(sum(rev), 2) AS revenue
        |      FROM pu JOIN u USING (user_id) GROUP BY 1, 2)
        |SELECT cohort::VARCHAR AS cohort, age_weeks, n_users, revenue,
        |  round(sum(revenue) OVER (PARTITION BY g.cohort ORDER BY age_weeks
        |    ROWS UNBOUNDED PRECEDING) / n_users, 6) AS ltv_per_user
        |FROM g JOIN sz USING (cohort) ORDER BY 1, 2""".stripMargin

  /** Last-touch attribution: each purchase is credited to the user's
    * most recent preceding non-purchase event type ('direct' if none).
    * The carry-forward is `last(..., ignoreNulls)` over a user-keyed
    * running frame — same single-shuffle discipline as sessionize; no
    * self-join, no per-purchase probe.
    */
  def evtAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = last(
      when(col("event_type") =!= "purchase", col("event_type")),
      ignoreNulls = true).over(w)
    ev.withColumn("channel", coalesce(touch, lit("direct")))
      .filter(col("event_type") === "purchase")
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), round(sum("value"), 2).as("revenue"))
      .orderBy("channel")
  }

  val evtAttributionSql: String =
    Tables.eventsCte +
      """
        |, t AS (SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM ev)
        |SELECT coalesce(touch, 'direct') AS channel, count(*)::BIGINT AS n_purchases,
        |  round(sum(value), 2) AS revenue
        |FROM t WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin

  /** RFM segmentation (recency / frequency / monetary): per-user
    * aggregates score 1–3 against GLOBAL tertile thresholds, and the
    * segment distribution rolls up. Scale shape: thresholds come from
    * one bounded percentile aggregate (1 row) broadcast back over the
    * user table — never a global ntile window, which would funnel
    * every user through one task (the audit's forbidden shape).
    * Threshold comparisons round to 6 on both engines.
    */
  def evtRfm(s: SparkSession, dir: String): DataFrame = {
    // One events scan, staged: the user frame fans out three ways below
    // (global-now aggregate, tertile thresholds, scored probe side), and
    // an unstaged frame would splice the events scan into each consumer
    // — the exact re-scan class PlanSpec locks elsewhere. `now` is the
    // global max ts, recovered as a second-level aggregate of the staged
    // per-user maxima (every event belongs to a user), so the final plan
    // touches parquet zero times.
    val u0 = graft.operators.Funnel.stageLazy(Tables.events(s, dir)
      .groupBy("user_id")
      .agg(max(col("ts").cast("long")).as("last_s"),
        count(lit(1)).cast("double").as("f"),
        sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)).as("m")))
    val maxTs = u0.agg(max(col("last_s")).as("now"))
    val u = u0
      .crossJoin(broadcast(maxTs))
      .select(col("user_id"), (col("now") - col("last_s")).cast("double").as("r"),
        col("f"), col("m"))
    val th = broadcast(u.agg(
      round(expr("percentile(r, 0.33)"), 6).as("r1"), round(expr("percentile(r, 0.67)"), 6).as("r2"),
      round(expr("percentile(f, 0.33)"), 6).as("f1"), round(expr("percentile(f, 0.67)"), 6).as("f2"),
      round(expr("percentile(m, 0.33)"), 6).as("m1"), round(expr("percentile(m, 0.67)"), 6).as("m2")))
    def score(v: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
        hi: org.apache.spark.sql.Column, asc: Boolean) = {
      val s3 = when(v <= lo, if (asc) 1 else 3).when(v <= hi, 2).otherwise(if (asc) 3 else 1)
      s3
    }
    u.crossJoin(th)
      .select(
        // recency: SMALLER is better → descending score
        score(col("r"), col("r1"), col("r2"), asc = false).as("r_score"),
        score(col("f"), col("f1"), col("f2"), asc = true).as("f_score"),
        score(col("m"), col("m1"), col("m2"), asc = true).as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("r_score", "f_score", "m_score")
  }

  val evtRfmSql: String =
    Tables.eventsCte +
      """
        |, nowt AS (SELECT max(epoch_us(ts) // 1000000) AS now FROM ev),
        |u AS (SELECT user_id,
        |        (SELECT now FROM nowt) - max(epoch_us(ts) // 1000000) AS r,
        |        count(*)::DOUBLE AS f,
        |        sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS m
        |      FROM ev GROUP BY 1),
        |th AS (SELECT round(quantile_cont(r, 0.33), 6) AS r1, round(quantile_cont(r, 0.67), 6) AS r2,
        |         round(quantile_cont(f, 0.33), 6) AS f1, round(quantile_cont(f, 0.67), 6) AS f2,
        |         round(quantile_cont(m, 0.33), 6) AS m1, round(quantile_cont(m, 0.67), 6) AS m2
        |       FROM u)
        |SELECT r_score, f_score, m_score, count(*)::BIGINT AS n_users FROM (
        |  SELECT CASE WHEN r <= r1 THEN 3 WHEN r <= r2 THEN 2 ELSE 1 END AS r_score,
        |         CASE WHEN f <= f1 THEN 1 WHEN f <= f2 THEN 2 ELSE 3 END AS f_score,
        |         CASE WHEN m <= m1 THEN 1 WHEN m <= m2 THEN 2 ELSE 3 END AS m_score
        |  FROM u, th)
        |GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""".stripMargin

  /** Conversion-latency distribution: per user, seconds from first
    * signup to first subsequent purchase; exact interpolated
    * percentiles per signup weekday (both engines interpolate
    * identically — the [[SketchQueries]] HDR histogram is the 100 TB
    * swap when per-group sorts stop being acceptable). Per-user
    * firsts are map-side-combinable mins on the user key.
    */
  def evtLatency(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t0"))
    val pu = ev.join(su, Seq("user_id"))
      .filter(col("event_type") === "purchase" && col("ts") > col("t0"))
      .groupBy("user_id").agg(min("ts").as("t1"), first("t0").as("t0"))
    pu.select(dayofweek(col("t0")).cast("long").as("dow"),
        (col("t1").cast("long") - col("t0").cast("long")).as("delta_s"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(delta_s, 0.5)"), 2).as("p50"),
        round(expr("percentile(delta_s, 0.9)"), 2).as("p90"))
      .orderBy("dow")
  }

  val evtLatencySql: String =
    Tables.eventsCte +
      """
        |, su AS (SELECT user_id, min(ts) AS t0 FROM ev WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT e.user_id, min(ts) AS t1, any_value(t0) AS t0
        |       FROM ev e JOIN su USING (user_id)
        |       WHERE event_type = 'purchase' AND ts > t0 GROUP BY 1),
        |d AS (SELECT dayofweek(t0) + 1 AS dow,
        |        (epoch_us(t1) // 1000000) - (epoch_us(t0) // 1000000) AS delta_s
        |      FROM pu)
        |SELECT dow::BIGINT AS dow, count(*)::BIGINT AS n,
        |  round(quantile_cont(delta_s, 0.5), 2) AS p50,
        |  round(quantile_cont(delta_s, 0.9), 2) AS p90
        |FROM d GROUP BY 1 ORDER BY dow""".stripMargin

  /** Multi-touch LINEAR attribution (the companion model to
    * [[evtAttribution]]'s last-touch): every non-purchase touch in the
    * 24 h before a purchase shares the credit equally (1/k each);
    * purchases with no in-window touch credit 'direct'. Shape: one
    * user-keyed equi-join with the time window as residual predicate
    * (never a cross product), the per-purchase k via a window keyed on
    * the high-cardinality purchase id, then a bounded per-channel
    * rollup. Credits round to 4 after summing.
    */
  def evtAttributionMulti(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val t = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
        col("event_type").as("channel"))
    val pairs = p.join(t,
      col("p_user") === col("t_user")
        && col("t_ts") < col("p_ts")
        && col("t_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"))
    val k = Window.partitionBy("p_id")
    val credited = pairs
      .withColumn("credit", lit(1.0) / count(lit(1)).over(k))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"), sum("credit").as("credit"))
    val direct = p.join(pairs.select("p_id"), Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_touches"), count(lit(1)).cast("double").as("credit"))
      .select(lit("direct").as("channel"), col("n_touches"), col("credit"))
    credited.unionByName(direct)
      .filter(col("n_touches") > 0)
      .select(col("channel"), col("n_touches"), round(col("credit"), 4).as("credit"))
      .orderBy("channel")
  }

  val evtAttributionMultiSql: String =
    Tables.eventsCte +
      """
        |, p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM ev
        |        WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts AS t_ts, event_type AS channel FROM ev
        |      WHERE event_type <> 'purchase'),
        |pr AS (SELECT p.p_id, t.channel FROM p JOIN t ON t.user_id = p.user_id
        |       AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 24 HOUR),
        |c AS (SELECT p_id, channel, 1.0 / count(*) OVER (PARTITION BY p_id) AS credit
        |      FROM pr),
        |agg AS (SELECT channel, count(*)::BIGINT AS n_touches, sum(credit) AS credit
        |        FROM c GROUP BY 1),
        |d AS (SELECT 'direct' AS channel, count(*)::BIGINT AS n_touches,
        |        count(*)::DOUBLE AS credit
        |      FROM p WHERE NOT EXISTS (SELECT 1 FROM pr WHERE pr.p_id = p.p_id))
        |SELECT channel, n_touches, round(credit, 4) AS credit
        |FROM (SELECT * FROM agg UNION ALL SELECT * FROM d WHERE n_touches > 0)
        |ORDER BY channel""".stripMargin

  /** Step-funnel conversion (view → click → purchase, strictly ordered
    * timestamps): the product-analytics counterpart of the CEP funnel
    * (`q_cep_funnel` matches per-event sequences; this reports the
    * aggregate conversion table). Shape: three per-user conditional-min
    * aggregations chained by joins, ALL keyed on user_id — the first
    * aggregation's exchange satisfies every later join and regroup, so
    * the corpus crosses the wire once no matter how many steps the
    * funnel has. The final 3-row rollup is a driver-sized aggregate.
    */
  def evtFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val t2 = ev.join(t1, Seq("user_id"))
      .filter(col("event_type") === "click" && col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val t3 = ev.join(t2, Seq("user_id"))
      .filter(col("event_type") === "purchase" && col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    val counts = t1.agg(count(lit(1)).as("n")).select(lit(1).as("step"), lit("view").as("name"), col("n"))
      .unionAll(t2.agg(count(lit(1)).as("n")).select(lit(2).as("step"), lit("click").as("name"), col("n")))
      .unionAll(t3.agg(count(lit(1)).as("n")).select(lit(3).as("step"), lit("purchase").as("name"), col("n")))
    val w = Window.orderBy("step").rowsBetween(Window.unboundedPreceding, -1)
    // base = previous step's cohort (own n for step 1); an empty corpus
    // gives 0/0 — define conv as NULL there, never an ANSI divide error
    val base = coalesce(last("n").over(w), col("n"))
    counts
      .withColumn("conv",
        when(base > 0, round(col("n") / base, 4)))
      .orderBy("step")
  }

  val evtFunnelSql: String =
    Tables.eventsCte +
      """
        |, t1 AS (SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(ts) AS t2 FROM ev e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(ts) AS t3 FROM ev e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1),
        |c AS (SELECT 1 AS step, 'view' AS name, count(*)::BIGINT AS n FROM t1
        |      UNION ALL SELECT 2, 'click', count(*)::BIGINT FROM t2
        |      UNION ALL SELECT 3, 'purchase', count(*)::BIGINT FROM t3)
        |SELECT step, name, n,
        |  CASE WHEN coalesce(last_value(n) OVER w, n) > 0
        |       THEN round(n * 1.0 / coalesce(last_value(n) OVER w, n), 4) END AS conv
        |FROM c WINDOW w AS (ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |ORDER BY step""".stripMargin

  /** Daily + trailing-7-day active users (DAU/WAU): each distinct
    * (user, day) activity contributes to the 7 target days it covers
    * via a map-side `sequence` explode — ONE count-distinct shuffle on
    * the day key, never a day×activity range join (the range join
    * re-scans the activity table once per day; the explode is a flat
    * ×7 map). Reported only for days observed in the log.
    */
  def evtActiveUsers(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val dau = ud.groupBy(col("d").as("day"))
      .agg(count_distinct(col("user_id")).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr("sequence(d, date_add(d, 6))")).as("day"))
      .groupBy("day")
      .agg(count_distinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day").cast("string").as("day"), col("dau"), col("wau"))
      .orderBy("day")
  }

  val evtActiveUsersSql: String =
    Tables.eventsCte +
      """
        |, ud AS (SELECT DISTINCT user_id, ts::DATE AS d FROM ev),
        |dau AS (SELECT d AS day, count(DISTINCT user_id)::BIGINT AS dau FROM ud GROUP BY 1),
        |ex AS (SELECT user_id, unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))::DATE AS day FROM ud),
        |wau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS wau FROM ex GROUP BY 1)
        |SELECT day::VARCHAR AS day, dau, wau FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin

  /** SCD2-style run intervals: consecutive same-type events per user
    * collapse into [start, end] validity runs with the next run's start
    * as `valid_to` (null = current) — the change-data islands pattern
    * that builds a temporal dimension from an event log (the batch
    * counterpart of the temporal-join's versioned side,
    * [[graft.streaming.TemporalJoin]]). Same single-shuffle discipline
    * as sessionize: every window and the run aggregation key on
    * user_id.
    */
  def evtRuns(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val chg = when(
      lag(col("event_type"), 1).over(w).isNull ||
        lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L).otherwise(0L)
    val runs = ev.withColumn("run", sum(chg).over(w))
      .groupBy("user_id", "run")
      .agg(
        min("event_type").as("event_type"),
        min(col("ts").cast("long")).as("start_s"),
        max(col("ts").cast("long")).as("end_s"),
        count(lit(1)).as("n_events"))
    val wr = Window.partitionBy("user_id").orderBy("run")
    runs.withColumn("valid_to_s", lead(col("start_s"), 1).over(wr))
      .orderBy("user_id", "run")
  }

  val evtRunsSql: String =
    Tables.eventsCte +
      """
        |, t AS (SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run FROM t),
        |g AS (SELECT user_id, run::BIGINT AS run, min(event_type) AS event_type,
        |        min(epoch_us(ts) // 1000000)::BIGINT AS start_s,
        |        max(epoch_us(ts) // 1000000)::BIGINT AS end_s,
        |        count(*)::BIGINT AS n_events
        |      FROM r GROUP BY 1, 2)
        |SELECT user_id, run, event_type, start_s, end_s, n_events,
        |  lead(start_s) OVER (PARTITION BY user_id ORDER BY run)::BIGINT AS valid_to_s
        |FROM g ORDER BY user_id, run""".stripMargin

  // ------------------------------------------------------------- documents

  /** Quality-score AUC (Mann-Whitney rank-sum with average ranks for
    * ties) of the English-stopword-ratio score against the corpus lang
    * label — the evaluation metric a quality-classifier gate reports.
    * The score is QUANTIZED to 3 decimals, which bounds the rank
    * domain to ≤ 1001 distinct values: the corpus collapses in one
    * map-side-combinable groupBy(score), and the only ordered window
    * runs over that bounded aggregate (the budget-snapshot discipline —
    * never a global per-row rank).
    */
  /** Trapezoidal PR-AUC (average precision) for the SAME scorer/label
    * pair as [[docAuc]] — the metric of record when positives are rare
    * (ROC-AUC saturates under class imbalance; every retrieval/filter
    * eval reports AP beside it). Tie-safe by construction: scores are
    * grouped (the deci-milli score domain is bounded), blocks walk in
    * DESCENDING score order, and each block contributes
    * ΔTP·(prec_before + prec_after)/2 — the trapezoid between the PR
    * points at the block edges, which is what interpolated AP degrades
    * to under ties. Each block term quantizes to 1e-12 units BEFORE the
    * cross-block sum (integer sum, order-free); counts are exact.
    */
  def docPrAuc(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val t = docs.select(
      (col("lang") === "en").cast("long").as("pos"),
      round(TextAnalysis.stopwordCount(col("text"), "en") /
        TextAnalysis.tokenCount(col("text")), 3).as("sc"))
    val g = t.groupBy("sc").agg(count(lit(1)).as("n"), sum("pos").as("np"))
    val w = Window.orderBy(col("sc").desc).rowsBetween(Window.unboundedPreceding, 0)
    val r = g
      .withColumn("tp", sum("np").over(w))
      .withColumn("nn", sum("n").over(w))
      .withColumn("tp0", col("tp") - col("np"))
      .withColumn("nn0", col("nn") - col("n"))
      .withColumn("term", floor(
        (col("np").cast("double") *
          (when(col("nn0") > 0, col("tp0").cast("double") / col("nn0")).otherwise(lit(1.0))
            + col("tp").cast("double") / col("nn")) / 2) * 1e12).cast("long"))
    r.agg(sum("term").as("t12"), sum("np").cast("long").as("p"),
        sum("n").cast("long").as("ntot"))
      .select(
        (col("t12").cast("double") / 1e12 / col("p")).as("ap"),
        col("p").as("n_pos"), (col("ntot") - col("p")).as("n_neg"))
  }

  val docPrAucSql: String =
    s"""WITH t AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
       |    round(len(list_filter(string_split($normSql, ' '),
       |        x -> x IN ('the','a','of','and','to','in','is'))) * 1.0
       |      / len(string_split($normSql, ' ')), 3) AS sc
       |  FROM documents),
       |g AS (SELECT sc, count(*)::BIGINT AS n, sum(pos)::BIGINT AS np FROM t GROUP BY 1),
       |r AS (SELECT *,
       |        sum(np) OVER w AS tp, sum(n) OVER w AS nn,
       |        sum(np) OVER w - np AS tp0, sum(n) OVER w - n AS nn0
       |      FROM g WINDOW w AS (ORDER BY sc DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |q AS (SELECT floor((np::DOUBLE *
       |          ((CASE WHEN nn0 > 0 THEN tp0::DOUBLE / nn0 ELSE 1.0 END)
       |            + tp::DOUBLE / nn) / 2) * 1e12)::BIGINT AS term, np, n
       |      FROM r)
       |SELECT sum(term)::DOUBLE / 1e12 / sum(np) AS ap,
       |  sum(np)::BIGINT AS n_pos, (sum(n) - sum(np))::BIGINT AS n_neg
       |FROM q""".stripMargin

  /** Unicode script profile per document — the mixed-script spam /
    * mojibake-adjacent diagnostic a multilingual corpus pipeline runs
    * beside [[PipelineQueries.docLangid language-ID]]: per-script
    * character counts from regex class strips (Latin letters, digits,
    * Cyrillic, Greek, CJK, Arabic, whitespace, other), the dominant
    * script by a fixed-priority CASE chain (deterministic on ties), and
    * a mixed flag when the NON-DOMINANT scripted mass (all scripts
    * other than the dominant one, summed) holds > 10 % of the
    * non-space non-digit mass — deliberately a total-contamination
    * gate, so three minority scripts at ~4 % each trip it even though
    * no single second script crosses 10 % (r10 ADVICE: comment now
    * states the implemented semantics). Pure scan-stage regexp
    * counting — zero shuffles beyond the final sort.
    */
  def docScript(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    def cnt(re: String) =
      (char_length(col("text")) - char_length(regexp_replace(col("text"), re, ""))).cast("long")
    val t = docs.select(col("doc_id"),
      char_length(col("text")).cast("long").as("n_chars"),
      cnt("[A-Za-z]").as("latin"), cnt("[0-9]").as("digit"),
      cnt("[\\u0400-\\u04FF]").as("cyrillic"), cnt("[\\u0370-\\u03FF]").as("greek"),
      cnt("[\\u4E00-\\u9FFF]").as("cjk"), cnt("[\\u0600-\\u06FF]").as("arabic"),
      cnt("\\s").as("space"))
    t.withColumn("other",
        col("n_chars") - col("latin") - col("digit") - col("cyrillic")
          - col("greek") - col("cjk") - col("arabic") - col("space"))
      .withColumn("scripted",
        col("latin") + col("cyrillic") + col("greek") + col("cjk") + col("arabic"))
      .withColumn("dominant",
        when(col("scripted") === 0, lit("none"))
          .when(col("latin") >= col("cyrillic") && col("latin") >= col("greek")
            && col("latin") >= col("cjk") && col("latin") >= col("arabic"), lit("latin"))
          .when(col("cyrillic") >= col("greek") && col("cyrillic") >= col("cjk")
            && col("cyrillic") >= col("arabic"), lit("cyrillic"))
          .when(col("greek") >= col("cjk") && col("greek") >= col("arabic"), lit("greek"))
          .when(col("cjk") >= col("arabic"), lit("cjk"))
          .otherwise(lit("arabic")))
      .withColumn("second",
        col("scripted") - greatest(col("latin"), col("cyrillic"), col("greek"),
          col("cjk"), col("arabic")))
      .withColumn("mixed",
        col("scripted") > 0 && col("second") * 10 > col("scripted"))
      .select(col("doc_id"), col("n_chars"), col("latin"), col("digit"),
        col("cyrillic"), col("greek"), col("cjk"), col("arabic"), col("space"),
        col("other"), col("dominant"), col("mixed"))
      .orderBy("doc_id")
  }

  val docScriptSql: String = {
    def cnt(re: String, as: String) =
      s"(length(text) - length(regexp_replace(text, '$re', '', 'g')))::BIGINT AS $as"
    s"""WITH t AS (SELECT doc_id, length(text)::BIGINT AS n_chars,
       |  ${cnt("[A-Za-z]", "latin")}, ${cnt("[0-9]", "digit")},
       |  ${cnt("[\\x{0400}-\\x{04FF}]", "cyrillic")}, ${cnt("[\\x{0370}-\\x{03FF}]", "greek")},
       |  ${cnt("[\\x{4E00}-\\x{9FFF}]", "cjk")}, ${cnt("[\\x{0600}-\\x{06FF}]", "arabic")},
       |  ${cnt("\\s", "space")}
       |  FROM documents),
       |u AS (SELECT *,
       |  n_chars - latin - digit - cyrillic - greek - cjk - arabic - space AS other,
       |  latin + cyrillic + greek + cjk + arabic AS scripted FROM t)
       |SELECT doc_id, n_chars, latin, digit, cyrillic, greek, cjk, arabic, space, other,
       |  CASE WHEN scripted = 0 THEN 'none'
       |       WHEN latin >= cyrillic AND latin >= greek AND latin >= cjk AND latin >= arabic THEN 'latin'
       |       WHEN cyrillic >= greek AND cyrillic >= cjk AND cyrillic >= arabic THEN 'cyrillic'
       |       WHEN greek >= cjk AND greek >= arabic THEN 'greek'
       |       WHEN cjk >= arabic THEN 'cjk'
       |       ELSE 'arabic' END AS dominant,
       |  scripted > 0 AND (scripted - greatest(latin, cyrillic, greek, cjk, arabic)) * 10 > scripted AS mixed
       |FROM u ORDER BY doc_id""".stripMargin
  }

  /** Isotonic regression of the positive rate on the quality score
    * (PAV's fit, computed by the EXACT minimax identity fit_i =
    * max_{j≤i} min_{k≥i} avg(positives in blocks j..k) — Barlow 1972) —
    * the calibration fitter that turns a raw quality scorer into a
    * monotone probability, run beside the [[docCalibration reliability
    * bins]]. Everything happens on the bounded deci-milli score-block
    * domain (≤1001 blocks): the O(B²) (j,k) pair frame takes prefix-sum
    * averages (one exact IEEE division of BIGINTs per pair), a suffix
    * MIN per j and a prefix MAX per i finish the fit — min/max only, no
    * cross-row float sums anywhere, so there is no accumulation-order
    * hazard to quantize away. Emits the calibration curve
    * (score, n, positives, raw rate, isotonic fit); the fit column is
    * non-decreasing BY CONSTRUCTION (spec-pinned).
    */
  def docIsotonic(s: SparkSession, dir: String): DataFrame =
    isotonicFromBlocks(Tables.documents(s, dir)
      .select((col("lang") === "en").cast("long").as("pos"),
        round(TextAnalysis.stopwordCount(col("text"), "en") /
          TextAnalysis.tokenCount(col("text")), 3).as("sc"))
      .groupBy("sc").agg(count(lit(1)).as("n"), sum("pos").as("np")))

  private[queries] def isotonicFromBlocks(g: DataFrame): DataFrame = {
    val wIdx = Window.orderBy("sc")
    val wCum = wIdx.rowsBetween(Window.unboundedPreceding, 0)
    val blocks = Funnel.stageLazy(g
      .withColumn("i", row_number().over(wIdx).cast("long"))
      .withColumn("pn", sum("n").over(wCum))
      .withColumn("pp", sum("np").over(wCum)))
    val a = blocks.select(col("i").as("j"), (col("pn") - col("n")).as("pn0"),
      (col("pp") - col("np")).as("pp0"))
    val b = blocks.select(col("i").as("k"), col("pn"), col("pp"))
    val pairs = a.join(b, col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("pp") - col("pp0")).cast("double")
          / (col("pn") - col("pn0")).cast("double")).as("avgjk"))
    val wSuf = Window.partitionBy("j").orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val m = pairs.withColumn("mjk", min("avgjk").over(wSuf))
    val wPre = Window.partitionBy("k").orderBy("j")
      .rowsBetween(Window.unboundedPreceding, 0)
    val fit = m.filter(col("j") <= col("k"))
      .withColumn("fit", max("mjk").over(wPre))
      .filter(col("j") === col("k"))
      .select(col("k").as("i"), col("fit"))
    blocks.join(fit, "i")
      .select(col("sc"), col("n").cast("long").as("n"), col("np").cast("long").as("np"),
        (col("np").cast("double") / col("n")).as("raw"), col("fit"))
      .orderBy("sc")
  }

  val docIsotonicSql: String =
    s"""WITH t AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
       |    round(len(list_filter(string_split($normSql, ' '),
       |        x -> x IN ('the','a','of','and','to','in','is'))) * 1.0
       |      / len(string_split($normSql, ' ')), 3) AS sc
       |  FROM documents),
       |g AS (SELECT sc, count(*)::BIGINT AS n, sum(pos)::BIGINT AS np FROM t GROUP BY 1),
       |blocks AS (SELECT sc, n, np,
       |    row_number() OVER (ORDER BY sc) AS i,
       |    sum(n) OVER w AS pn, sum(np) OVER w AS pp
       |  FROM g WINDOW w AS (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |pairs AS (SELECT a.i AS j, b.i AS k,
       |    (b.pp - (a.pp - a.np))::DOUBLE / (b.pn - (a.pn - a.n))::DOUBLE AS avgjk
       |  FROM blocks a JOIN blocks b ON a.i <= b.i),
       |m AS (SELECT j, k, min(avgjk) OVER (PARTITION BY j ORDER BY k DESC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mjk
       |      FROM pairs),
       |fit AS (SELECT k AS i, fit FROM (
       |    SELECT j, k, max(mjk) OVER (PARTITION BY k ORDER BY j
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fit
       |    FROM m) WHERE j = k)
       |SELECT sc, n, np, np::DOUBLE / n AS raw, fit
       |FROM blocks JOIN fit USING (i) ORDER BY sc""".stripMargin

  def docAuc(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val t = docs.select(
      (col("lang") === "en").cast("long").as("pos"),
      round(TextAnalysis.stopwordCount(col("text"), "en") /
        TextAnalysis.tokenCount(col("text")), 3).as("sc"))
    val g = t.groupBy("sc").agg(count(lit(1)).as("n"), sum("pos").as("np"))
    val w = Window.orderBy("sc").rowsBetween(Window.unboundedPreceding, -1)
    val r = g.withColumn("cum", coalesce(sum("n").over(w), lit(0L)))
      .withColumn("avg_rank", col("cum") + (col("n") + 1) / lit(2.0))
    r.agg(
        sum(col("np") * col("avg_rank")).as("rpos"),
        sum("np").as("p"),
        sum("n").as("ntot"))
      .select(
        round((col("rpos") - col("p") * (col("p") + 1) / 2) /
          (col("p") * (col("ntot") - col("p"))), 6).as("auc"),
        col("p").as("n_pos"),
        (col("ntot") - col("p")).as("n_neg"))
  }

  val docAucSql: String =
    s"""WITH t AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
       |    round(len(list_filter(string_split($normSql, ' '),
       |        x -> x IN ('the','a','of','and','to','in','is'))) * 1.0
       |      / len(string_split($normSql, ' ')), 3) AS sc
       |  FROM documents),
       |g AS (SELECT sc, count(*)::BIGINT AS n, sum(pos)::BIGINT AS np FROM t GROUP BY 1),
       |r AS (SELECT *, coalesce(sum(n) OVER (ORDER BY sc
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum FROM g),
       |a AS (SELECT sum(np * (cum + (n + 1) / 2.0)) AS rpos,
       |        sum(np)::BIGINT AS p, sum(n)::BIGINT AS ntot FROM r)
       |SELECT round((rpos - p * (p + 1) / 2) / (p * (ntot - p)), 6) AS auc,
       |  p AS n_pos, (ntot - p) AS n_neg FROM a""".stripMargin

  /** Zipf rank-frequency fit: ln(freq) regressed on ln(rank) over the
    * top-1000 terms. The global ordering is top-k-TRUNCATED — `orderBy
    * ... limit 1000` compiles to TakeOrdered (per-partition heaps + a
    * 1000-row driver merge, no global sort, no single-partition
    * window over the vocabulary); the regression aggregate then runs
    * over 1000 rows. Ties broken by term so the top-1000 cut is
    * deterministic on both engines.
    */
  def docZipf(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
    val top = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(1000)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
    ranked.agg(
      count(lit(1)).as("n_terms"),
      round(regr_slope(log(col("cnt")), log(col("rank"))), 6).as("slope"),
      round(regr_intercept(log(col("cnt")), log(col("rank"))), 6).as("intercept"))
  }

  val docZipfSql: String =
    s"""WITH t AS (SELECT unnest(string_split($normSql, ' ')) AS term FROM documents),
       |c AS (SELECT term, count(*)::BIGINT AS cnt FROM t WHERE len(term) > 0 GROUP BY 1),
       |top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 1000),
       |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank FROM top)
       |SELECT count(*)::BIGINT AS n_terms,
       |  round(regr_slope(ln(cnt), ln(rank)), 6) AS slope,
       |  round(regr_intercept(ln(cnt), ln(rank)), 6) AS intercept
       |FROM r""".stripMargin

  /** ROUGE-1 (unigram multiset overlap, clipped counts) for the
    * verified near-dup candidate pairs — the pair-level diagnostic a
    * dedup pass reports. Candidate-RESTRICTED like every pairwise
    * contract here: pairs come from [[Dedup.jaccardPairs]]'s
    * df-capped inverted index (probe id < 100), the member ids
    * broadcast into a semi-join AHEAD of the tokenize+count work (the
    * per-(doc, word) aggregate is pair-volume-sized, never
    * corpus-sized), and the corpus itself never self-joins. Pairs and
    * member docs are [[graft.operators.Funnel.stageLazy]] boundaries —
    * each is referenced twice downstream.
    */
  def docRouge(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // Stage the pairs: BOTH the member-id set and the overlap join
    // reference them — without the boundary the whole jaccard inverted
    // index would compute twice (the funnel recompute class).
    val pairs = graft.operators.Funnel.stageLazy(
      Dedup.jaccardPairs(docs, threshold = 0.9, leftFilter = col("id") < 100)
        .select(col("da"), col("db")))
    // Token counts only for PAIR MEMBERS: the member ids broadcast into
    // a semi-join ahead of the explode, so the per-(doc, word) aggregate
    // is pair-volume-sized, never corpus-sized. Staged because tok and
    // len both read it.
    val ids = pairs.select(col("da").as("doc_id"))
      .unionAll(pairs.select(col("db").as("doc_id"))).distinct()
    val member = graft.operators.Funnel.stageLazy(
      docs.join(broadcast(ids), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text")))
    // the word is only a group/join identity — 8-byte hash before the
    // (doc_id, word) exchange and the word-equality join (guide §2.3)
    val tok = member.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("w0"))
      .select(col("doc_id"), xxhash64(col("w0")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val len = member.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("len"))
    val ov = broadcast(pairs)
      .join(tok.as("a"), col("da") === col("a.doc_id"))
      .join(tok.as("b"), col("db") === col("b.doc_id") && col("a.word") === col("b.word"))
      .groupBy("da", "db")
      .agg(sum(least(col("a.c"), col("b.c"))).as("overlap"))
    ov.join(len.as("la"), col("da") === col("la.doc_id"))
      .join(len.as("lb"), col("db") === col("lb.doc_id"))
      .select(col("da"), col("db"), col("overlap"),
        round(col("overlap") / col("lb.len"), 4).as("rouge_p"),
        round(col("overlap") / col("la.len"), 4).as("rouge_r"),
        round(lit(2) * col("overlap") / (col("la.len") + col("lb.len")), 4).as("rouge_f"))
      .orderBy("da", "db")
  }

  val docRougeSql: String =
    s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |w AS (SELECT doc_id, unnest(list_distinct(toks)) AS word FROM t),
       |sz AS (SELECT doc_id, len(list_distinct(toks)) AS sz FROM t),
       |inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
       |  WHERE a.doc_id < 100 GROUP BY 1, 2),
       |pairs AS (
       |  SELECT da, db FROM inter JOIN sz ca ON da = ca.doc_id JOIN sz cb ON db = cb.doc_id
       |  WHERE i / (ca.sz + cb.sz - i) >= 0.9),
       |cnt AS (SELECT doc_id, word, count(*)::BIGINT AS c
       |        FROM (SELECT doc_id, unnest(toks) AS word FROM t) GROUP BY 1, 2),
       |ln AS (SELECT doc_id, len(toks)::BIGINT AS len FROM t),
       |ov AS (SELECT da, db, sum(least(a.c, b.c))::BIGINT AS overlap
       |       FROM pairs JOIN cnt a ON da = a.doc_id
       |       JOIN cnt b ON db = b.doc_id AND a.word = b.word
       |       GROUP BY 1, 2)
       |SELECT da, db, overlap,
       |  round(overlap * 1.0 / lb.len, 4) AS rouge_p,
       |  round(overlap * 1.0 / la.len, 4) AS rouge_r,
       |  round(2.0 * overlap / (la.len + lb.len), 4) AS rouge_f
       |FROM ov JOIN ln la ON da = la.doc_id JOIN ln lb ON db = lb.doc_id
       |ORDER BY da, db""".stripMargin

  /** Sentence-level duplication per source: the fraction of sentence
    * instances whose normalized form occurs in more than one document —
    * the granularity between exact-doc dedup and line-frequency
    * boilerplate. Two shuffles: sentence-fingerprint frequency, then the
    * instances rejoin on the same key (sorted exchange reused) before
    * the tiny per-source rollup.
    */
  def docSentenceDedup(s: SparkSession, dir: String): DataFrame = {
    val sent = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), "[.!?]+")).as("s0"))
      .select(col("doc_id"), col("source"),
        trim(regexp_replace(lower(col("s0")), "\\s+", " ")).as("sent"))
      .filter(length(col("sent")) > 0)
    val freq = sent.groupBy("sent").agg(count_distinct(col("doc_id")).as("nd"))
    sent.join(freq, Seq("sent"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_sent"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"),
        round(sum(when(col("nd") > 1, 1L).otherwise(0L)) / count(lit(1)), 4).as("dup_ratio"))
      .orderBy("source")
  }

  val docSentenceDedupSql: String =
    """WITH s0 AS (SELECT doc_id, source, unnest(string_split_regex(text, '[.!?]+')) AS s0 FROM documents),
      |s AS (SELECT doc_id, source, trim(regexp_replace(lower(s0), '\s+', ' ', 'g')) AS sent FROM s0),
      |f AS (SELECT * FROM s WHERE len(sent) > 0),
      |c AS (SELECT sent, count(DISTINCT doc_id) AS nd FROM f GROUP BY 1)
      |SELECT source, count(*)::BIGINT AS n_sent,
      |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
      |  round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_ratio
      |FROM f JOIN c USING (sent) GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ embeddings

  /** ANN recall@5: the sign-LSH bucketed ANN's top-5 scored against
    * brute-force exact top-5 per query — the evaluation harness that
    * justifies shipping the approximate path at scale. Both sides are
    * deterministic (seeded literal hyperplanes, rounded-cosine
    * tie-broken ranking), so the recall numbers are exactly
    * reproducible cross-engine.
    */
  def embRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ann = Similarity.annTopK(queries, emb, k = 5).select(col("qid"), col("nid"))
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5).select(col("qid"), col("nid"))
    val hits = exact.join(ann, Seq("qid", "nid")).groupBy("qid")
      .agg(count(lit(1)).as("n_hit"))
    queries.select(col("qid")).join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / 5.0, 2).as("recall"))
      .orderBy("qid")
  }

  val embRecallSql: String = {
    val planes = graft.functions.SignLshBuckets.planes(numPlanes = 8, dim = 64, seed = 42L)
    val values = planes.zipWithIndex
      .map { case (p, j) =>
        s"($j, ${p.map(f => java.lang.Double.toString(f.toDouble)).mkString("[", ", ", "]")}::DOUBLE[])"
      }
      .mkString(",\n")
    s"""WITH planes(j, p) AS (VALUES
       |$values),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |bkt AS (SELECT vec_id, sum(CASE WHEN list_dot_product(e, p) > 0 THEN 1::BIGINT << j ELSE 0 END)::BIGINT AS bucket
       |        FROM emb, planes GROUP BY vec_id),
       |be AS (SELECT vec_id, e, bucket FROM emb JOIN bkt USING (vec_id)),
       |ann AS (SELECT qid, nid FROM (
       |    SELECT q.vec_id AS qid, b.vec_id AS nid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(q.e, b.e), 6) DESC, b.vec_id) AS rn
       |    FROM be q JOIN be b USING (bucket)
       |    WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id) x WHERE rn <= 5),
       |ex AS (SELECT qid, nid FROM (
       |    SELECT q.vec_id AS qid, b.vec_id AS nid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(q.e, b.e), 6) DESC, b.vec_id) AS rn
       |    FROM emb q, emb b
       |    WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id) y WHERE rn <= 5),
       |h AS (SELECT ex.qid, count(*)::BIGINT AS n_hit
       |      FROM ex JOIN ann ON ex.qid = ann.qid AND ex.nid = ann.nid GROUP BY 1)
       |SELECT q.vec_id AS qid, coalesce(n_hit, 0)::BIGINT AS n_hit,
       |  round(coalesce(n_hit, 0) / 5.0, 2) AS recall
       |FROM emb q LEFT JOIN h ON q.vec_id = h.qid
       |WHERE q.vec_id < 10 ORDER BY qid""".stripMargin
  }

  /** Market-basket association rules over (user, day) baskets of event
    * types ([[graft.operators.Itemsets.pairRules]]): Apriori item
    * pruning + basket cap before the pair join, directional
    * confidence and lift after. The oracle replays the identical
    * pruning pipeline in SQL, including the lift denominator's
    * pre-pruning basket universe.
    */
  def evtItemsets(s: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"), col("event_type"))
    graft.operators.Itemsets.pairRules(
      baskets, Seq("user_id", "d"), "event_type", minSupport = 30L, basketCap = 4)
      .orderBy("antecedent", "consequent")
  }

  val evtItemsetsSql: String =
    Tables.eventsCte +
      """
        |, b AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d, event_type AS item FROM ev),
        |fi AS (SELECT item, count(*)::BIGINT AS item_sup FROM b GROUP BY 1 HAVING count(*) >= 30),
        |kb AS (SELECT b.user_id, b.d, b.item FROM b JOIN fi USING (item)),
        |sz AS (SELECT user_id, d FROM kb GROUP BY user_id, d HAVING count(*) <= 4),
        |s AS (SELECT kb.* FROM kb JOIN sz USING (user_id, d)),
        |p AS (SELECT sa.item AS a, sb.item AS b2, count(*)::BIGINT AS pair_sup
        |      FROM s sa JOIN s sb ON sb.user_id = sa.user_id AND sb.d = sa.d
        |        AND sa.item < sb.item
        |      GROUP BY 1, 2 HAVING count(*) >= 30),
        |j AS (SELECT p.a, p.b2, p.pair_sup, fa.item_sup AS sup_a, fb.item_sup AS sup_b
        |      FROM p JOIN fi fa ON fa.item = p.a JOIN fi fb ON fb.item = p.b2),
        |n AS (SELECT count(*)::DOUBLE AS nb
        |      FROM (SELECT DISTINCT user_id, date_trunc('day', ts) FROM ev)),
        |r AS (SELECT a AS antecedent, b2 AS consequent, pair_sup,
        |        sup_a AS sup_ante, sup_b AS sup_cons FROM j
        |      UNION ALL
        |      SELECT b2, a, pair_sup, sup_b, sup_a FROM j)
        |SELECT antecedent, consequent, pair_sup,
        |  round(pair_sup::DOUBLE / sup_ante, 6) AS confidence,
        |  round(pair_sup::DOUBLE * nb / (sup_ante * sup_cons), 6) AS lift
        |FROM r, n ORDER BY antecedent, consequent""".stripMargin

  /** Johnson–Lindenstrauss random-projection recall@5: corpus and
    * queries projected 64→32 dims ([[Similarity.randomProjection]],
    * seeded literal planes), exact top-5 recomputed in the PROJECTED
    * space and scored against the full-space exact top-5 — the
    * evaluation that justifies the 2× distance/shuffle-payload cut at
    * scale. Projection and projected cosine run in double precision so
    * the oracle replays them as literal-plane dot products. Honest-eval
    * note: this fixture's neighbor lists are a dense cosine continuum
    * (rank-5/rank-6 gaps ≈ 0.002), so absolute recall is low BY THE
    * FIXTURE — same as `q_emb_recall`'s sign-LSH reading (0.0 here);
    * the deliverable is the exactly-reproducible measurement, and the
    * clustered-fixture spec shows the projection preserving real
    * structure.
    */
  def embRpRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val pl = graft.functions.SignLshBuckets.planes(numPlanes = 32, dim = 64, seed = 137L)
      .toSeq.map(_.toSeq)
    val proj = graft.operators.Funnel.stageLazy(emb.select(col("vec_id"),
      Similarity.randomProjection(col("embedding"), pl).as("pe")))
    val pq = proj.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("pe").as("qe"))
    val scored = proj.join(broadcast(pq), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        Similarity.cosineDouble(col("qe"), col("pe")).as("c"))
    val projTop = Similarity.topKPerKey(scored, 5).select("qid", "nid")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5).select(col("qid"), col("nid"))
    val hits = exact.join(projTop, Seq("qid", "nid")).groupBy("qid")
      .agg(count(lit(1)).as("n_hit"))
    queries.select("qid").join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / 5.0, 2).as("recall"))
      .orderBy("qid")
  }

  val embRpRecallSql: String = {
    val pl = graft.functions.SignLshBuckets.planes(numPlanes = 32, dim = 64, seed = 137L)
    val values = pl.zipWithIndex
      .map { case (p, j) =>
        s"($j, ${p.map(f => java.lang.Double.toString(f.toDouble)).mkString("[", ", ", "]")}::DOUBLE[])"
      }
      .mkString(",\n")
    s"""WITH planes(j, p) AS (VALUES
       |$values),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |pr AS (SELECT vec_id, list(list_dot_product(e, p) ORDER BY j) AS pe
       |       FROM emb, planes GROUP BY vec_id),
       |pt AS (SELECT qid, nid FROM (
       |    SELECT q.vec_id AS qid, b.vec_id AS nid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_dot_product(q.pe, b.pe)
       |          / sqrt(list_dot_product(q.pe, q.pe) * list_dot_product(b.pe, b.pe)), 6)
       |          DESC, b.vec_id) AS rn
       |    FROM pr q, pr b
       |    WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id) x WHERE rn <= 5),
       |ex AS (SELECT qid, nid FROM (
       |    SELECT q.vec_id AS qid, b.vec_id AS nid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(q.e, b.e), 6) DESC, b.vec_id) AS rn
       |    FROM emb q, emb b
       |    WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id) y WHERE rn <= 5),
       |h AS (SELECT ex.qid, count(*)::BIGINT AS n_hit
       |      FROM ex JOIN pt ON ex.qid = pt.qid AND ex.nid = pt.nid GROUP BY 1)
       |SELECT q.vec_id AS qid, coalesce(n_hit, 0)::BIGINT AS n_hit,
       |  round(coalesce(n_hit, 0) / 5.0, 2) AS recall
       |FROM emb q LEFT JOIN h ON q.vec_id = h.qid
       |WHERE q.vec_id < 10 ORDER BY qid""".stripMargin
  }

  /** Chi-square independence cells for event_type × day-of-week: the
    * contingency table with expected counts (row·col/N) and each
    * cell's χ² contribution — the seasonality-vs-type independence
    * screen. All margins are windows over the 35-row aggregated
    * table (bounded domain), never raw events; expected/contribution
    * round before compare.
    */
  def evtChi2(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
      .agg(count(lit(1)).as("obs"))
    val wr = Window.partitionBy("event_type")
    val wc = Window.partitionBy("dow")
    val wn = Window.partitionBy()
    cells
      .withColumn("exp",
        sum("obs").over(wr).cast("double") * sum("obs").over(wc) / sum("obs").over(wn))
      .select(col("event_type"), col("dow"), col("obs").cast("long").as("obs"),
        round(col("exp"), 4).as("expected"),
        round(pow(col("obs") - col("exp"), 2) / col("exp"), 6).as("contrib"))
      .orderBy("event_type", "dow")
  }

  val evtChi2Sql: String =
    Tables.eventsCte +
      """
        |, c AS (SELECT event_type, dayofweek(ts) + 1 AS dow, count(*)::BIGINT AS obs
        |        FROM ev GROUP BY 1, 2),
        |e AS (SELECT event_type, dow, obs,
        |        sum(obs) OVER (PARTITION BY event_type)::DOUBLE
        |          * sum(obs) OVER (PARTITION BY dow) / sum(obs) OVER () AS exp
        |      FROM c)
        |SELECT event_type, dow::BIGINT AS dow, obs, round(exp, 4) AS expected,
        |  round((obs - exp) ** 2 / exp, 6) AS contrib
        |FROM e ORDER BY event_type, dow""".stripMargin

  /** Behavior-flow transition matrix: P(next event type | current) per
    * user journey — one lead() over the user-keyed window (the same
    * single exchange as sessionize), then a bounded |types|² count
    * aggregate; probabilities round to 6 on both engines. Terminal
    * events (a user's last) drop out via the lead null.
    */
  def evtTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val t = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
    t.groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double")
        / sum("n").over(Window.partitionBy("from_type")), 6))
      .orderBy("from_type", "to_type")
  }

  val evtTransitionsSql: String =
    Tables.eventsCte +
      """
        |, t AS (SELECT event_type,
        |          lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |        FROM ev),
        |c AS (SELECT event_type AS from_type, next_type AS to_type, count(*)::BIGINT AS n
        |      FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin

  /** Stationary distribution of the [[evtTransitions]] Markov chain —
    * the long-run event-type mix the first-order matrix implies
    * (where a product funnel settles if behavior holds), by 30 fixed
    * power-method rounds of π ← πP from the uniform start with one
    * final normalization. The distributed work is the transition-count
    * aggregate; the chain itself is a ≤ |types|²-row table, collected
    * under the bounded-statistics posture (the OLS/LDA device) and
    * iterated driver-side in deterministic sorted order. The oracle
    * unrolls the identical 30 matrix–vector rounds as CTEs, so — as
    * with the discriminant direction — equality is arithmetic, not
    * convergence. Rounds are FIXED on both engines; the final
    * normalization absorbs any mass lost to types with no observed
    * outgoing transition (none in the fixtures, but the contract
    * should not depend on that).
    */
  def evtMarkov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val c = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("f"), col("next_type").as("t"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[String]("f"), r.getAs[String]("t"), r.getAs[Long]("n")))
      .sortBy(r => (r._1, r._2))
    if (c.isEmpty)
      return Seq.empty[(String, Double)].toDF("event_type", "stationary_p")
    val tot = c.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._3).sum.toDouble }
    val p = c.map { case (f, t, n) => (f, t, n / tot(f)) }
    val types = (c.map(_._1) ++ c.map(_._2)).distinct.sorted
    var pi = types.map(_ -> 1.0 / types.size).toMap
    for (_ <- 1 to 30) {
      val next = scala.collection.mutable.LinkedHashMap(types.map(_ -> 0.0): _*)
      p.foreach { case (f, t, pr) => next(t) += pi(f) * pr }
      pi = next.toMap
    }
    // An absorbing (acyclic) observed chain loses all mass within the
    // 30 rounds — z = 0, and pi/z would be NaN (BigDecimal(NaN) throws
    // on the driver). Both engines emit NULL stationary mass instead.
    val z = types.map(pi).sum
    types.toSeq.map(ty => (ty,
        if (z > 0) Some(BigDecimal(pi(ty) / z)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None))
      .toDF("event_type", "stationary_p")
      .orderBy("event_type")
  }

  val evtMarkovSql: String = {
    val sb = new StringBuilder(Tables.eventsCte +
      """
        |, t AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM ev),
        |c AS (SELECT event_type AS f, next_type AS tt, count(*)::BIGINT AS n
        |      FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT f, sum(n) AS tot FROM c GROUP BY 1),
        |p AS MATERIALIZED (SELECT c.f, c.tt, c.n::DOUBLE / rt.tot AS p
        |                   FROM c JOIN rt USING (f)),
        |types AS MATERIALIZED (
        |  SELECT DISTINCT ty FROM (SELECT f AS ty FROM c UNION SELECT tt FROM c)),
        |pi_0 AS (SELECT ty, 1.0 / (SELECT count(*) FROM types) AS v FROM types)""".stripMargin)
    for (r <- 1 to 30)
      sb.append(
        s""",
           |pi_$r AS MATERIALIZED (
           |  SELECT t2.ty, coalesce(sum(pi.v * p.p), 0.0) AS v
           |  FROM types t2 LEFT JOIN (p JOIN pi_${r - 1} pi ON pi.ty = p.f) ON p.tt = t2.ty
           |  GROUP BY t2.ty)""".stripMargin)
    sb.append(
      """
        |, z AS (SELECT sum(v) AS z FROM pi_30)
        |SELECT ty AS event_type,
        |  CASE WHEN z.z > 0 THEN round(v / z.z, 6) END AS stationary_p
        |FROM pi_30, z ORDER BY event_type""".stripMargin)
    sb.toString
  }

  /** Behavior-path mining — the n-gram extension of
    * [[evtTransitions]]'s first-order matrix (the "top user journeys"
    * product-analytics panel): each user's time-ordered event stream
    * yields its sliding trigrams via two stacked leads over ONE
    * user-keyed exchange; paths count globally and the top 25 rank by
    * (count desc, path asc). Per-user work is linear in events; the
    * path aggregate's key domain is |types|³ ≤ 125 — a bounded
    * dimension table at any corpus size, so the final rank is a
    * TakeOrdered over a tiny aggregate, never a corpus sort.
    */
  def evtPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t2", lead("event_type", 1).over(w))
      .withColumn("t3", lead("event_type", 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(25)
      .select(col("path"), col("n").cast("long").as("n"))
  }

  val evtPathsSql: String =
    Tables.eventsCte +
      """
        |, t AS (SELECT event_type,
        |          lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
        |          lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
        |        FROM ev)
        |SELECT event_type || '>' || t2 || '>' || t3 AS path, count(*)::BIGINT AS n
        |FROM t WHERE t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 25""".stripMargin

  /** Growth accounting (the DAU decomposition dashboards call
    * new / retained / resurrected / churned): per active (user, day),
    * one user-keyed window yields the previous and next active day;
    * the state is pure arithmetic on the gap, churn events land on
    * the day AFTER an activity gap opens. ONE user-keyed exchange
    * feeds both windows; the per-day rollups aggregate bounded
    * day-domain rows.
    */
  def evtGrowth(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    val t = d
      .withColumn("prev", lag("d", 1).over(w))
      .withColumn("nxt", lead("d", 1).over(w))
    val states = t.groupBy("d").agg(
      sum(when(col("prev").isNull, 1L).otherwise(0L)).as("new_users"),
      sum(when(col("prev").isNotNull && datediff(col("d"), col("prev")) === 1, 1L)
        .otherwise(0L)).as("retained"),
      sum(when(col("prev").isNotNull && datediff(col("d"), col("prev")) > 1, 1L)
        .otherwise(0L)).as("resurrected"))
    val churn = t
      .filter(col("nxt").isNull || datediff(col("nxt"), col("d")) > 1)
      .select(date_add(col("d"), 1).as("d"))
      .groupBy("d").agg(count(lit(1)).as("churned"))
    states.join(churn, Seq("d"), "full")
      .select(col("d").cast("string").as("day"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        coalesce(col("retained"), lit(0L)).as("retained"),
        coalesce(col("resurrected"), lit(0L)).as("resurrected"),
        coalesce(col("churned"), lit(0L)).as("churned"))
      .orderBy("day")
  }

  val evtGrowthSql: String =
    Tables.eventsCte +
      """
        |, u AS (SELECT DISTINCT user_id, ts::DATE AS d FROM ev),
        |t AS (SELECT user_id, d,
        |        lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev,
        |        lead(d) OVER (PARTITION BY user_id ORDER BY d) AS nxt FROM u),
        |a AS (SELECT d,
        |        sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)::BIGINT AS new_users,
        |        sum(CASE WHEN prev IS NOT NULL AND datediff('day', prev, d) = 1
        |                 THEN 1 ELSE 0 END)::BIGINT AS retained,
        |        sum(CASE WHEN prev IS NOT NULL AND datediff('day', prev, d) > 1
        |                 THEN 1 ELSE 0 END)::BIGINT AS resurrected
        |      FROM t GROUP BY 1),
        |c AS (SELECT d + 1 AS d, count(*)::BIGINT AS churned FROM t
        |      WHERE nxt IS NULL OR datediff('day', d, nxt) > 1 GROUP BY 1)
        |SELECT coalesce(a.d, c.d)::VARCHAR AS day,
        |  coalesce(new_users, 0)::BIGINT AS new_users,
        |  coalesce(retained, 0)::BIGINT AS retained,
        |  coalesce(resurrected, 0)::BIGINT AS resurrected,
        |  coalesce(churned, 0)::BIGINT AS churned
        |FROM a FULL JOIN c ON c.d = a.d ORDER BY day""".stripMargin

  /** Trailing-window anomaly flags: each (event_type, hour) count is
    * z-scored against the mean/stddev of its own previous 24 hours
    * (ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING — the streaming-metrics
    * alert rule as a batch query). The window partitions by event_type
    * over a bounded hour domain; warm-up rows (< 24 prior hours) and
    * zero-variance windows yield NULL z and never flag. z rounds to 3
    * before the threshold test on BOTH sides so the flag decision is
    * engine-stable.
    */
  def evtAnomaly(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    h.select(col("event_type"), col("h").cast("string").as("hr"), col("cnt"),
        round((col("cnt") - avg("cnt").over(w))
          / when(stddev_samp(col("cnt")).over(w) > 0, stddev_samp(col("cnt")).over(w)), 3)
          .as("z"),
        (count(lit(1)).over(w) === 24).as("warm"))
      .select(col("event_type"), col("hr"), col("cnt"),
        when(col("warm"), col("z")).as("z"),
        (col("warm") && abs(coalesce(when(col("warm"), col("z")), lit(0.0))) >= 2.0)
          .as("anomaly"))
      .orderBy("event_type", "hr")
  }

  /** CUSUM changepoint detection (Page 1954) over daily counts — the
    * classic drift detector, re-expressed shuffle-native through the
    * identity CUSUM⁺_t = S_t − min_{k≤t} S_k (S = prefix sum of
    * deviations x − μ): the clamped recurrence becomes two ordinary
    * running windows over ONE type-keyed exchange, no per-row
    * iteration. μ is the per-type mean of integer counts (exact
    * division), deviations and sums stay integer-scaled (counts×n to
    * clear the mean's denominator), so every statistic is
    * engine-exact; the alarm threshold is 2μ·n in the same scaled
    * units.
    */
  /** Stratified average treatment effect — Cochran 1968
    * subclassification, the observational-causal companion to
    * [[evtDid]]'s panel design and the experiment family's randomized
    * estimators: treated = users with a signup event, outcome =
    * conversion (any purchase), confounder = engagement
    * (click+view count), controlled by stratifying on its QUINTILES
    * and weighting per-stratum treated−control conversion-rate gaps by
    * stratum size. Quintile bounds are exact percentiles broadcast
    * back (the [[evtRfm]] tertile device — never a global ntile over
    * users), so the corpus crosses one user-keyed exchange and the
    * estimator is ≤6-row algebra. Engine portability: each stratum's
    * ATE is a two-division IEEE chain floor-quantized at 1e-9, and the
    * overall effect weight-sums those QUANTIZED values as exact
    * integers (n_s·ate_q is a BIGINT) — the 5-term double sum whose
    * accumulation order would otherwise differ across engines never
    * happens. Strata missing an arm are excluded from the weighted
    * overall (their rows still report, ate NULL).
    */
  def evtAte(s: SparkSession, dir: String): DataFrame =
    ateFromUsers(Funnel.stageLazy(ateUsers(Tables.events(s, dir))))

  /** The per-user confounder/treatment/outcome profile under
    * [[evtAte]] — merges additively (sums sum, maxes max), so the
    * streaming maintainer is a user-keyed store.
    */
  private[queries] def ateUsers(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(sum(when(col("event_type").isin("click", "view"), 1L).otherwise(0L)).as("act"),
        max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("treated"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))

  /** Threshold bucketization: Σ (value > boundᵢ) over broadcast exact
    * percentiles — the shared quantile-stratification device under
    * [[evtAte]], [[evtQini]], and [[evtConformal]] (never a global
    * ntile over a corpus-scale table; ties at a bound land identically
    * on both engines because the comparison is the definition).
    */
  private def thresholdBucket(value: org.apache.spark.sql.Column,
      bounds: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    bounds.map(b => (value > b).cast("long")).reduce(_ + _)

  /** The subclassification tail over the user profile table — shared
    * by the batch query and the streaming maintainer's solve. Callers
    * stage `users` (it fans out to the quantile aggregate and the
    * stratum census).
    */
  private[queries] def ateFromUsers(users: DataFrame): DataFrame = {
    val qs = users.agg(
      expr("percentile(act, 0.2)").as("q1"), expr("percentile(act, 0.4)").as("q2"),
      expr("percentile(act, 0.6)").as("q3"), expr("percentile(act, 0.8)").as("q4"))
    val strat = users.crossJoin(broadcast(qs))
      .withColumn("stratum",
        thresholdBucket(col("act"), (1 to 4).map(i => col(s"q$i"))))
      .groupBy("stratum")
      .agg(sum(col("treated")).as("n_t"),
        sum(lit(1L) - col("treated")).as("n_c"),
        sum(col("treated") * col("conv")).as("conv_t"),
        sum((lit(1L) - col("treated")) * col("conv")).as("conv_c"))
      .withColumn("ate_q", when(col("n_t") > 0 && col("n_c") > 0,
        floor((col("conv_t").cast("double") / col("n_t").cast("double")
          - col("conv_c").cast("double") / col("n_c").cast("double")) * 1e9 + 0.5)
          .cast("long")))
    val st = Funnel.stageLazy(strat)
    val overall = st.filter(col("ate_q").isNotNull)
      .agg(sum((col("n_t") + col("n_c")) * col("ate_q")).as("wsum"),
        sum(col("n_t") + col("n_c")).as("nin"))
      .select(lit(-1L).as("stratum"), lit(null).cast("long").as("n_t"),
        lit(null).cast("long").as("n_c"), lit(null).cast("long").as("conv_t"),
        lit(null).cast("long").as("conv_c"),
        (col("wsum").cast("double") / col("nin").cast("double") / 1e9).as("ate"))
    st.select(col("stratum"), col("n_t").cast("long").as("n_t"),
        col("n_c").cast("long").as("n_c"), col("conv_t").cast("long").as("conv_t"),
        col("conv_c").cast("long").as("conv_c"),
        (col("ate_q") / 1e9).as("ate"))
      .unionByName(overall)
      .orderBy("stratum")
  }

  val evtAteSql: String =
    Tables.eventsCte +
      """
        |, u AS (SELECT user_id,
        |    sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)::BIGINT AS act,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS treated,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS conv
        |  FROM ev GROUP BY 1),
        |q AS (SELECT quantile_cont(act, 0.2) AS q1, quantile_cont(act, 0.4) AS q2,
        |             quantile_cont(act, 0.6) AS q3, quantile_cont(act, 0.8) AS q4 FROM u),
        |st AS (SELECT
        |    (act > q1)::BIGINT + (act > q2)::BIGINT
        |      + (act > q3)::BIGINT + (act > q4)::BIGINT AS stratum,
        |    sum(treated)::BIGINT AS n_t, sum(1 - treated)::BIGINT AS n_c,
        |    sum(treated * conv)::BIGINT AS conv_t,
        |    sum((1 - treated) * conv)::BIGINT AS conv_c
        |  FROM u, q GROUP BY 1),
        |sq AS (SELECT *, CASE WHEN n_t > 0 AND n_c > 0
        |         THEN CAST(floor((conv_t::DOUBLE / n_t::DOUBLE
        |                          - conv_c::DOUBLE / n_c::DOUBLE) * 1e9 + 0.5) AS BIGINT)
        |       END AS ate_q FROM st),
        |ov AS (SELECT -1::BIGINT AS stratum, NULL::BIGINT AS n_t, NULL::BIGINT AS n_c,
        |         NULL::BIGINT AS conv_t, NULL::BIGINT AS conv_c,
        |         sum((n_t + n_c) * ate_q)::DOUBLE / sum(n_t + n_c)::DOUBLE / 1e9 AS ate
        |       FROM sq WHERE ate_q IS NOT NULL)
        |SELECT stratum, n_t, n_c, conv_t, conv_c, ate_q / 1e9 AS ate FROM sq
        |UNION ALL SELECT * FROM ov
        |ORDER BY stratum""".stripMargin

  /** Lorenz curve + Gini coefficient by spend decile — the inequality
    * readout (Lorenz 1905, Gini 1912) every marketplace/revenue team
    * keeps: how concentrated is spend across users? Exact order
    * statistics need a global sort; the DECILE form needs only
    * broadcast percentile bounds (the shared threshold-bucket device),
    * then cumulative user/spend shares over the ≤10-row decile table
    * and the trapezoid Gini from those. Portability: spend is summed
    * in integer micro-units; shares are single divisions; the
    * trapezoid sum runs over 1e-6-QUANTIZED cumulative shares as
    * exact integers (the [[evtAte]] device), so the Gini is the same
    * BIGINT algebra on both engines.
    */
  def evtLorenz(s: SparkSession, dir: String): DataFrame =
    lorenzFromUsers(Funnel.stageLazy(lorenzUsers(Tables.events(s, dir))))

  /** The ADDITIVE per-user micro-unit spend table under [[evtLorenz]]. */
  private[queries] def lorenzUsers(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase",
        floor(col("value") * 1e6 + 0.5).cast("long")).otherwise(0L)).as("y"))

  /** The Lorenz/Gini tail over the spend table — shared by the batch
    * query and the streaming maintainer's solve. Callers stage `users`.
    */
  private[queries] def lorenzFromUsers(users: DataFrame): DataFrame = {
    val qCols = (1 to 9).map(i => expr(s"percentile(y, ${i / 10.0})").as(s"q$i"))
    val qs = users.agg(qCols.head, qCols.tail: _*)
    val dec = users.crossJoin(broadcast(qs))
      .withColumn("decile", thresholdBucket(col("y"), (1 to 9).map(i => col(s"q$i"))))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_d"), sum("y").as("y_d"))
    val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val curve = Funnel.stageLazy(dec
      .withColumn("cn", sum("n_d").over(w)).withColumn("cy", sum("y_d").over(w))
      .withColumn("tn", sum("n_d").over(wAll)).withColumn("ty", sum("y_d").over(wAll))
      .withColumn("pq", floor(col("cn").cast("double") / col("tn").cast("double")
        * 1e6 + 0.5).cast("long"))
      .withColumn("lq", floor(col("cy").cast("double") / col("ty").cast("double")
        * 1e6 + 0.5).cast("long")))
    val gini = curve
      .withColumn("pp", coalesce(lag("pq", 1).over(Window.orderBy("decile")), lit(0L)))
      .withColumn("lp", coalesce(lag("lq", 1).over(Window.orderBy("decile")), lit(0L)))
      // 2·area under Lorenz via trapezoids, all in 1e-12-scaled ints:
      // gini = 1 − Σ (p_i − p_{i−1})·(l_i + l_{i−1})
      .agg(sum((col("pq") - col("pp")) * (col("lq") + col("lp"))).as("area2"))
      .select(lit(-1L).as("decile"), lit(null).cast("long").as("n_users"),
        lit(null).cast("double").as("spend_share"),
        lit(null).cast("double").as("cum_pop"), lit(null).cast("double").as("cum_spend"),
        ((lit(1e12) - col("area2")) / 1e12).as("gini"))
    curve.select(col("decile").cast("long").as("decile"),
        col("n_d").cast("long").as("n_users"),
        (col("y_d").cast("double") / col("ty").cast("double")).as("spend_share"),
        (col("pq") / 1e6).as("cum_pop"), (col("lq") / 1e6).as("cum_spend"),
        lit(null).cast("double").as("gini"))
      .unionByName(gini)
      .orderBy("decile")
  }

  val evtLorenzSql: String =
    Tables.eventsCte +
      """
        |, u AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT) ELSE 0 END)::BIGINT AS y
        |  FROM ev GROUP BY 1),
        |q AS (SELECT quantile_cont(y, 0.1) AS q1, quantile_cont(y, 0.2) AS q2,
        |             quantile_cont(y, 0.3) AS q3, quantile_cont(y, 0.4) AS q4,
        |             quantile_cont(y, 0.5) AS q5, quantile_cont(y, 0.6) AS q6,
        |             quantile_cont(y, 0.7) AS q7, quantile_cont(y, 0.8) AS q8,
        |             quantile_cont(y, 0.9) AS q9 FROM u),
        |d AS (SELECT
        |    (y > q1)::BIGINT + (y > q2)::BIGINT + (y > q3)::BIGINT + (y > q4)::BIGINT
        |      + (y > q5)::BIGINT + (y > q6)::BIGINT + (y > q7)::BIGINT
        |      + (y > q8)::BIGINT + (y > q9)::BIGINT AS decile,
        |    count(*)::BIGINT AS n_d, sum(y)::BIGINT AS y_d
        |  FROM u, q GROUP BY 1),
        |c AS (SELECT decile, n_d, y_d,
        |        sum(n_d) OVER wc AS cn, sum(y_d) OVER wc AS cy,
        |        sum(n_d) OVER wa AS tn, sum(y_d) OVER wa AS ty
        |      FROM d
        |      WINDOW wc AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             wa AS (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |cq AS (SELECT decile, n_d, y_d, ty,
        |         CAST(floor(cn::DOUBLE / tn::DOUBLE * 1e6 + 0.5) AS BIGINT) AS pq,
        |         CAST(floor(cy::DOUBLE / ty::DOUBLE * 1e6 + 0.5) AS BIGINT) AS lq
        |       FROM c),
        |tr AS (SELECT *, coalesce(lag(pq) OVER (ORDER BY decile), 0) AS pp,
        |         coalesce(lag(lq) OVER (ORDER BY decile), 0) AS lp
        |       FROM cq)
        |SELECT decile, n_d AS n_users, y_d::DOUBLE / ty::DOUBLE AS spend_share,
        |  pq / 1e6 AS cum_pop, lq / 1e6 AS cum_spend, NULL::DOUBLE AS gini
        |FROM tr
        |UNION ALL
        |SELECT -1, NULL, NULL, NULL, NULL,
        |  (1e12 - sum((pq - pp) * (lq + lp)))::DOUBLE / 1e12
        |FROM tr
        |ORDER BY decile""".stripMargin

  /** Churn-prediction backtest — the honest evaluation of the simplest
    * churn heuristic (recency): split time at the observation horizon
    * (day 20 of the span, derived from the data), predict "will churn"
    * for users whose last pre-horizon event is more than 5 days stale,
    * label churn as zero post-horizon events, and report the confusion
    * matrix with precision/recall/F1. Everything is integer counts and
    * single divisions; the horizon/staleness arithmetic is exact day
    * math. The point is the EVALUATION SHAPE (temporal split, no
    * leakage: features strictly pre-horizon) — the same backtest
    * harness a learned churn model would drop into.
    */
  def evtChurn(s: SparkSession, dir: String): DataFrame = {
    val ev = Funnel.stageLazy(Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")))
    val bounds = ev.agg(min(unix_date(col("d"))).as("d0"))
    val withH = ev.crossJoin(broadcast(bounds))
      .withColumn("off", unix_date(col("d")) - col("d0"))
    val pre = withH.filter(col("off") < 20)
      .groupBy("user_id").agg(max("off").as("last_off"))
      .withColumn("pred_churn", (lit(19L) - col("last_off") > 5L).cast("long"))
    val post = withH.filter(col("off") >= 20)
      .groupBy("user_id").agg(count(lit(1)).as("n_post"))
    val joined = pre.join(post, Seq("user_id"), "left")
      .withColumn("churned", (coalesce(col("n_post"), lit(0L)) === 0L).cast("long"))
    joined.agg(
        sum(col("pred_churn") * col("churned")).as("tp"),
        sum(col("pred_churn") * (lit(1L) - col("churned"))).as("fp"),
        sum((lit(1L) - col("pred_churn")) * col("churned")).as("fn"),
        sum((lit(1L) - col("pred_churn")) * (lit(1L) - col("churned"))).as("tn"))
      .select(col("tp").cast("long").as("tp"), col("fp").cast("long").as("fp"),
        col("fn").cast("long").as("fn"), col("tn").cast("long").as("tn"),
        when(col("tp") + col("fp") > 0, round(col("tp").cast("double")
          / (col("tp") + col("fp")).cast("double"), 6)).as("precision"),
        when(col("tp") + col("fn") > 0, round(col("tp").cast("double")
          / (col("tp") + col("fn")).cast("double"), 6)).as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          round(lit(2.0) * col("tp").cast("double")
            / (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"), 6)).as("f1"))
  }

  val evtChurnSql: String =
    Tables.eventsCte +
      """
        |, e AS (SELECT user_id, ts::DATE AS d FROM ev),
        |b AS (SELECT min(d) AS d0 FROM e),
        |o AS (SELECT user_id, (d - (SELECT d0 FROM b)) AS off FROM e),
        |pre AS (SELECT user_id, max(off)::BIGINT AS last_off,
        |          (19 - max(off) > 5)::BIGINT AS pred_churn
        |        FROM o WHERE off < 20 GROUP BY 1),
        |post AS (SELECT user_id, count(*)::BIGINT AS n_post FROM o WHERE off >= 20 GROUP BY 1),
        |j AS (SELECT pre.user_id, pred_churn,
        |        (coalesce(n_post, 0) = 0)::BIGINT AS churned
        |      FROM pre LEFT JOIN post USING (user_id)),
        |m AS (SELECT sum(pred_churn * churned)::BIGINT AS tp,
        |        sum(pred_churn * (1 - churned))::BIGINT AS fp,
        |        sum((1 - pred_churn) * churned)::BIGINT AS fn,
        |        sum((1 - pred_churn) * (1 - churned))::BIGINT AS tn
        |      FROM j)
        |SELECT tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0 THEN round(tp::DOUBLE / (tp + fp)::DOUBLE, 6) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN round(tp::DOUBLE / (tp + fn)::DOUBLE, 6) END AS recall,
        |  CASE WHEN 2 * tp + fp + fn > 0
        |       THEN round(2.0 * tp::DOUBLE / (2 * tp + fp + fn)::DOUBLE, 6) END AS f1
        |FROM m""".stripMargin

  /** Index-of-dispersion diagnostic — is the daily event count
    * Poisson, or overdispersed (the question that decides whether a
    * count model needs a negative-binomial family)? Per type:
    * D = (n−1)·s²/x̄, chi-square distributed with n−1 df under
    * Poisson. INTEGER-exact throughout the statistic's core: with
    * deviations scaled by n (dev = n·cnt − total), (n−1)·s²/x̄ =
    * Σdev² / (n·total) — one integer ratio, exactly the
    * [[evtCusum]] scaling device. The 30-df 95 % critical value is a
    * literal; the verdict is part of the hash.
    */
  def evtDispersion(s: SparkSession, dir: String): DataFrame =
    dispersionFromDaily(Funnel.stageLazy(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))))

  /** The dispersion tail over the additive (type, day, cnt) grid —
    * shared with the streaming maintainer (same store shape as
    * [[stlFromDaily]]). Callers stage `daily`.
    */
  private[queries] def dispersionFromDaily(daily: DataFrame): DataFrame = {
    val m = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cnt").as("tot"))
    daily.join(broadcast(m), "event_type")
      .withColumn("dev", col("cnt") * col("n") - col("tot"))
      .groupBy("event_type")
      .agg(first("n").as("n"), first("tot").as("tot"),
        sum(col("dev") * col("dev")).as("ss"))
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        col("tot").cast("long").as("n_events"),
        round(col("ss").cast("double")
          / (col("n").cast("double") * col("tot").cast("double")), 6).as("dispersion"),
        (col("ss").cast("double") / (col("n").cast("double") * col("tot").cast("double"))
          > lit(42.557)).as("overdispersed")) // chi2(29, 0.95)
      .orderBy("event_type")
  }

  val evtDispersionSql: String =
    Tables.eventsCte +
      """
        |, daily AS (SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS cnt
        |            FROM ev GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*)::BIGINT AS n, sum(cnt)::BIGINT AS tot
        |      FROM daily GROUP BY 1),
        |dv AS (SELECT daily.event_type, n, tot, cnt * n - tot AS dev
        |       FROM daily JOIN m USING (event_type)),
        |ss AS (SELECT event_type, any_value(n) AS n, any_value(tot) AS tot,
        |         sum(dev * dev)::BIGINT AS ss
        |       FROM dv GROUP BY 1)
        |SELECT event_type, n AS n_days, tot AS n_events,
        |  round(ss::DOUBLE / (n::DOUBLE * tot::DOUBLE), 6) AS dispersion,
        |  ss::DOUBLE / (n::DOUBLE * tot::DOUBLE) > 42.557 AS overdispersed
        |FROM ss ORDER BY event_type""".stripMargin

  /** Landing/exit report with bounce rates — the web-analytics session
    * readout (entry page, exit page, single-event bounces) over the
    * gap-based sessions [[evtSessionize]] already defines: sessions
    * re-derived with the same 30-minute gap, each contributing its
    * FIRST event type (the landing), LAST event type (the exit), and
    * length. Per landing type: sessions, bounce rate (n = 1 sessions),
    * and the modal exit with a deterministic tie-break. One user-keyed
    * exchange (sessionization) + bounded rollups.
    */
  def evtLanding(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("gap", when(
        unix_micros(col("ts")) - unix_micros(coalesce(lag("ts", 1).over(w), col("ts")))
          > 30L * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("sess", sum("gap").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val perSess = Funnel.stageLazy(sess
      .groupBy("user_id", "sess")
      .agg(count(lit(1)).as("n_events"),
        // zero-padded string key: DuckDB's min_by/max_by take scalar
        // keys only, and lexicographic order on the padding == numeric
        expr("min_by(event_type, lpad(cast(unix_micros(ts) as string), 20, '0')" +
          " || lpad(cast(event_id as string), 10, '0'))").as("landing"),
        expr("max_by(event_type, lpad(cast(unix_micros(ts) as string), 20, '0')" +
          " || lpad(cast(event_id as string), 10, '0'))").as("exit")))
    val base = perSess.groupBy("landing")
      .agg(count(lit(1)).as("sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("bounces"))
    val topExit = perSess.groupBy("landing", "exit").agg(count(lit(1)).as("ne"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("landing").orderBy(col("ne").desc, col("exit").asc)))
      .filter(col("rn") === 1)
      .select(col("landing"), col("exit").as("top_exit"), col("ne").as("top_exit_n"))
    base.join(topExit, "landing")
      .select(col("landing"), col("sessions").cast("long").as("sessions"),
        col("bounces").cast("long").as("bounces"),
        round(col("bounces").cast("double") / col("sessions").cast("double"), 6)
          .as("bounce_rate"),
        col("top_exit"), col("top_exit_n").cast("long").as("top_exit_n"))
      .orderBy("landing")
  }

  val evtLandingSql: String =
    Tables.eventsCte +
      """
        |, g AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(coalesce(
        |           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts))
        |         > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS gap
        |  FROM ev),
        |sx AS (SELECT user_id, event_type, ts, event_id,
        |         sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |       FROM g),
        |ps AS (SELECT user_id, sess, count(*)::BIGINT AS n_events,
        |         min_by(event_type, lpad(epoch_us(ts)::VARCHAR, 20, '0')
        |           || lpad(event_id::VARCHAR, 10, '0')) AS landing,
        |         max_by(event_type, lpad(epoch_us(ts)::VARCHAR, 20, '0')
        |           || lpad(event_id::VARCHAR, 10, '0')) AS exit
        |       FROM sx GROUP BY 1, 2),
        |b AS (SELECT landing, count(*)::BIGINT AS sessions,
        |        sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT AS bounces
        |      FROM ps GROUP BY 1),
        |tx AS (SELECT landing, exit AS top_exit, ne AS top_exit_n FROM (
        |         SELECT landing, exit, count(*)::BIGINT AS ne,
        |           row_number() OVER (PARTITION BY landing
        |                              ORDER BY count(*) DESC, exit ASC) AS rn
        |         FROM ps GROUP BY landing, exit) WHERE rn = 1)
        |SELECT landing, sessions, bounces,
        |  round(bounces::DOUBLE / sessions::DOUBLE, 6) AS bounce_rate,
        |  top_exit, top_exit_n
        |FROM b JOIN tx USING (landing)
        |ORDER BY landing""".stripMargin

  /** Benford first-digit audit (Newcomb 1881 / Benford 1938 — the
    * fraud/data-quality screen: organically-generated magnitudes put
    * ~30 % of first digits at 1; fabricated or truncated columns
    * don't): first digits come from the DECIMAL STRING of the exact
    * micro-unit integer (both engines print integers identically —
    * no float log10, whose boundary behavior at powers of ten
    * differs), observed shares test against the Benford expectation
    * by chi-square with literal-constant expectations. One aggregate;
    * the report is 9 rows + the verdict. (The synthetic fixture's
    * uniform-ish values should FAIL Benford — the negative control —
    * and the flag is part of the hash.)
    */
  def evtBenford(s: SparkSession, dir: String): DataFrame =
    benfordFromDigits(Funnel.stageLazy(benfordDigits(Tables.events(s, dir))))

  /** The ADDITIVE first-digit count table under [[evtBenford]] —
    * ≤9 rows, key-sum merges, so the streaming maintainer is trivial.
    */
  private[queries] def benfordDigits(ev: DataFrame): DataFrame =
    ev.select(floor(col("value") * 1e6 + 0.5).cast("long").as("m"))
      .filter(col("m") > 0)
      .select(substring(col("m").cast("string"), 1, 1).cast("long").as("d"))
      .groupBy("d").agg(count(lit(1)).as("n"))

  /** The chi-square verdict tail over the digit counts — shared by
    * the batch audit and the streaming maintainer's solve. Callers
    * stage `counts`.
    */
  private[queries] def benfordFromDigits(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum("n").as("tot"))
    val rows = counts.crossJoin(broadcast(tot))
      .withColumn("expected", log10(lit(1.0) + lit(1.0) / col("d").cast("double")))
      .withColumn("observed", col("n").cast("double") / col("tot").cast("double"))
      .withColumn("chi_term",
        floor((col("observed") - col("expected")) * (col("observed") - col("expected"))
          / col("expected") * 1e9 + 0.5).cast("long"))
    val verdict = rows.agg(sum("chi_term").as("chi_scaled"), first("tot").as("tot"))
      .select(lit(-1L).as("d"), col("tot").cast("long").as("n"),
        lit(null).cast("double").as("observed"), lit(null).cast("double").as("expected"),
        (col("chi_scaled").cast("double") * col("tot").cast("double") / 1e9).as("chi2"),
        (col("chi_scaled").cast("double") * col("tot").cast("double") / 1e9 > 15.507)
          .as("reject_benford"))
    rows.select(col("d"), col("n").cast("long").as("n"), col("observed"),
        col("expected"), lit(null).cast("double").as("chi2"),
        lit(null).cast("boolean").as("reject_benford"))
      .unionByName(verdict)
      .orderBy("d")
  }

  val evtBenfordSql: String =
    Tables.eventsCte +
      """
        |, m AS (SELECT CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS m FROM ev),
        |dg AS (SELECT CAST(substr(m::VARCHAR, 1, 1) AS BIGINT) AS d FROM m WHERE m > 0),
        |c AS (SELECT d, count(*)::BIGINT AS n FROM dg GROUP BY 1),
        |t AS (SELECT sum(n)::BIGINT AS tot FROM c),
        |r AS (SELECT d, n, n::DOUBLE / tot::DOUBLE AS observed,
        |        log10(1.0 + 1.0 / d::DOUBLE) AS expected, tot
        |      FROM c, t),
        |ct AS (SELECT *, CAST(floor((observed - expected) * (observed - expected)
        |         / expected * 1e9 + 0.5) AS BIGINT) AS chi_term FROM r)
        |SELECT d, n, observed, expected, NULL::DOUBLE AS chi2,
        |  NULL::BOOLEAN AS reject_benford
        |FROM ct
        |UNION ALL
        |SELECT -1, any_value(tot), NULL, NULL,
        |  sum(chi_term)::DOUBLE * any_value(tot)::DOUBLE / 1e9,
        |  sum(chi_term)::DOUBLE * any_value(tot)::DOUBLE / 1e9 > 15.507
        |FROM ct
        |ORDER BY d""".stripMargin

  /** Qini curve + AUUC — uplift-model evaluation (Radcliffe 2007),
    * the targeting-policy readout on top of [[evtAte]]'s causal
    * profiles: rank users by a targeting score (engagement, standing
    * in for a model score), and at each score decile report the
    * INCREMENTAL conversions the policy would have bought —
    * Qini(φ) = ct_φ − cc_φ·nt_φ/nc_φ — against the random-targeting
    * diagonal, with AUUC as the summed gap. Scale shape: decile
    * bounds are broadcast percentiles (never a global ntile over
    * users), cumulation happens over the 10-row decile table, and the
    * AUUC sum adds 1e-6-QUANTIZED per-decile gaps as exact integers
    * (the [[evtAte]] device — no cross-engine double-sum). Deciles
    * with an empty control arm report NULL and drop out of AUUC.
    */
  def evtQini(s: SparkSession, dir: String): DataFrame =
    qiniFromUsers(Funnel.stageLazy(ateUsers(Tables.events(s, dir))))

  /** The Qini/AUUC tail over the user profile table — shared by the
    * batch query and the streaming maintainer's solve (same additive
    * store as [[evtAte]]'s). Callers stage `users`.
    */
  private[queries] def qiniFromUsers(users: DataFrame): DataFrame = {
    val qCols = (1 to 9).map(i => expr(s"percentile(act, ${i / 10.0})").as(s"q$i"))
    val qs = users.agg(qCols.head, qCols.tail: _*)
    val dec = users.crossJoin(broadcast(qs))
      .withColumn("decile",
        thresholdBucket(col("act"), (1 to 9).map(i => col(s"q$i"))))
      .groupBy("decile")
      .agg(sum(col("treated")).as("nt_d"),
        sum(col("treated") * col("conv")).as("ct_d"),
        sum(lit(1L) - col("treated")).as("nc_d"),
        sum((lit(1L) - col("treated")) * col("conv")).as("cc_d"))
    // cumulate from the TOP deciles down (decile 9 = highest score)
    val w = Window.orderBy(col("decile").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val curve = Funnel.stageLazy(dec
      .withColumn("nt", sum("nt_d").over(w))
      .withColumn("ct", sum("ct_d").over(w))
      .withColumn("nc", sum("nc_d").over(w))
      .withColumn("cc", sum("cc_d").over(w))
      .withColumn("n_all", sum(col("nt_d") + col("nc_d")).over(
        Window.orderBy(col("decile").desc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("qini_q", when(col("nc") > 0,
        floor((col("ct").cast("double")
          - col("cc").cast("double") * col("nt").cast("double") / col("nc").cast("double"))
          * 1e6 + 0.5).cast("long")))
      .withColumn("frac_q",
        floor((col("nt") + col("nc")).cast("double") / col("n_all").cast("double")
          * 1e6 + 0.5).cast("long")))
    // random-targeting diagonal at the FULL-population uplift, scaled
    // by the decile's cumulative fraction: diag = frac · Qini(1)
    val end = curve.filter(col("decile") === 0)
      .select(col("qini_q").as("qini_end"))
    // floor on the DOUBLE product (exact below 2^53), not integer
    // division — Spark's div truncates toward zero while DuckDB's //
    // floors, and a negative overall uplift would diverge
    val rows = curve.crossJoin(broadcast(end))
      .withColumn("diag_q",
        floor((col("frac_q") * col("qini_end")).cast("double") / 1e6).cast("long"))
      .withColumn("gap_q", col("qini_q") - col("diag_q"))
    val auuc = rows.filter(col("qini_q").isNotNull)
      .agg((sum(col("gap_q")).cast("double") / lit(10e6)).as("auuc"))
      .select(lit(-1L).as("decile"), lit(null).cast("long").as("nt"),
        lit(null).cast("long").as("ct"), lit(null).cast("long").as("nc"),
        lit(null).cast("long").as("cc"), lit(null).cast("double").as("qini"),
        lit(null).cast("double").as("qini_diag"), col("auuc"))
    rows.select(col("decile").cast("long").as("decile"),
        col("nt").cast("long").as("nt"), col("ct").cast("long").as("ct"),
        col("nc").cast("long").as("nc"), col("cc").cast("long").as("cc"),
        (col("qini_q") / 1e6).as("qini"), (col("diag_q") / 1e6).as("qini_diag"),
        lit(null).cast("double").as("auuc"))
      .unionByName(auuc)
      .orderBy("decile")
  }

  val evtQiniSql: String =
    Tables.eventsCte +
      """
        |, u AS (SELECT user_id,
        |    sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)::BIGINT AS act,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS treated,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS conv
        |  FROM ev GROUP BY 1),
        |q AS (SELECT quantile_cont(act, 0.1) AS q1, quantile_cont(act, 0.2) AS q2,
        |             quantile_cont(act, 0.3) AS q3, quantile_cont(act, 0.4) AS q4,
        |             quantile_cont(act, 0.5) AS q5, quantile_cont(act, 0.6) AS q6,
        |             quantile_cont(act, 0.7) AS q7, quantile_cont(act, 0.8) AS q8,
        |             quantile_cont(act, 0.9) AS q9 FROM u),
        |d AS (SELECT
        |    (act > q1)::BIGINT + (act > q2)::BIGINT + (act > q3)::BIGINT
        |      + (act > q4)::BIGINT + (act > q5)::BIGINT + (act > q6)::BIGINT
        |      + (act > q7)::BIGINT + (act > q8)::BIGINT + (act > q9)::BIGINT AS decile,
        |    sum(treated)::BIGINT AS nt_d, sum(treated * conv)::BIGINT AS ct_d,
        |    sum(1 - treated)::BIGINT AS nc_d,
        |    sum((1 - treated) * conv)::BIGINT AS cc_d
        |  FROM u, q GROUP BY 1),
        |c AS (SELECT decile,
        |    sum(nt_d) OVER w AS nt, sum(ct_d) OVER w AS ct,
        |    sum(nc_d) OVER w AS nc, sum(cc_d) OVER w AS cc,
        |    sum(nt_d + nc_d) OVER (ROWS BETWEEN UNBOUNDED PRECEDING
        |                           AND UNBOUNDED FOLLOWING) AS n_all
        |  FROM d
        |  WINDOW w AS (ORDER BY decile DESC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT decile, nt, ct, nc, cc,
        |    CASE WHEN nc > 0 THEN CAST(floor((ct::DOUBLE
        |           - cc::DOUBLE * nt::DOUBLE / nc::DOUBLE) * 1e6 + 0.5) AS BIGINT)
        |    END AS qini_q,
        |    CAST(floor((nt + nc)::DOUBLE / n_all::DOUBLE * 1e6 + 0.5) AS BIGINT) AS frac_q
        |  FROM c),
        |e AS (SELECT qini_q AS qini_end FROM g WHERE decile = 0),
        |r AS (SELECT g.*,
        |        CAST(floor((frac_q * qini_end)::DOUBLE / 1e6) AS BIGINT) AS diag_q
        |      FROM g, e)
        |SELECT decile, nt::BIGINT AS nt, ct::BIGINT AS ct, nc::BIGINT AS nc, cc::BIGINT AS cc,
        |  qini_q / 1e6 AS qini, diag_q / 1e6 AS qini_diag,
        |  NULL::DOUBLE AS auuc
        |FROM r
        |UNION ALL
        |SELECT -1, NULL, NULL, NULL, NULL, NULL, NULL,
        |  sum(qini_q - diag_q)::DOUBLE / 10e6
        |FROM r WHERE qini_q IS NOT NULL
        |ORDER BY decile""".stripMargin

  /** Split-conformal prediction intervals (Vovk 2005; Lei et al. 2018
    * — the distribution-free coverage guarantee every deployed
    * regressor should ship with): users split into CALIBRATION and
    * TEST folds by an md5 bit, the point predictor is the per-quintile
    * mean of spend on the calibration fold (bucketed regression —
    * selection + integer sums, no iterative fit), the conformal
    * half-width q̂ is the 0.9 quantile of calibration residuals, and
    * the TEST fold reports empirical coverage of ŷ ± q̂ per bucket —
    * which the 90 % guarantee says should sit near 0.9, and does.
    * Portability: spend is summed in integer MICRO-UNITS (the
    * [[evtCuped]] device) so per-user totals are exact; predictions
    * and residuals are then single IEEE chains; the quantile is
    * engine-shared interpolation. One user-keyed exchange; everything
    * after is ≤6-row algebra with broadcast bounds.
    */
  def evtConformal(s: SparkSession, dir: String): DataFrame =
    conformalFromUsers(Funnel.stageLazy(conformalUsers(Tables.events(s, dir))))

  /** The per-user (covariate, micro-unit spend, fold) profile under
    * [[evtConformal]] — sums are additive, the fold is a pure key
    * function, so the streaming maintainer is a user-keyed sum-merge
    * store.
    */
  private[queries] def conformalUsers(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(sum(when(col("event_type").isin("click", "view"), 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase",
          floor(col("value") * 1e6 + 0.5).cast("long")).otherwise(0L)).as("y_micro"))
      .withColumn("fold", pmod(
        graft.functions.GraftFunctions.md5_prefix(
          concat(lit("cf|"), col("user_id").cast("string")), 8), lit(2L)))

  /** The split-conformal tail over the user profile table — shared by
    * the batch query and the streaming maintainer's solve. Callers
    * stage `users`.
    */
  private[queries] def conformalFromUsers(users: DataFrame): DataFrame = {
    val cal = users.filter(col("fold") === 0)
    val qs = broadcast(cal.agg(
      expr("percentile(x, 0.2)").as("b1"), expr("percentile(x, 0.4)").as("b2"),
      expr("percentile(x, 0.6)").as("b3"), expr("percentile(x, 0.8)").as("b4")))
    def bucketed(df: DataFrame): DataFrame = df.crossJoin(qs)
      .withColumn("bucket",
        thresholdBucket(col("x"), (1 to 4).map(i => col(s"b$i"))))
    // staged: the calibration bucketing fans out to the model fit AND
    // the residual-quantile pass
    val calB = Funnel.stageLazy(bucketed(cal))
    val model = broadcast(calB
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_cal"), sum("y_micro").as("sy"))
      .withColumn("yhat", col("sy").cast("double") / col("n_cal").cast("double") / 1e6))
    val qhat = broadcast(calB.join(model, "bucket")
      .select(abs(col("y_micro") / 1e6 - col("yhat")).as("score"))
      .agg(expr("percentile(score, 0.9)").as("qhat")))
    val test = bucketed(users.filter(col("fold") === 1))
      .join(model, "bucket").crossJoin(qhat)
      .withColumn("covered",
        (abs(col("y_micro") / 1e6 - col("yhat")) <= col("qhat")).cast("long"))
    val perBucket = test.groupBy("bucket")
      .agg(first("n_cal").as("n_cal"), count(lit(1)).as("n_test"),
        first("yhat").as("yhat"), first("qhat").as("qhat"), sum("covered").as("cov"))
      .select(col("bucket").cast("long").as("bucket"),
        col("n_cal").cast("long").as("n_cal"), col("n_test").cast("long").as("n_test"),
        (floor(col("yhat") * 1e6 + 0.5).cast("long") / 1e6).as("yhat"),
        (floor(col("qhat") * 1e6 + 0.5).cast("long") / 1e6).as("half_width"),
        (col("cov").cast("double") / col("n_test").cast("double")).as("coverage"))
    val overall = test.agg(count(lit(1)).as("n_test"), sum("covered").as("cov"),
        first("qhat").as("qhat"))
      .select(lit(-1L).as("bucket"), lit(null).cast("long").as("n_cal"),
        col("n_test").cast("long").as("n_test"), lit(null).cast("double").as("yhat"),
        (floor(col("qhat") * 1e6 + 0.5).cast("long") / 1e6).as("half_width"),
        (col("cov").cast("double") / col("n_test").cast("double")).as("coverage"))
    perBucket.unionByName(overall).orderBy("bucket")
  }

  val evtConformalSql: String =
    Tables.eventsCte +
      """
        |, u AS (SELECT user_id,
        |    sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT) ELSE 0 END)::BIGINT AS y_micro,
        |    ('0x' || substr(md5('cf|' || user_id::VARCHAR), 1, 8))::BIGINT % 2 AS fold
        |  FROM ev GROUP BY user_id),
        |cal AS (SELECT * FROM u WHERE fold = 0),
        |q AS (SELECT quantile_cont(x, 0.2) AS b1, quantile_cont(x, 0.4) AS b2,
        |             quantile_cont(x, 0.6) AS b3, quantile_cont(x, 0.8) AS b4 FROM cal),
        |calb AS (SELECT cal.*, (x > b1)::BIGINT + (x > b2)::BIGINT
        |           + (x > b3)::BIGINT + (x > b4)::BIGINT AS bucket FROM cal, q),
        |m AS (SELECT bucket, count(*)::BIGINT AS n_cal,
        |        sum(y_micro)::DOUBLE / count(*)::DOUBLE / 1e6 AS yhat
        |      FROM calb GROUP BY 1),
        |qh AS (SELECT quantile_cont(abs(y_micro / 1e6 - yhat), 0.9) AS qhat
        |       FROM calb JOIN m USING (bucket)),
        |tst AS (SELECT u.*, (x > b1)::BIGINT + (x > b2)::BIGINT
        |          + (x > b3)::BIGINT + (x > b4)::BIGINT AS bucket
        |        FROM u, q WHERE fold = 1),
        |tc AS (SELECT tst.bucket, n_cal, yhat, qhat,
        |         (abs(y_micro / 1e6 - yhat) <= qhat)::BIGINT AS covered
        |       FROM tst JOIN m USING (bucket) CROSS JOIN qh)
        |SELECT bucket, n_cal, count(*)::BIGINT AS n_test,
        |  CAST(floor(yhat * 1e6 + 0.5) AS BIGINT) / 1e6 AS yhat,
        |  CAST(floor(qhat * 1e6 + 0.5) AS BIGINT) / 1e6 AS half_width,
        |  sum(covered)::DOUBLE / count(*)::DOUBLE AS coverage
        |FROM tc GROUP BY bucket, n_cal, yhat, qhat
        |UNION ALL
        |SELECT -1, NULL, count(*)::BIGINT, NULL,
        |  CAST(floor(any_value(qhat) * 1e6 + 0.5) AS BIGINT) / 1e6,
        |  sum(covered)::DOUBLE / count(*)::DOUBLE
        |FROM tc
        |ORDER BY bucket""".stripMargin

  /** Difference-in-differences — the panel-causal baseline (Card &
    * Krueger 1994 popularized the design): treated = users with an
    * ABOVE-median pre-period error count (a median split — "any error"
    * would treat this fixture's entire population and leave the
    * control cells undefined), outcome =
    * mean purchase value per user-period, periods split at the
    * midpoint date; the estimate is the 2×2 interaction
    * (T,post − T,pre) − (C,post − C,pre) with its standard error from
    * the four cell variances (Welch-style, no pooling). Everything
    * reduces to per-(user, period) aggregates and then FOUR cell
    * rows — the corpus never crosses a shuffle wider than user-keyed,
    * and the midpoint/exposure are derived from the data (no
    * hard-coded dates; the daySplits lesson). On an untreated synthetic
    * corpus the estimate should sit inside ±2·SE — which the fixture
    * confirms, making the null behavior itself part of the check.
    */
  def evtDid(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // one staged (user, day-index flavored) frame feeds exposure,
    // midpoint, and outcomes
    val base = Funnel.stageLazy(ev.select(col("user_id"), to_date(col("ts")).as("d"),
      col("event_type"), col("value")))
    val mid = base.agg(((min(unix_date(col("d"))) + max(unix_date(col("d"))))
      / lit(2)).cast("long").as("mid"))
    val b2 = base.crossJoin(broadcast(mid))
      .withColumn("post", (unix_date(col("d")).cast("long") > col("mid")).cast("int"))
    // exposure: ABOVE-median pre-period error count (a median split —
    // "any error" would treat the whole population on this fixture,
    // leaving the control cells empty and the estimate undefined)
    val erc = b2.filter(col("event_type") === "error" && col("post") === 0)
      .groupBy("user_id").agg(count(lit(1)).as("ec"))
    val med = erc.agg(expr("percentile(ec, 0.5D)").as("med"))
    val outcomes = b2.filter(col("event_type") === "purchase")
      .groupBy("user_id", "post").agg(avg("value").as("y"))
      .join(erc, Seq("user_id"), "left")
      .crossJoin(broadcast(med))
      // coalesce to 0: with NO pre-period errors med is NULL and the
      // comparison is NULL — the oracle's CASE falls to ELSE 0
      // (everyone control), so the Spark side must too
      .withColumn("treat",
        coalesce((coalesce(col("ec"), lit(0L)) > col("med")).cast("int"), lit(0)))
    val cells = outcomes.groupBy("treat", "post")
      .agg(count(lit(1)).as("n"), avg("y").as("m"), var_samp("y").as("v"))
    val w = cells.select(col("treat"), col("post"), col("n"), col("m"),
      (col("v") / col("n")).as("se2"))
    val p = w.groupBy()
      .pivot(concat(col("treat"), lit("_"), col("post")), Seq("0_0", "0_1", "1_0", "1_1"))
      .agg(first("m").as("m"), first("se2").as("s"), first("n").as("n"))
    p.select(
      (col("1_1_m") - col("1_0_m") - (col("0_1_m") - col("0_0_m"))).as("did"),
      sqrt(col("1_1_s") + col("1_0_s") + col("0_1_s") + col("0_0_s")).as("se"),
      (col("0_0_n") + col("0_1_n") + col("1_0_n") + col("1_1_n")).as("n_cells_obs"))
      .select(round(col("did"), 6).as("did"), round(col("se"), 6).as("se"),
        (abs(col("did")) > lit(1.96) * col("se")).as("significant"),
        col("n_cells_obs"))
  }

  val evtDidSql: String =
    Tables.eventsCte +
      """
        |, base AS (SELECT user_id, ts::DATE AS d, event_type, value FROM ev),
        |mid AS (SELECT (min(epoch(d::TIMESTAMP))//86400 + max(epoch(d::TIMESTAMP))//86400) // 2 AS mid FROM base),
        |b2 AS (SELECT *, CASE WHEN epoch(d::TIMESTAMP)//86400 > mid THEN 1 ELSE 0 END AS post
        |       FROM base, mid),
        |erc AS (SELECT user_id, count(*)::BIGINT AS ec FROM b2
        |        WHERE event_type = 'error' AND post = 0 GROUP BY 1),
        |med AS (SELECT quantile_cont(ec, 0.5) AS med FROM erc),
        |oc AS (SELECT b2.user_id, post, avg(value) AS y,
        |         (CASE WHEN coalesce(any_value(ec), 0) > any_value(med.med)
        |               THEN 1 ELSE 0 END) AS treat
        |       FROM b2 LEFT JOIN erc USING (user_id), med
        |       WHERE event_type = 'purchase' GROUP BY b2.user_id, post),
        |cells AS (SELECT treat, post, count(*)::BIGINT AS n, avg(y) AS m,
        |            var_samp(y) / count(*) AS se2
        |          FROM oc GROUP BY 1, 2),
        |p AS (SELECT
        |    max(CASE WHEN treat=0 AND post=0 THEN m END) AS m00,
        |    max(CASE WHEN treat=0 AND post=1 THEN m END) AS m01,
        |    max(CASE WHEN treat=1 AND post=0 THEN m END) AS m10,
        |    max(CASE WHEN treat=1 AND post=1 THEN m END) AS m11,
        |    max(CASE WHEN treat=0 AND post=0 THEN se2 END) AS s00,
        |    max(CASE WHEN treat=0 AND post=1 THEN se2 END) AS s01,
        |    max(CASE WHEN treat=1 AND post=0 THEN se2 END) AS s10,
        |    max(CASE WHEN treat=1 AND post=1 THEN se2 END) AS s11,
        |    sum(n)::BIGINT AS n_cells_obs
        |  FROM cells)
        |SELECT round(m11 - m10 - (m01 - m00), 6) AS did,
        |  round(sqrt(s11 + s10 + s01 + s00), 6) AS se,
        |  (abs(m11 - m10 - (m01 - m00)) > 1.96 * sqrt(s11 + s10 + s01 + s00)) AS significant,
        |  n_cells_obs
        |FROM p""".stripMargin

  /** Per-user behavioral entropy — Shannon entropy of each user's
    * event-type distribution in bits, the classic bot/outlier screen
    * (a scripted account hammers one event type → entropy ≈ 0; an
    * organic user mixes → entropy near log₂|types|). One (user, type)
    * count aggregate, entropy as a second-level aggregate of it —
    * p·log₂p summed over ≤|types| rows per user; emitted per user
    * (round 6) rather than bucketed, because a histogram's bucket
    * floor on an irrational entropy value is exactly the cross-engine
    * boundary hazard the round-6 contract avoids.
    */
  def evtEntropy(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    val u = c.groupBy("user_id").agg(sum("n").as("tot"), count(lit(1)).as("n_types"))
    c.join(u, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(first(col("tot")).as("n_events"), first(col("n_types")).as("n_types"),
        round(-sum((col("n") / col("tot"))
          * log(2.0, col("n") / col("tot"))), 6).as("entropy_bits"))
      .orderBy("user_id")
  }

  val evtEntropySql: String =
    Tables.eventsCte +
      """
        |, c AS (SELECT user_id, event_type, count(*)::BIGINT AS n FROM ev GROUP BY 1, 2),
        |u AS (SELECT user_id, sum(n)::BIGINT AS tot, count(*)::BIGINT AS n_types
        |      FROM c GROUP BY 1)
        |SELECT c.user_id, any_value(tot) AS n_events, any_value(n_types) AS n_types,
        |  round(-sum((n::DOUBLE / tot) * log2(n::DOUBLE / tot)), 6) AS entropy_bits
        |FROM c JOIN u USING (user_id) GROUP BY 1 ORDER BY 1""".stripMargin

  /** Poisson-bootstrap confidence interval for mean purchase value
    * (Chamandy et al. 2012, "Estimating uncertainty for massive data
    * streams" — the one-pass distributed bootstrap: instead of B
    * resampling shuffles, every row draws a Poisson(1) multiplicity
    * per replicate, so B=32 weighted means come out of ONE grouped
    * aggregate over a map-side-combined explode). All randomness is
    * md5-derived from (event_id, replicate) — the embNegatives seeded
    * device — and the Poisson inverse-CDF is a fixed literal threshold
    * chain, so both engines draw bit-identical weights; the CI is the
    * 2.5/97.5 percentile interpolation over the 32 replicate means.
    */
  def evtBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val B = 32
    val x = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("value"))
    val u = graft.functions.GraftFunctions.md5_prefix(concat(col("event_id").cast("string"),
      lit("|"), col("b").cast("string")), 8).cast("double") / lit(4294967296.0)
    // cumulative Poisson(1) pmf; identical decimal literals in the SQL
    val cum = Seq(0.3678794411714423, 0.7357588823428846, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
      0.9999167588507119, 0.9999897508033253)
    val w = cum.zipWithIndex.foldRight(lit(8): org.apache.spark.sql.Column) {
      case ((c, k), rest) => when(col("u") < c, k).otherwise(rest)
    }
    val means = x
      .select(col("event_id"), col("value"), explode(sequence(lit(0), lit(B - 1))).as("b"))
      .withColumn("u", u)
      .withColumn("w", w)
      .groupBy("b")
      .agg((sum(col("w") * col("value")) / sum(col("w"))).as("m"))
    val stats = x.agg(count(lit(1)).as("n_purchases"), avg("value").as("mean"))
    means.agg(expr("percentile(m, 0.025D)").as("lo"), expr("percentile(m, 0.975D)").as("hi"))
      .crossJoin(broadcast(stats))
      .select(col("n_purchases"), round(col("mean"), 6).as("mean"),
        round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"))
  }

  val evtBootstrapCiSql: String =
    Tables.eventsCte +
      """
        |, x AS (SELECT event_id, value FROM ev WHERE event_type = 'purchase'),
        |rep AS (SELECT event_id, value, b,
        |    ('0x' || substr(md5(event_id::VARCHAR || '|' || b::VARCHAR), 1, 8))::BIGINT
        |      / 4294967296.0 AS u
        |  FROM x, range(0, 32) t(b)),
        |wt AS (SELECT b, value,
        |    CASE WHEN u < 0.3678794411714423 THEN 0
        |         WHEN u < 0.7357588823428846 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.9999167588507119 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         ELSE 8 END AS w
        |  FROM rep),
        |mm AS (SELECT b, sum(w * value) / sum(w) AS m FROM wt GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS n_purchases, avg(value) AS mean FROM x)
        |SELECT n_purchases, round(mean, 6) AS mean,
        |  round((SELECT quantile_cont(m, 0.025) FROM mm), 6) AS ci_lo,
        |  round((SELECT quantile_cont(m, 0.975) FROM mm), 6) AS ci_hi
        |FROM st""".stripMargin

  /** Markov-chain attribution by removal effect (Anderl et al. 2014 —
    * the data-driven alternative to [[evtAttribution]]'s last-touch
    * and [[evtAttributionMulti]]'s positional rules): user journeys
    * (events up to the first purchase; non-converting journeys absorb
    * into NULL) build a START/channel/CONV/NULL chain, conversion
    * probability comes from absorption value iteration, and each
    * channel's credit is its REMOVAL EFFECT — how much conversion
    * drops when transitions into it are redirected to NULL —
    * normalized into shares. The distributed work is ONE journey
    * aggregate (two user-keyed windows → transition counts); the chain
    * is ≤(|channels|+3)²-row, collected under the bounded-statistics
    * posture and iterated 60 fixed rounds for ALL removal variants at
    * once, driver-side in sorted order. The oracle unrolls the same
    * 60 rounds over a (variant × state) grid — ≤30 rows per CTE — so,
    * as with the stationary mix, equality is arithmetic, not
    * convergence. The max(0, ·) clamp on removal effects is shared by
    * both engines: removing a channel can only reduce conversion
    * mathematically, but 1e-17 float noise must not become a negative
    * credit on one engine only.
    */
  def evtMarkovAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pre = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prior",
        coalesce(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("prior") === 0)
      .withColumn("state",
        when(col("event_type") === "purchase", "CONV").otherwise(col("event_type")))
    val trans = pre
      .select(coalesce(lag("state", 1).over(w), lit("START")).as("f"),
        col("state").as("t"))
    val term = pre
      .withColumn("nxt", lead("state", 1).over(w))
      .filter(col("nxt").isNull && col("state") =!= "CONV")
      .select(col("state").as("f"), lit("NULL").as("t"))
    markovAttrSolve(s, trans.unionByName(term)
      .groupBy("f", "t").agg(count(lit(1)).as("n")))
  }

  /** The bounded removal-effect algebra over the (f, t, n) transition
    * count table — shared by the batch query and the streaming
    * maintainer's end-of-stream solve (which rebuilds the same table
    * from its additive transition store plus terminal edges derived
    * from the per-user journey state).
    */
  private[queries] def markovAttrSolve(s: SparkSession, countsDf: DataFrame): DataFrame = {
    import s.implicits._
    val counts = countsDf
      .collect()
      .map(r => (r.getAs[String]("f"), r.getAs[String]("t"), r.getAs[Long]("n")))
      .sortBy(r => (r._1, r._2))
    if (counts.isEmpty)
      return Seq.empty[(String, Double, Double)]
        .toDF("channel", "removal_effect", "share")
    val tot = counts.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._3).sum.toDouble }
    val chans = counts.map(_._1).filter(_ != "START").distinct.sorted
    // kept transition rows per variant: to == CONV or a transient
    // channel other than the removed one (NULL and the removed channel
    // absorb zero value)
    val pc = counts
      .filter { case (_, t, _) => t == "CONV" || chans.contains(t) }
      .map { case (f, t, n) => (f, t, n / tot(f)) }
    val states = "START" +: chans
    val variants = "none" +: chans
    var v = (for (r <- variants; st <- states) yield (r, st) -> 0.0).toMap
    for (_ <- 1 to 60) {
      v = (for (r <- variants; st <- states) yield {
        val acc = pc.iterator.filter { case (f, t, _) =>
          f == st && (r == "none" || t != r)
        }.map { case (_, t, p) =>
          if (t == "CONV") p else p * v((r, t))
        }.sum
        (r, st) -> acc
      }).toMap
    }
    val base = v(("none", "START"))
    val out = chans.map { c =>
      val re = if (base > 0) math.max(0.0, 1.0 - v((c, "START")) / base) else 0.0
      (c, re)
    }
    val reSum = out.map(_._2).sum
    out.toSeq.map { case (c, re) =>
      (c, BigDecimal(re).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        if (reSum == 0.0) 0.0
        else BigDecimal(re / reSum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("channel", "removal_effect", "share").orderBy("channel")
  }

  val evtMarkovAttributionSql: String = {
    val sb = new StringBuilder(Tables.eventsCte +
      """
        |, pp AS (SELECT user_id, ts, event_id, event_type,
        |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM ev),
        |k AS (SELECT user_id, ts, event_id,
        |        CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS state
        |      FROM pp WHERE prior = 0),
        |tr0 AS (SELECT coalesce(lag(state) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |          'START') AS f, state AS t FROM k),
        |term AS (SELECT state AS f, 'NULL' AS t FROM (
        |    SELECT state, lead(state) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |    FROM k) WHERE nxt IS NULL AND state <> 'CONV'),
        |c AS (SELECT f, t, count(*)::BIGINT AS n
        |      FROM (SELECT * FROM tr0 UNION ALL SELECT * FROM term) GROUP BY 1, 2),
        |tot AS (SELECT f, sum(n) AS tn FROM c GROUP BY 1),
        |chans AS MATERIALIZED (SELECT DISTINCT f AS ch FROM c WHERE f <> 'START'),
        |pc AS MATERIALIZED (
        |  SELECT c.f, c.t, c.n::DOUBLE / tot.tn AS p FROM c JOIN tot USING (f)
        |  WHERE c.t = 'CONV' OR c.t IN (SELECT ch FROM chans)),
        |variants AS MATERIALIZED (SELECT 'none' AS r UNION ALL SELECT ch FROM chans),
        |states AS MATERIALIZED (SELECT 'START' AS s UNION ALL SELECT ch FROM chans),
        |grid AS MATERIALIZED (SELECT r, s FROM variants, states),
        |v_0 AS (SELECT r, s, 0.0 AS v FROM grid)""".stripMargin)
    for (i <- 1 to 60)
      sb.append(
        s""",
           |v_$i AS MATERIALIZED (
           |  SELECT g.r, g.s, coalesce(sum(
           |      CASE WHEN pc.t = 'CONV' THEN pc.p ELSE pc.p * vp.v END), 0.0) AS v
           |  FROM grid g
           |  LEFT JOIN pc ON pc.f = g.s AND (g.r = 'none' OR pc.t <> g.r)
           |  LEFT JOIN v_${i - 1} vp ON vp.r = g.r AND vp.s = pc.t
           |  GROUP BY g.r, g.s)""".stripMargin)
    sb.append(
      """
        |, base AS (SELECT v AS bv FROM v_60 WHERE r = 'none' AND s = 'START'),
        |re AS (SELECT r AS channel,
        |         CASE WHEN base.bv > 0 THEN greatest(0.0, 1.0 - v / base.bv)
        |              ELSE 0.0 END AS re
        |       FROM v_60, base WHERE s = 'START' AND r <> 'none'),
        |rs AS (SELECT sum(re) AS tot_re FROM re)
        |SELECT channel, round(re, 6) AS removal_effect,
        |  CASE WHEN rs.tot_re = 0.0 THEN 0.0 ELSE round(re / rs.tot_re, 6) END AS share
        |FROM re, rs ORDER BY channel""".stripMargin)
    sb.toString
  }

  /** CUPED variance reduction for the A/B readout (Deng et al. 2013 —
    * controlled-experiment sensitivity from pre-experiment data, the
    * industry-standard companion to [[evtDid]]'s quasi-experimental
    * estimate): users hash-split 50/50 into variants (the md5 device
    * of [[evtBootstrapCi]]), metric Y = post-period purchase value,
    * covariate X = PRE-period purchase value, adjusted metric
    * Y − θ(X − E[X]) with pooled θ = cov(X,Y)/var(X). Every statistic
    * flows through INTEGER-EXACT micro-unit sufficient sums
    * (floor(value·1e6) — the robust-z quantization; Σx, Σy, Σxy, Σx²,
    * Σy² in DECIMAL(38,0) vs the oracle's HUGEINT), so θ, the means,
    * and the closed-form var(Y−θX) = var(Y) − 2θ·cov + θ²·var(X) are
    * built from IDENTICAL integers on both engines — no parallel
    * float-merge drift anywhere; the n·(n−1) and 1e12 scale factors
    * cancel in the reduction ratio and are never materialized. One
    * events scan → one user-keyed aggregate → a 2-row variant frame;
    * the pooled row derives from that SAME 2-row frame. Degenerate
    * guards shared with the oracle: var(X) = 0 → θ NULL → adjusted
    * columns NULL; var(Y) = 0 → reduction NULL.
    */
  def evtCuped(s: SparkSession, dir: String): DataFrame =
    cupedSolve(cupedDaily(Tables.events(s, dir)))

  /** The PURELY ADDITIVE state under [[evtCuped]]: per-(user, day)
    * purchase micro-sums, with a zero row for every (user, day) an
    * event of ANY type touched — the zero rows carry the user census
    * and the corpus date range, so [[cupedSolve]] needs nothing else.
    * Additivity across event subsets (sums of sums; zeros merge as
    * zeros) is what the streaming maintainer's merge relies on.
    */
  private[queries] def cupedDaily(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), unix_date(to_date(col("ts"))).cast("long").as("de"),
        col("event_type"), col("value"))
      .groupBy("user_id", "de")
      .agg(sum(when(col("event_type") === "purchase",
        floor(col("value") * 1e6).cast("long")).otherwise(0L)).as("pmicro"))

  /** Driver-free CUPED tail over the bounded daily state — shared by
    * the batch query and the streaming maintainer's final solve.
    */
  private[queries] def cupedSolve(daily: DataFrame): DataFrame = {
    val st = Funnel.stageLazy(daily)
    val mid = st.agg(((min("de") + max("de")) / lit(2)).cast("long").as("mid"))
    val u = st.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(
        sum(when(col("de") <= col("mid"), col("pmicro")).otherwise(0L)).as("x"),
        sum(when(col("de") > col("mid"), col("pmicro")).otherwise(0L)).as("y"))
      .withColumn("variant", pmod(
        graft.functions.GraftFunctions.md5_prefix(col("user_id").cast("string"), 8),
        lit(2L)))
    val dx = col("x").cast("decimal(38,0)")
    val dy = col("y").cast("decimal(38,0)")
    val sv = Funnel.stageLazy(u.groupBy("variant").agg(
      count(lit(1)).as("n"), sum(dx).as("sx"), sum(dy).as("sy"),
      sum(dx * dy).as("sxy"), sum(dx * dx).as("sxx"), sum(dy * dy).as("syy")))
    val pooled = sv.agg(sum("n").as("pn"), sum("sx").as("psx"), sum("sy").as("psy"),
        sum("sxy").as("psxy"), sum("sxx").as("psxx"))
      .select(
        (col("psx").cast("double") / col("pn")).as("mx"),
        when(col("pn") * col("psxx") - col("psx") * col("psx") > 0,
          (col("pn") * col("psxy") - col("psx") * col("psy")).cast("double")
            / (col("pn") * col("psxx") - col("psx") * col("psx")).cast("double"))
          .as("theta"))
    val vy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val cxy = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    sv.crossJoin(broadcast(pooled))
      .select(col("variant"), col("n").as("n_users"),
        round(col("sy").cast("double") / col("n") / 1e6, 6).as("mean_y"),
        round((col("sy").cast("double") / col("n")
          - col("theta") * (col("sx").cast("double") / col("n") - col("mx"))) / 1e6, 6)
          .as("mean_y_adj"),
        when(col("n") * col("syy") - col("sy") * col("sy") > 0,
          round((vy - lit(2d) * col("theta") * cxy
            + col("theta") * col("theta") * vx) / vy, 6)).as("var_reduction"))
      .orderBy("variant")
  }

  val evtCupedSql: String =
    Tables.eventsCte +
      """
        |, b AS (SELECT user_id, ts::DATE AS d, event_type, value FROM ev),
        |mid AS (SELECT (min(epoch(d::TIMESTAMP))//86400
        |                + max(epoch(d::TIMESTAMP))//86400) // 2 AS mid FROM b),
        |u AS (SELECT user_id,
        |        sum(CASE WHEN event_type = 'purchase' AND epoch(d::TIMESTAMP)//86400 <= mid
        |                 THEN floor(value * 1000000)::BIGINT ELSE 0 END) AS x,
        |        sum(CASE WHEN event_type = 'purchase' AND epoch(d::TIMESTAMP)//86400 > mid
        |                 THEN floor(value * 1000000)::BIGINT ELSE 0 END) AS y
        |      FROM b, mid GROUP BY user_id),
        |uv AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2 AS variant,
        |         x, y FROM u),
        |sv AS (SELECT variant, count(*)::BIGINT AS n,
        |         sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |         sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx,
        |         sum(y::HUGEINT * y) AS syy
        |       FROM uv GROUP BY 1),
        |pl AS (SELECT sum(n) AS pn, sum(sx) AS psx, sum(sy) AS psy,
        |         sum(sxy) AS psxy, sum(sxx) AS psxx FROM sv),
        |th AS (SELECT psx::DOUBLE / pn AS mx,
        |         CASE WHEN pn * psxx - psx * psx > 0
        |              THEN (pn * psxy - psx * psy)::DOUBLE
        |                   / (pn * psxx - psx * psx)::DOUBLE END AS theta
        |       FROM pl)
        |SELECT variant, n AS n_users,
        |  round(sy::DOUBLE / n / 1000000.0, 6) AS mean_y,
        |  round((sy::DOUBLE / n - theta * (sx::DOUBLE / n - mx)) / 1000000.0, 6)
        |    AS mean_y_adj,
        |  CASE WHEN n * syy - sy * sy > 0
        |       THEN round(((n * syy - sy * sy)::DOUBLE
        |                   - 2.0 * theta * (n * sxy - sx * sy)::DOUBLE
        |                   + theta * theta * (n * sxx - sx * sx)::DOUBLE)
        |                  / (n * syy - sy * sy)::DOUBLE, 6) END AS var_reduction
        |FROM sv, th ORDER BY variant""".stripMargin

  /** Next-event prediction backtest for the [[evtTransitions]] Markov
    * model — the temporal-split evaluation a behavioral model owes its
    * users before anyone trusts [[evtMarkov]]'s long-run story: train
    * the first-order matrix on PRE-midpoint transitions (a pair
    * belongs to its FROM event's day), predict argmax-next
    * (count-desc, type-asc tie-break) on POST-midpoint transitions,
    * and report top-1 accuracy per context plus the overall row via
    * ROLLUP (`__all`). Contexts unseen in training predict nothing and
    * score zero — the honest cold-start accounting, aligned across
    * engines by the CASE/when null fall-through. Corpus work: one
    * user-keyed lead window over the staged pair frame; the model and
    * its argmax are |types|²-bounded.
    */
  def evtNextAcc(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Funnel.stageLazy(Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        unix_date(to_date(col("ts"))).cast("long").as("de"))
      .withColumn("t", lead("event_type", 1).over(w))
      .filter(col("t").isNotNull)
      .select(col("event_type").as("f"), col("t"), col("de")))
    val mid = pairs.agg(((min("de") + max("de")) / lit(2)).cast("long").as("mid"))
    val split = pairs.crossJoin(broadcast(mid))
    val wPred = Window.partitionBy("f").orderBy(col("n").desc, col("t").asc)
    val pred = split.filter(col("de") <= col("mid"))
      .groupBy("f", "t").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wPred))
      .filter(col("rn") === 1)
      .select(col("f"), col("t").as("pred"))
    split.filter(col("de") > col("mid"))
      .join(broadcast(pred), Seq("f"), "left")
      .rollup(col("f"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("pred") === col("t"), 1L).otherwise(0L)).as("n_correct"))
      .select(coalesce(col("f"), lit("__all")).as("context"),
        col("n_test"), col("n_correct"),
        when(col("n_test") > 0,
          round(col("n_correct").cast("double") / col("n_test"), 6)).as("acc"))
      .orderBy("context")
  }

  val evtNextAccSql: String =
    Tables.eventsCte +
      """
        |, pr AS (SELECT event_type AS f,
        |           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t,
        |           epoch(ts::DATE::TIMESTAMP) // 86400 AS de
        |         FROM ev),
        |pairs AS (SELECT f, t, de FROM pr WHERE t IS NOT NULL),
        |mid AS (SELECT (min(de) + max(de)) // 2 AS mid FROM pairs),
        |tr AS (SELECT f, t, count(*) AS n FROM pairs, mid WHERE de <= mid GROUP BY 1, 2),
        |pd AS (SELECT f, t AS pred FROM (
        |         SELECT f, t, row_number() OVER (PARTITION BY f
        |                                         ORDER BY n DESC, t ASC) AS rn FROM tr)
        |       WHERE rn = 1),
        |te AS (SELECT p.f, p.t, pd.pred
        |       FROM (SELECT pairs.* FROM pairs, mid WHERE pairs.de > mid.mid) p
        |       LEFT JOIN pd ON pd.f = p.f)
        |SELECT coalesce(f, '__all') AS context, count(*)::BIGINT AS n_test,
        |  sum(CASE WHEN pred = t THEN 1 ELSE 0 END)::BIGINT AS n_correct,
        |  CASE WHEN count(*) > 0
        |       THEN round(sum(CASE WHEN pred = t THEN 1 ELSE 0 END)::DOUBLE
        |                  / count(*), 6) END AS acc
        |FROM te GROUP BY ROLLUP(f) ORDER BY context""".stripMargin

  /** k-anonymity audit over the released behavioral profile (Sweeney
    * 2002 — the privacy gate a pipeline runs BEFORE handing user-level
    * aggregates downstream): each user's quasi-identifier triple is
    * (activity decile-bucket, active-day bucket, favorite event type —
    * mode with count-desc/type-asc tie-break), and every equivalence
    * class smaller than k = 5 is flagged for suppression, since its
    * members are re-identifiable by QI intersection. Shapes: the
    * per-(user, type) and per-(user, day) state aggregates, then ONE
    * user-keyed aggregate over both (counts and the `min_by` favorite
    * in one pass, one exchange), then the class rollup — a
    * bounded-domain aggregate (the QI grid). Output: one row per
    * observed class, its size, and the suppression flag.
    */
  def evtKanon(s: SparkSession, dir: String): DataFrame = {
    val base = Funnel.stageLazy(Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type")))
    kanonSolve(
      base.groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt")),
      base.select("user_id", "d").distinct())
  }

  /** The per-user (QI buckets, favorite type) frame over the two
    * ADDITIVE state tables — (user, type, cnt) sums and (user, day)
    * presence — shared by the k-anonymity, l-diversity and t-closeness
    * audits, batch and streaming alike. ONE user-keyed aggregate over
    * the union of both tables, so the user key is shuffled once: the
    * event total, the day count, and the favorite type as `min_by` over
    * `rank` = (−cnt, type), i.e. count-desc/type-asc (a day row has no
    * rank, and `min_by` skips it). `tc` must hold one row per (user,
    * type), so ranks never tie. A user must appear in both tables, as
    * under an inner join of the two per-user aggregates.
    */
  private[queries] def kanonProfiles(tc: DataFrame, days: DataFrame): DataFrame =
    tc.withColumn("rank", struct(-col("cnt"), col("event_type")))
      .unionByName(days.select(col("user_id"), lit(1L).as("day")), allowMissingColumns = true)
      .groupBy("user_id")
      .agg(sum("cnt").as("n_events"), count("day").as("n_days"),
        min_by(col("event_type"), col("rank")).as("fav"), count("rank").as("n_types"))
      .filter(col("n_days") > 0 && col("n_types") > 0)
      .select(col("user_id"),
        least(floor(col("n_events") / 10), lit(9L)).as("activity_bucket"),
        floor(col("n_days") / 5).as("days_bucket"), col("fav"))

  /** The QI/class tail over the two ADDITIVE k-anonymity state tables
    * — shared by the batch query and the streaming maintainer's final
    * audit.
    */
  private[queries] def kanonSolve(tc: DataFrame, days: DataFrame): DataFrame =
    kanonProfiles(tc, days)
      .groupBy("activity_bucket", "days_bucket", "fav")
      .agg(count(lit(1)).as("class_size"))
      .withColumn("suppress", col("class_size") < 5)
      .orderBy("activity_bucket", "days_bucket", "fav")

  /** l-diversity audit (Machanavajjhala 2007) — the criterion
    * k-anonymity cannot see: a class of 50 users is useless protection
    * if they all share one SENSITIVE value. Here the QI is the
    * (activity, days) bucket pair and the sensitive attribute is the
    * favorite event type; per class the audit reports distinct
    * l-diversity (l = distinct sensitive values, gate l ≥ 2) and
    * ENTROPY l-diversity (H ≥ ln 2), with H computed from integer
    * class counts as ln n − (Σ c·ln c)/n — each c·ln c rounded at 9
    * before the ≤|types|-term sum (the BM25 term-sum device), then the
    * gate compared on the 1e-6 floor-quantized value so the boolean is
    * engine-stable. Same two ADDITIVE state tables as [[evtKanon]];
    * the class algebra is a bounded-grid rollup.
    */
  def evtLdiv(s: SparkSession, dir: String): DataFrame = {
    val base = Funnel.stageLazy(Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type")))
    ldivSolve(
      base.groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt")),
      base.select("user_id", "d").distinct())
  }

  /** The l-diversity tail over the shared QI state tables. */
  private[queries] def ldivSolve(tc: DataFrame, days: DataFrame): DataFrame = {
    val perFav = kanonProfiles(tc, days)
      .groupBy("activity_bucket", "days_bucket", "fav")
      .agg(count(lit(1)).as("c"))
    perFav
      .groupBy("activity_bucket", "days_bucket")
      .agg(sum("c").as("class_size"), count(lit(1)).as("l_distinct"),
        sum(round(col("c").cast("double") * log(col("c").cast("double")), 9)).as("clc"))
      .withColumn("hq",
        floor((log(col("class_size").cast("double"))
          - col("clc") / col("class_size").cast("double")) * 1e6 + 0.5).cast("long"))
      .select(col("activity_bucket"), col("days_bucket"),
        col("class_size").cast("long").as("class_size"),
        col("l_distinct").cast("long").as("l_distinct"),
        (col("hq") / 1e6).as("entropy"),
        (col("l_distinct") >= 2).as("l2_diverse"),
        (col("hq") >= floor(lit(math.log(2.0)) * 1e6 + 0.5).cast("long")).as("entropy_l2"))
      .orderBy("activity_bucket", "days_bucket")
  }

  val evtLdivSql: String =
    Tables.eventsCte +
      """
        |, b AS (SELECT user_id, ts::DATE AS d, event_type FROM ev),
        |prof AS (SELECT user_id, count(*)::BIGINT AS n_events,
        |           count(DISTINCT d)::BIGINT AS n_days FROM b GROUP BY 1),
        |fc AS (SELECT user_id, event_type, count(*) AS cnt FROM b GROUP BY 1, 2),
        |fav AS (SELECT user_id, event_type AS fav FROM (
        |          SELECT user_id, event_type,
        |            row_number() OVER (PARTITION BY user_id
        |                               ORDER BY cnt DESC, event_type ASC) AS rn
        |          FROM fc) WHERE rn = 1),
        |qi AS (SELECT least(n_events // 10, 9)::BIGINT AS activity_bucket,
        |         (n_days // 5)::BIGINT AS days_bucket, fav
        |       FROM prof JOIN fav USING (user_id)),
        |pf AS (SELECT activity_bucket, days_bucket, fav, count(*)::BIGINT AS c
        |       FROM qi GROUP BY 1, 2, 3),
        |cl AS (SELECT activity_bucket, days_bucket,
        |         sum(c)::BIGINT AS class_size, count(*)::BIGINT AS l_distinct,
        |         sum(round(c::DOUBLE * ln(c::DOUBLE), 9)) AS clc
        |       FROM pf GROUP BY 1, 2),
        |hz AS (SELECT *, CAST(floor((ln(class_size::DOUBLE)
        |                 - clc / class_size::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS hq
        |       FROM cl)
        |SELECT activity_bucket, days_bucket, class_size, l_distinct,
        |  hq / 1e6 AS entropy, l_distinct >= 2 AS l2_diverse,
        |  hq >= CAST(floor(ln(2.0) * 1e6 + 0.5) AS BIGINT) AS entropy_l2
        |FROM hz ORDER BY 1, 2""".stripMargin

  val evtKanonSql: String =
    Tables.eventsCte +
      """
        |, b AS (SELECT user_id, ts::DATE AS d, event_type FROM ev),
        |prof AS (SELECT user_id, count(*)::BIGINT AS n_events,
        |           count(DISTINCT d)::BIGINT AS n_days FROM b GROUP BY 1),
        |fc AS (SELECT user_id, event_type, count(*) AS cnt FROM b GROUP BY 1, 2),
        |fav AS (SELECT user_id, event_type AS fav FROM (
        |          SELECT user_id, event_type,
        |            row_number() OVER (PARTITION BY user_id
        |                               ORDER BY cnt DESC, event_type ASC) AS rn
        |          FROM fc) WHERE rn = 1),
        |qi AS (SELECT least(n_events // 10, 9)::BIGINT AS activity_bucket,
        |         (n_days // 5)::BIGINT AS days_bucket, fav
        |       FROM prof JOIN fav USING (user_id))
        |SELECT activity_bucket, days_bucket, fav, count(*)::BIGINT AS class_size,
        |  count(*) < 5 AS suppress
        |FROM qi GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Differentially-private count release over the (event_type, day)
    * grid (Dwork 2006 — the Laplace mechanism at sensitivity 1,
    * ε = 1): each released cell adds Laplace noise drawn by the
    * inverse CDF −sign(u−½)·ln(1−2|u−½|) from the cell-keyed md5
    * uniform (u = (hash+0.5)/2³², strictly inside (0,1), so the log
    * argument is strictly positive) — the hash seeding makes the
    * release REPRODUCIBLE, which is exactly what lets the oracle
    * replay it and is how a pipeline re-issues a stable release
    * across reruns. One aggregate, noise per released cell, nothing
    * user-level leaves the cluster. `n` is kept beside `noisy_n` to
    * exhibit calibration — a production release drops it.
    */
  def evtDpRelease(s: SparkSession, dir: String): DataFrame =
    dpNoisyRelease(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n")))

  /** The Laplace release tail over a (event_type, d, n) cell grid —
    * shared by the batch query and the streaming maintainer's
    * end-of-stream release (noise attaches at RELEASE time; adding it
    * per batch would compound ε).
    */
  private[queries] def dpNoisyRelease(cells: DataFrame): DataFrame = {
    val u = (graft.functions.GraftFunctions.md5_prefix(concat(col("event_type"),
      lit("|"), col("d").cast("string")), 8).cast("double") + 0.5) / lit(4294967296.0)
    cells.withColumn("u", u)
      .select(col("event_type"), col("d"), col("n"),
        round(col("n") + lit(-1d) * signum(col("u") - 0.5)
          * log(lit(1d) - lit(2d) * abs(col("u") - 0.5)), 6).as("noisy_n"))
      .orderBy("event_type", "d")
  }

  val evtDpReleaseSql: String =
    Tables.eventsCte +
      """
        |, c AS (SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS n
        |        FROM ev GROUP BY 1, 2),
        |r AS (SELECT event_type, d, n,
        |        ((('0x' || substr(md5(event_type || '|' || d::VARCHAR), 1, 8))::BIGINT)::DOUBLE
        |         + 0.5) / 4294967296.0 AS u
        |      FROM c)
        |SELECT event_type, d, n,
        |  round(n + (-1.0) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_n
        |FROM r ORDER BY event_type, d""".stripMargin

  /** Sample-ratio-mismatch check for the [[evtCuped]] experiment
    * (Fabijan et al. 2019 — the first diagnostic any experimentation
    * platform runs; a skewed split invalidates every downstream
    * readout before it is computed): the same md5 hash assignment
    * over the distinct-user census, the 1-df chi-square
    * (n₀−n₁)²/n against the designed 50/50, flagged at the 95 %
    * critical value 3.841. One distinct-user aggregate → a 1-row
    * integer-exact statistic; guards: n = 0 → NULL chi2, NULL flag.
    */
  def evtSrm(s: SparkSession, dir: String): DataFrame = {
    val variant = pmod(
      graft.functions.GraftFunctions.md5_prefix(col("user_id").cast("string"), 8), lit(2L))
    Tables.events(s, dir).select(col("user_id")).distinct()
      .select(variant.as("variant"))
      .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"))
      .select(col("n0"), col("n1"),
        when(col("n0") + col("n1") > 0,
          round(((col("n0") - col("n1")) * (col("n0") - col("n1"))).cast("double")
            / (col("n0") + col("n1")), 6)).as("chi2"),
        when(col("n0") + col("n1") > 0,
          ((col("n0") - col("n1")) * (col("n0") - col("n1"))).cast("double")
            / (col("n0") + col("n1")) > 3.841).as("srm"))
  }

  val evtSrmSql: String =
    Tables.eventsCte +
      """
        |, u AS (SELECT DISTINCT user_id FROM ev),
        |a AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2 AS variant
        |      FROM u),
        |c AS (SELECT sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |             sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT AS n1 FROM a)
        |SELECT n0, n1,
        |  CASE WHEN n0 + n1 > 0
        |       THEN round(((n0 - n1) * (n0 - n1))::DOUBLE / (n0 + n1), 6) END AS chi2,
        |  CASE WHEN n0 + n1 > 0
        |       THEN ((n0 - n1) * (n0 - n1))::DOUBLE / (n0 + n1) > 3.841 END AS srm
        |FROM c""".stripMargin

  /** Always-valid sequential test — the mixture SPRT (Johari, Pekelis &
    * Walsh 2017; Robbins 1970's mixture-martingale ancestor) over the
    * daily A/B conversion stream: the experiment readout you may peek
    * at EVERY day without inflating the false-positive rate, where a
    * fixed-horizon t-test (the [[evtCuped]]/[[evtSrm]] companions)
    * requires a pre-committed n. Per cumulative day: pooled-variance
    * normal approximation, mixture variance τ² = 1e-4, and the
    * always-valid p is the running min of 1/Λ. Everything distributed
    * is one daily aggregate of integer counts; the per-day statistic
    * is a single IEEE chain over those integers (emitted as
    * log Λ — the exp of a large Λ would overflow; p = exp(−max llr)
    * never does), floor-quantized at 1e-6 exactly like the robust-z
    * device so the reject boolean is engine-stable. The whole readout
    * is a ≤31-row frame — the global ordered window is over the
    * bounded daily aggregate (plan-audit whitelisted).
    */
  def evtMsprt(s: SparkSession, dir: String): DataFrame =
    msprtFromDaily(msprtDaily(Tables.events(s, dir)))

  /** The ADDITIVE per-day arm counts under [[evtMsprt]] — (day, events
    * and conversions per md5-parity arm); key-sum merges, so the
    * streaming maintainer is a grid store.
    */
  private[queries] def msprtDaily(ev: DataFrame): DataFrame = {
    val variant = pmod(
      graft.functions.GraftFunctions.md5_prefix(col("user_id").cast("string"), 8), lit(2L))
    ev.select(variant.as("v"), to_date(col("ts")).as("d"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("c"))
      .groupBy("d")
      .agg(sum(when(col("v") === 0, 1L).otherwise(0L)).as("na_d"),
        sum(when(col("v") === 0, col("c")).otherwise(0L)).as("ca_d"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("nb_d"),
        sum(when(col("v") === 1, col("c")).otherwise(0L)).as("cb_d"))
  }

  /** The sequential-test readout over the daily arm grid — shared by
    * the batch query and the streaming maintainer's solve.
    */
  private[queries] def msprtFromDaily(daily: DataFrame): DataFrame = {
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    val t2 = lit(1e-4)
    daily
      .withColumn("na", sum("na_d").over(w))
      .withColumn("ca", sum("ca_d").over(w))
      .withColumn("nb", sum("nb_d").over(w))
      .withColumn("cb", sum("cb_d").over(w))
      .withColumn("pooled", (col("ca") + col("cb")).cast("double")
        / (col("na") + col("nb")).cast("double"))
      .withColumn("vn", when(col("na") > 0 && col("nb") > 0,
        col("pooled") * (lit(1.0) - col("pooled"))
          * (lit(1.0) / col("na").cast("double") + lit(1.0) / col("nb").cast("double"))))
      .withColumn("delta", col("ca").cast("double") / col("na").cast("double")
        - col("cb").cast("double") / col("nb").cast("double"))
      .withColumn("llr", when(col("vn") > 0,
        lit(0.5) * log(col("vn") / (col("vn") + t2))
          + col("delta") * col("delta") * t2
            / (lit(2.0) * col("vn") * (col("vn") + t2))))
      .withColumn("p_day", when(col("llr").isNotNull,
        least(lit(1.0), exp(-col("llr")))))
      .withColumn("p_min", min("p_day").over(w))
      .select(col("d").cast("string").as("day"),
        col("na").cast("long").as("na"), col("ca").cast("long").as("ca"),
        col("nb").cast("long").as("nb"), col("cb").cast("long").as("cb"),
        (floor(col("llr") * 1e6 + 0.5).cast("long") / 1e6).as("llr"),
        (floor(col("p_min") * 1e6 + 0.5).cast("long") / 1e6).as("p_always"),
        coalesce(floor(col("p_min") * 1e6 + 0.5).cast("long") < 50000L, lit(false))
          .as("reject"))
      .orderBy("day")
  }

  val evtMsprtSql: String =
    Tables.eventsCte +
      """
        |, x AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2 AS v,
        |          CAST(ts AS DATE) AS d,
        |          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS c
        |        FROM ev),
        |daily AS (SELECT d,
        |    sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS na_d,
        |    sum(CASE WHEN v = 0 THEN c ELSE 0 END)::BIGINT AS ca_d,
        |    sum(CASE WHEN v = 1 THEN 1 ELSE 0 END)::BIGINT AS nb_d,
        |    sum(CASE WHEN v = 1 THEN c ELSE 0 END)::BIGINT AS cb_d
        |  FROM x GROUP BY 1),
        |cum AS (SELECT d,
        |    sum(na_d) OVER w AS na, sum(ca_d) OVER w AS ca,
        |    sum(nb_d) OVER w AS nb, sum(cb_d) OVER w AS cb
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |st AS (SELECT d, na, ca, nb, cb,
        |    (ca + cb)::DOUBLE / (na + nb)::DOUBLE AS pooled,
        |    CASE WHEN na > 0 AND nb > 0
        |         THEN ((ca + cb)::DOUBLE / (na + nb)::DOUBLE)
        |              * (1.0 - (ca + cb)::DOUBLE / (na + nb)::DOUBLE)
        |              * (1.0 / na::DOUBLE + 1.0 / nb::DOUBLE) END AS vn,
        |    ca::DOUBLE / na::DOUBLE - cb::DOUBLE / nb::DOUBLE AS delta
        |  FROM cum),
        |lr AS (SELECT d, na, ca, nb, cb,
        |    CASE WHEN vn > 0
        |         THEN 0.5 * ln(vn / (vn + 1e-4))
        |              + delta * delta * 1e-4 / (2.0 * vn * (vn + 1e-4)) END AS llr
        |  FROM st),
        |pm AS (SELECT d, na, ca, nb, cb, llr,
        |    min(CASE WHEN llr IS NOT NULL THEN least(1.0, exp(-llr)) END)
        |      OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_min
        |  FROM lr)
        |SELECT d::VARCHAR AS day,
        |  na::BIGINT AS na, ca::BIGINT AS ca, nb::BIGINT AS nb, cb::BIGINT AS cb,
        |  CAST(floor(llr * 1e6 + 0.5) AS BIGINT) / 1e6 AS llr,
        |  CAST(floor(p_min * 1e6 + 0.5) AS BIGINT) / 1e6 AS p_always,
        |  coalesce(CAST(floor(p_min * 1e6 + 0.5) AS BIGINT) < 50000, false) AS reject
        |FROM pm ORDER BY day""".stripMargin

  /** Exact Shapley-value channel attribution (Shapley 1953; the
    * cooperative-game credit Zhao–Harinen 2018 popularized for
    * marketing journeys — the axiomatic member of the attribution
    * family, next to [[evtAttribution]]'s last-touch,
    * [[evtAttributionMulti]]'s positional rules, and
    * [[evtMarkovAttribution]]'s removal effect): journeys are events
    * up to the first purchase (the shared convention); the coalition
    * value v(S) counts users who CONVERTED having touched only
    * channels in S (touched-set ⊆ S, the subset test written as
    * `umask | m = m` on both engines); each channel's credit is its
    * exact Shapley value — the factorial-weighted sum of marginal
    * contributions over all coalitions not containing it. Everything
    * past ONE user-keyed journey aggregate is bounded: users collapse
    * to ≤ 2^k (mask, conversions) rows, coalitions enumerate to 2^k,
    * and the marginal sum is a crossJoin of bounded frames (k ≤ 12
    * guarded; k = 4 here) — no driver iteration. Weights stay INTEGER
    * (s!·(k−1−s)! per coalition via `factorial`, the k! normalization
    * applied once at the end), so both engines sum identical integers
    * and divide identically. Users converting with an EMPTY touched
    * set raise every v(S) equally, so they contribute no margin:
    * credits sum to v(full) − v(∅) — efficiency over ATTRIBUTABLE
    * conversions — and `share` normalizes by v(full), NULL when no
    * one converts (CASE-guarded identically in the oracle).
    */
  def evtShapley(s: SparkSession, dir: String): DataFrame =
    shapleySolve(s, shapleyJourneys(Tables.events(s, dir)))

  /** The per-user journey table under [[evtShapley]] — (user_id, conv,
    * touched channel set before the first purchase). The streaming
    * maintainer folds this incrementally (time-ordered batches:
    * array_union while unconverted, frozen after), and
    * [[shapleySolve]] needs nothing else.
    */
  private[queries] def shapleyJourneys(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prior",
        coalesce(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("prior") === 0)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"),
        array_sort(array_distinct(collect_list(
          when(col("event_type") =!= "purchase", col("event_type"))))).as("touched"))
  }

  /** The bounded Shapley tail over the journey table — shared by the
    * batch query and the streaming maintainer's end-of-stream solve.
    */
  private[queries] def shapleySolve(s: SparkSession, journeysRaw: DataFrame): DataFrame = {
    import s.implicits._
    // referenced twice (channel census + masks) behind a stage boundary
    val journeys = Funnel.stageLazy(journeysRaw)
    val channels = journeys.select(explode(col("touched")).as("ch")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val k = channels.length
    require(k <= 12, s"exact Shapley enumerates 2^k coalitions; got k = $k channels")
    if (k == 0)
      return Seq.empty[(String, Double, Double)].toDF("channel", "credit", "share")
    val chDf = broadcast(channels.zipWithIndex.toDF("channel", "c"))
    val ua = journeys.select(col("user_id"), col("conv"),
        explode_outer(col("touched")).as("channel"))
      .join(chDf, Seq("channel"), "left")
      .groupBy("user_id")
      .agg(first("conv").as("conv"),
        coalesce(sum(expr("shiftleft(CAST(1 AS BIGINT), c)")), lit(0L)).as("umask"))
      .groupBy("umask").agg(sum("conv").as("nc")) // ≤ 2^k rows
    val masks = s.range(0, 1L << k).toDF("m")
    val v = masks.join(broadcast(ua), col("umask").bitwiseOR(col("m")) === col("m"), "left")
      .groupBy("m").agg(coalesce(sum("nc"), lit(0L)).as("v"))
    val vfull = v.filter(col("m") === (1L << k) - 1).select(col("v").as("vfull"))
    val kfact = (1 to k).map(_.toLong).product
    val sh = chDf.crossJoin(v.as("a")).crossJoin(v.as("b"))
      .filter(expr("((a.m >> c) & 1) = 0 AND b.m = a.m + shiftleft(CAST(1 AS BIGINT), c)"))
      .groupBy("channel")
      .agg(sum(factorial(bit_count(col("a.m"))) *
        factorial(lit(k - 1) - bit_count(col("a.m"))) * (col("b.v") - col("a.v"))).as("cs"))
    sh.crossJoin(broadcast(vfull))
      .select(col("channel"),
        round(col("cs").cast("double") / lit(kfact.toDouble), 6).as("credit"),
        when(col("vfull") > 0,
          round(col("cs").cast("double") / lit(kfact.toDouble) / col("vfull"), 6)).as("share"))
      .orderBy("channel")
  }

  val evtShapleySql: String =
    Tables.eventsCte +
      """
        |, pre AS (
        |  SELECT user_id, event_type FROM (
        |    SELECT user_id, event_type,
        |      coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |    FROM ev) WHERE prior = 0),
        |cv AS (SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS conv
        |       FROM pre GROUP BY 1),
        |tch AS (SELECT DISTINCT user_id, event_type AS ch FROM pre
        |        WHERE event_type <> 'purchase'),
        |chs AS (SELECT ch, row_number() OVER (ORDER BY ch) - 1 AS c
        |        FROM (SELECT DISTINCT ch FROM tch)),
        |kk AS (SELECT count(*)::INTEGER AS k FROM chs),
        |um AS (SELECT t.user_id, sum(1::BIGINT << chs.c)::BIGINT AS umask
        |       FROM tch t JOIN chs USING (ch) GROUP BY 1),
        |ua AS (SELECT umask, sum(conv)::BIGINT AS nc FROM (
        |         SELECT coalesce(um.umask, 0) AS umask, cv.conv
        |         FROM cv LEFT JOIN um USING (user_id)) GROUP BY 1),
        |m AS (SELECT unnest(range(0, (SELECT 1::BIGINT << k FROM kk))) AS m),
        |v AS (SELECT m.m, coalesce(sum(ua.nc), 0)::BIGINT AS v
        |      FROM m LEFT JOIN ua ON (ua.umask | m.m) = m.m GROUP BY m.m),
        |vf AS (SELECT v.v AS vfull FROM v, kk WHERE v.m = (1::BIGINT << k) - 1),
        |sh AS (SELECT chs.ch AS channel,
        |         sum(factorial(bit_count(a.m)) * factorial(kk.k - 1 - bit_count(a.m))
        |             * (b.v - a.v)) AS cs
        |       FROM chs, kk, v a, v b
        |       WHERE ((a.m >> chs.c) & 1) = 0
        |         AND b.m = a.m + (1::BIGINT << chs.c)
        |       GROUP BY 1)
        |SELECT channel, round(cs::DOUBLE / factorial(k), 6) AS credit,
        |  CASE WHEN vfull > 0
        |       THEN round(cs::DOUBLE / factorial(k) / vfull, 6) END AS share
        |FROM sh, kk, vf ORDER BY channel""".stripMargin

  /** Robust trend battery per event type — Theil–Sen slope (median of
    * the pairwise slopes; Sen 1968) + the Mann–Kendall S test with tie
    * correction and continuity-corrected z (Kendall 1975): the
    * outlier-resistant siblings of [[evtOls]]'s least-squares fit (one
    * wild day drags OLS, moves a median of 435 slopes barely at all).
    * Scale shape: the corpus collapses to the ≤|types|×|days| daily
    * frame FIRST; the pairwise self-join runs on that bounded frame
    * (≤435 pairs per type), never on events. S is an integer sum of
    * signs — engine-exact; the medians interpolate over identical
    * pair-slope doubles (exact integer divisions), so they match
    * bit-for-bit before the round-6.
    */
  def evtTrendRobust(s: SparkSession, dir: String): DataFrame = {
    val daily = Funnel.stageLazy(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y")))
    val m = daily.groupBy("event_type")
      .agg(min("d").as("d0"), count(lit(1)).as("nd"))
    val base = Funnel.stageLazy(daily.join(broadcast(m), Seq("event_type"))
      .select(col("event_type"), datediff(col("d"), col("d0")).cast("long").as("x"),
        col("y")))
    val pairs = base.as("a").join(base.as("b"), Seq("event_type"))
      .filter(col("a.x") < col("b.x"))
      .select(col("event_type"),
        signum((col("b.y") - col("a.y")).cast("double")).cast("long").as("sg"),
        ((col("b.y") - col("a.y")).cast("double")
          / (col("b.x") - col("a.x")).cast("double")).as("sl"))
    val ss = pairs.groupBy("event_type")
      .agg(sum("sg").as("s_stat"), expr("percentile(sl, 0.5D)").as("slope"))
    val tie = base.groupBy("event_type", "y").agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tieterm"))
    val ic = base.join(broadcast(ss.select("event_type", "slope")), Seq("event_type"))
      .groupBy("event_type")
      .agg(expr("percentile(y - slope * x, 0.5D)").as("intercept"))
    val varS = (col("nd") * (col("nd") - 1) * (col("nd") * 2 + 5) - col("tieterm"))
      .cast("double") / 18.0
    val z = when(col("s_stat") > 0, (col("s_stat") - 1).cast("double") / sqrt(varS))
      .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    m.join(ss, Seq("event_type")).join(tie, Seq("event_type")).join(ic, Seq("event_type"))
      .select(col("event_type"), col("nd").as("n_days"), col("s_stat"),
        round(z, 6).as("z"), round(col("slope"), 6).as("slope"),
        round(col("intercept"), 6).as("intercept"),
        (abs(z) > 1.96).as("trend_reject"))
      .orderBy("event_type")
  }

  val evtTrendRobustSql: String =
    Tables.eventsCte +
      """
        |, daily AS (SELECT event_type, ts::DATE AS d, count(*)::BIGINT AS y
        |            FROM ev GROUP BY 1, 2),
        |m AS (SELECT event_type, min(d) AS d0, count(*)::BIGINT AS nd FROM daily GROUP BY 1),
        |base AS (SELECT daily.event_type, datediff('day', d0, d)::BIGINT AS x, y
        |         FROM daily JOIN m USING (event_type)),
        |pr AS (SELECT a.event_type, sign(b.y - a.y)::BIGINT AS sg,
        |         (b.y - a.y)::DOUBLE / (b.x - a.x)::DOUBLE AS sl
        |       FROM base a JOIN base b ON b.event_type = a.event_type AND a.x < b.x),
        |ss AS (SELECT event_type, sum(sg)::BIGINT AS s_stat,
        |         quantile_cont(sl, 0.5) AS slope FROM pr GROUP BY 1),
        |tie AS (SELECT event_type, sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tieterm
        |        FROM (SELECT event_type, y, count(*)::BIGINT AS t FROM base GROUP BY 1, 2)
        |        GROUP BY 1),
        |ic AS (SELECT base.event_type, quantile_cont(y - slope * x, 0.5) AS intercept
        |       FROM base JOIN ss USING (event_type) GROUP BY 1),
        |f AS (SELECT m.event_type, nd, s_stat, slope, intercept,
        |        (nd * (nd - 1) * (2 * nd + 5) - tieterm)::DOUBLE / 18.0 AS var_s
        |      FROM m JOIN ss USING (event_type) JOIN tie USING (event_type)
        |        JOIN ic USING (event_type)),
        |fz AS (SELECT *, CASE WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE / sqrt(var_s)
        |                      WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE / sqrt(var_s)
        |                      ELSE 0.0 END AS z FROM f)
        |SELECT event_type, nd AS n_days, s_stat, round(z, 6) AS z,
        |  round(slope, 6) AS slope, round(intercept, 6) AS intercept,
        |  (abs(z) > 1.96) AS trend_reject
        |FROM fz ORDER BY event_type""".stripMargin

  def evtCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = Funnel.stageLazy(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt")))
    val withMean = daily
      .join(broadcast(daily.groupBy("event_type")
        .agg(sum("cnt").as("tot"), count(lit(1)).as("nd"))), "event_type")
      // scaled deviation: cnt·nd − tot (integer; = (cnt − μ)·nd)
      .select(col("event_type"), col("d"), col("cnt"),
        (col("cnt") * col("nd") - col("tot")).as("dev"),
        col("tot"), col("nd"))
    val wCum = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    withMean
      .withColumn("s", sum("dev").over(wCum))
      .withColumn("cusum_n", col("s") - min("s").over(wCum))
      .select(col("event_type"), col("d").cast("string").as("day"),
        col("cnt").cast("long").as("cnt"),
        col("cusum_n").cast("long").as("cusum_scaled"),
        (col("cusum_n") > col("tot") * 2).as("drift"))
      .orderBy("event_type", "day")
  }

  val evtCusumSql: String =
    Tables.eventsCte +
      """
        |, daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS cnt
        |            FROM ev GROUP BY 1, 2),
        |m AS (SELECT event_type, sum(cnt)::BIGINT AS tot, count(*)::BIGINT AS nd
        |      FROM daily GROUP BY 1),
        |dv AS (SELECT daily.event_type, d, cnt, cnt * nd - tot AS dev, tot
        |       FROM daily JOIN m USING (event_type)),
        |ps AS (SELECT event_type, d, cnt, tot,
        |         sum(dev) OVER w AS s
        |       FROM dv
        |       WINDOW w AS (PARTITION BY event_type ORDER BY d
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |cs AS (SELECT event_type, d, cnt, tot,
        |         s - min(s) OVER w AS cusum_n
        |       FROM ps
        |       WINDOW w AS (PARTITION BY event_type ORDER BY d
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, d::VARCHAR AS day, cnt,
        |  cusum_n::BIGINT AS cusum_scaled, cusum_n > tot * 2 AS drift
        |FROM cs ORDER BY event_type, day""".stripMargin

  /** Binary-segmentation changepoint detection (Scott & Knott 1974;
    * the recursive splitting that CUSUM's single-change statistic does
    * not give): per event type, find the split of the daily-count
    * series that maximizes the between-segment SSE reduction, then
    * re-split each half once — up to 3 changepoints / 4 segments.
    *
    * Exactness device: for a candidate split of a segment the SSE
    * reduction is monotone in (sl²·nr + sr²·nl)/(nl·nr) with sl/sr the
    * EXACT integer prefix sums and nl/nr the piece lengths — one
    * integer polynomial and ONE IEEE division per candidate, rounded to
    * 6 before the argmax (day-index tie-break), so both engines pick
    * identical splits. Needs tot²·n_days < 2⁶³ (tot < 5.5e8 for a
    * month grid) — cast the polynomial to DECIMAL beyond that.
    *
    * Scale: everything after the daily rollup lives on the bounded
    * per-type grid (≤ n_days rows per type); every join is
    * event_type-keyed and broadcast. Output: the segment table
    * (start/end/days/count/mean) per type.
    */
  def evtBinseg(s: SparkSession, dir: String): DataFrame =
    binsegFromDaily(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt")))

  /** [[evtBinseg]]'s solve over a (event_type, d, cnt) daily grid — the
    * grid is an additive count table, so a streaming maintainer
    * sum-merges per-batch partials and reuses this tail verbatim.
    */
  private[queries] def binsegFromDaily(daily: DataFrame): DataFrame =
    binsegAssign(daily)
      .groupBy(col("event_type"), col("seg"))
      .agg(min("d").cast("string").as("seg_start"),
        max("d").cast("string").as("seg_end"),
        count(lit(1)).as("n_days"), sum("cnt").as("seg_cnt"))
      .select(col("event_type"), col("seg"), col("seg_start"), col("seg_end"),
        col("n_days"), col("seg_cnt").cast("long").as("seg_cnt"),
        round(col("seg_cnt").cast("double") / col("n_days"), 6).as("seg_mean"))
      .orderBy("event_type", "seg")

  /** The split recursion alone: the daily grid with each day's segment
    * id (and its day index `i`) — the shared head of [[evtBinseg]]'s
    * segment report and [[evtBinsegTrend]]'s per-segment fits.
    */
  private[queries] def binsegAssign(daily: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("event_type").orderBy("d")
    val grid = Funnel.stageLazy(daily
      .select(col("event_type"), col("d"), col("cnt"),
        row_number().over(wOrd).cast("long").as("i"),
        sum("cnt").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)).as("ps")))
    val tot = grid.groupBy("event_type").agg(max("i").as("n"), max("ps").as("tot"))
    def crit(sl: Column, nl: Column, sr: Column, nr: Column): Column =
      round((sl * sl * nr + sr * sr * nl).cast("double") / (nl * nr).cast("double"), 6)
    val g0 = grid.join(broadcast(tot), "event_type")
    val t1 = g0.filter(col("i") < col("n"))
      .groupBy("event_type")
      .agg(max_by(col("i"), struct(
        crit(col("ps"), col("i"), col("tot") - col("ps"), col("n") - col("i")),
        -col("i"))).as("t1"))
    val st1 = g0.join(broadcast(t1), "event_type")
      .filter(col("i") === col("t1"))
      .select(col("event_type"), col("t1"), col("ps").as("st1"))
    val g1 = g0.join(broadcast(st1), "event_type")
    val t2a = g1.filter(col("i") < col("t1"))
      .groupBy("event_type")
      .agg(max_by(col("i"), struct(
        crit(col("ps"), col("i"), col("st1") - col("ps"), col("t1") - col("i")),
        -col("i"))).as("t2a"))
    val t2b = g1.filter(col("i") > col("t1") && col("i") < col("n"))
      .groupBy("event_type")
      .agg(max_by(col("i"), struct(
        crit(col("ps") - col("st1"), col("i") - col("t1"),
          col("tot") - col("ps"), col("n") - col("i")),
        -col("i"))).as("t2b"))
    val far = lit(Long.MaxValue)
    grid.join(broadcast(t1), Seq("event_type"), "left")
      .join(broadcast(t2a), Seq("event_type"), "left")
      .join(broadcast(t2b), Seq("event_type"), "left")
      .select(col("event_type"), col("d"), col("i"), col("cnt"),
        (when(col("i") > coalesce(col("t2a"), far), 1L).otherwise(0L)
          + when(col("i") > coalesce(col("t1"), far), 1L).otherwise(0L)
          + when(col("i") > coalesce(col("t2b"), far), 1L).otherwise(0L)).as("seg"))
  }

  /** Piecewise-linear trend: the [[evtBinseg]] changepoints, then an
    * EXACT-integer OLS line per segment over (day index, count) — the
    * changepoint-plus-trend readout a forecasting pipeline anchors on
    * (the prophet-style piecewise trend, grounded on the detected
    * splits rather than a fixed knot grid). slope and intercept are
    * closed-form integer ratios (nΣxy − ΣxΣy and ΣyΣx² − ΣxΣxy over
    * nΣx² − (Σx)²) — exact BIGINT moments, ONE IEEE division each,
    * round-6; a 1-day segment has denominator 0 and reports NULLs.
    */
  def evtBinsegTrend(s: SparkSession, dir: String): DataFrame = {
    val segs = binsegAssign(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt")))
    segs.groupBy(col("event_type"), col("seg"))
      .agg(count(lit(1)).as("n"), sum("i").as("sx"), sum("cnt").as("sy"),
        sum(col("i") * col("cnt")).as("sxy"), sum(col("i") * col("i")).as("sxx"))
      .select(col("event_type"), col("seg"), col("n").as("n_days"),
        when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0L,
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
          .as("slope"),
        when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0L,
          round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
          .as("intercept"))
      .orderBy("event_type", "seg")
  }

  val evtBinsegSql: String =
    Tables.eventsCte +
      """
        |, daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS cnt
        |            FROM ev GROUP BY 1, 2),
        |grid AS (SELECT event_type, d, cnt,
        |           (row_number() OVER w)::BIGINT AS i,
        |           (sum(cnt) OVER (PARTITION BY event_type ORDER BY d
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS ps
        |         FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |tot AS (SELECT event_type, max(i) AS n, max(ps) AS tot FROM grid GROUP BY 1),
        |c1 AS (SELECT g.event_type, i,
        |         round((ps*ps*(n-i) + (tot-ps)*(tot-ps)*i)::DOUBLE / (i*(n-i)), 6) AS crit
        |       FROM grid g JOIN tot USING (event_type) WHERE i < n),
        |t1 AS (SELECT event_type, i AS t1 FROM (
        |         SELECT event_type, i,
        |           row_number() OVER (PARTITION BY event_type ORDER BY crit DESC, i) AS rn
        |         FROM c1) WHERE rn = 1),
        |st1 AS (SELECT g.event_type, t.t1, g.ps AS st1
        |        FROM grid g JOIN t1 t USING (event_type) WHERE g.i = t.t1),
        |c2a AS (SELECT g.event_type, i,
        |          round((ps*ps*(t1-i) + (st1-ps)*(st1-ps)*i)::DOUBLE / (i*(t1-i)), 6) AS crit
        |        FROM grid g JOIN st1 USING (event_type) WHERE i < t1),
        |t2a AS (SELECT event_type, i AS t2a FROM (
        |          SELECT event_type, i,
        |            row_number() OVER (PARTITION BY event_type ORDER BY crit DESC, i) AS rn
        |          FROM c2a) WHERE rn = 1),
        |c2b AS (SELECT g.event_type, i,
        |          round(((ps-st1)*(ps-st1)*(n-i) + (tot-ps)*(tot-ps)*(i-t1))::DOUBLE
        |                / ((i-t1)*(n-i)), 6) AS crit
        |        FROM grid g JOIN st1 USING (event_type) JOIN tot USING (event_type)
        |        WHERE i > t1 AND i < n),
        |t2b AS (SELECT event_type, i AS t2b FROM (
        |          SELECT event_type, i,
        |            row_number() OVER (PARTITION BY event_type ORDER BY crit DESC, i) AS rn
        |          FROM c2b) WHERE rn = 1),
        |segd AS (SELECT g.event_type, g.d, g.i, g.cnt,
        |           ((CASE WHEN g.i > coalesce(a.t2a, 9223372036854775807) THEN 1 ELSE 0 END)
        |            + (CASE WHEN g.i > coalesce(t.t1, 9223372036854775807) THEN 1 ELSE 0 END)
        |            + (CASE WHEN g.i > coalesce(b.t2b, 9223372036854775807) THEN 1 ELSE 0 END))::BIGINT AS seg
        |         FROM grid g
        |         LEFT JOIN t1 t USING (event_type)
        |         LEFT JOIN t2a a USING (event_type)
        |         LEFT JOIN t2b b USING (event_type))
        |SELECT event_type, seg, min(d)::VARCHAR AS seg_start, max(d)::VARCHAR AS seg_end,
        |  count(*)::BIGINT AS n_days, sum(cnt)::BIGINT AS seg_cnt,
        |  round(sum(cnt)::DOUBLE / count(*), 6) AS seg_mean
        |FROM segd GROUP BY 1, 2 ORDER BY event_type, seg""".stripMargin

  /** [[evtBinsegTrend]]'s oracle: the binseg CTE chain (everything up
    * to the final SELECT, reused by string surgery so the split logic
    * cannot drift between the two statements) with the per-segment
    * exact-moment OLS tail.
    */
  val evtBinsegTrendSql: String =
    evtBinsegSql.substring(0, evtBinsegSql.lastIndexOf("SELECT event_type, seg,")) +
      """SELECT event_type, seg, count(*)::BIGINT AS n_days,
        |  CASE WHEN count(*) * sum(i*i) - sum(i) * sum(i) <> 0
        |       THEN round((count(*) * sum(i*cnt) - sum(i) * sum(cnt))::DOUBLE
        |              / (count(*) * sum(i*i) - sum(i) * sum(i)), 6) END AS slope,
        |  CASE WHEN count(*) * sum(i*i) - sum(i) * sum(i) <> 0
        |       THEN round((sum(cnt) * sum(i*i) - sum(i) * sum(i*cnt))::DOUBLE
        |              / (count(*) * sum(i*i) - sum(i) * sum(i)), 6) END AS intercept
        |FROM segd GROUP BY 1, 2 ORDER BY event_type, seg""".stripMargin

  /** Exponentially-weighted moving average with a HALVING decay
    * (α = 1/2) over daily counts — the smoothing recurrence
    * ewma_t = (x_t + ewma_{t−1})/2 closed-form-unrolled as
    * ewma_t = Σ x_k·2^k / 2^(t+1) over a day-indexed prefix sum:
    * one running window over integer-scaled terms (x·2^k is exact
    * BIGINT for a month of days), one dyadic division at the end —
    * every value an exact dyadic rational both engines represent
    * bit-for-bit. The α = 1/2 choice is what makes an EWMA
    * integer-portable at all: any other decay turns the recurrence
    * into transcendental powers whose libm rounding differs across
    * engines.
    */
  def evtEwma(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val wIdx = Window.partitionBy("event_type").orderBy("d")
    val wCum = wIdx.rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("k", row_number().over(wIdx) - 1)
      // the 2^k scaling overflows BIGINT past ~62 days — fail fast
      // rather than wrap (the no-silent-caps discipline); a longer
      // horizon needs the windowed-renormalization variant
      .filter(coalesce(assert_true(col("k") < 62,
        lit("evtEwma: day span exceeds the 62-day scaled-accumulator bound")), lit(true)))
      .withColumn("term", col("cnt") * expr("shiftleft(1L, cast(k AS int))"))
      .withColumn("acc", sum("term").over(wCum))
      .select(col("event_type"), col("d").cast("string").as("day"),
        col("cnt").cast("long").as("cnt"),
        (col("acc").cast("double")
          / expr("cast(shiftleft(1L, cast(k + 1 AS int)) AS double)")).as("ewma"))
      .orderBy("event_type", "day")
  }

  val evtEwmaSql: String =
    Tables.eventsCte +
      """
        |, daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS cnt
        |            FROM ev GROUP BY 1, 2),
        |ix AS (SELECT event_type, d, cnt,
        |         row_number() OVER (PARTITION BY event_type ORDER BY d) - 1 AS k
        |       FROM daily),
        |cs AS (SELECT event_type, d, cnt, k,
        |         sum(cnt * (1::BIGINT << k)) OVER (PARTITION BY event_type ORDER BY d
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc
        |       FROM ix)
        |SELECT event_type, d::VARCHAR AS day, cnt,
        |  acc::DOUBLE / (1::BIGINT << (k + 1))::DOUBLE AS ewma
        |FROM cs ORDER BY event_type, day""".stripMargin

  /** Hourly resampling with forward fill — the time-series
    * regularization every feature pipeline needs before windowed
    * models (gap-fill to a fixed grid, carry the last observation
    * forward): per-user hourly grid from a one-row bounds aggregate
    * exploded with `sequence`, left-joined to the observed hourly
    * rollup, then ONE user-keyed `last(ignoreNulls)` running window
    * fills the gaps. Grid size is (span × keys), independent of event
    * volume; the probe set keeps the demo output bounded.
    */
  def evtResample(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id") < 20)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"), col("value"))
    val obs = ev.groupBy("user_id", "h").agg(round(sum("value"), 4).as("v"))
    val grid = ev.groupBy("user_id")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(obs, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h").cast("string").as("hr"),
        last("v", ignoreNulls = true).over(w).as("val"),
        col("v").isNull.as("filled"))
      .orderBy("user_id", "hr")
  }

  val evtResampleSql: String =
    Tables.eventsCte +
      """
        |, e2 AS (SELECT user_id, date_trunc('hour', ts) AS h, value
        |         FROM ev WHERE user_id < 20),
        |obs AS (SELECT user_id, h, round(sum(value), 4) AS v FROM e2 GROUP BY 1, 2),
        |grid AS (SELECT user_id, unnest(generate_series(min(h), max(h),
        |           INTERVAL '1 hour')) AS h
        |         FROM e2 GROUP BY user_id)
        |SELECT grid.user_id, grid.h::VARCHAR AS hr,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY grid.user_id ORDER BY grid.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val,
        |  v IS NULL AS filled
        |FROM grid LEFT JOIN obs USING (user_id, h)
        |ORDER BY user_id, hr""".stripMargin

  /** Hashed user feature vectors (see
    * [[graft.operators.Curation.featureHash]]): each event contributes
    * three categorical features (type, hour-of-day, day-of-week) that
    * hash into a 32-dim signed count vector per user — the
    * vocabulary-free featurization a 100-TB training pipeline feeds
    * its downstream models. Oracle replays the md5 index/sign
    * arithmetic exactly (the portable-hash idiom the sketch family
    * established).
    */
  def evtFeatureHash(s: SparkSession, dir: String): DataFrame = {
    val feats = Tables.events(s, dir)
      .select(col("user_id"), explode(array(
        concat(lit("t:"), col("event_type")),
        concat(lit("h:"), hour(col("ts"))),
        concat(lit("d:"), dayofweek(col("ts"))))).as("f"))
    graft.operators.Curation.featureHash(feats, "user_id", "f", dim = 32)
      .select(col("key").as("user_id"), col("dim"), col("val"))
      .orderBy("user_id", "dim")
  }

  val evtFeatureHashSql: String =
    Tables.eventsCte +
      """
        |, f AS (SELECT user_id, unnest(['t:' || event_type,
        |    'h:' || hour(ts)::VARCHAR,
        |    'd:' || (dayofweek(ts) + 1)::VARCHAR]) AS f -- Spark dayofweek is 1-based
        |  FROM ev),
        |h AS (SELECT user_id,
        |        ('0x' || substr(md5(f), 1, 15))::BIGINT % 32 AS dim,
        |        (('0x' || substr(md5('s|' || f), 1, 15))::BIGINT % 2) * 2 - 1 AS sgn
        |      FROM f)
        |SELECT user_id, dim, sum(sgn)::BIGINT AS val
        |FROM h GROUP BY 1, 2 ORDER BY user_id, dim""".stripMargin

  /** Percentile winsorization — the feature-cleaning staple (clip a
    * value column at its per-group [p05, p95] before aggregation so a
    * handful of outliers can't own the sum): per-type exact
    * percentiles (both engines use the same (n−1)·p linear
    * interpolation), bounds rounded to 6 and broadcast back, rows
    * clipped with least/greatest, and the report shows how much mass
    * the clip moved. One scan + one tiny aggregate join.
    */
  def evtWinsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("event_type", "value")
    val bounds = ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.05)"), 6).as("lo"),
        round(expr("percentile(value, 0.95)"), 6).as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .select(col("event_type"), col("value"), col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("value"))).as("clipped"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_high"),
        round(sum("value"), 2).as("sum_raw"),
        round(sum("clipped"), 2).as("sum_clipped"))
      .orderBy("event_type")
  }

  val evtWinsorizeSql: String =
    Tables.eventsCte +
      """
        |, b AS (SELECT event_type,
        |          round(quantile_cont(value, 0.05), 6) AS lo,
        |          round(quantile_cont(value, 0.95), 6) AS hi
        |        FROM ev GROUP BY 1)
        |SELECT ev.event_type, count(*)::BIGINT AS n,
        |  sum(CASE WHEN value < lo THEN 1 ELSE 0 END)::BIGINT AS n_low,
        |  sum(CASE WHEN value > hi THEN 1 ELSE 0 END)::BIGINT AS n_high,
        |  round(sum(value), 2) AS sum_raw,
        |  round(sum(greatest(lo, least(hi, value))), 2) AS sum_clipped
        |FROM ev JOIN b USING (event_type)
        |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** PIVOT — long-to-wide rotation (the Table-API `pivot` every BI
    * hand-off needs; Spark's `RelationalGroupedDataset.pivot`): daily
    * event counts rotated to one column per event type. The value list
    * is EXPLICIT, which is the scale discipline: without it Spark runs
    * a prior distinct-collect job over the full corpus to discover the
    * columns; with it the pivot is a single map-side-combined hash
    * aggregate — one shuffle of (day → 5 longs), never wider than the
    * declared schema. Absent cells are 0-filled (a day with no errors
    * is zero errors, not null).
    */
  def evtPivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  val evtPivotSql: String =
    Tables.eventsCte +
      """
        |SELECT CAST(ts AS DATE)::VARCHAR AS day,
        |  count(*) FILTER (event_type = 'click')::BIGINT AS click,
        |  count(*) FILTER (event_type = 'error')::BIGINT AS error,
        |  count(*) FILTER (event_type = 'purchase')::BIGINT AS purchase,
        |  count(*) FILTER (event_type = 'signup')::BIGINT AS signup,
        |  count(*) FILTER (event_type = 'view')::BIGINT AS view
        |FROM ev GROUP BY 1 ORDER BY day""".stripMargin

  /** MELT / UNPIVOT — the inverse rotation (`Dataset.unpivot`, the SQL
    * UNPIVOT clause): the pivoted wide frame back to tidy long form,
    * densified — every (day, type) cell materializes, zeros included,
    * which is exactly what the wide→long round trip adds over a plain
    * groupBy (a model-input grid needs the explicit zeros). Unpivot is
    * a zero-shuffle generator expression over the wide aggregate: the
    * only exchange in the plan is the pivot's own.
    */
  def evtMelt(s: SparkSession, dir: String): DataFrame =
    evtPivot(s, dir)
      .unpivot(Array(col("day")),
        Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
        "event_type", "cnt")
      .orderBy("day", "event_type")

  val evtMeltSql: String =
    Tables.eventsCte +
      """
        |, days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM ev),
        |types AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
        |daily AS (SELECT CAST(ts AS DATE) AS d, event_type, count(*)::BIGINT AS cnt
        |          FROM ev GROUP BY 1, 2)
        |SELECT days.d::VARCHAR AS day, types.event_type AS event_type,
        |  coalesce(daily.cnt, 0)::BIGINT AS cnt
        |FROM days CROSS JOIN types
        |LEFT JOIN daily ON daily.d = days.d AND daily.event_type = types.event_type
        |ORDER BY day, types.event_type""".stripMargin

  /** Autocorrelation function at lags 1–7 of the per-type daily count
    * series — the periodicity probe run before any seasonal model.
    * Integer-portable by the same scaling as [[evtCusum]]: deviations
    * dev = cnt·nd − tot clear the mean's denominator, so
    * acf_k = Σ dev_i·dev_{i−k} / Σ dev_i² is one exact-BIGINT
    * numerator and denominator per (type, lag) and a single double
    * division both engines round identically. ONE type-keyed window
    * pass materializes all 7 lag columns; `stack` unpivots them in the
    * same stage (no per-lag scan); the denominator is a 5-row
    * broadcast. Scaled products stay in BIGINT while cnt·nd ≲ 3·10⁹ —
    * far past any daily-count series this shape aggregates to.
    */
  def evtAcf(s: SparkSession, dir: String): DataFrame = {
    val daily = Funnel.stageLazy(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt")))
    val tot = daily.groupBy("event_type")
      .agg(sum("cnt").as("tot"), count(lit(1)).as("nd"))
    val dv = daily.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("d"),
        (col("cnt") * col("nd") - col("tot")).as("dev"))
    val w = Window.partitionBy("event_type").orderBy("d")
    val withLags = (1 to 7).foldLeft(dv) { (df, k) =>
      df.withColumn(s"l$k", lag("dev", k).over(w))
    }
    val num = withLags
      .select(col("event_type"), expr(
        "stack(7, " + (1 to 7).map(k => s"$k, dev * l$k").mkString(", ") +
          ") AS (lag, term)"))
      .groupBy("event_type", "lag").agg(sum("term").as("num"))
    val den = dv.groupBy("event_type").agg(sum(col("dev") * col("dev")).as("den"))
    num.join(broadcast(den), "event_type")
      .select(col("event_type"), col("lag").cast("long").as("lag"),
        (col("num").cast("double") / col("den").cast("double")).as("acf"))
      .orderBy("event_type", "lag")
  }

  val evtAcfSql: String =
    Tables.eventsCte +
      """
        |, daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS cnt
        |            FROM ev GROUP BY 1, 2),
        |m AS (SELECT event_type, sum(cnt)::BIGINT AS tot, count(*)::BIGINT AS nd
        |      FROM daily GROUP BY 1),
        |dv AS (SELECT daily.event_type, cnt * nd - tot AS dev,
        |         row_number() OVER (PARTITION BY daily.event_type ORDER BY d) AS i
        |       FROM daily JOIN m USING (event_type)),
        |lags AS (SELECT unnest(range(1, 8)) AS lag),
        |num AS (SELECT a.event_type, lags.lag, sum(a.dev * b.dev)::BIGINT AS num
        |        FROM dv a CROSS JOIN lags
        |        JOIN dv b ON b.event_type = a.event_type AND b.i = a.i - lags.lag
        |        GROUP BY 1, 2),
        |den AS (SELECT event_type, sum(dev * dev)::BIGINT AS den FROM dv GROUP BY 1)
        |SELECT num.event_type, lag::BIGINT AS lag,
        |  num::DOUBLE / den::DOUBLE AS acf
        |FROM num JOIN den USING (event_type)
        |ORDER BY event_type, lag""".stripMargin

  /** Day-of-week seasonal indices — the multiplicative seasonal profile
    * (weekday mean over overall mean) per event type, the
    * decomposition step feeding [[evtResample]]-style feature grids.
    * Exact-ratio form: index = (sum_wd · n_all) / (n_wd · sum_all) —
    * four small integers cross-multiplied so the only float op is the
    * final division. Two tiny aggregates over the staged daily rollup;
    * the weekday key is ISO (1 = Monday) on both engines.
    */
  def evtSeasonal(s: SparkSession, dir: String): DataFrame = {
    val daily = Funnel.stageLazy(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt")))
    val wd = daily.groupBy(col("event_type"), (weekday(col("d")) + 1).as("dow"))
      .agg(sum("cnt").as("s_wd"), count(lit(1)).as("n_wd"))
    val tot = daily.groupBy("event_type")
      .agg(sum("cnt").as("s_all"), count(lit(1)).as("n_all"))
    wd.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("dow").cast("long").as("dow"),
        col("n_wd").cast("long").as("ndays"),
        ((col("s_wd") * col("n_all")).cast("double")
          / (col("n_wd") * col("s_all")).cast("double")).as("sidx"))
      .orderBy("event_type", "dow")
  }

  val evtSeasonalSql: String =
    Tables.eventsCte +
      """
        |, daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS cnt
        |            FROM ev GROUP BY 1, 2),
        |wd AS (SELECT event_type, date_part('isodow', d)::BIGINT AS dow,
        |         sum(cnt)::BIGINT AS s_wd, count(*)::BIGINT AS n_wd
        |       FROM daily GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(cnt)::BIGINT AS s_all, count(*)::BIGINT AS n_all
        |      FROM daily GROUP BY 1)
        |SELECT wd.event_type, dow, n_wd AS ndays,
        |  (s_wd * n_all)::DOUBLE / (n_wd * s_all)::DOUBLE AS sidx
        |FROM wd JOIN t USING (event_type)
        |ORDER BY event_type, dow""".stripMargin

  /** Classical additive seasonal DECOMPOSITION over the daily counts —
    * the full trend/seasonal/residual split behind [[evtSeasonal]]'s
    * profile (Cleveland 1990's STL ancestor, the moving-average
    * decomposition): trend = centered 7-day moving average (warm rows
    * only — a full window), seasonal = the per-ISO-weekday mean of the
    * detrended series (uncentered convention, documented), residual =
    * the rest, flagged by the [[evtRobustZ]] median/MAD robust score.
    * Engine portability by construction: the detrended value is kept
    * in INTEGER space as dev7 = 7·cnt − Σ₇cnt, the seasonal mean is
    * one division of two exact integers, trend is tsum/7.0, and the
    * residual is a single IEEE chain over those — identical doubles on
    * both engines, so no rounding is needed anywhere except the
    * robust-z floor-quantization shared with the oracle. Distributed
    * shape: one staged daily rollup (the corpus crosses once), then
    * ≤150-row window/aggregate algebra.
    */
  def evtStl(s: SparkSession, dir: String): DataFrame =
    stlFromDaily(Funnel.stageLazy(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))))

  /** The decomposition tail over the ADDITIVE (event_type, day, cnt)
    * grid — shared by the batch query and the streaming maintainer's
    * end-of-stream solve (the grid sum-merges per batch, like the
    * [[evtAnomaly]] hour grid).
    */
  private[queries] def stlFromDaily(daily: DataFrame): DataFrame = {
    val w7 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    val warm = daily
      .withColumn("tsum", sum("cnt").over(w7))
      .withColumn("nw", count(lit(1)).over(w7))
      .filter(col("nw") === 7)
      .withColumn("dow", weekday(col("d")) + 1)
      .withColumn("dev7", col("cnt") * 7 - col("tsum"))
    val sea = warm.groupBy("event_type", "dow")
      .agg(sum("dev7").as("num"), count(lit(1)).as("ndw"))
    val j = warm.join(broadcast(sea), Seq("event_type", "dow"))
      .withColumn("trend", col("tsum") / 7.0)
      .withColumn("seasonal",
        col("num").cast("double") / (col("ndw") * 7).cast("double"))
      .withColumn("resid", col("cnt") - col("trend") - col("seasonal"))
    val med = j.groupBy("event_type").agg(expr("percentile(resid, 0.5)").as("med"))
    val mad = j.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(first("med").as("med"),
        expr("percentile(abs(resid - med), 0.5)").as("mad"))
    j.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("d").cast("string").as("day"),
        col("cnt").cast("long").as("cnt"),
        col("trend"), col("seasonal"), col("resid"),
        coalesce(abs(when(col("mad") > 0,
          floor(lit(0.6745) * (col("resid") - col("med")) / col("mad") * 1000 + 0.5)
            .cast("long"))) >= 3500, lit(false)).as("anomaly"))
      .orderBy("event_type", "day")
  }

  val evtStlSql: String =
    Tables.eventsCte +
      """
        |, daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS cnt
        |            FROM ev GROUP BY 1, 2),
        |t AS (SELECT event_type, d, cnt,
        |        sum(cnt) OVER w AS tsum, count(*) OVER w AS nw
        |      FROM daily
        |      WINDOW w AS (PARTITION BY event_type ORDER BY d
        |                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |warm AS (SELECT event_type, d, cnt, tsum,
        |           date_part('isodow', d)::BIGINT AS dow,
        |           7 * cnt - tsum AS dev7
        |         FROM t WHERE nw = 7),
        |sea AS (SELECT event_type, dow, sum(dev7)::BIGINT AS num,
        |          count(*)::BIGINT AS ndw
        |        FROM warm GROUP BY 1, 2),
        |j AS (SELECT warm.event_type, d, cnt, tsum / 7.0 AS trend,
        |        num::DOUBLE / (ndw * 7)::DOUBLE AS seasonal,
        |        cnt - tsum / 7.0 - num::DOUBLE / (ndw * 7)::DOUBLE AS resid
        |      FROM warm JOIN sea USING (event_type, dow)),
        |m AS (SELECT event_type, quantile_cont(resid, 0.5) AS med FROM j GROUP BY 1),
        |md AS (SELECT j.event_type, any_value(med) AS med,
        |         quantile_cont(abs(resid - med), 0.5) AS mad
        |       FROM j JOIN m USING (event_type) GROUP BY 1)
        |SELECT j.event_type, d::VARCHAR AS day, cnt, trend, seasonal, resid,
        |  coalesce(abs(CASE WHEN mad > 0
        |        THEN CAST(floor(0.6745 * (resid - med) / mad * 1000 + 0.5) AS BIGINT)
        |        END) >= 3500, false) AS anomaly
        |FROM j JOIN md USING (event_type)
        |ORDER BY event_type, day""".stripMargin

  /** Seasonal-naive forecast backtest — the baseline every forecasting
    * pipeline must beat, evaluated the honest way: predict each day's
    * count from the same weekday last week (lag 7) vs the plain naive
    * lag 1, score both by MAE over the SAME support (days where both
    * predictions exist), declare the winner. All errors are integer
    * sums; the MAEs are single divisions of exact longs. One window
    * pass produces both lag columns; the scoreboard is a 5-row
    * aggregate.
    */
  /** One emitted Holt–Winters state row per day (milli-count units). */
  final case class HwRow(event_type: String, day: String, cnt: Long,
      fitted_m: Long, level_m: Long, trend_m: Long, seasonal_m: Long)

  /** Additive Holt–Winters (triple exponential smoothing, Winters 1960)
    * over the per-type daily grid — the FORECASTING leg of the
    * time-series family (STL decomposes, EWMA smooths, this one carries
    * level+trend+weekly-season state and scores a one-step-ahead fit
    * per day). α=0.5, β=0.3, γ=0.2, season m=7 on the per-type day
    * SEQUENCE (row index, so a gapped grid stays engine-identical).
    * Init: level = half-up mean of season 1, trend = half-up
    * (mean(season 2) − mean(season 1))/7, seasonals = season-1
    * deviations; the recursion re-walks from day 8. All state is exact
    * integer milli-counts with one shared half-up rounding
    * floor((2·num+den)/(2·den)) per update — the walk is bit-identical
    * on both engines, so the DuckDB oracle replays it with a recursive
    * CTE carrying the 7-slot seasonal ring as columns.
    *
    * 100-TB posture: the grid is bounded (|types| × |days|); the
    * sequential walk runs inside flatMapGroups per type — the corpus
    * aggregates once, nothing driver-side, no unbounded state.
    */
  private[graft] def hwFromDaily(daily: DataFrame): DataFrame = {
    val sp = daily.sparkSession
    import sp.implicits._
    // the numerator stays EXACT in Long (the oracle's BIGINT 2*num+den)
    // and converts to double once, mirroring DuckDB's single
    // int→double rounding point (r10 review: 2.0*num would round
    // BEFORE the +den for counts past 2^52)
    def rh(num: Long, den: Long): Long =
      math.floor((2L * num + den).toDouble / (2.0 * den)).toLong
    daily
      .select(col("event_type").cast("string"),
        col("d").cast("date").cast("string"), col("cnt").cast("long"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (etype: String, it: Iterator[(String, String, Long)]) =>
        val seqd = it.toIndexedSeq.sortBy(_._2)
        if (seqd.length < 14) Iterator.empty
        else {
          val y = seqd.map(_._3 * 1000L).toArray
          val s1 = y.slice(0, 7).sum
          val s2 = y.slice(7, 14).sum
          var level = rh(s1, 7)
          var trend = rh(s2 - s1, 49)
          val season = Array.tabulate(7)(i => y(i) - level)
          val out = Seq.newBuilder[HwRow]
          var d = 7
          while (d < y.length) {
            val sOld = season(d % 7)
            val fitted = level + trend + sOld
            val l0 = level
            level = rh(5 * (y(d) - sOld) + 5 * (level + trend), 10)
            trend = rh(3 * (level - l0) + 7 * trend, 10)
            val sNew = rh(2 * (y(d) - level) + 8 * sOld, 10)
            season(d % 7) = sNew
            out += HwRow(etype, seqd(d)._2, seqd(d)._3, fitted, level, trend, sNew)
            d += 1
          }
          out.result().iterator
        }
      }
      .toDF()
      .orderBy("event_type", "day")
  }

  def evtHoltWinters(s: SparkSession, dir: String): DataFrame =
    hwFromDaily(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt")))

  val evtHoltWintersSql: String = {
    val lnew = "CAST(floor((2*(5*(b.y - w.s1) + 5*(w.level + w.trend)) + 10) / 20.0) AS BIGINT)"
    val tnew = s"CAST(floor((2*(3*($lnew - w.level) + 7*w.trend) + 10) / 20.0) AS BIGINT)"
    val snew = s"CAST(floor((2*(2*(b.y - $lnew) + 8*w.s1) + 10) / 20.0) AS BIGINT)"
    Tables.eventsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s"""
         |, daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS cnt
         |            FROM ev GROUP BY 1, 2),
         |g AS (SELECT event_type, d, cnt, cnt * 1000 AS y,
         |        row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
         |      FROM daily),
         |sums AS (
         |  SELECT event_type,
         |    sum(y) FILTER (WHERE rn <= 7) AS w1,
         |    sum(y) FILTER (WHERE rn BETWEEN 8 AND 14) AS w2,
         |    max(y) FILTER (WHERE rn = 1) AS y1, max(y) FILTER (WHERE rn = 2) AS y2,
         |    max(y) FILTER (WHERE rn = 3) AS y3, max(y) FILTER (WHERE rn = 4) AS y4,
         |    max(y) FILTER (WHERE rn = 5) AS y5, max(y) FILTER (WHERE rn = 6) AS y6,
         |    max(y) FILTER (WHERE rn = 7) AS y7
         |  FROM g GROUP BY 1 HAVING count(*) >= 14),
         |init AS (
         |  SELECT event_type,
         |    CAST(floor((2*w1 + 7) / 14.0) AS BIGINT) AS level0,
         |    CAST(floor((2*(w2 - w1) + 49) / 98.0) AS BIGINT) AS trend0,
         |    y1, y2, y3, y4, y5, y6, y7
         |  FROM sums),
         |walk AS (
         |  SELECT event_type, 7 AS rn, NULL::DATE AS d, NULL::BIGINT AS cnt,
         |    NULL::BIGINT AS fitted, level0 AS level, trend0 AS trend,
         |    y1 - level0 AS s1, y2 - level0 AS s2, y3 - level0 AS s3,
         |    y4 - level0 AS s4, y5 - level0 AS s5, y6 - level0 AS s6,
         |    y7 - level0 AS s7
         |  FROM init
         |  UNION ALL
         |  SELECT w.event_type, b.rn, b.d, b.cnt,
         |    w.level + w.trend + w.s1 AS fitted,
         |    $lnew AS level, $tnew AS trend,
         |    w.s2, w.s3, w.s4, w.s5, w.s6, w.s7, $snew AS s7
         |  FROM walk w JOIN g b ON b.event_type = w.event_type AND b.rn = w.rn + 1)
         |SELECT event_type, d::VARCHAR AS day, cnt,
         |  fitted AS fitted_m, level AS level_m, trend AS trend_m, s7 AS seasonal_m
         |FROM walk WHERE rn >= 8
         |ORDER BY event_type, day""".stripMargin
  }

  /** One burst-automaton row per (type, day). */
  final case class BurstRow(event_type: String, day: String, y: Long,
      state: Long, burst_id: Long)

  /** Kleinberg burst detection (Kleinberg 2002, "Bursty and
    * Hierarchical Structure in Streams" — the enumerating two-state
    * automaton, batched/binomial variant): per event type, each day d
    * contributes y_d type events out of n_d total events; state 0 emits
    * at the type's base rate p0 = Σy/Σn, state 1 at p1 = 2·p0;
    * entering the burst state costs ln T. The Viterbi walk minimizes
    * Σ −ln P(y_d | p_state) + transitions, and the emitted per-day
    * state marks the burst intervals (islands numbered per type).
    *
    * Portability: p0 is one exact IEEE division of BIGINT sums and
    * p1 = 2·p0 is exact (power-of-two multiply); per-day costs quantize
    * to integer micro-nats with ONE shared expression order, so the DP
    * runs on exact integers and both engines walk identically. The
    * oracle replays the forward DP with a recursive CTE carrying the
    * per-day argmin choices, then backtracks with a second (descending)
    * recursion.
    *
    * 100-TB posture: the automaton runs on the bounded (types × days)
    * grid inside flatMapGroups per type — the corpus aggregates once;
    * nothing scales with rows.
    */
  private[graft] def burstsFromDaily(daily: DataFrame): DataFrame = {
    // complete the grid: a type missing on a day is y = 0 (bounded
    // |types| × |days| cross of two aggregate frames)
    val sp = daily.sparkSession
    import sp.implicits._
    val totals = daily.groupBy("d").agg(sum("cnt").as("n"))
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(totals))
      .join(daily, Seq("event_type", "d"), "left")
      .na.fill(0L, Seq("cnt"))
    grid
      .select(col("event_type").cast("string"),
        col("d").cast("date").cast("string"),
        col("cnt").cast("long"), col("n").cast("long"))
      .as[(String, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (etype: String, it: Iterator[(String, String, Long, Long)]) =>
        val g = it.toIndexedSeq.sortBy(_._2)
        val tDays = g.length
        val sy = g.map(_._3).sum
        val sn = g.map(_._4).sum
        if (tDays < 2 || sy == 0L || sy == sn) Iterator.empty
        else {
          // micro-nat DP bound: worst-case total cost ≈ sn·ln(1e9)·1e6;
          // past this the Scala Long would SATURATE while the oracle's
          // BIGINT cast ERRORS — fail loudly on both instead of
          // diverging silently (r10 review)
          require(sn <= 100000000000L,
            s"burstsFromDaily($etype): ${sn} period events exceed the exact micro-nat " +
              "DP range (1e11) — aggregate to a coarser grid or rescale counts")
          val p0 = sy.toDouble / sn.toDouble // exact IEEE division
          val p1 = math.min(2.0 * p0, 0.999999999) // exact ×2
          def cost(y: Long, n: Long, p: Double): Long =
            math.floor(-(y * math.log(p) + (n - y) * math.log(1.0 - p)) * 1e6 + 0.5).toLong
          val t01 = math.floor(math.log(tDays.toDouble) * 1e6 + 0.5).toLong
          // forward DP with stored argmin choices
          val choose0 = new Array[Int](tDays); val choose1 = new Array[Int](tDays)
          var dp0 = cost(g(0)._3, g(0)._4, p0)
          var dp1 = cost(g(0)._3, g(0)._4, p1) + t01
          var d = 1
          while (d < tDays) {
            val c0 = cost(g(d)._3, g(d)._4, p0)
            val c1 = cost(g(d)._3, g(d)._4, p1)
            choose0(d) = if (dp1 < dp0) 1 else 0 // tie → 0
            choose1(d) = if (dp0 + t01 < dp1) 0 else 1 // tie → stay
            val n0 = math.min(dp0, dp1) + c0 // 1→0 is free
            val n1 = math.min(dp0 + t01, dp1) + c1
            dp0 = n0; dp1 = n1
            d += 1
          }
          // backtrack, then number burst islands in day order
          val states = new Array[Int](tDays)
          states(tDays - 1) = if (dp1 < dp0) 1 else 0 // tie → 0
          d = tDays - 1
          while (d > 0) {
            states(d - 1) = if (states(d) == 1) choose1(d) else choose0(d)
            d -= 1
          }
          var bursts = 0L
          val out = Seq.newBuilder[BurstRow]
          d = 0
          while (d < tDays) {
            if (states(d) == 1 && (d == 0 || states(d - 1) == 0)) bursts += 1
            out += BurstRow(etype, g(d)._2, g(d)._3, states(d).toLong,
              if (states(d) == 1) bursts else 0L)
            d += 1
          }
          out.result().iterator
        }
      }
      .toDF()
      .orderBy("event_type", "day")
  }

  def evtBursts(s: SparkSession, dir: String): DataFrame =
    burstsFromDaily(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt")))

  val evtBurstsSql: String = {
    val c0 = "CAST(floor(-(b.y * ln(t.p0) + (b.n - b.y) * ln(1.0 - t.p0)) * 1e6 + 0.5) AS BIGINT)"
    val c1 = "CAST(floor(-(b.y * ln(t.p1) + (b.n - b.y) * ln(1.0 - t.p1)) * 1e6 + 0.5) AS BIGINT)"
    Tables.eventsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s"""
         |, daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS cnt
         |            FROM ev GROUP BY 1, 2),
         |totals AS (SELECT d, sum(cnt)::BIGINT AS n FROM daily GROUP BY 1),
         |grid AS (
         |  SELECT ty.event_type, tot.d, tot.n, coalesce(da.cnt, 0)::BIGINT AS y
         |  FROM (SELECT DISTINCT event_type FROM daily) ty
         |  CROSS JOIN totals tot
         |  LEFT JOIN daily da ON da.event_type = ty.event_type AND da.d = tot.d),
         |g AS (SELECT event_type, d, y, n,
         |        row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
         |      FROM grid),
         |ty AS (
         |  SELECT event_type, count(*)::BIGINT AS tdays,
         |    sum(y)::BIGINT AS sy, sum(n)::BIGINT AS sn,
         |    (sum(y)::BIGINT)::DOUBLE / (sum(n)::BIGINT)::DOUBLE AS p0,
         |    least(2.0 * ((sum(y)::BIGINT)::DOUBLE / (sum(n)::BIGINT)::DOUBLE), 0.999999999) AS p1,
         |    CAST(floor(ln((count(*)::BIGINT)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS t01
         |  FROM g GROUP BY 1
         |  HAVING count(*) >= 2 AND sum(y) > 0 AND sum(y) < sum(n)),
         |fwd AS (
         |  SELECT b.event_type, b.rn, $c0 + 0 AS dp0, $c1 + t.t01 AS dp1,
         |    0 AS choose0, 0 AS choose1
         |  FROM g b JOIN ty t USING (event_type) WHERE b.rn = 1
         |  UNION ALL
         |  SELECT w.event_type, b.rn,
         |    least(w.dp0, w.dp1) + $c0 AS dp0,
         |    least(w.dp0 + t.t01, w.dp1) + $c1 AS dp1,
         |    CASE WHEN w.dp1 < w.dp0 THEN 1 ELSE 0 END AS choose0,
         |    CASE WHEN w.dp0 + t.t01 < w.dp1 THEN 0 ELSE 1 END AS choose1
         |  FROM fwd w
         |  JOIN g b ON b.event_type = w.event_type AND b.rn = w.rn + 1
         |  JOIN ty t ON t.event_type = w.event_type),
         |back AS (
         |  SELECT f.event_type, f.rn,
         |    CASE WHEN f.dp1 < f.dp0 THEN 1 ELSE 0 END AS state
         |  FROM fwd f JOIN ty t USING (event_type) WHERE f.rn = t.tdays
         |  UNION ALL
         |  SELECT bk.event_type, bk.rn - 1,
         |    CASE WHEN bk.state = 1 THEN f.choose1 ELSE f.choose0 END
         |  FROM back bk JOIN fwd f ON f.event_type = bk.event_type AND f.rn = bk.rn
         |  WHERE bk.rn > 1),
         |st AS (
         |  SELECT g.event_type, g.d, g.y, bk.state, g.rn,
         |    CASE WHEN bk.state = 1
         |           AND coalesce(lag(bk.state) OVER (PARTITION BY g.event_type ORDER BY g.rn), 0) = 0
         |         THEN 1 ELSE 0 END AS opens
         |  FROM g JOIN back bk ON bk.event_type = g.event_type AND bk.rn = g.rn)
         |SELECT event_type, d::VARCHAR AS day, y,
         |  state::BIGINT AS state,
         |  (CASE WHEN state = 1 THEN sum(opens) OVER (
         |     PARTITION BY event_type ORDER BY rn
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ELSE 0 END)::BIGINT AS burst_id
         |FROM st
         |ORDER BY event_type, day""".stripMargin
  }

  def evtForecast(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("d")
    daily
      .withColumn("p7", lag("cnt", 7).over(w))
      .withColumn("p1", lag("cnt", 1).over(w))
      .filter(col("p7").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(abs(col("cnt") - col("p7"))).as("sae7"),
        sum(abs(col("cnt") - col("p1"))).as("sae1"))
      .select(col("event_type"), col("n"),
        (col("sae7").cast("double") / col("n").cast("double")).as("mae_snaive"),
        (col("sae1").cast("double") / col("n").cast("double")).as("mae_naive"),
        (col("sae7") < col("sae1")).as("seasonal_wins"))
      .orderBy("event_type")
  }

  val evtForecastSql: String =
    Tables.eventsCte +
      """
        |, daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS cnt
        |            FROM ev GROUP BY 1, 2),
        |lagged AS (SELECT event_type, cnt,
        |             lag(cnt, 7) OVER w AS p7, lag(cnt, 1) OVER w AS p1
        |           FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d))
        |SELECT event_type, count(*)::BIGINT AS n,
        |  sum(abs(cnt - p7))::DOUBLE / count(*)::DOUBLE AS mae_snaive,
        |  sum(abs(cnt - p1))::DOUBLE / count(*)::DOUBLE AS mae_naive,
        |  sum(abs(cnt - p7)) < sum(abs(cnt - p1)) AS seasonal_wins
        |FROM lagged WHERE p7 IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Two-sample Kolmogorov–Smirnov test — are purchase and click
    * values drawn from the same distribution? The distribution-drift
    * gate run between dataset versions before a model retrain. The
    * statistic computes over DECI-BUCKETED values (the [[docAuc]]
    * quantization device: a ≤4901-row bin domain bounds the one
    * ordered global window — the corpus never funnels through one
    * task), with the supremum deviation INTEGER-exact:
    * D·n₁·n₂ = max¦cum₁·n₂ − cum₂·n₁¦ in DECIMAL(38,0) (exact at any
    * n). The only floats are the final division and the
    * c(α)·√((n₁+n₂)/n₁n₂) critical value — identical IEEE chains on
    * both engines, so even the reject boolean is engine-stable.
    */
  def evtKs(s: SparkSession, dir: String): DataFrame =
    ksFromBins(ksBins(Tables.events(s, dir)))

  /** The deci-bucket two-sample count table — (bin, purchase count,
    * click count). PURELY ADDITIVE, which is what makes the streaming
    * maintainer a sum-merge of ≤4901 rows.
    */
  private[graft] def ksBins(ev: DataFrame): DataFrame =
    ev.filter(col("event_type").isin("purchase", "click"))
      .groupBy(round(col("value") * 10).cast("long").as("b"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c2"))

  /** The KS tail over an aggregated bin table — shared by the batch
    * gate and the streaming maintainer.
    */
  private[graft] def ksFromBins(bins: DataFrame): DataFrame = {
    val d = "decimal(38,0)"
    val tot = bins.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    bins
      .withColumn("cum1", sum("c1").over(w))
      .withColumn("cum2", sum("c2").over(w))
      .crossJoin(broadcast(tot))
      .select(abs(col("cum1").cast(d) * col("n2") - col("cum2").cast(d) * col("n1")).as("dev"),
        col("n1"), col("n2"))
      .groupBy("n1", "n2").agg(max("dev").as("ds"))
      .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        (col("ds").cast("double")
          / (col("n1").cast("double") * col("n2").cast("double"))).as("d_stat"),
        (lit(1.358) * sqrt((col("n1") + col("n2")).cast("double")
          / (col("n1").cast("double") * col("n2").cast("double")))).as("crit_05"),
        (col("ds").cast("double")
          / (col("n1").cast("double") * col("n2").cast("double"))
          > lit(1.358) * sqrt((col("n1") + col("n2")).cast("double")
            / (col("n1").cast("double") * col("n2").cast("double")))).as("reject"))
  }

  val evtKsSql: String =
    Tables.eventsCte +
      """
        |, fl AS (SELECT event_type, CAST(round(value * 10) AS BIGINT) AS b
        |         FROM ev WHERE event_type IN ('purchase', 'click')),
        |bins AS (SELECT b,
        |           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS c1,
        |           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS c2
        |         FROM fl GROUP BY b),
        |t AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM bins),
        |c AS (SELECT b,
        |        sum(c1) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum1,
        |        sum(c2) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum2
        |      FROM bins),
        |dd AS (SELECT n1, n2, max(abs(cum1::HUGEINT * n2 - cum2::HUGEINT * n1)) AS ds
        |       FROM c CROSS JOIN t GROUP BY n1, n2)
        |SELECT n1, n2,
        |  ds::DOUBLE / (n1::DOUBLE * n2::DOUBLE) AS d_stat,
        |  1.358 * sqrt((n1 + n2)::DOUBLE / (n1::DOUBLE * n2::DOUBLE)) AS crit_05,
        |  ds::DOUBLE / (n1::DOUBLE * n2::DOUBLE)
        |    > 1.358 * sqrt((n1 + n2)::DOUBLE / (n1::DOUBLE * n2::DOUBLE)) AS reject
        |FROM dd""".stripMargin

  /** Distributed ordinary least squares by NORMAL EQUATIONS — the
    * closed-form counterpart of the gradient-descent quality
    * classifier ([[graft.operators.Curation]]): value ~ hour-of-day +
    * ISO weekday, fit in ONE pass. The whole regression reduces to 10
    * sufficient statistics (one map-side-combined aggregate); the 3×3
    * solve is Cramer's rule — determinant RATIOS, no factorization.
    * Engine-exactness: the target quantizes to integer milli-units
    * first, so every sufficient statistic is an exact integer, the
    * determinants are exact DECIMAL(38,0) arithmetic (BIGINT overflows
    * near n ~ 10⁵ on third-order products; decimal carries ~10²² digits
    * here), and the only floats are the final divisions — identical on
    * both engines. R² comes from the same statistics
    * (SSE = Syy − β'X'y), no second pass. At 100 TB this is the
    * one-scan-plus-driver-solve shape every sufficient-statistics
    * model shares.
    */
  /** The 10 sufficient statistics, one map-side-combined pass.
    * PURELY ADDITIVE — two stat rows over disjoint row sets sum to the
    * stats of the union, which is what makes the streaming maintainer
    * ([[StreamingQueries.streamOls]]) free.
    */
  private[queries] def olsStats(ev: DataFrame): DataFrame = {
    val d = "decimal(38,0)"
    ev.select(hour(col("ts")).cast("long").as("x1"),
        (weekday(col("ts")) + 1).cast("long").as("x2"),
        round(col("value") * 1000).cast("long").as("y"))
      .agg(
        count(lit(1)).cast(d).as("n"),
        sum("x1").cast(d).as("s1"), sum("x2").cast(d).as("s2"),
        sum(col("x1") * col("x1")).cast(d).as("s11"),
        sum(col("x1") * col("x2")).cast(d).as("s12"),
        sum(col("x2") * col("x2")).cast(d).as("s22"),
        sum("y").cast(d).as("sy"),
        sum(col("x1") * col("y")).cast(d).as("s1y"),
        sum(col("x2") * col("y")).cast(d).as("s2y"),
        sum(col("y") * col("y")).cast(d).as("syy"))
  }

  /** Cramer solve + fit report from a 1-row sufficient-statistics
    * frame: A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]], b = [sy,s1y,s2y].
    */
  private[queries] def olsSolve(stats: DataFrame): DataFrame =
    stats.select(col("n"), col("s1"), col("s2"), col("s11"), col("s12"),
        col("s22"), col("sy"), col("s1y"), col("s2y"), col("syy"))
      .withColumn("det", col("n") * (col("s11") * col("s22") - col("s12") * col("s12"))
        - col("s1") * (col("s1") * col("s22") - col("s12") * col("s2"))
        + col("s2") * (col("s1") * col("s12") - col("s11") * col("s2")))
      .withColumn("det0", col("sy") * (col("s11") * col("s22") - col("s12") * col("s12"))
        - col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y"))
        + col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y")))
      .withColumn("det1", col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y"))
        - col("sy") * (col("s1") * col("s22") - col("s12") * col("s2"))
        + col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2")))
      .withColumn("det2", col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12"))
        - col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
        + col("sy") * (col("s1") * col("s12") - col("s11") * col("s2")))
      // β in milli-units; /1000 back to value units at output
      .withColumn("b0", col("det0").cast("double") / col("det").cast("double"))
      .withColumn("b1", col("det1").cast("double") / col("det").cast("double"))
      .withColumn("b2", col("det2").cast("double") / col("det").cast("double"))
      .withColumn("sse", col("syy").cast("double")
        - col("b0") * col("sy").cast("double")
        - col("b1") * col("s1y").cast("double")
        - col("b2") * col("s2y").cast("double"))
      .withColumn("sst", col("syy").cast("double")
        - col("sy").cast("double") * col("sy").cast("double") / col("n").cast("double"))
      .select(col("n").cast("long").as("n"),
        round(col("b0") / 1000, 6).as("intercept"),
        round(col("b1") / 1000, 6).as("beta_hour"),
        round(col("b2") / 1000, 6).as("beta_dow"),
        round(lit(1.0) - col("sse") / col("sst"), 6).as("r2"))

  def evtOls(s: SparkSession, dir: String): DataFrame =
    olsSolve(olsStats(Tables.events(s, dir)))

  val evtOlsSql: String =
    Tables.eventsCte +
      """
        |, f AS (SELECT hour(ts)::BIGINT AS x1, date_part('isodow', ts)::BIGINT AS x2,
        |          round(value * 1000)::BIGINT AS y FROM ev),
        |st AS (SELECT count(*)::HUGEINT AS n,
        |         sum(x1)::HUGEINT AS s1, sum(x2)::HUGEINT AS s2,
        |         sum(x1 * x1)::HUGEINT AS s11, sum(x1 * x2)::HUGEINT AS s12,
        |         sum(x2 * x2)::HUGEINT AS s22,
        |         sum(y)::HUGEINT AS sy, sum(x1 * y)::HUGEINT AS s1y,
        |         sum(x2 * y)::HUGEINT AS s2y, sum(y * y)::HUGEINT AS syy
        |       FROM f),
        |dets AS (SELECT *,
        |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s2y - s1y * s2) AS det1,
        |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |      + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM st),
        |beta AS (SELECT *, det0::DOUBLE / det::DOUBLE AS b0,
        |           det1::DOUBLE / det::DOUBLE AS b1,
        |           det2::DOUBLE / det::DOUBLE AS b2 FROM dets),
        |fit AS (SELECT *,
        |    syy::DOUBLE - b0 * sy::DOUBLE - b1 * s1y::DOUBLE - b2 * s2y::DOUBLE AS sse,
        |    syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE AS sst
        |  FROM beta)
        |SELECT n::BIGINT AS n, round(b0 / 1000, 6) AS intercept,
        |  round(b1 / 1000, 6) AS beta_hour, round(b2 / 1000, 6) AS beta_dow,
        |  round(1.0 - sse / sst, 6) AS r2
        |FROM fit""".stripMargin

  /** Robust z-score outliers (median/MAD, the Iglewicz–Hoaglin
    * modified z — the anomaly rule that survives the very outliers a
    * mean/stddev z is dragged by, complementing [[evtAnomaly]]):
    * per-type hourly counts, exact integer median and MAD (exact
    * medians of integers are deterministic on both engines), modified
    * z = 0.6745·(cnt − med)/mad rounded to 3, |z| ≥ 3.5 flags. Two
    * tiny per-type aggregates broadcast back over the hourly rollup.
    */
  def evtRobustZ(s: SparkSession, dir: String): DataFrame = {
    val h = Funnel.stageLazy(Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt")))
    val med = h.groupBy("event_type").agg(expr("percentile(cnt, 0.5)").as("med"))
    val mad = h.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(first("med").as("med"),
        expr("percentile(abs(cnt - med), 0.5)").as("mad"))
    h.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("h").cast("string").as("hr"),
        col("cnt").cast("long").as("cnt"),
        // floor(x·1000 + 0.5) instead of round(x, 3): med/mad are exact
        // dyadic rationals so x is the IDENTICAL double on both engines,
        // and this quantization is a pure IEEE op chain — engine round()
        // implementations disagree exactly at x.xxx5 boundaries, which
        // the small rational mad hits constantly
        when(col("mad") > 0,
          floor(lit(0.6745) * (col("cnt") - col("med")) / col("mad") * 1000 + 0.5)
            .cast("long")).as("zm"))
      .select(col("event_type"), col("hr"), col("cnt"),
        (col("zm") / 1000.0).as("z"),
        coalesce(abs(col("zm")) >= 3500, lit(false)).as("outlier"))
      .orderBy("event_type", "hr")
  }

  val evtRobustZSql: String =
    Tables.eventsCte +
      """
        |, hc AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*)::BIGINT AS cnt
        |         FROM ev GROUP BY 1, 2),
        |m AS (SELECT event_type, quantile_cont(cnt, 0.5) AS med FROM hc GROUP BY 1),
        |md AS (SELECT hc.event_type, any_value(med) AS med,
        |         quantile_cont(abs(cnt - med), 0.5) AS mad
        |       FROM hc JOIN m USING (event_type) GROUP BY 1)
        |, zz AS (SELECT hc.event_type, hc.h::VARCHAR AS hr, cnt,
        |           CASE WHEN mad > 0
        |                THEN CAST(floor(0.6745 * (cnt - med) / mad * 1000 + 0.5) AS BIGINT)
        |           END AS zm
        |         FROM hc JOIN md USING (event_type))
        |SELECT event_type, hr, cnt, zm / 1000.0 AS z,
        |  coalesce(abs(zm) >= 3500, false) AS outlier
        |FROM zz ORDER BY event_type, hr""".stripMargin

  val evtAnomalySql: String =
    Tables.eventsCte +
      """
        |, hc AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*)::BIGINT AS cnt
        |         FROM ev GROUP BY 1, 2),
        |z AS (SELECT event_type, h, cnt,
        |        round((cnt - avg(cnt) OVER w)
        |          / CASE WHEN stddev_samp(cnt) OVER w > 0
        |                 THEN stddev_samp(cnt) OVER w END, 3) AS z,
        |        count(*) OVER w = 24 AS warm
        |      FROM hc
        |      WINDOW w AS (PARTITION BY event_type ORDER BY h
        |                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, h::VARCHAR AS hr, cnt,
        |  CASE WHEN warm THEN z END AS z,
        |  (warm AND abs(coalesce(CASE WHEN warm THEN z END, 0)) >= 2.0) AS anomaly
        |FROM z ORDER BY event_type, hr""".stripMargin

  /** Contrastive negative sampling — per anchor, k deterministic
    * pseudo-random negatives EXCLUDING the anchor's exact top-10
    * neighbors and itself (the hard-positive leak guard every
    * contrastive training pipeline needs). The sampling priority is a
    * portable md5-derived uniform, so the draw replays cross-engine,
    * and selection is the bounded two-phase [[Similarity.topKPerKey]]
    * aggregate — never a per-anchor global window over the corpus.
    */
  def embNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val exclude = Similarity.bruteForceTopK(queries, emb, k = 10).select(col("qid"), col("nid"))
    val cand = emb.select("vec_id").crossJoin(broadcast(queries.select("qid")))
      .filter(col("vec_id") =!= col("qid"))
      .join(exclude.withColumnRenamed("nid", "vec_id"), Seq("qid", "vec_id"), "left_anti")
      .select(col("qid"), col("vec_id").as("nid"))
      .withColumn("c", round(
        graft.functions.GraftFunctions.md5_prefix(concat(col("qid").cast("string"),
          lit("|"), col("nid").cast("string")), 8).cast("double")
          / lit(4294967296.0), 6))
    Similarity.topKPerKey(cand.select("qid", "nid", "c"), 5)
      .select(col("qid"), col("nid"), col("rn"))
      .orderBy("qid", "rn")
  }

  val embNegativesSql: String =
    """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |ex AS (SELECT qid, nid FROM (
      |    SELECT q.vec_id AS qid, b.vec_id AS nid,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(list_cosine_similarity(q.e, b.e), 6) DESC, b.vec_id) AS rn
      |    FROM emb q, emb b WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id) x WHERE rn <= 10),
      |cand AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
      |    round(('0x' || substr(md5(q.vec_id::VARCHAR || '|' || c.vec_id::VARCHAR), 1, 8))::BIGINT
      |      / 4294967296.0, 6) AS u
      |  FROM emb q, emb c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
      |    AND NOT EXISTS (SELECT 1 FROM ex WHERE ex.qid = q.vec_id AND ex.nid = c.vec_id)),
      |r AS (SELECT qid, nid,
      |        row_number() OVER (PARTITION BY qid ORDER BY round(u, 6) DESC, nid) AS rn
      |      FROM cand)
      |SELECT qid, nid, rn FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  /** Kaplan–Meier survival curve over SESSION durations (Kaplan &
    * Meier 1958 — the right-censored duration estimator; a naive mean
    * session length is biased DOWN by sessions still open when the
    * corpus ends, which is exactly what censoring corrects). Subject =
    * one session (the [[evtSessionize]] 30-min-gap rule verbatim);
    * duration = whole minutes first→last event; a session is CENSORED
    * when its last event is within the 30-min gap of the corpus end —
    * its closing gap is not yet observable, every other session's end
    * is a death. The scale shape: the user-keyed session window + one
    * aggregate collapse the corpus to a ≤|distinct duration-minutes|
    * frame (the docAuc bounded-bin device), and every ordered window
    * runs on THAT frame, never on raw events. At-risk counts are a
    * suffix sum; the product Π(1 − dᵢ/nᵢ) is exp∘cumsum∘ln with an
    * explicit everyone-dies zero guard — load-bearing twice: DuckDB
    * ERRORS on ln(0) while Spark returns null (the CASE keeps both
    * engines on one arithmetic path), and the longest-duration bucket
    * genuinely dies out (d = n_risk), so the guard is exercised by the
    * oracle, not just by specs. Corpus end comes from the staged
    * session maxima, so the final plan reads events exactly once.
    */
  def evtSurvival(s: SparkSession, dir: String): DataFrame =
    kmTail(survivalGrid(Tables.events(s, dir)))

  /** The Kaplan–Meier estimator tail over an aggregated
    * (dur, d deaths, c censored) frame — shared by the batch query and
    * the streaming maintainer (whose death counts are purely additive
    * per batch, so its end-of-stream state feeds this identically).
    */
  private[graft] def kmTail(g: DataFrame): DataFrame = {
    val wSuffix = Window.orderBy("dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wPrefix = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("n_risk", sum(col("d") + col("c")).over(wSuffix))
      .withColumn("term",
        when(col("d") < col("n_risk"),
          log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")))
          .otherwise(lit(0.0)))
      .withColumn("z", when(col("d") >= col("n_risk"), 1L).otherwise(0L))
      .select(col("dur"), col("n_risk"), col("d").as("d_events"), col("c").as("c_censored"),
        when(sum(col("z")).over(wPrefix) > 0, lit(0.0))
          .otherwise(round(exp(sum(col("term")).over(wPrefix)), 6)).as("survival"))
      .orderBy("dur")
  }

  /** Nelson–Aalen cumulative hazard (Nelson 1972; Aalen 1978) over the
    * SAME session-duration lifetimes as [[evtSurvival]] — the
    * hazard-scale companion every survival readout ships beside the KM
    * curve (H(t) = Σ d_i/n_i; additive, so it localizes WHERE the risk
    * concentrates, where the KM product only shows the survivor
    * remainder). Each step's increment is the exact integer
    * floor(d·10¹²/n_risk) and the cumulation is a BIGINT prefix sum
    * over the bounded duration domain — no cross-row float sum (the
    * Page–Hinkley discipline; contrast the KM tail's log-sum-exp,
    * whose product form has no integer formulation), one double
    * conversion at emission.
    */
  def evtCumhaz(s: SparkSession, dir: String): DataFrame =
    naTail(survivalGrid(Tables.events(s, dir)))

  /** The (dur, d deaths, c censored) lifetime grid shared by the KM
    * and Nelson–Aalen tails — sessionize, measure, censor at the
    * corpus end.
    */
  private[graft] def survivalGrid(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tss = col("ts").cast("long")
    val prev = lag(col("ts"), 1).over(w).cast("long")
    val sessions = Funnel.stageLazy(ev
      .withColumn("new_sess", when(prev.isNull || (tss - prev > 1800), 1L).otherwise(0L))
      .withColumn("sess", sum("new_sess").over(w))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(tss).as("s0"), max(tss).as("s1")))
    val endT = sessions.agg(max(col("s1")).as("te"))
    sessions.crossJoin(broadcast(endT))
      .select(floor((col("s1") - col("s0")) / lit(60)).cast("long").as("dur"),
        when(col("s1") > col("te") - lit(1800L), 1L).otherwise(0L).as("cen"))
      .groupBy("dur").agg(
        sum(when(col("cen") === 0L, 1L).otherwise(0L)).as("d"),
        sum(col("cen")).as("c"))
  }

  private[graft] def naTail(g: DataFrame): DataFrame = {
    val wSuffix = Window.orderBy("dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wPrefix = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("n_risk", sum(col("d") + col("c")).over(wSuffix))
      .withColumn("h12", expr("d * 1000000000000L DIV n_risk"))
      .select(col("dur"), col("n_risk"), col("d").as("d_events"), col("c").as("c_censored"),
        round(sum(col("h12")).over(wPrefix).cast("double") / 1e12, 6).as("cumhaz"))
      .orderBy("dur")
  }

  val evtCumhazSql: String =
    Tables.eventsCte +
      """
        |, t0 AS (SELECT user_id, event_id, (epoch_us(ts) // 1000000) AS tss,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR (epoch_us(ts) // 1000000)
        |              - (epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000) > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev),
        |sx AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY tss, event_id) AS sess FROM t0),
        |u AS (SELECT user_id, sess, min(tss) AS s0, max(tss) AS s1 FROM sx GROUP BY 1, 2),
        |te AS (SELECT max(s1) AS te FROM u),
        |lv AS (SELECT (s1 - s0) // 60 AS dur,
        |         CASE WHEN s1 > te - 1800 THEN 1 ELSE 0 END AS cen FROM u, te),
        |g AS (SELECT dur, sum(CASE WHEN cen = 0 THEN 1 ELSE 0 END)::BIGINT AS d,
        |        sum(cen)::BIGINT AS c FROM lv GROUP BY 1),
        |r AS (SELECT *, sum(d + c) OVER (ORDER BY dur
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT AS n_risk FROM g),
        |h AS (SELECT *, (d * 1000000000000) // n_risk AS h12 FROM r)
        |SELECT dur, n_risk, d AS d_events, c AS c_censored,
        |  round((sum(h12) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING))::DOUBLE / 1e12, 6) AS cumhaz
        |FROM h ORDER BY dur""".stripMargin

  val evtSurvivalSql: String =
    Tables.eventsCte +
      """
        |, t0 AS (SELECT user_id, event_id, (epoch_us(ts) // 1000000) AS tss,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR (epoch_us(ts) // 1000000)
        |              - (epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000) > 1800
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev),
        |sx AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY tss, event_id) AS sess FROM t0),
        |u AS (SELECT user_id, sess, min(tss) AS s0, max(tss) AS s1 FROM sx GROUP BY 1, 2),
        |te AS (SELECT max(s1) AS te FROM u),
        |lv AS (SELECT (s1 - s0) // 60 AS dur,
        |         CASE WHEN s1 > te - 1800 THEN 1 ELSE 0 END AS cen FROM u, te),
        |g AS (SELECT dur, sum(CASE WHEN cen = 0 THEN 1 ELSE 0 END)::BIGINT AS d,
        |        sum(cen)::BIGINT AS c FROM lv GROUP BY 1),
        |r AS (SELECT *, sum(d + c) OVER (ORDER BY dur
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT AS n_risk FROM g),
        |t AS (SELECT *, CASE WHEN d < n_risk
        |          THEN ln(1 - d::DOUBLE / n_risk::DOUBLE) ELSE 0.0 END AS term,
        |        CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS z FROM r)
        |SELECT dur, n_risk, d AS d_events, c AS c_censored,
        |  CASE WHEN sum(z) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) > 0 THEN 0.0
        |       ELSE round(exp(sum(term) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)), 6)
        |  END AS survival
        |FROM t ORDER BY dur""".stripMargin

  // ------------------------------------------- rank stats / drift / privacy

  /** Mann–Whitney U (Wilcoxon rank-sum) two-sample test, purchase vs
    * click `value` — the NONPARAMETRIC member of the A/B family
    * (KS/chi²/msprt/bootstrap already here): no normality assumption on
    * the metric, which is the test of record for heavy-tailed revenue
    * metrics. Computed from the SAME deci-bucket bin table as
    * [[evtKs]] (midranks over bins — binning IS the tie structure), so
    * the state is purely additive: ≤4901 (bin, c1, c2) rows at any
    * scale, and the streaming maintainer sum-merges then reuses this
    * tail verbatim. Exactness: 2·R₁ = Σ c1·(2·cumBefore + ct + 1) and
    * the tie term Σ(ct³−ct) accumulate in DECIMAL(38,0) (exact at any
    * row count); the only floats are the final U/z emission — identical
    * IEEE chains on both engines.
    */
  def evtMannWhitney(s: SparkSession, dir: String): DataFrame =
    mannWhitneyFromBins(ksBins(Tables.events(s, dir)))

  private[queries] def mannWhitneyFromBins(bins: DataFrame): DataFrame = {
    val d = "decimal(38,0)"
    val wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    val wi = bins
      .select(col("b"), col("c1"), col("c2"), (col("c1") + col("c2")).as("ct"))
      .withColumn("cumb", coalesce(sum("ct").over(wb), lit(0L)))
    wi.agg(
        sum("c1").cast("long").as("n1"),
        sum("c2").cast("long").as("n2"),
        sum(col("c1").cast(d) * (col("cumb").cast(d) * 2 + col("ct") + 1)).as("r2x"),
        sum(col("ct").cast(d) * col("ct") * col("ct") - col("ct").cast(d)).as("tie3"))
      .select(col("n1"), col("n2"),
        ((col("r2x") - col("n1").cast(d) * (col("n1") + 1).cast(d)).cast("double") / 2).as("u1"),
        col("tie3").cast("double").as("tie3d"),
        (col("n1") + col("n2")).cast("double").as("nd"),
        col("n1").cast("double").as("n1d"), col("n2").cast("double").as("n2d"))
      .select(col("n1"), col("n2"), col("u1"),
        ((col("u1") - col("n1d") * col("n2d") / 2)
          / sqrt(col("n1d") * col("n2d") / 12
            * ((col("nd") + 1) - col("tie3d") / (col("nd") * (col("nd") - 1))))).as("z"))
      .withColumn("reject", abs(col("z")) > 1.96)
      .orderBy("n1")
  }

  val evtMannWhitneySql: String =
    Tables.eventsCte +
      """
        |, fl AS (SELECT event_type, CAST(round(value * 10) AS BIGINT) AS b
        |         FROM ev WHERE event_type IN ('purchase', 'click')),
        |bins AS (SELECT b,
        |           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS c1,
        |           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS c2
        |         FROM fl GROUP BY b),
        |wi AS (SELECT b, c1, c2, c1 + c2 AS ct,
        |         coalesce(sum(c1 + c2) OVER (ORDER BY b
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |       FROM bins),
        |agg AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
        |          sum(c1::HUGEINT * (cumb::HUGEINT * 2 + ct + 1)) AS r2x,
        |          sum(ct::HUGEINT * ct * ct - ct::HUGEINT) AS tie3
        |        FROM wi),
        |uz AS (SELECT n1, n2,
        |         (r2x - n1::HUGEINT * (n1 + 1))::DOUBLE / 2 AS u1,
        |         tie3::DOUBLE AS tie3d, (n1 + n2)::DOUBLE AS nd,
        |         n1::DOUBLE AS n1d, n2::DOUBLE AS n2d
        |       FROM agg)
        |SELECT n1, n2, u1,
        |  (u1 - n1d * n2d / 2)
        |    / sqrt(n1d * n2d / 12 * ((nd + 1) - tie3d / (nd * (nd - 1)))) AS z,
        |  abs((u1 - n1d * n2d / 2)
        |    / sqrt(n1d * n2d / 12 * ((nd + 1) - tie3d / (nd * (nd - 1))))) > 1.96 AS reject
        |FROM uz ORDER BY n1""".stripMargin

  /** Cliff's delta + the common-language effect size (Cliff 1993;
    * McGraw & Wong 1992) for the purchase-vs-click value comparison —
    * the EFFECT-SIZE companion to [[evtMannWhitney]]'s significance
    * test (a p-value says "not chance"; δ says "how big", which is
    * what a metrics review actually asks). Same bin-table derivation:
    * U₁ from the exact DECIMAL midrank sum (ties at half credit),
    * CLES = U₁/(n₁n₂), δ = 2·CLES − 1 ∈ [−1, 1]; the magnitude label
    * uses Romano et al. 2006's |δ| thresholds on the ROUNDED δ so the
    * band decision is engine-stable. One division; everything upstream
    * integer-exact.
    */
  def evtCliffsDelta(s: SparkSession, dir: String): DataFrame =
    cliffsFromBins(ksBins(Tables.events(s, dir)))

  private[graft] def cliffsFromBins(bins: DataFrame): DataFrame = {
    val d = "decimal(38,0)"
    val wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    val wi = bins
      .select(col("b"), col("c1"), col("c2"), (col("c1") + col("c2")).as("ct"))
      .withColumn("cumb", coalesce(sum("ct").over(wb), lit(0L)))
    wi.agg(
        sum("c1").cast("long").as("n1"),
        sum("c2").cast("long").as("n2"),
        sum(col("c1").cast(d) * (col("cumb").cast(d) * 2 + col("ct") + 1)).as("r2x"))
      .select(col("n1"), col("n2"),
        ((col("r2x") - col("n1").cast(d) * (col("n1") + 1).cast(d)).cast("double") / 2).as("u1"))
      .select(col("n1"), col("n2"), col("u1"),
        round(col("u1") / (col("n1").cast("double") * col("n2").cast("double")), 6).as("cles"))
      .withColumn("delta", round(col("cles") * 2 - 1, 6))
      .withColumn("magnitude",
        when(abs(col("delta")) < 0.147, "negligible")
          .when(abs(col("delta")) < 0.33, "small")
          .when(abs(col("delta")) < 0.474, "medium")
          .otherwise("large"))
      .orderBy("n1")
  }

  val evtCliffsDeltaSql: String =
    Tables.eventsCte +
      """
        |, fl AS (SELECT event_type, CAST(round(value * 10) AS BIGINT) AS b
        |         FROM ev WHERE event_type IN ('purchase', 'click')),
        |bins AS (SELECT b,
        |           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS c1,
        |           sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS c2
        |         FROM fl GROUP BY b),
        |wi AS (SELECT b, c1, c2, c1 + c2 AS ct,
        |         coalesce(sum(c1 + c2) OVER (ORDER BY b
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |       FROM bins),
        |agg AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
        |          sum(c1::HUGEINT * (cumb::HUGEINT * 2 + ct + 1)) AS r2x
        |        FROM wi),
        |uz AS (SELECT n1, n2, (r2x - n1::HUGEINT * (n1 + 1))::DOUBLE / 2 AS u1 FROM agg),
        |cl AS (SELECT n1, n2, u1,
        |         round(u1 / (n1::DOUBLE * n2::DOUBLE), 6) AS cles FROM uz),
        |dl AS (SELECT n1, n2, u1, cles, round(cles * 2 - 1, 6) AS delta FROM cl)
        |SELECT n1, n2, u1, cles, delta,
        |  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
        |       WHEN abs(delta) < 0.33 THEN 'small'
        |       WHEN abs(delta) < 0.474 THEN 'medium'
        |       ELSE 'large' END AS magnitude
        |FROM dl ORDER BY n1""".stripMargin

  /** Per-(bin, event_type) count table over the deci-bucket value grid
    * — the k-sample generalization of [[ksBins]]'s two-sample state:
    * PURELY ADDITIVE (≤4901 bins × |types| rows at any data volume),
    * one state serving both the Kruskal–Wallis and Jonckheere–Terpstra
    * maintainers.
    */
  private[graft] def typeBins(ev: DataFrame): DataFrame =
    ev.groupBy(round(col("value") * 10).cast("long").as("b"), col("event_type"))
      .agg(count(lit(1)).as("c"))

  /** Mood's median test (Mood 1950; Brown–Mood 1951) across all event
    * types — the k-sample location test that survives GROSS outliers
    * (it reduces each observation to above/below the pooled median, so
    * a single 10⁹× value moves nothing; the robustness complement to
    * [[evtKruskal]]'s rank test). Pooled median = the smallest bin
    * whose cumulative reaches ⌈(N+1)/2⌉ (2·cum ≥ N+1 — integer
    * compare, no division; for even N this selects the UPPER median,
    * cum ≥ N/2+1); ties at the median count LOW (deterministic,
    * documented). χ² over the 2×k table from exact integer counts,
    * each cell's term quantized to 1e-9 before the cross-cell sum (the
    * CMH discipline); zero-expectation legs contribute 0 by the
    * degenerate-margin convention.
    */
  def evtMood(s: SparkSession, dir: String): DataFrame =
    moodFromBins(typeBins(Tables.events(s, dir)))

  private[graft] def moodFromBins(bins: DataFrame): DataFrame = {
    val bt = bins.groupBy("b").agg(sum("c").as("ct"))
    val wp = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    val wi = Funnel.stageLazy(bt.withColumn("cum", sum("ct").over(wp)))
    val tot = wi.agg(sum("ct").cast("long").as("n"))
    val med = wi.crossJoin(broadcast(tot))
      .filter(col("cum") * 2 >= col("n") + 1)
      .agg(min("b").as("mb"))
    val grp = bins.crossJoin(broadcast(med))
      .groupBy("event_type")
      .agg(sum("c").cast("long").as("nj"),
        sum(when(col("b") <= col("mb"), col("c")).otherwise(0L)).cast("long").as("lowj"))
    val lt = grp.agg(sum("nj").cast("long").as("n"), sum("lowj").cast("long").as("l"))
    val q = grp.crossJoin(broadcast(lt))
      .withColumn("e_low", col("nj").cast("double") * col("l") / col("n"))
      .withColumn("e_high",
        col("nj").cast("double") * (col("n") - col("l")) / col("n"))
      .withColumn("t9", floor((
        when(col("e_low") > 0,
          (col("lowj") - col("e_low")) * (col("lowj") - col("e_low")) / col("e_low"))
          .otherwise(lit(0.0))
          + when(col("e_high") > 0,
            (col("nj") - col("lowj") - col("e_high"))
              * (col("nj") - col("lowj") - col("e_high")) / col("e_high"))
            .otherwise(lit(0.0))) * 1e9 + 0.5).cast("long"))
    val summary = q.agg(count(lit(1)).cast("long").as("k"), sum("t9").as("s9"))
      .select((col("k") - 1).cast("long").as("df"),
        round(col("s9").cast("double") / 1e9, 6).as("chi2"))
      .withColumn("crit",
        when(col("df") === 1, 3.841).when(col("df") === 2, 5.991)
          .when(col("df") === 3, 7.815).when(col("df") === 4, 9.488)
          .when(col("df") === 5, 11.070))
    grp.select(col("event_type"), col("nj"), col("lowj"))
      .crossJoin(broadcast(summary))
      .select(col("event_type"), col("nj"), col("lowj"), col("chi2"), col("df"),
        (col("chi2") > col("crit")).as("reject"))
      .orderBy("event_type")
  }

  val evtMoodSql: String =
    Tables.eventsCte +
      """
        |, fl AS (SELECT event_type, CAST(round(value * 10) AS BIGINT) AS b FROM ev),
        |bins AS (SELECT b, event_type, count(*)::BIGINT AS c FROM fl GROUP BY 1, 2),
        |bt AS (SELECT b, sum(c)::BIGINT AS ct FROM bins GROUP BY 1),
        |wi AS (SELECT b, ct, sum(ct) OVER (ORDER BY b
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum FROM bt),
        |tot AS (SELECT sum(ct)::BIGINT AS n FROM wi),
        |med AS (SELECT min(b) AS mb FROM wi, tot WHERE cum * 2 >= n + 1),
        |grp AS (SELECT event_type, sum(c)::BIGINT AS nj,
        |          sum(CASE WHEN b <= mb THEN c ELSE 0 END)::BIGINT AS lowj
        |        FROM bins, med GROUP BY 1),
        |lt AS (SELECT sum(nj)::BIGINT AS n, sum(lowj)::BIGINT AS l FROM grp),
        |q AS (SELECT event_type, nj, lowj,
        |        floor((
        |          CASE WHEN nj::DOUBLE * l / n > 0
        |            THEN (lowj - nj::DOUBLE * l / n) * (lowj - nj::DOUBLE * l / n)
        |                 / (nj::DOUBLE * l / n) ELSE 0.0 END
        |          + CASE WHEN nj::DOUBLE * (n - l) / n > 0
        |            THEN (nj - lowj - nj::DOUBLE * (n - l) / n)
        |                 * (nj - lowj - nj::DOUBLE * (n - l) / n)
        |                 / (nj::DOUBLE * (n - l) / n) ELSE 0.0 END) * 1e9 + 0.5)::BIGINT AS t9
        |      FROM grp, lt),
        |s AS (SELECT count(*)::BIGINT AS k, sum(t9)::BIGINT AS s9 FROM q),
        |hh AS (SELECT (k - 1)::BIGINT AS df, round(s9::DOUBLE / 1e9, 6) AS chi2 FROM s)
        |SELECT g.event_type, g.nj, g.lowj, hh.chi2, hh.df,
        |  hh.chi2 > CASE hh.df WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
        |                       WHEN 4 THEN 9.488 WHEN 5 THEN 11.070 END AS reject
        |FROM grp g, hh ORDER BY event_type""".stripMargin

  /** Kruskal–Wallis H (Kruskal & Wallis 1952) across ALL event types'
    * value distributions — the k-sample extension of
    * [[evtMannWhitney]] (does ANY of k groups stochastically dominate?),
    * the screen run before k·(k−1)/2 pairwise rank tests. Same midrank
    * device over the shared deci-bucket bins: 2·R_j accumulates in
    * DECIMAL(38,0) per group, each group's H term quantizes to 1e-6
    * units BEFORE the cross-group sum (the CMH per-cell discipline —
    * a raw double Σ over groups would be addend-order-sensitive), and
    * the tie correction Σ(t³−t)/(N³−N) divides once at emission.
    * Output: one row per group (nj, 2R_j) carrying the shared
    * tie-corrected H, df = k−1, and the χ²₀.₀₅ decision.
    */
  def evtKruskal(s: SparkSession, dir: String): DataFrame =
    kruskalFromBins(typeBins(Tables.events(s, dir)))

  private[graft] def kruskalFromBins(bins: DataFrame): DataFrame = {
    val d = "decimal(38,0)"
    val bt = bins.groupBy("b").agg(sum("c").as("ct"))
    val wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    // staged: referenced by the per-group join AND the totals readout
    // (also keeps the bounded-domain global window inside the boundary)
    val wi = Funnel.stageLazy(
      bt.withColumn("cumb", coalesce(sum("ct").over(wb), lit(0L))))
    val grp = bins.join(wi, "b")
      .groupBy("event_type")
      .agg(sum("c").cast("long").as("nj"),
        sum(col("c").cast(d) * (col("cumb").cast(d) * 2 + col("ct") + 1)).as("r2x"))
    val tot = wi.agg(sum("ct").cast("long").as("n"),
      sum(col("ct").cast(d) * col("ct") * col("ct") - col("ct").cast(d)).as("tie3"))
    // 12·R_j² = 3·(2R_j)²; per-group term quantized to 1e-6 then
    // integer-summed — order-free across groups
    val q = grp.crossJoin(broadcast(tot))
      .withColumn("h6", floor(
        (col("r2x").cast("double") * col("r2x").cast("double") * lit(3.0)
          / (col("nj").cast("double") * col("n").cast("double")
            * (col("n") + 1).cast("double"))) * 1e6 + 0.5).cast("long"))
    val summary = q.agg(count(lit(1)).cast("long").as("k"), sum("h6").as("s6"),
        max("n").as("n"), max(col("tie3").cast(d)).as("tie3"))
      .select(col("k"), (col("k") - 1).cast("long").as("df"),
        round((col("s6").cast("double") / 1e6 - (col("n") + 1).cast("double") * 3.0)
          / (lit(1.0) - col("tie3").cast("double")
            / (col("n").cast("double") * col("n").cast("double")
              * col("n").cast("double") - col("n").cast("double"))), 6).as("h"))
      .withColumn("crit",
        when(col("df") === 1, 3.841).when(col("df") === 2, 5.991)
          .when(col("df") === 3, 7.815).when(col("df") === 4, 9.488)
          .when(col("df") === 5, 11.070))
    grp.select(col("event_type"), col("nj"), col("r2x").cast("double").as("r2x"))
      .crossJoin(broadcast(summary))
      .select(col("event_type"), col("nj"), col("r2x"), col("h"), col("df"),
        (col("h") > col("crit")).as("reject"))
      .orderBy("event_type")
  }

  val evtKruskalSql: String =
    Tables.eventsCte +
      """
        |, fl AS (SELECT event_type, CAST(round(value * 10) AS BIGINT) AS b FROM ev),
        |bins AS (SELECT b, event_type, count(*)::BIGINT AS c FROM fl GROUP BY 1, 2),
        |bt AS (SELECT b, sum(c)::BIGINT AS ct FROM bins GROUP BY 1),
        |wi AS (SELECT b, ct, coalesce(sum(ct) OVER (ORDER BY b
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cumb
        |       FROM bt),
        |grp AS (SELECT event_type, sum(c)::BIGINT AS nj,
        |          sum(c::HUGEINT * (cumb::HUGEINT * 2 + ct + 1)) AS r2x
        |        FROM bins JOIN wi USING (b) GROUP BY 1),
        |tot AS (SELECT sum(ct)::BIGINT AS n,
        |          sum(ct::HUGEINT * ct * ct - ct::HUGEINT) AS tie3 FROM wi),
        |q AS (SELECT event_type, nj, r2x, n, tie3,
        |        floor((r2x::DOUBLE * r2x::DOUBLE * 3.0
        |          / (nj::DOUBLE * n::DOUBLE * (n + 1)::DOUBLE)) * 1e6 + 0.5)::BIGINT AS h6
        |      FROM grp, tot),
        |s AS (SELECT count(*)::BIGINT AS k, sum(h6)::BIGINT AS s6,
        |        max(n) AS n, max(tie3) AS tie3 FROM q),
        |hh AS (SELECT k, (k - 1)::BIGINT AS df,
        |         round((s6::DOUBLE / 1e6 - (n + 1)::DOUBLE * 3.0)
        |           / (1.0 - tie3::DOUBLE
        |             / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)), 6) AS h
        |       FROM s)
        |SELECT g.event_type, g.nj, g.r2x::DOUBLE AS r2x, hh.h, hh.df,
        |  hh.h > CASE hh.df WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
        |                    WHEN 4 THEN 9.488 WHEN 5 THEN 11.070 END AS reject
        |FROM grp g, hh ORDER BY event_type""".stripMargin

  /** Jonckheere–Terpstra ordered-alternative trend test (Jonckheere
    * 1954) across the event types taken in lexicographic order — the
    * test of record when the groups carry a natural ordering (dose,
    * tier, cohort age) and the question is a MONOTONE shift, where it
    * dominates Kruskal–Wallis in power; the type ordering here is the
    * deterministic stand-in for the caller's ordered categories.
    * 2·JT = Σ_{i<j} Σ_b c_j(b)·(2·cum_i(<b) + c_i(b)) accumulates in
    * DECIMAL(38,0) over the DENSIFIED (bin × type) grid (absent cells
    * as zeros — the per-pair cumulative must be defined at every bin
    * the left group occupies), mean and variance from exact integer
    * moments, one z emission. Ties from binning are inherent to the
    * shared-bins device and identical on both engines (documented:
    * the classic variance formula, not the tie-adjusted one).
    */
  def evtJt(s: SparkSession, dir: String): DataFrame =
    jtFromBins(typeBins(Tables.events(s, dir)))

  private[graft] def jtFromBins(bins: DataFrame): DataFrame = {
    val d = "decimal(38,0)"
    val bt = bins.groupBy("b").agg(sum("c").as("ct"))
    val types = bins.select("event_type").distinct()
    val grid = bt.select("b").crossJoin(broadcast(types))
      .join(bins, Seq("b", "event_type"), "left")
      .select(col("b"), col("event_type"), coalesce(col("c"), lit(0L)).as("c0"))
    val wg = Window.partitionBy("event_type").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    // staged: the pair self-join reads it twice, the group totals once
    val g = Funnel.stageLazy(
      grid.withColumn("cum", coalesce(sum("c0").over(wg), lit(0L))))
    // 2·U_ij = Σ_b c_j(b)·(2·cum_i(<b) + c_i(b)): each later-group
    // observation at bin b pairs with the EARLIER group's mass strictly
    // below (concordant) plus half the same-bin ties
    val pairs = g.select(col("b"), col("event_type").as("ta"), col("c0").as("ca"),
        col("cum").as("cuma"))
      .join(g.select(col("b"), col("event_type").as("tb"), col("c0").as("cb")), Seq("b"))
      .filter(col("ta") < col("tb"))
    val jt2 = pairs.agg(
      sum(col("cb").cast(d) * (col("cuma").cast(d) * 2 + col("ca"))).as("jt2"))
    val nj = g.groupBy("event_type").agg(sum("c0").cast("long").as("nj"))
    val mo = nj.agg(count(lit(1)).cast("long").as("k"), sum("nj").cast("long").as("n"),
      sum(col("nj").cast(d) * col("nj")).as("sn2"),
      sum(col("nj").cast(d) * col("nj") * (col("nj") * 2 + 3)).as("sv"))
    jt2.crossJoin(broadcast(mo))
      .select(col("n"), col("k"), (col("jt2").cast("double") / 2).as("jt"),
        (((col("jt2").cast("double") / 2)
          - (col("n").cast(d) * col("n") - col("sn2")).cast("double") / 4)
          / sqrt((col("n").cast(d) * col("n") * (col("n") * 2 + 3) - col("sv"))
            .cast("double") / 72)).as("z"))
      .withColumn("reject", abs(col("z")) > 1.96)
      .orderBy("n")
  }

  val evtJtSql: String =
    Tables.eventsCte +
      """
        |, fl AS (SELECT event_type, CAST(round(value * 10) AS BIGINT) AS b FROM ev),
        |bins AS (SELECT b, event_type, count(*)::BIGINT AS c FROM fl GROUP BY 1, 2),
        |bt AS (SELECT b FROM bins GROUP BY 1),
        |types AS (SELECT DISTINCT event_type FROM bins),
        |grid AS (SELECT bt.b, t.event_type, coalesce(bins.c, 0)::BIGINT AS c0
        |         FROM bt CROSS JOIN types t
        |         LEFT JOIN bins ON bins.b = bt.b AND bins.event_type = t.event_type),
        |g AS (SELECT b, event_type, c0,
        |        coalesce(sum(c0) OVER (PARTITION BY event_type ORDER BY b
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum
        |      FROM grid),
        |pairs AS (SELECT a.b, a.c0 AS ca, a.cum AS cuma, bq.c0 AS cb
        |          FROM g a JOIN g bq USING (b) WHERE a.event_type < bq.event_type),
        |jt AS (SELECT sum(cb::HUGEINT * (cuma::HUGEINT * 2 + ca)) AS jt2 FROM pairs),
        |nj AS (SELECT event_type, sum(c0)::BIGINT AS nj FROM g GROUP BY 1),
        |mo AS (SELECT count(*)::BIGINT AS k, sum(nj)::BIGINT AS n,
        |         sum(nj::HUGEINT * nj) AS sn2,
        |         sum(nj::HUGEINT * nj * (nj * 2 + 3)) AS sv FROM nj)
        |SELECT n, k, jt2::DOUBLE / 2 AS jt,
        |  (jt2::DOUBLE / 2 - (n::HUGEINT * n - sn2)::DOUBLE / 4)
        |    / sqrt((n::HUGEINT * n * (n * 2 + 3) - sv)::DOUBLE / 72) AS z,
        |  abs((jt2::DOUBLE / 2 - (n::HUGEINT * n - sn2)::DOUBLE / 4)
        |    / sqrt((n::HUGEINT * n * (n * 2 + 3) - sv)::DOUBLE / 72)) > 1.96 AS reject
        |FROM jt, mo ORDER BY n""".stripMargin

  /** The per-(user, day) activity grid — purchases and total events.
    * PURELY ADDITIVE (sum-merge on (user_id, d)), the shared state for
    * the paired-design tests below: McNemar needs per-half conversion,
    * Cochran's Q per-tertile conversion, both derivable from this one
    * grid at readout time.
    */
  private[graft] def userDayGrid(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))

  /** McNemar's paired test (McNemar 1947) on per-user conversion in the
    * first vs second half of the observation window — the PAIRED
    * before/after companion to the independent-sample A/B family
    * (each user is their own control, so cross-user variance cancels).
    * Conversion = purchase share ≥ 25 % within the half (the
    * [[evtCmh]] share-threshold device — raw any-purchase flags are
    * degenerate on this fixture); halves split at the integer midpoint
    * of the day span. χ² uses the Edwards continuity correction
    * max(¦b−c¦−1, 0)²/(b+c) from exact integer discordant counts —
    * the only float is one division.
    */
  def evtMcnemar(s: SparkSession, dir: String): DataFrame =
    mcnemarFromGrid(userDayGrid(Tables.events(s, dir)))

  private[graft] def mcnemarFromGrid(grid: DataFrame): DataFrame = {
    val span = grid.agg(min("d").as("d0"), max("d").as("d1"))
    val h = grid.crossJoin(broadcast(span))
      .withColumn("h1",
        (datediff(col("d"), col("d0")) * 2 <= datediff(col("d1"), col("d0"))).cast("long"))
      .groupBy("user_id")
      .agg(sum(col("np") * col("h1")).as("np1"), sum(col("n") * col("h1")).as("n1"),
        sum(col("np") * (lit(1L) - col("h1"))).as("np2"),
        sum(col("n") * (lit(1L) - col("h1"))).as("n2"))
    val cv = h.select(
      when(col("np1") * 4 >= col("n1") && col("n1") > 0, 1L).otherwise(0L).as("c1"),
      when(col("np2") * 4 >= col("n2") && col("n2") > 0, 1L).otherwise(0L).as("c2"))
    cv.agg(
        sum(when(col("c1") === 0 && col("c2") === 0, 1L).otherwise(0L)).cast("long").as("n00"),
        sum(when(col("c1") === 0 && col("c2") === 1, 1L).otherwise(0L)).cast("long").as("n01"),
        sum(when(col("c1") === 1 && col("c2") === 0, 1L).otherwise(0L)).cast("long").as("n10"),
        sum(when(col("c1") === 1 && col("c2") === 1, 1L).otherwise(0L)).cast("long").as("n11"))
      .withColumn("chi2",
        when(col("n01") + col("n10") > 0,
          (greatest(abs(col("n01") - col("n10")) - 1, lit(0L))
            * greatest(abs(col("n01") - col("n10")) - 1, lit(0L))).cast("double")
            / (col("n01") + col("n10")).cast("double")))
      .withColumn("reject", col("chi2") > 3.841)
      .orderBy("n00")
  }

  val evtMcnemarSql: String =
    Tables.eventsCte +
      """
        |, ud AS (SELECT user_id, ts::DATE AS d, count(*)::BIGINT AS n,
        |           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS np
        |         FROM ev GROUP BY 1, 2),
        |sp AS (SELECT min(d) AS d0, max(d) AS d1 FROM ud),
        |h AS (SELECT user_id,
        |        sum(np * h1)::BIGINT AS np1, sum(n * h1)::BIGINT AS n1,
        |        sum(np * (1 - h1))::BIGINT AS np2, sum(n * (1 - h1))::BIGINT AS n2
        |      FROM (SELECT ud.*, CASE WHEN (d - d0) * 2 <= (d1 - d0)
        |                              THEN 1 ELSE 0 END::BIGINT AS h1 FROM ud, sp)
        |      GROUP BY 1),
        |cv AS (SELECT CASE WHEN np1 * 4 >= n1 AND n1 > 0 THEN 1 ELSE 0 END AS c1,
        |              CASE WHEN np2 * 4 >= n2 AND n2 > 0 THEN 1 ELSE 0 END AS c2 FROM h),
        |m AS (SELECT
        |        sum(CASE WHEN c1 = 0 AND c2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n00,
        |        sum(CASE WHEN c1 = 0 AND c2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n01,
        |        sum(CASE WHEN c1 = 1 AND c2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n10,
        |        sum(CASE WHEN c1 = 1 AND c2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n11 FROM cv)
        |SELECT n00, n01, n10, n11,
        |  CASE WHEN n01 + n10 > 0 THEN
        |    (greatest(abs(n01 - n10) - 1, 0) * greatest(abs(n01 - n10) - 1, 0))::DOUBLE
        |      / (n01 + n10)::DOUBLE END AS chi2,
        |  CASE WHEN n01 + n10 > 0 THEN
        |    (greatest(abs(n01 - n10) - 1, 0) * greatest(abs(n01 - n10) - 1, 0))::DOUBLE
        |      / (n01 + n10)::DOUBLE END > 3.841 AS reject
        |FROM m ORDER BY n00""".stripMargin

  /** Cochran's Q (Cochran 1950) — k related binary treatments per
    * subject: did the per-user conversion rate CHANGE across the three
    * day-tertiles of the window? The k>2 generalization of
    * [[evtMcnemar]] (and its df=2 χ² is the gate run before pairwise
    * McNemars). x_uj = purchase share ≥ 25 % within tertile j (shared
    * threshold device over the same [[userDayGrid]] state);
    * Q = (k−1)·(k·ΣT_j² − (ΣT)²) / (k·ΣR_u − ΣR_u²) is a ratio of
    * exact integer moments — one division, integer comparison against
    * nothing, χ²₀.₀₅(2) = 5.991 on the emitted double.
    */
  def evtCochranq(s: SparkSession, dir: String): DataFrame =
    cochranqFromGrid(userDayGrid(Tables.events(s, dir)))

  private[graft] def cochranqFromGrid(grid: DataFrame): DataFrame = {
    val span = grid.agg(min("d").as("d0"), max("d").as("d1"))
    val bk = grid.crossJoin(broadcast(span))
      .withColumn("j", least(
        expr("datediff(d, d0) * 3 DIV (datediff(d1, d0) + 1)"), lit(2L)))
      .groupBy("user_id", "j")
      .agg(sum("np").as("np"), sum("n").as("n"))
    val x = bk.select(col("user_id"), col("j"),
      when(col("np") * 4 >= col("n") && col("n") > 0, 1L).otherwise(0L).as("x"))
    val r = x.groupBy("user_id").agg(sum("x").as("ru"))
    val t = x.agg(
      sum(when(col("j") === 0, col("x")).otherwise(0L)).cast("long").as("t0"),
      sum(when(col("j") === 1, col("x")).otherwise(0L)).cast("long").as("t1"),
      sum(when(col("j") === 2, col("x")).otherwise(0L)).cast("long").as("t2"))
    val rm = r.agg(count(lit(1)).cast("long").as("n_users"),
      sum("ru").cast("long").as("sr"), sum(col("ru") * col("ru")).cast("long").as("sr2"))
    t.crossJoin(broadcast(rm))
      .withColumn("q", when(col("sr") * 3 - col("sr2") > 0,
        (lit(2L) * (lit(3L) * (col("t0") * col("t0") + col("t1") * col("t1")
          + col("t2") * col("t2"))
          - (col("t0") + col("t1") + col("t2"))
            * (col("t0") + col("t1") + col("t2")))).cast("double")
          / (col("sr") * 3 - col("sr2")).cast("double")))
      .select(col("n_users"), col("t0"), col("t1"), col("t2"), col("q"),
        (col("q") > 5.991).as("reject"))
      .orderBy("n_users")
  }

  val evtCochranqSql: String =
    Tables.eventsCte +
      """
        |, ud AS (SELECT user_id, ts::DATE AS d, count(*)::BIGINT AS n,
        |           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS np
        |         FROM ev GROUP BY 1, 2),
        |sp AS (SELECT min(d) AS d0, max(d) AS d1 FROM ud),
        |bk AS (SELECT user_id, least(((d - d0) * 3) // ((d1 - d0) + 1), 2) AS j,
        |         sum(np)::BIGINT AS np, sum(n)::BIGINT AS n
        |       FROM ud, sp GROUP BY 1, 2),
        |x AS (SELECT user_id, j,
        |        CASE WHEN np * 4 >= n AND n > 0 THEN 1 ELSE 0 END::BIGINT AS x FROM bk),
        |r AS (SELECT user_id, sum(x)::BIGINT AS ru FROM x GROUP BY 1),
        |t AS (SELECT sum(CASE WHEN j = 0 THEN x ELSE 0 END)::BIGINT AS t0,
        |        sum(CASE WHEN j = 1 THEN x ELSE 0 END)::BIGINT AS t1,
        |        sum(CASE WHEN j = 2 THEN x ELSE 0 END)::BIGINT AS t2 FROM x),
        |rm AS (SELECT count(*)::BIGINT AS n_users, sum(ru)::BIGINT AS sr,
        |         sum(ru * ru)::BIGINT AS sr2 FROM r)
        |SELECT n_users, t0, t1, t2,
        |  CASE WHEN sr * 3 - sr2 > 0 THEN
        |    (2 * (3 * (t0 * t0 + t1 * t1 + t2 * t2)
        |      - (t0 + t1 + t2) * (t0 + t1 + t2)))::DOUBLE
        |      / (sr * 3 - sr2)::DOUBLE END AS q,
        |  CASE WHEN sr * 3 - sr2 > 0 THEN
        |    (2 * (3 * (t0 * t0 + t1 * t1 + t2 * t2)
        |      - (t0 + t1 + t2) * (t0 + t1 + t2)))::DOUBLE
        |      / (sr * 3 - sr2)::DOUBLE END > 5.991 AS reject
        |FROM t, rm ORDER BY n_users""".stripMargin

  /** The per-type daily (count, value-cents) grid — the shared additive
    * state for the rank-correlation pair and Page–Hinkley below. Cents
    * (round(value·100) summed as BIGINT) keep the per-day value total
    * EXACT — a raw double sum would be addend-order-sensitive across
    * engines.
    */
  private[queries] def dailyCents(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * 100).cast("long")).as("cents"))

  private val dailyCentsSql: String =
    """
      |, daily AS (SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS cnt,
      |              sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      |            FROM ev GROUP BY 1, 2)""".stripMargin

  /** Spearman rank correlation between daily event count and daily
    * value total, per event type — "does volume co-move with spend"
    * asked robustly (monotone association, outlier-immune; the
    * time-series complement of [[evtAgg corr]]'s Pearson). Midranks via
    * 2·r = 2·rank + ties − 1 (integer), all moments exact in
    * DECIMAL(38,0) on the BOUNDED daily grid; ρ is two integer→double
    * casts and one division. All-tied series emit NULL (denominator 0)
    * rather than a fake 0.
    */
  def evtSpearman(s: SparkSession, dir: String): DataFrame =
    spearmanFromDaily(dailyCents(Tables.events(s, dir)))

  private[queries] def spearmanFromDaily(daily: DataFrame): DataFrame = {
    val d = "decimal(38,0)"
    def r2(c: String) =
      (rank().over(Window.partitionBy("event_type").orderBy(c)).cast("long") * 2
        + count(lit(1)).over(Window.partitionBy("event_type", c)) - 1)
    val ranked = daily.select(col("event_type"),
      r2("cnt").as("rx"), r2("cents").as("ry"))
    ranked.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("rx").cast(d) * col("ry")).as("sxy"),
        sum(col("rx").cast(d)).as("sx"), sum(col("ry").cast(d)).as("sy"),
        sum(col("rx").cast(d) * col("rx")).as("sxx"),
        sum(col("ry").cast(d) * col("ry")).as("syy"))
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")), lit(0.0))).as("rho"))
      .orderBy("event_type")
  }

  val evtSpearmanSql: String =
    Tables.eventsCte + dailyCentsSql +
      """
        |, ranked AS (SELECT event_type,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY cnt)
        |      + count(*) OVER (PARTITION BY event_type, cnt) - 1 AS rx,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY cents)
        |      + count(*) OVER (PARTITION BY event_type, cents) - 1 AS ry
        |  FROM daily),
        |m AS (SELECT event_type, count(*)::BIGINT AS n,
        |        sum(rx::HUGEINT * ry) AS sxy, sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
        |        sum(rx::HUGEINT * rx) AS sxx, sum(ry::HUGEINT * ry) AS syy
        |      FROM ranked GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  (n * sxy - sx * sy)::DOUBLE
        |    / nullif(sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE), 0.0) AS rho
        |FROM m ORDER BY event_type""".stripMargin

  /** Kendall τ-b over the same daily (count, cents) series — the
    * concordance-based rank correlation (preferred over Spearman when
    * the grid is short or tie-heavy; its pairwise definition is also
    * the one that generalizes to top-k list agreement). The O(days²)
    * self-join is on the BOUNDED per-type daily grid (days grow with
    * calendar time, not data volume — the [[evtBinseg]] argument), so
    * the pair blast radius is fixed at any SF. Counts exact in BIGINT;
    * τ-b = (C−D)/√((C+D+Tx)(C+D+Ty)) with NULL on degenerate factors.
    */
  def evtKendall(s: SparkSession, dir: String): DataFrame =
    kendallFromDaily(dailyCents(Tables.events(s, dir)))

  private[queries] def kendallFromDaily(daily0: DataFrame): DataFrame = {
    val daily = Funnel.stageLazy(daily0)
    val a = daily.select(col("event_type"), col("d").as("da"),
      col("cnt").as("xa"), col("cents").as("ya"))
    val b = daily.select(col("event_type"), col("d").as("db"),
      col("cnt").as("xb"), col("cents").as("yb"))
    val pairs = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
    val nDays = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    pairs.groupBy("event_type")
      .agg(
        sum(when((col("xa") < col("xb") && col("ya") < col("yb"))
          || (col("xa") > col("xb") && col("ya") > col("yb")), 1L).otherwise(0L)).as("nc"),
        sum(when((col("xa") < col("xb") && col("ya") > col("yb"))
          || (col("xa") > col("xb") && col("ya") < col("yb")), 1L).otherwise(0L)).as("nd"),
        sum(when(col("xa") === col("xb") && col("ya") =!= col("yb"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("ya") === col("yb") && col("xa") =!= col("xb"), 1L).otherwise(0L)).as("ty"))
      .join(nDays, "event_type")
      .select(col("event_type"), col("n_days").cast("long").as("n_days"),
        col("nc"), col("nd"),
        ((col("nc") - col("nd")).cast("double")
          / nullif(sqrt((col("nc") + col("nd") + col("tx")).cast("double"))
            * sqrt((col("nc") + col("nd") + col("ty")).cast("double")), lit(0.0))).as("tau"))
      .orderBy("event_type")
  }

  val evtKendallSql: String =
    Tables.eventsCte + dailyCentsSql +
      """
        |, pr AS (SELECT a.event_type,
        |           a.cnt AS xa, a.cents AS ya, b.cnt AS xb, b.cents AS yb
        |         FROM daily a JOIN daily b
        |           ON a.event_type = b.event_type AND a.d < b.d),
        |m AS (SELECT event_type,
        |        sum(CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb) THEN 1 ELSE 0 END)::BIGINT AS nc,
        |        sum(CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb) THEN 1 ELSE 0 END)::BIGINT AS nd,
        |        sum(CASE WHEN xa = xb AND ya <> yb THEN 1 ELSE 0 END)::BIGINT AS tx,
        |        sum(CASE WHEN ya = yb AND xa <> xb THEN 1 ELSE 0 END)::BIGINT AS ty
        |      FROM pr GROUP BY 1),
        |nn AS (SELECT event_type, count(*)::BIGINT AS n_days FROM daily GROUP BY 1)
        |SELECT event_type, n_days, nc, nd,
        |  (nc - nd)::DOUBLE
        |    / nullif(sqrt((nc + nd + tx)::DOUBLE) * sqrt((nc + nd + ty)::DOUBLE), 0.0) AS tau
        |FROM m JOIN nn USING (event_type) ORDER BY event_type""".stripMargin

  /** t-closeness audit (Li 2007) — the third leg of the privacy-audit
    * family ([[evtKanon]] k-anonymity, [[evtLdiv]] l-diversity): per
    * QI group, the distance between the group's sensitive-attribute
    * distribution and the GLOBAL distribution. Categorical sensitive
    * attribute (the user's favorite event type, as in l-diversity), so
    * the equal-ground-distance EMD reduces to total variation:
    * t = ½·Σ¦p−q¦, computed exactly as Σ¦c·N − C·n¦ in DECIMAL(38,0)
    * over the SAME two additive state tables as k-anonymity, with one
    * double division at emission. Missing classes matter (a group
    * missing a globally-common class is skewed): [[tcloseSolve]] adds
    * their terms in closed form rather than zero-filling a frame.
    */
  def evtTclose(s: SparkSession, dir: String): DataFrame = {
    val base = Funnel.stageLazy(Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type")))
    tcloseSolve(
      base.groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt")),
      base.select("user_id", "d").distinct())
  }

  /** The t-closeness tail over the shared QI state tables. The QI ×
    * class aggregate (`c` users per present (group, class) cell) is
    * bounded by the QI grid times the class domain, so it runs in one
    * partition, where the group size n, the class total cg and the
    * grand total nt are window sums over it. The absent cells (c = 0)
    * each add cg·n, and Σ over every class of cg·n is n·nt, so
    * dev = Σ¦c·nt − cg·n¦ over all classes
    *     = Σ over present cells of (¦c·nt − cg·n¦ − cg·n) + n·nt,
    * exactly, in DECIMAL(38,0) — no group × class frame is built.
    */
  private[queries] def tcloseSolve(tc: DataFrame, days: DataFrame): DataFrame = {
    def dec(c: String) = col(c).cast("decimal(38,0)")
    kanonProfiles(tc, days)
      .groupBy("activity_bucket", "days_bucket", "fav").agg(count(lit(1)).as("c"))
      .coalesce(1)
      .withColumn("n", sum("c").over(Window.partitionBy("activity_bucket", "days_bucket")))
      .withColumn("cg", sum("c").over(Window.partitionBy("fav")))
      .withColumn("nt", sum("c").over())
      .groupBy("activity_bucket", "days_bucket", "n", "nt")
      .agg(sum(abs(dec("c") * dec("nt") - dec("cg") * dec("n")) - dec("cg") * dec("n")).as("dev"))
      .select(col("activity_bucket").cast("long").as("activity_bucket"),
        col("days_bucket").cast("long").as("days_bucket"),
        col("n").as("n_users"),
        ((col("dev") + dec("n") * dec("nt")).cast("double")
          / (col("n").cast("double") * col("nt").cast("double") * 2)).as("t_dist"))
      .withColumn("violates", col("t_dist") > 0.25)
      .orderBy("activity_bucket", "days_bucket")
  }

  val evtTcloseSql: String =
    Tables.eventsCte +
      """
        |, b AS (SELECT user_id, ts::DATE AS d, event_type FROM ev),
        |prof AS (SELECT user_id, count(*)::BIGINT AS n_events,
        |           count(DISTINCT d)::BIGINT AS n_days FROM b GROUP BY 1),
        |fc AS (SELECT user_id, event_type, count(*) AS cnt FROM b GROUP BY 1, 2),
        |fav AS (SELECT user_id, event_type AS fav FROM (
        |          SELECT user_id, event_type,
        |            row_number() OVER (PARTITION BY user_id
        |                               ORDER BY cnt DESC, event_type ASC) AS rn
        |          FROM fc) WHERE rn = 1),
        |qi AS (SELECT least(n_events // 10, 9)::BIGINT AS activity_bucket,
        |         (n_days // 5)::BIGINT AS days_bucket, fav
        |       FROM prof JOIN fav USING (user_id)),
        |gc AS (SELECT activity_bucket, days_bucket, fav, count(*)::BIGINT AS c
        |       FROM qi GROUP BY 1, 2, 3),
        |g AS (SELECT activity_bucket, days_bucket, sum(c)::BIGINT AS n FROM gc GROUP BY 1, 2),
        |cl AS (SELECT fav, sum(c)::BIGINT AS cg FROM gc GROUP BY 1),
        |tt AS (SELECT sum(cg)::BIGINT AS nt FROM cl),
        |fr AS (SELECT g.activity_bucket, g.days_bucket, g.n, cl.fav, cl.cg, tt.nt,
        |         coalesce(gc.c, 0)::BIGINT AS c0
        |       FROM g CROSS JOIN cl CROSS JOIN tt
        |       LEFT JOIN gc ON gc.activity_bucket = g.activity_bucket
        |         AND gc.days_bucket = g.days_bucket AND gc.fav = cl.fav)
        |SELECT activity_bucket, days_bucket, n AS n_users,
        |  sum(abs(c0::HUGEINT * nt - cg::HUGEINT * n))::DOUBLE
        |    / (n::DOUBLE * nt::DOUBLE * 2) AS t_dist,
        |  sum(abs(c0::HUGEINT * nt - cg::HUGEINT * n))::DOUBLE
        |    / (n::DOUBLE * nt::DOUBLE * 2) > 0.25 AS violates
        |FROM fr GROUP BY 1, 2, 3, nt
        |ORDER BY activity_bucket, days_bucket""".stripMargin

  /** Page–Hinkley drift detection (Page 1954; the standard online
    * mean-shift alarm in the stream-mining literature — MOA/River ship
    * it) over the per-type daily mean value: PH_t = c_t − min_{i≤t} c_i
    * with c_t = Σ_{i≤t}(m_i − m̄_i − δ), alarm when PH_t > λ. Unlike
    * [[evtCusum]]'s fixed reference mean, the Page–Hinkley reference is
    * the RUNNING mean — no training window needed, which is why it is
    * the default drift detector for unattended pipelines. Pure window
    * functions on the bounded daily grid (running Σm, running Σm̄,
    * running min — no recursion). The daily mean quantizes to integer
    * MICRO-units (floor(cents·1e6 / cnt)) before any running sum, and
    * the running reference mean floors to micro-units per row, so the
    * whole c/ph walk is exact BIGINT arithmetic — the house
    * quantize-before-sum discipline (r10 ADVICE: raw running double
    * sums are association-order-sensitive and only coincidentally
    * bit-equal across engines); the alarm compares integers and ph
    * converts with ONE division at emission.
    */
  def evtPageHinkley(s: SparkSession, dir: String): DataFrame =
    pageHinkleyFromDaily(dailyCents(Tables.events(s, dir)))

  private[queries] def pageHinkleyFromDaily(daily: DataFrame): DataFrame = {
    val lambda6 = 10000000L // λ = 10.0 in micro-units
    val wIdx = Window.partitionBy("event_type").orderBy("d")
    val wCum = wIdx.rowsBetween(Window.unboundedPreceding, 0)
    daily
      // the cents·1e6 product is the one term here that can exceed a
      // BIGINT at warehouse scale (daily cents > ~9.2e12, i.e. ~$92B/
      // day/type) — widen it to DECIMAL(38,0) before the integral
      // divide (DIV returns BIGINT; the QUOTIENT is a daily mean in
      // micro-units, safely long). Downstream running sums are bounded
      // by |days| × that mean — long-safe by the calendar bound.
      .withColumn("m6", expr("CAST(cents AS DECIMAL(38,0)) * 1000000 DIV cnt"))
      .withColumn("i", row_number().over(wIdx).cast("long"))
      .withColumn("a6", expr("sum(m6) OVER (PARTITION BY event_type ORDER BY d " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) DIV i"))
      .withColumn("c6", sum("m6").over(wCum) - sum("a6").over(wCum))
      .withColumn("ph6", col("c6") - min("c6").over(wCum))
      .select(col("event_type"), col("d").cast("string").as("day"),
        (col("m6").cast("double") / 1e6).as("m"),
        (col("ph6").cast("double") / 1e6).as("ph"), (col("ph6") > lambda6).as("alarm"))
      .orderBy("event_type", "day")
  }

  val evtPageHinkleySql: String =
    Tables.eventsCte + dailyCentsSql +
      """
        |, g1 AS (SELECT event_type, d,
        |           ((cents::HUGEINT * 1000000) // cnt)::BIGINT AS m6,
        |           (row_number() OVER w)::BIGINT AS i,
        |           sum((cents::HUGEINT * 1000000) // cnt) OVER (PARTITION BY event_type ORDER BY d
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cm6
        |         FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |g2 AS (SELECT event_type, d, m6, i, cm6, cm6 // i AS a6 FROM g1),
        |g3 AS (SELECT event_type, d, m6, i, cm6,
        |         sum(a6) OVER (PARTITION BY event_type ORDER BY d
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS sa6
        |       FROM g2),
        |g4 AS (SELECT event_type, d, m6, cm6 - sa6 AS c6 FROM g3),
        |g5 AS (SELECT event_type, d, m6, c6,
        |         c6 - min(c6) OVER (PARTITION BY event_type ORDER BY d
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph6
        |       FROM g4)
        |SELECT event_type, d::VARCHAR AS day, m6::DOUBLE / 1e6 AS m,
        |  ph6::DOUBLE / 1e6 AS ph, ph6 > 10000000 AS alarm
        |FROM g5 ORDER BY event_type, day""".stripMargin

  /** Granger causality at lag 1 between the daily click and purchase
    * count series (Granger 1969): does yesterday's X volume improve the
    * prediction of today's Y beyond Y's own yesterday? F-test of the
    * unrestricted AR-X regression y_t ~ 1 + y_{t−1} + x_{t−1} against
    * the restricted y_t ~ 1 + y_{t−1}, BOTH directions emitted — the
    * standard lead-lag screen before anyone claims "clicks drive
    * purchases". All raw and cross moments accumulate EXACTLY in
    * DECIMAL(38,0) over the bounded daily grid; the n-scaled central
    * moments (n·Σuv − Σu·Σv, homogeneous in the F ratio) convert to
    * double once, and the Cramer-rule solve + RSS algebra is the same
    * IEEE chain on both engines. Degenerate series (constant regressor
    * ⇒ singular normal equations) emit NULL via the 0-denominator
    * guard. reject uses F₀.₀₅(1, 27) ≈ 4.21 — α = 0.05 at the fixture's
    * ~30-day grid; re-tune for longer horizons.
    */
  def evtGranger(s: SparkSession, dir: String): DataFrame =
    grangerFromDaily(grangerDaily(Tables.events(s, dir)))

  /** The additive per-day (click count, purchase count) grid. */
  private[queries] def grangerDaily(ev: DataFrame): DataFrame =
    ev.filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("xc"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("yp"))

  private[queries] def grangerFromDaily(daily: DataFrame): DataFrame = {
    val d = "decimal(38,0)"
    val wd = Window.orderBy("d")
    val lagged = Funnel.stageLazy(daily
      .select(col("d"), col("xc"), col("yp"),
        lag("xc", 1).over(wd).as("xl"), lag("yp", 1).over(wd).as("yl"))
      .filter(col("xl").isNotNull))
    def direction(name: String, y: Column, u: Column, v: Column): DataFrame =
      lagged
        .agg(count(lit(1)).as("n"),
          sum(u.cast(d)).as("su"), sum(v.cast(d)).as("sv"), sum(y.cast(d)).as("sy"),
          sum(u.cast(d) * u.cast(d)).as("suu"), sum(v.cast(d) * v.cast(d)).as("svv"),
          sum(u.cast(d) * v.cast(d)).as("suv"),
          sum(u.cast(d) * y.cast(d)).as("suy"), sum(v.cast(d) * y.cast(d)).as("svy"),
          sum(y.cast(d) * y.cast(d)).as("syy"))
        .select(lit(name).as("direction"), col("n").cast("long").as("n"),
          (col("n") * col("suu") - col("su") * col("su")).cast("double").as("cuu"),
          (col("n") * col("svv") - col("sv") * col("sv")).cast("double").as("cvv"),
          (col("n") * col("suv") - col("su") * col("sv")).cast("double").as("cuv"),
          (col("n") * col("suy") - col("su") * col("sy")).cast("double").as("cuy"),
          (col("n") * col("svy") - col("sv") * col("sy")).cast("double").as("cvy"),
          (col("n") * col("syy") - col("sy") * col("sy")).cast("double").as("cyy"))
        .select(col("direction"), col("n"),
          (col("cuu") * col("cvv") - col("cuv") * col("cuv")).as("det"),
          col("cuu"), col("cuy"), col("cvy"), col("cuv"), col("cvv"), col("cyy"))
        .select(col("direction"), col("n"),
          ((col("cuy") * col("cvv") - col("cvy") * col("cuv")) / nullif(col("det"), lit(0.0))).as("b1"),
          ((col("cvy") * col("cuu") - col("cuy") * col("cuv")) / nullif(col("det"), lit(0.0))).as("b2"),
          col("cuu"), col("cuy"), col("cvy"), col("cyy"))
        .select(col("direction"), col("n"),
          (col("cyy") - col("b1") * col("cuy") - col("b2") * col("cvy")).as("rss_u"),
          (col("cyy") - col("cuy") * col("cuy") / nullif(col("cuu"), lit(0.0))).as("rss_r"))
        .select(col("direction"), col("n"),
          ((col("rss_r") - col("rss_u")) * (col("n") - 3)
            / nullif(col("rss_u"), lit(0.0))).as("f_stat"))
        .withColumn("reject", col("f_stat") > 4.21)
    direction("click->purchase", col("yp"), col("yl"), col("xl"))
      .unionByName(direction("purchase->click", col("xc"), col("xl"), col("yl")))
      .orderBy("direction")
  }

  val evtGrangerSql: String =
    Tables.eventsCte +
      """
        |, daily AS (SELECT ts::DATE AS d,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS xc,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS yp
        |  FROM ev WHERE event_type IN ('click', 'purchase') GROUP BY 1),
        |lagged AS (SELECT * FROM (
        |    SELECT d, xc, yp, lag(xc) OVER (ORDER BY d) AS xl,
        |      lag(yp) OVER (ORDER BY d) AS yl FROM daily)
        |  WHERE xl IS NOT NULL),
        |dirs AS (
        |  SELECT 'click->purchase' AS direction, yp AS y, yl AS u, xl AS v FROM lagged
        |  UNION ALL
        |  SELECT 'purchase->click' AS direction, xc AS y, xl AS u, yl AS v FROM lagged),
        |m AS (SELECT direction, count(*)::BIGINT AS n,
        |        sum(u::HUGEINT) AS su, sum(v::HUGEINT) AS sv, sum(y::HUGEINT) AS sy,
        |        sum(u::HUGEINT * u) AS suu, sum(v::HUGEINT * v) AS svv,
        |        sum(u::HUGEINT * v) AS suv,
        |        sum(u::HUGEINT * y) AS suy, sum(v::HUGEINT * y) AS svy,
        |        sum(y::HUGEINT * y) AS syy
        |      FROM dirs GROUP BY 1),
        |cmom AS (SELECT direction, n,
        |           (n * suu - su * su)::DOUBLE AS cuu, (n * svv - sv * sv)::DOUBLE AS cvv,
        |           (n * suv - su * sv)::DOUBLE AS cuv, (n * suy - su * sy)::DOUBLE AS cuy,
        |           (n * svy - sv * sy)::DOUBLE AS cvy, (n * syy - sy * sy)::DOUBLE AS cyy
        |         FROM m),
        |coefs AS (SELECT direction, n, cuu, cuy, cvy, cyy,
        |            (cuy * cvv - cvy * cuv) / nullif(cuu * cvv - cuv * cuv, 0.0) AS b1,
        |            (cvy * cuu - cuy * cuv) / nullif(cuu * cvv - cuv * cuv, 0.0) AS b2
        |          FROM cmom),
        |rss AS (SELECT direction, n,
        |          cyy - b1 * cuy - b2 * cvy AS rss_u,
        |          cyy - cuy * cuy / nullif(cuu, 0.0) AS rss_r
        |        FROM coefs)
        |SELECT direction, n,
        |  (rss_r - rss_u) * (n - 3) / nullif(rss_u, 0.0) AS f_stat,
        |  (rss_r - rss_u) * (n - 3) / nullif(rss_u, 0.0) > 4.21 AS reject
        |FROM rss ORDER BY direction""".stripMargin

  /** Cochran–Mantel–Haenszel stratified 2×2 test (Mantel–Haenszel
    * 1959) of assignment → purchase-heaviness association CONTROLLING
    * for activity (treated = the user_id parity split, outcome =
    * purchases ≥ 20 % of the user's events — the fixture's signup/
    * purchase flags are degenerate constants, every user has both) —
    * the experimentation-family member that answers "does the treatment
    * effect survive stratification by the confounder" (Simpson's-
    * paradox insurance; [[evtAte]] estimates the adjusted effect size,
    * CMH tests it). Strata = the bounded activity buckets over the SAME
    * additive per-user profile as ATE. Per stratum the 2×2 margins are
    * exact BIGINTs; E, V and the Mantel–Haenszel odds-ratio terms
    * quantize to 1e-9 units BEFORE the cross-stratum sums (integer
    * sums, order-free); the χ² (continuity-corrected) and OR_MH
    * emissions are identical IEEE chains. Degenerate strata pool
    * naturally (V = 0 rows contribute nothing); an all-degenerate table
    * emits NULL.
    */
  def evtCmh(s: SparkSession, dir: String): DataFrame =
    cmhFromUsers(Funnel.stageLazy(cmhUsers(Tables.events(s, dir))))

  /** Additive per-user profile under [[evtCmh]]: activity, event count,
    * purchase count (all sums — the maintainer sum-merges).
    */
  private[queries] def cmhUsers(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(sum(when(col("event_type").isin("click", "view"), 1L).otherwise(0L)).as("act"),
        count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))

  private[queries] def cmhFromUsers(users: DataFrame): DataFrame = {
    val cells = users
      .withColumn("stratum", least(floor(col("act") / 5), lit(9L)))
      .withColumn("treated", pmod(col("user_id"), lit(2L)))
      .withColumn("conv", (col("np") * 5 >= col("n")).cast("long"))
      .groupBy("stratum")
      .agg(count(lit(1)).cast("long").as("nn"),
        sum("treated").cast("long").as("n1"),
        sum("conv").cast("long").as("m1"),
        sum(col("treated") * col("conv")).cast("long").as("a"))
      .filter(col("nn") > 1)
    val q = cells.select(col("stratum"), col("a"),
      floor((col("n1").cast("double") * col("m1") / col("nn")) * 1e9 + 0.5)
        .cast("long").as("e9"),
      floor((col("n1").cast("double") * (col("nn") - col("n1")) * col("m1")
        * (col("nn") - col("m1"))
        / (col("nn").cast("double") * col("nn") * (col("nn") - 1))) * 1e9 + 0.5)
        .cast("long").as("v9"),
      floor((col("a").cast("double") * (col("nn") - col("n1") - col("m1") + col("a"))
        / col("nn")) * 1e9 + 0.5).cast("long").as("orn9"),
      floor(((col("n1") - col("a")).cast("double") * (col("m1") - col("a"))
        / col("nn")) * 1e9 + 0.5).cast("long").as("ord9"))
    q.agg(count(lit(1)).cast("long").as("n_strata"),
        sum("a").cast("long").as("sa"), sum("e9").as("se9"),
        sum("v9").as("sv9"), sum("orn9").as("sn9"), sum("ord9").as("sd9"))
      .select(col("n_strata"),
        (pow(greatest(abs(col("sa").cast("double") - col("se9").cast("double") / 1e9)
          - 0.5, lit(0.0)), 2)
          / nullif(col("sv9").cast("double") / 1e9, lit(0.0))).as("chi2"),
        (col("sn9").cast("double") / nullif(col("sd9").cast("double"), lit(0.0))).as("or_mh"))
      .withColumn("reject", col("chi2") > 3.841)
      .orderBy("n_strata")
  }

  val evtCmhSql: String =
    Tables.eventsCte +
      """
        |, u AS (SELECT user_id,
        |    sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)::BIGINT AS act,
        |    user_id % 2 AS treated,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5
        |              >= count(*) THEN 1 ELSE 0 END::BIGINT AS conv
        |  FROM ev GROUP BY 1),
        |cells AS (SELECT least(act // 5, 9) AS stratum, count(*)::BIGINT AS nn,
        |    sum(treated)::BIGINT AS n1, sum(conv)::BIGINT AS m1,
        |    sum(treated * conv)::BIGINT AS a
        |  FROM u GROUP BY 1 HAVING count(*) > 1),
        |q AS (SELECT a,
        |    floor((n1::DOUBLE * m1 / nn) * 1e9 + 0.5)::BIGINT AS e9,
        |    floor((n1::DOUBLE * (nn - n1) * m1 * (nn - m1)
        |      / (nn::DOUBLE * nn * (nn - 1))) * 1e9 + 0.5)::BIGINT AS v9,
        |    floor((a::DOUBLE * (nn - n1 - m1 + a) / nn) * 1e9 + 0.5)::BIGINT AS orn9,
        |    floor(((n1 - a)::DOUBLE * (m1 - a) / nn) * 1e9 + 0.5)::BIGINT AS ord9
        |  FROM cells),
        |m AS (SELECT count(*)::BIGINT AS n_strata, sum(a)::BIGINT AS sa, sum(e9)::BIGINT AS se9,
        |        sum(v9)::BIGINT AS sv9, sum(orn9)::BIGINT AS sn9, sum(ord9)::BIGINT AS sd9
        |      FROM q)
        |SELECT n_strata,
        |  pow(greatest(abs(sa::DOUBLE - se9::DOUBLE / 1e9) - 0.5, 0.0), 2)
        |    / nullif(sv9::DOUBLE / 1e9, 0.0) AS chi2,
        |  sn9::DOUBLE / nullif(sd9::DOUBLE, 0.0) AS or_mh,
        |  pow(greatest(abs(sa::DOUBLE - se9::DOUBLE / 1e9) - 0.5, 0.0), 2)
        |    / nullif(sv9::DOUBLE / 1e9, 0.0) > 3.841 AS reject
        |FROM m ORDER BY n_strata""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_evt_itemsets", evtItemsets, Some(evtItemsetsSql)),
    Q("q_emb_negatives", embNegatives, Some(embNegativesSql)),
    Q("q_evt_growth", evtGrowth, Some(evtGrowthSql)),
    Q("q_evt_transitions", evtTransitions, Some(evtTransitionsSql)),
    Q("q_evt_paths", evtPaths, Some(evtPathsSql)),
    Q("q_evt_chi2", evtChi2, Some(evtChi2Sql)),
    Q("q_evt_anomaly", evtAnomaly, Some(evtAnomalySql)),
    Q("q_evt_winsorize", evtWinsorize, Some(evtWinsorizeSql)),
    Q("q_evt_feature_hash", evtFeatureHash, Some(evtFeatureHashSql)),
    Q("q_evt_resample", evtResample, Some(evtResampleSql)),
    Q("q_evt_cusum", evtCusum, Some(evtCusumSql)),
    Q("q_evt_binseg", evtBinseg, Some(evtBinsegSql)),
    Q("q_evt_binseg_trend", evtBinsegTrend, Some(evtBinsegTrendSql)),
    Q("q_evt_ewma", evtEwma, Some(evtEwmaSql)),
    Q("q_evt_pivot", evtPivot, Some(evtPivotSql)),
    Q("q_evt_melt", evtMelt, Some(evtMeltSql)),
    Q("q_evt_acf", evtAcf, Some(evtAcfSql)),
    Q("q_evt_seasonal", evtSeasonal, Some(evtSeasonalSql)),
    Q("q_evt_stl", evtStl, Some(evtStlSql)),
    Q("q_evt_holtwinters", evtHoltWinters, Some(evtHoltWintersSql)),
    Q("q_evt_bursts", evtBursts, Some(evtBurstsSql)),
    Q("q_evt_msprt", evtMsprt, Some(evtMsprtSql)),
    Q("q_evt_forecast", evtForecast, Some(evtForecastSql)),
    Q("q_evt_ols", evtOls, Some(evtOlsSql)),
    Q("q_evt_ks", evtKs, Some(evtKsSql)),
    Q("q_evt_mannwhitney", evtMannWhitney, Some(evtMannWhitneySql)),
    Q("q_evt_kruskal", evtKruskal, Some(evtKruskalSql)),
    Q("q_evt_mood", evtMood, Some(evtMoodSql)),
    Q("q_evt_cliffs", evtCliffsDelta, Some(evtCliffsDeltaSql)),
    Q("q_evt_jt", evtJt, Some(evtJtSql)),
    Q("q_evt_mcnemar", evtMcnemar, Some(evtMcnemarSql)),
    Q("q_evt_cochranq", evtCochranq, Some(evtCochranqSql)),
    Q("q_evt_spearman", evtSpearman, Some(evtSpearmanSql)),
    Q("q_evt_kendall", evtKendall, Some(evtKendallSql)),
    Q("q_evt_tclose", evtTclose, Some(evtTcloseSql)),
    Q("q_evt_pagehinkley", evtPageHinkley, Some(evtPageHinkleySql)),
    Q("q_evt_granger", evtGranger, Some(evtGrangerSql)),
    Q("q_evt_cmh", evtCmh, Some(evtCmhSql)),
    Q("q_evt_survival", evtSurvival, Some(evtSurvivalSql)),
    Q("q_evt_cumhaz", evtCumhaz, Some(evtCumhazSql)),
    Q("q_evt_ltv", evtLtv, Some(evtLtvSql)),
    Q("q_evt_markov", evtMarkov, Some(evtMarkovSql)),
    Q("q_evt_trend_robust", evtTrendRobust, Some(evtTrendRobustSql)),
    Q("q_evt_markov_attribution", evtMarkovAttribution, Some(evtMarkovAttributionSql)),
    Q("q_evt_shapley", evtShapley, Some(evtShapleySql)),
    Q("q_evt_cuped", evtCuped, Some(evtCupedSql)),
    Q("q_evt_srm", evtSrm, Some(evtSrmSql)),
    Q("q_evt_kanon", evtKanon, Some(evtKanonSql)),
    Q("q_evt_ldiv", evtLdiv, Some(evtLdivSql)),
    Q("q_evt_next_acc", evtNextAcc, Some(evtNextAccSql)),
    Q("q_evt_dp_release", evtDpRelease, Some(evtDpReleaseSql)),
    Q("q_evt_bootstrap_ci", evtBootstrapCi, Some(evtBootstrapCiSql)),
    Q("q_evt_entropy", evtEntropy, Some(evtEntropySql)),
    Q("q_evt_did", evtDid, Some(evtDidSql)),
    Q("q_evt_ate", evtAte, Some(evtAteSql)),
    Q("q_evt_qini", evtQini, Some(evtQiniSql)),
    Q("q_evt_conformal", evtConformal, Some(evtConformalSql)),
    Q("q_evt_lorenz", evtLorenz, Some(evtLorenzSql)),
    Q("q_evt_benford", evtBenford, Some(evtBenfordSql)),
    Q("q_evt_landing", evtLanding, Some(evtLandingSql)),
    Q("q_evt_churn", evtChurn, Some(evtChurnSql)),
    Q("q_evt_dispersion", evtDispersion, Some(evtDispersionSql)),
    Q("q_evt_robust_z", evtRobustZ, Some(evtRobustZSql)),
    Q("q_evt_sessionize", evtSessionize, Some(evtSessionizeSql)),
    Q("q_evt_retention", evtRetention, Some(evtRetentionSql)),
    Q("q_evt_attribution", evtAttribution, Some(evtAttributionSql)),
    Q("q_evt_attribution_multi", evtAttributionMulti, Some(evtAttributionMultiSql)),
    Q("q_evt_latency", evtLatency, Some(evtLatencySql)),
    Q("q_evt_rfm", evtRfm, Some(evtRfmSql)),
    Q("q_evt_funnel", evtFunnel, Some(evtFunnelSql)),
    Q("q_evt_active_users", evtActiveUsers, Some(evtActiveUsersSql)),
    Q("q_evt_runs", evtRuns, Some(evtRunsSql)),
    Q("q_doc_auc", docAuc, Some(docAucSql)),
    Q("q_doc_prauc", docPrAuc, Some(docPrAucSql)),
    Q("q_doc_isotonic", docIsotonic, Some(docIsotonicSql)),
    Q("q_doc_script", docScript, Some(docScriptSql)),
    Q("q_doc_zipf", docZipf, Some(docZipfSql)),
    Q("q_doc_rouge", docRouge, Some(docRougeSql)),
    Q("q_doc_sentence_dedup", docSentenceDedup, Some(docSentenceDedupSql)),
    Q("q_emb_recall", embRecall, Some(embRecallSql)),
    Q("q_emb_rp_recall", embRpRecall, Some(embRpRecallSql))
  )
}
