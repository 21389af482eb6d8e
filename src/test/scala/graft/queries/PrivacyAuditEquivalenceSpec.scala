package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** The one-aggregate per-user profile and the window-sum t-closeness
  * tail return exactly what their earlier formulations returned. Those
  * formulations are kept here as the reference: the profile as an
  * aggregate, a user-keyed `row_number` and a self-join; the tail as
  * the zero-filled group × class frame built from two cross joins and a
  * left join. The inputs are seeded random (user, type, cnt) and
  * (user, day) state tables whose counts are mostly 1–3, so most users
  * tie on their top count and the type tie-break decides; a few 12s
  * spread the activity buckets, and some users appear in only one of
  * the two tables.
  */
class PrivacyAuditEquivalenceSpec extends SparkSpec {
  import PrivacyAuditEquivalenceSpec._

  private val types = ('a' to 'l').map(c => s"type_$c")
  private val counts = Seq(1L, 2L, 3L, 3L, 3L, 12L)

  private def tables(seed: Long, users: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new Random(seed)
    val tc = for {
      u <- 1 to users if rnd.nextInt(20) != 0
      t <- types if rnd.nextInt(3) != 0
    } yield (u.toLong, t, counts(rnd.nextInt(counts.size)))
    val days = for {
      u <- 1 to users if rnd.nextInt(20) != 0
      d <- 1 to 30 if rnd.nextInt(1 + u % 7) == 0
    } yield (u.toLong, java.sql.Date.valueOf(f"2024-01-$d%02d"))
    (tc.toDF("user_id", "event_type", "cnt"), days.toDF("user_id", "d"))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  for (seed <- 1L to 4L)
    test(s"profiles and t-closeness match the reference formulations (seed $seed)") {
      val (tc, days) = tables(seed, users = 150 * seed.toInt)
      val profiles = rows(AnalyticsQueries.kanonProfiles(tc, days))
      assert(profiles.nonEmpty)
      assert(profiles === rows(referenceProfiles(tc, days)))
      val tclose = AnalyticsQueries.tcloseSolve(tc, days)
      val reference = referenceTclose(tc, days)
      assert(tclose.schema === reference.schema)
      // row order is part of the contract (ordered by the QI pair)
      assert(tclose.collect().toSeq === reference.collect().toSeq)
    }

  test("both formulations agree on empty state tables") {
    val (tc, days) = tables(1L, users = 10)
    assert(AnalyticsQueries.kanonProfiles(tc.limit(0), days).collect().isEmpty)
    assert(AnalyticsQueries.tcloseSolve(tc.limit(0), days.limit(0)).collect().isEmpty)
    assert(referenceTclose(tc.limit(0), days.limit(0)).collect().isEmpty)
  }
}

object PrivacyAuditEquivalenceSpec {

  /** The per-user profile as an aggregate, a `row_number` favorite and
    * a self-join.
    */
  def referenceProfiles(tc: DataFrame, days: DataFrame): DataFrame = {
    val prof = tc.groupBy("user_id").agg(sum("cnt").as("n_events"))
      .join(days.groupBy("user_id").agg(count(lit(1)).as("n_days")), "user_id")
    val w = Window.partitionBy("user_id")
      .orderBy(col("cnt").desc, col("event_type").asc)
    val fav = tc.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("fav"))
    prof.join(fav, "user_id")
      .select(col("user_id"),
        least(floor(col("n_events") / 10), lit(9L)).as("activity_bucket"),
        floor(col("n_days") / 5).as("days_bucket"), col("fav"))
  }

  /** t-closeness over the zero-filled group × class frame. */
  def referenceTclose(tc: DataFrame, days: DataFrame): DataFrame = {
    val d = "decimal(38,0)"
    val grpCls = referenceProfiles(tc, days).groupBy("activity_bucket", "days_bucket", "fav")
      .agg(count(lit(1)).as("c"))
    val grp = grpCls.groupBy("activity_bucket", "days_bucket")
      .agg(sum("c").cast("long").as("n"))
    val cls = grpCls.groupBy("fav").agg(sum("c").cast("long").as("cg"))
    val tot = cls.agg(sum("cg").cast("long").as("nt"))
    val frame = grp.crossJoin(broadcast(cls)).crossJoin(broadcast(tot))
      .join(grpCls, Seq("activity_bucket", "days_bucket", "fav"), "left")
      .withColumn("c0", coalesce(col("c"), lit(0L)))
    frame.groupBy("activity_bucket", "days_bucket", "n", "nt")
      .agg(sum(abs(col("c0").cast(d) * col("nt") - col("cg").cast(d) * col("n"))).as("dev"))
      .select(col("activity_bucket").cast("long").as("activity_bucket"),
        col("days_bucket").cast("long").as("days_bucket"),
        col("n").as("n_users"),
        (col("dev").cast("double")
          / (col("n").cast("double") * col("nt").cast("double") * 2)).as("t_dist"))
      .withColumn("violates", col("t_dist") > 0.25)
      .orderBy("activity_bucket", "days_bucket")
  }
}
