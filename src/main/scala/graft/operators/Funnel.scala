package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered conversion funnels over an event stream — "of the users who did
  * A, how many later did B, then C" (the product-analytics staple; the
  * reference's event table carries exactly this shape).
  *
  * Semantics: a user reaches step i+1 iff they have an event of step i+1's
  * type STRICTLY after their earliest qualifying step-i event (the
  * canonical strict-sequence funnel — simultaneous events do not chain).
  * Each user's step-i timestamp is the earliest possible one; earliest-
  * first maximizes downstream matches, so the funnel is order-maximal and
  * deterministic with no tie-break dependence.
  *
  * Shape at scale: every per-user step timestamp is a windowed
  * `min(when(...))` over the SAME user-key partition spec, so Catalyst
  * plans ONE hash exchange on user and a chain of Window nodes over it —
  * never a join per step, never a self-join of the event table. The final
  * per-step count is one tiny aggregate over distinct users. At 100 TB:
  * one shuffle of (user, type, ts) triples — columns pruned at the scan —
  * regardless of funnel depth.
  */
object Funnel {

  /** Adds `step_reached` (0-based count of funnel steps completed) per
    * user row; `steps` are event-type names in funnel order.
    */
  def stepTimestamps(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "empty funnel")
    val w = Window.partitionBy(col(userCol))
    val withTs = steps.zipWithIndex.foldLeft(events) {
      case (df, (step, i)) =>
        val cond =
          if (i == 0) col(typeCol) === lit(step)
          else col(typeCol) === lit(step) &&
            col(tsCol) > col(s"__t${i - 1}")
        df.withColumn(s"__t$i", min(when(cond, col(tsCol))).over(w))
    }
    withTs
  }

  /** One row per funnel step: users reaching it, plus the conversion rate
    * from the previous step in ppm (all-long math; step 1's rate is vs the
    * distinct-user universe).
    */
  def conversionFunnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    val ts = stepTimestamps(events, userCol, typeCol, tsCol, steps)
    val aggs = steps.indices.map(i =>
      max(col(s"__t$i").isNotNull.cast("long")).as(s"r$i"))
    val perUser = ts.groupBy(col(userCol)).agg(aggs.head, aggs.tail: _*)
    val counts = perUser.agg(
      count(lit(1)).as("n_users"),
      steps.indices.map(i => sum(col(s"r$i")).as(s"n$i")): _*)
    val stepRows = steps.zipWithIndex.map { case (step, i) =>
      val prev = if (i == 0) "n_users" else s"n${i - 1}"
      // `div` keeps the rate in long arithmetic; an empty previous step
      // yields 0, not a division error
      val ppm = when(col(prev) > 0L,
        expr(s"n$i * 1000000 div $prev")).otherwise(lit(0L))
      struct(lit(i + 1).cast("long").as("step"), lit(step).as("event_type"),
        col(s"n$i").as("n_reached"), ppm.as("conv_ppm"))
    }
    counts.select(explode(array(stepRows: _*)).as("s"))
      .select(col("s.step"), col("s.event_type"), col("s.n_reached"),
        col("s.conv_ppm"))
  }

  /** Retention cohort table — users cohorted by the week of their first
    * `signupType` event, counted as active in each subsequent week they
    * have ANY event (the week-over-week retention triangle).
    *
    * Week arithmetic is ALL-INTEGER off epoch days (`datediff div 7`), not
    * calendar `date_trunc('week', …)`: day-count division is identical in
    * every engine, while week truncation drags in week-start conventions.
    * Pre-signup events are excluded by a day-diff >= 0 filter BEFORE the
    * division (integer `div` truncates toward zero, so a negative day
    * count would alias into week 0).
    *
    * Shape at scale: one user-key agg for first-signup dates (user-sized),
    * one user-keyed join back to the event stream, one (cohort, offset)
    * count-distinct — the partial-aggregated two-shuffle shape of any
    * distinct-count rollup. Only (user, date) pairs move.
    */
  def retentionCohorts(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, signupType: String): DataFrame = {
    val first = events.filter(col(typeCol) === lit(signupType))
      .groupBy(col(userCol)).agg(min(to_date(col(tsCol))).as("d0"))
    events.join(first, Seq(userCol))
      .withColumn("dd", datediff(to_date(col(tsCol)), col("d0")))
      .filter(col("dd") >= 0)
      .select(col(userCol),
        expr("datediff(d0, DATE '1970-01-01') div 7").as("cohort_week"),
        expr("dd div 7").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col(userCol)).as("n_active"))
  }
}
