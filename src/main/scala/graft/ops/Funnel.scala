package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-sequence analytics over an (user, type, timestamp) event log:
  * ordered funnels and cohort retention — the product-analytics surface
  * (Amplitude/Mixpanel-style) expressed as declarative joins and
  * aggregates.
  *
  * The reference's event surface is a raw per-message stream
  * (`/root/reference/src/catenae/catenae.py:435-470`); sequence
  * analytics are engine-own functionality.
  */
object Funnel {

  /** Ordered-funnel step times: for each user, the earliest time of
    * step 1, then the earliest step-2 event strictly AFTER it, then the
    * earliest step-3 event after THAT, etc. Output: one row per user who
    * reached step 1, with `ts1..tsN` (null from the first step the user
    * never reached — LEFT joins keep drop-off visible). Each stage is a
    * user-keyed equi-join with a range post-filter plus a min-aggregate:
    * per-step work is one shuffle on the user key, no window over the
    * full log, no cartesian. */
  def funnelTimes(events: DataFrame, steps: Seq[String],
                  userCol: String = "user_id", typeCol: String = "event_type",
                  tsCol: String = "ts"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("ts1"))
    steps.indices.drop(1).foldLeft(first) { (acc, i) =>
      val stepEvents = events.filter(col(typeCol) === steps(i))
        .select(col(userCol).as("graft_u"), col(tsCol).as("graft_t"))
      acc.join(stepEvents,
          col(userCol) === col("graft_u") && col("graft_t") > col(s"ts$i"), "left")
        .groupBy(acc.columns.toIndexedSeq.map(col): _*)
        .agg(min(col("graft_t")).as(s"ts${i + 1}"))
    }
  }

  /** Weekly cohort retention: users are cohorted by the Monday-aligned
    * week of their first event; each (user, active-week) pair counts the
    * user into (cohort_week, week_offset). Two aggregates and one
    * user-keyed join — the distinct (user, week) projection bounds the
    * join input to user×weeks, not the raw event count. */
  def cohortRetention(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts"): DataFrame = {
    val firsts = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(col(tsCol))).cast("date").as("cohort_week"))
    val active = events.select(col(userCol),
      date_trunc("week", col(tsCol)).cast("date").as("week")).distinct()
    active.join(firsts, userCol)
      .select(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / lit(7)).cast("int").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }
}
