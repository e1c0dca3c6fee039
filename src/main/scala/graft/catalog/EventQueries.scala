package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.DerivedTables._
import Results.cents

/** Events: time-window aggregation, funnels, retention, as-of join and
  * sessionization. */
object EventQueries {

  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("ev_window", (s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(unix_timestamp(col("window.start")).as("bucket"),
          col("event_type"), col("n"), col("value_cents"))
        .orderBy(col("bucket"), col("event_type"))
    },
      """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket, event_type,
        |  count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    CatalogEntry("ev_funnel", (s, d) => {
      // first-touch ordered funnel (view → click → purchase): each step's
      // time is the user's first qualifying event STRICTLY AFTER the
      // previous step. Each stage is one map-side-combined agg producing
      // a users-sized (dimension) table; the step joins are keyed on
      // user_id and AQE-broadcastable — the events fact side is scanned
      // per stage but never shuffled beyond the per-user aggs
      val ev = events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      val t1 = ev.where(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1_us"))
      val t2 = ev.where(col("event_type") === "click")
        .join(t1, "user_id").where(col("us") > col("t1_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t2_us"))
      val t3 = ev.where(col("event_type") === "purchase")
        .join(t2, "user_id").where(col("us") > col("t2_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t3_us"))
      t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1L) + when(col("t2_us").isNotNull, 1L).otherwise(0L)
            + when(col("t3_us").isNotNull, 1L).otherwise(0L)).as("stage_reached"),
          col("t1_us"), col("t2_us"), col("t3_us"))
        .orderBy(col("user_id"))
    },
      // first-touch funnel replayed: each step's min is taken strictly
      // after the previous step's time, stage = 1 + reached flags
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), t1 AS (
        |  SELECT user_id, min(us) AS t1_us FROM e WHERE event_type = 'view' GROUP BY 1
        |), t2 AS (
        |  SELECT e.user_id, min(us) AS t2_us FROM e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND us > t1_us GROUP BY 1
        |), t3 AS (
        |  SELECT e.user_id, min(us) AS t3_us FROM e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t2_us GROUP BY 1
        |)
        |SELECT t1.user_id,
        |  CAST(1 + (t2_us IS NOT NULL)::INT + (t3_us IS NOT NULL)::INT AS BIGINT) AS stage_reached,
        |  t1_us, t2_us, t3_us
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
        |ORDER BY user_id""".stripMargin),

    CatalogEntry("ev_retention", (s, d) => {
      // weekly cohort retention: cohort = week index (fixed 1970 epoch,
      // no corpus-wide min needed) of the user's FIRST event; one row per
      // (cohort_week, week_offset) with the distinct active-user count.
      // Two map-side-combined aggs + one users-sized keyed join
      val week = lit(7L * 86400L * 1000000L)
      val us = unix_micros(col("ts").cast("timestamp"))
      // exact integer floor division (us >= 0): never a double quotient
      val ev = events(s, d).select(col("user_id"),
        ((us - pmod(us, week)) / week).cast("long").as("wk"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
      ev.distinct().join(cohort, "user_id")
        .withColumn("week_offset", col("wk") - col("cohort_week"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
      // weekly cohort retention replayed: fixed-epoch week index, cohort =
      // min week per user, distinct active users per (cohort, offset)
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events
        |), c AS (
        |  SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id, wk FROM e
        |)
        |SELECT cohort_week, wk - cohort_week AS week_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin),

    CatalogEntry("ev_asof", (s, d) => {
      // as-of join: each purchase matched to the user's latest prior-or-
      // equal signup (microsecond precision; union-and-carry plan)
      val ev = events(s, d).withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val signups = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts_us").as("signup_us"), col("event_id").as("signup_id"))
      AsOfJoin.asof(purchases, signups, Seq("user_id"),
        leftTime = "ts_us", rightTime = "signup_us", valueCols = Seq("signup_id"))
        .select(col("event_id"), col("user_id"), col("asof_time").as("signup_us"),
          col("asof_signup_id").as("signup_id"))
        .orderBy(col("event_id"))
    },
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'
        |), s AS (
        |  SELECT user_id, epoch_us(ts) AS signup_us, event_id AS signup_id FROM events WHERE event_type = 'signup'
        |)
        |SELECT p.event_id, p.user_id, s.signup_us, s.signup_id
        |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts_us >= s.signup_us
        |ORDER BY p.event_id""".stripMargin),

    CatalogEntry("ev_sessionize", (s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            unix_micros(col("ts").cast("timestamp")) - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_cents"))
        .orderBy(col("user_id"), col("session_id"))
    },
      """WITH g AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, value,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
}
