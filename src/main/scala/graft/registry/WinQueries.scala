package graft
package registry

import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Shared._

/** Window-function queries (`win_*`). */
object WinQueries {

  lazy val all: Seq[Query] = Seq(
    Query("win_analytics", (s, d) => {
      val e = t(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wv = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      e.select(col("event_id"), col("user_id"),
        row_number().over(w).cast("long").as("rn"),
        lag(col("value"), 1).over(w).as("prev_value"),
        rank().over(wv).cast("long").as("value_rank"),
        round(sum(col("value"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
          .as("running_sum"))
    },
      ("SELECT event_id, user_id, CAST(row_number() OVER w AS BIGINT) AS rn, lag(value) OVER w AS prev_value, " +
        "CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS value_rank, " +
        "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 2) AS running_sum " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)")),
    Query("win_ranking_suite", (s, d) => {
      val e = t(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val byValue = Window.partitionBy(col("user_id"))
        .orderBy(col("value"), col("event_id"))
      val range = Window.partitionBy(col("user_id"))
        .orderBy(unix_timestamp(col("ts")))
        .rangeBetween(-3600L, 0L)
      e.select(col("event_id"), col("user_id"),
        lead(col("value"), 1).over(w).as("next_value"),
        dense_rank().over(byValue).cast("long").as("value_dense_rank"),
        ntile(4).over(byValue).cast("long").as("value_quartile"),
        round(percent_rank().over(byValue), 6).as("value_pct_rank"),
        count(lit(1)).over(range).as("n_events_prev_hour"))
    },
      ("SELECT event_id, user_id, lead(value) OVER w AS next_value, " +
        "CAST(dense_rank() OVER v AS BIGINT) AS value_dense_rank, " +
        "CAST(ntile(4) OVER v AS BIGINT) AS value_quartile, " +
        "round(percent_rank() OVER v, 6) AS value_pct_rank, " +
        "count(*) OVER (PARTITION BY user_id ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT) " +
        "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_events_prev_hour " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id), " +
        "v AS (PARTITION BY user_id ORDER BY value, event_id)")),
    Query("win_first_last", (s, d) => {
      val e = t(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val upToHere = w.rowsBetween(Window.unboundedPreceding, 0)
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      e.select(col("event_id"), col("user_id"),
        first(col("value")).over(upToHere).as("first_value_user"),
        last(col("value")).over(full).as("last_value_user"),
        nth_value(col("value"), 2).over(full).as("second_value_user"))
    },
      ("SELECT event_id, user_id, " +
        "first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value_user, " +
        "last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_value_user, " +
        "nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_value_user " +
        "FROM events")),
    Query("win_moving_avg", (s, d) => {
      val e = t(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      e.select(col("event_id"), col("user_id"),
        round(avg(col("value")).over(w.rowsBetween(-2, 0)), 4).as("mov_avg3"),
        round(max(col("value")).over(w.rowsBetween(-2, 0)), 4).as("mov_max3"),
        round(sum(col("value")).over(w.rowsBetween(1, 2)), 4).as("next2_sum"))
    },
      ("SELECT event_id, user_id, " +
        "round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg3, " +
        "round(max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_max3, " +
        "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING), 4) AS next2_sum " +
        "FROM events"))
  )
}
