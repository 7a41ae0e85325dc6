package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gap-based event sessionization: the `events_sessions` query and its
  * DuckDB oracle. */
object SessionOps {

  val SessionGapSec: Long = 1800 // 30 min inactivity closes a session

  /** Gap-based sessionization as a window query (lag + running sum of
    * session starts), SQL-expressible so DuckDB can verify it cell-exact.
    * Output: one row per (user, session) with event count, exact value sum
    * and epoch-second session bounds. */
  def eventSessions(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    events
      // parquet carries TIMESTAMP_NTZ; epoch math needs LTZ (session tz = UTC)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > SessionGapSec, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        // decimal sum: exact + order-independent, bit-identical to DuckDB
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"),
        min(col("ts").cast("long")).as("start_s"),
        max(col("ts").cast("long")).as("end_s"))
  }

  def eventSessionsOracle: String =
    s"""WITH marked AS (
       |  SELECT user_id, event_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > $SessionGapSec
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
       |), sessions AS (
       |  SELECT user_id, ts, value,
       |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM marked
       |)
       |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
       |  CAST(floor(min(epoch(ts))) AS BIGINT) AS start_s,
       |  CAST(floor(max(epoch(ts))) AS BIGINT) AS end_s
       |FROM sessions GROUP BY user_id, session_id""".stripMargin
}
