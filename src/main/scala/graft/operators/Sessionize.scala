package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Gap-based sessionization: consecutive events of one user belong to the
 * same session while the gap to the previous event is ≤ `gapMs`; a larger
 * gap starts a new session. This is the batch twin of Structured
 * Streaming's session window (the reference's consumer sessions are the
 * closest analogue: a subscription's activity between idle timeouts —
 * `pulsar-broker/.../persistent/PersistentDispatcherSingleActiveConsumer
 * .java` tracks the active span per consumer the same way).
 *
 * Shape at 100 TB: ONE exchange and ONE sort on the user key serve both
 * window passes (the lag and the running sum share partitioning AND
 * ordering, so the second Window adds no exchange); the session roll-up
 * is a hash agg on (user, session) — co-partitioned with the window, no
 * second shuffle of the event stream. No global sort, no driver state.
 * Session count is bounded by event count, so the output never exceeds
 * the input.
 */
object Sessionize {

  /** Per-event session assignment over `(user_id, event_id, ms)` rows:
   * appends `session_idx` (1-based per user, in time order). Ties on
   * `ms` break on `event_id` so the assignment is deterministic. */
  def assign(ev: DataFrame, gapMs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    ev
      .withColumn("new_session",
        when(col("ms") - lag(col("ms"), 1).over(w) <= gapMs, 0L).otherwise(1L))
      .withColumn("session_idx", sum(col("new_session")).over(w))
      .drop("new_session")
  }

  /** Session-level roll-up of [[assign]]: one row per (user, session)
   * with its event count, bounds, and exact duration. */
  def sessions(ev: DataFrame, gapMs: Long): DataFrame =
    assign(ev, gapMs)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("start_ms"),
        max(col("ms")).as("end_ms"))
      .withColumn("duration_ms", col("end_ms") - col("start_ms"))
}
