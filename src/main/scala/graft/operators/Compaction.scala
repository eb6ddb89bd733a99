package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Topic compaction — materialized latest-value-per-key views.
 *
 * Reference semantics: a two-phase scan builds a latest-message-per-key map
 * and rewrites retained messages; a null-value message (tombstone) deletes
 * its key (reference: pulsar-broker/.../compaction/AbstractTwoPhaseCompactor
 * .java:96-210). The event-time variant retains the latest message by
 * event time instead of publish order (EventTimeOrderCompactor.java:67-72).
 *
 * Spark-first design: one-pass `max_by(struct, orderKey)` aggregation —
 * map-side partial aggregation keeps the shuffle at |keys| not |messages|,
 * which is the property that matters at 100 TB (a window/row_number
 * formulation would shuffle every message instead). A struct buffer is
 * not fixed-width, so Spark plans it as a SortAggregate (each map task
 * sorts its messages by key before the partial aggregate), not a hash
 * aggregate. The struct stays: the envelope carries string and binary
 * columns, which cannot take the hash path as per-column `max_by`s
 * either. The streaming TableView, which keeps only fixed-width columns,
 * takes them one by one and hashes (`StreamingOps.latestPerKeyDelta`).
 */
object Compaction {

  /** Broker markers never enter compaction (PulsarApi.proto:149). */
  private def compactionInput(env: DataFrame): DataFrame =
    env.filter(col("marker_type").isNull)

  /**
   * A1 — publish-order compaction: latest message per key in MessageId
   * order; key dropped when its latest message is a tombstone.
   * Returns one envelope row per surviving key.
   */
  def publishOrder(env: DataFrame): DataFrame = {
    val in = compactionInput(env)
    val cols = in.columns.map(col)
    in.groupBy(col("key").as("k"))
      .agg(max_by(struct(cols: _*), col("msg_offset")).as("m"))
      .filter(!col("m.tombstone"))
      .select(col("m.*"))
  }

  /**
   * A2 — event-time-order compaction: latest message per key by
   * (event time, MessageId) — out-of-order publishes do not clobber a
   * newer event-time value.
   */
  def eventTimeOrder(env: DataFrame): DataFrame = {
    val in = compactionInput(env)
    val cols = in.columns.map(col)
    in.groupBy(col("key").as("k"))
      .agg(max_by(struct(cols: _*), struct(col("event_ms"), col("msg_offset"))).as("m"))
      .filter(!col("m.tombstone"))
      .select(col("m.*"))
  }

  /**
   * A3 — strategic compaction: a user merge function decides which of two
   * messages for the same key survives (reference:
   * StrategicTwoPhaseCompactor.java + TopicCompactionStrategy). Typed
   * `reduceGroups` gives partial (map-side) reduction for free.
   */
  def strategic[T](env: Dataset[T], key: T => String, merge: (T, T) => T): Dataset[(String, T)] =
    env.groupByKey(key)(org.apache.spark.sql.Encoders.STRING)
      .reduceGroups(merge)

  /**
   * A5 — batch TableView: the continuously-updated latest-value-per-key map
   * (reference: pulsar-client/.../impl/TableViewImpl.java:49-166), batch
   * form. Tombstone removes the key, like the reference's null-value upsert.
   */
  def tableView(env: DataFrame): DataFrame =
    publishOrder(env).select(
      col("key"),
      col("value").as("latest_value"),
      col("publish_ms").as("updated_ms"),
      col("msg_offset").as("last_offset"))

  /**
   * F11 — mark messages that compaction would drop: every non-marker
   * message that is not its key's latest, plus latest-but-tombstoned
   * (reference: PulsarApi.proto:191 compacted_out; CompactedTopicUtils).
   * The winners side is a key-sized hash aggregate — broadcast when small,
   * never a per-key sort of the log.
   */
  def markCompactedOut(env: DataFrame): DataFrame = {
    val winners = compactionInput(env).groupBy(col("key").as("_k"))
      .agg(max(col("msg_offset")).as("_winner_offset"))
    env.join(winners, col("key") === col("_k"), "left")
      .withColumn("compacted_out",
        col("marker_type").isNull &&
          (col("msg_offset") < col("_winner_offset") || col("tombstone")))
      .drop("_k", "_winner_offset")
  }

  /**
   * A4 — compacted read: compacted view unioned with the uncompacted tail
   * past the compaction horizon (reference: CompactedTopicImpl.java:103-131).
   */
  def readCompacted(env: DataFrame, horizonOffset: Long): DataFrame = {
    val head = publishOrder(env.filter(col("msg_offset") <= horizonOffset))
    val tail = env.filter(col("msg_offset") > horizonOffset && col("marker_type").isNull)
    head.unionByName(tail)
  }
}
