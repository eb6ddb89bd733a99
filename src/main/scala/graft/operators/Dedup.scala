package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Producer-idempotency deduplication.
 *
 * Reference semantics: the broker rejects a message whose sequence id does
 * not exceed the highest sequence id already persisted for that producer
 * (reference: pulsar-broker/.../persistent/MessageDeduplication.java:112-123);
 * a snapshot of the per-producer max is persisted periodically (:266-269).
 *
 * The running-max is per producer, and producer counts can be small — the
 * two-level [[Sequencing.keyedRunningMaxExcl]] parallelizes the scan over
 * (producer, offset-range) blocks, so a handful of hot producers never caps
 * parallelism at the producer count.
 */
object Dedup {

  /** F5 — keep only messages whose sequence id beats the producer's running
   * max in msg_offset order. The blocks are msg_offset ranges, not
   * `ledger_id`: ledger ids count per partition, so (ledger_id,
   * msg_offset) stops being msg_offset order once a partition rolls a
   * ledger. */
  def dropReplays(env: DataFrame): DataFrame =
    Sequencing.keyedRunningMaxExcl(
      env.withColumn("_oblk", floor(col("msg_offset") / 1000)),
      Seq("producer_name"), "_oblk", "msg_offset", col("sequence_id"), "_prev_max_seq")
      .filter(col("_prev_max_seq").isNull || col("sequence_id") > col("_prev_max_seq"))
      .drop("_prev_max_seq", "_oblk")

  /** A8 — dedup snapshot: highest persisted sequence id per producer. */
  def snapshot(env: DataFrame): DataFrame =
    dropReplays(env)
      .groupBy(col("producer_name"))
      .agg(max(col("sequence_id")).as("highest_sequence_persisted"),
        count(lit(1)).as("persisted_count"))
}
