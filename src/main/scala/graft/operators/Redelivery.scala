package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Redelivery semantics — negative acks with backoff (F7) and the
 * ack-timeout tracker (F8).
 *
 * Reference: a negatively-acked message is redelivered after
 * min(base × multiplier^attempt, max) (MultiplierRedeliveryBackoff.java:27,
 * NegativeAcksTracker); a message unacked for longer than the ack timeout
 * is redelivered automatically (UnAckedMessageTracker). Both are pure
 * schedule arithmetic over the envelope — the redelivery *loop* is the
 * streaming retry path (foreachBatch + attempts column, F9/U10).
 */
object Redelivery {

  /** F7 — the multiplier backoff schedule. */
  def backoffMs(attempt: Column, baseMs: Long, multiplier: Double, maxMs: Long): Column =
    least(lit(baseMs) * pow(lit(multiplier), attempt), lit(maxMs.toDouble)).cast("long")

  /** F7 — negative-ack redelivery time per message: nack lands at receive
   * (≈ publish) time, redelivery after the attempt-scaled backoff. */
  def negativeAckSchedule(env: DataFrame, baseMs: Long, multiplier: Double,
      maxMs: Long): DataFrame =
    env.withColumn("redeliver_at_ms",
      col("publish_ms") + backoffMs(col("attempts"), baseMs, multiplier, maxMs))

  /** F8 — ack-timeout: messages not in the acked set whose timeout expired
   * by `asOfMs` become redeliverable. */
  def ackTimeoutRedelivery(env: DataFrame, acked: DataFrame, timeoutMs: Long,
      asOfCol: Column): DataFrame =
    LogOps.unackedBacklog(env, acked)
      .filter(col("publish_ms") + timeoutMs <= asOfCol)

  /** F4 — bucketed delayed-delivery index (BucketDelayedDeliveryTracker):
   * delayed messages group into fixed time buckets; a bucket whose upper
   * bound is due can be dispatched wholesale (partition pruning at scale —
   * the bucket column is the partition key of the delayed index). */
  def delayedBuckets(env: DataFrame, bucketMs: Long): DataFrame =
    env.withColumn("delay_bucket", (col("deliver_at_ms") / bucketMs).cast("long"))
}
