package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Broker-side log transforms: TTL, retention, delayed delivery, seeks,
 * peeks, ack bookkeeping, DLQ routing, marker filtering, replication
 * loop-breaking, dispatch rate limiting. All are declarative predicates or
 * bounded scans — Catalyst pushes them into the Parquet scan, which is the
 * whole point at 100 TB (partition pruning + min/max stats replace the
 * reference's ledger-granularity narrowing, PersistentMessageFinder.java:69).
 */
object LogOps {

  /** F2 — size-based retention per topic: newest-first cumulative size cap
   * (reference: RetentionPolicies; ledger-granular in the reference, row-
   * granular here). Ledger-first evaluation: per-ledger size totals
   * (one hash-agg over the log) classify every ledger from its
   * newest-first prefix as keep-all / drop-all / BOUNDARY, and only the
   * boundary ledger of each topic — one ledger's worth of rows — pays a
   * row-level running-sum window. The full log never shuffles for the
   * window: retained ledgers pass through a broadcast summary join, which
   * is exactly how the reference trims (ledger-granular first, then the
   * position inside the boundary ledger). */
  def retainBySize(env: DataFrame, maxBytesPerTopic: Long): DataFrame = {
    val sized = env.withColumn("_rowval",
      octet_length(col("properties")) + lit(8))
    val blocks = sized.groupBy(col("topic"), col("ledger_id"))
      .agg(sum(col("_rowval")).as("_val"))
    val classified = Sequencing.exclusiveBlockPrefix(blocks, Seq("topic"),
      "ledger_id", isMax = false, desc = true, "_pfx", keepVal = true)
      .select(col("topic"), col("ledger_id"),
        coalesce(col("_pfx"), lit(0L)).as("_pfx"), col("_val"))
      .withColumn("_cls",
        when(col("_pfx") + col("_val") <= maxBytesPerTopic, 0) // whole ledger fits
          .when(col("_pfx") >= maxBytesPerTopic, 2) // quota gone before it
          .otherwise(1)) // boundary: row-level decision
    // the retained summary is quota-bounded (≈ quota/ledgerSize ledgers
    // per topic), far below |blocks| — AQE broadcasts it when it fits.
    // The join drops the dropped-ledger rows BEFORE the window, so only
    // output-scale rows shuffle for the row-level running sum; for
    // keep-whole ledgers the window value is computed but unused (the
    // _cls = 0 disjunct admits them without it).
    val w = Window.partitionBy(col("topic"), col("ledger_id"))
      .orderBy(col("msg_offset").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    sized.join(classified.filter(col("_cls") < 2), Seq("topic", "ledger_id"))
      .withColumn("_cum", col("_pfx") + sum(col("_rowval")).over(w))
      .filter(col("_cls") === 0 || col("_cum") <= maxBytesPerTopic)
      .select(env.columns.map(col): _*)
  }

  /** O4 — peekMessages(n): first n messages of a topic in MessageId order. */
  def peek(env: DataFrame, topic: String, n: Int): DataFrame =
    env.filter(col("topic") === topic).orderBy(col("msg_offset")).limit(n)

  /** A10 — getLastMessageId per partition. */
  def lastMessageIds(env: DataFrame): DataFrame =
    env.groupBy(col("topic"), col("partition_id"))
      .agg(max(col("msg_offset")).as("last_offset"),
        max_by(struct(col("ledger_id"), col("entry_id")), col("msg_offset")).as("last_id"))
      .select(col("topic"), col("partition_id"), col("last_offset"),
        col("last_id.ledger_id").as("last_ledger_id"),
        col("last_id.entry_id").as("last_entry_id"))

  /** A9 — per-topic backlog/stats aggregation (counts, bytes, rates are
   * sums over the log — reference PersistentTopicMetrics). */
  def topicStats(env: DataFrame): DataFrame =
    env.groupBy(col("topic")).agg(
      count(lit(1)).as("msg_count"),
      sum(octet_length(col("properties")) + lit(8)).as("storage_bytes"),
      max(col("msg_offset")).as("head_offset"),
      min(col("msg_offset")).as("first_offset"),
      countDistinct(col("producer_name")).as("producer_count"))

  /** A9 — per-SUBSCRIPTION backlog: each cursor's mark-delete position
   * against its topic's log (reference: SubscriptionStatsImpl.msgBacklog,
   * ManagedCursorImpl.getNumberOfEntriesInBacklog). The cursor table is
   * a |subscriptions|-row dimension — broadcast join, the log side never
   * shuffles; backlog = messages strictly after the mark-delete offset. */
  def subscriptionBacklog(env: DataFrame, cursors: DataFrame): DataFrame =
    env.filter(col("marker_type").isNull)
      .join(broadcast(cursors), Seq("topic"))
      .filter(col("msg_offset") > col("mark_delete_offset"))
      .groupBy(col("topic"), col("subscription"))
      .agg(count(lit(1)).as("msg_backlog"),
        min(col("msg_offset")).as("next_offset"),
        max(col("msg_offset")).as("head_offset"))

  /** F10 — server-internal marker messages never reach consumers
   * (reference: PulsarApi.proto:149; dispatcher filter at
   * PersistentDispatcherMultipleConsumers.sendMessagesToConsumers:762). */
  def dropMarkers(env: DataFrame): DataFrame =
    env.filter(col("marker_type").isNull)

  /** F6 — individual-ack backlog: the log minus the acked-id set
   * (a running `except`, kept as an anti join so it stays a shuffle-free
   * broadcast when the ack set is small). */
  def unackedBacklog(env: DataFrame, ackedOffsets: DataFrame): DataFrame =
    env.join(ackedOffsets.withColumnRenamed(ackedOffsets.columns.head, "_acked"),
      col("msg_offset") === col("_acked"), "left_anti")

  /**
   * U10 — the full reconsumeLater lifecycle (reference:
   * RetryMessageUtil.java:23-41, ConsumerImpl#doReconsumeLater:683-735):
   * a failed delivery is republished to `<topic>-<sub>-RETRY` with
   * RECONSUMETIMES incremented and a delivery delay; once the count
   * exceeds maxRedeliverCount it routes to `<topic>-<sub>-DLQ`
   * immediately. REAL_TOPIC / ORIGIN_MESSAGE_ID ride along so the
   * original can always be traced. Pure column transforms — narrow,
   * shuffle-free, codegen'd.
   */
  def retryLetter(env: DataFrame, subscription: String, maxRedeliver: Int,
      delayMs: Long): DataFrame = {
    val reconsume = col("attempts") + 1
    env.withColumn("reconsumetimes", reconsume)
      .withColumn("dest_topic",
        when(reconsume > maxRedeliver,
          concat(col("topic"), lit(s"-$subscription-DLQ")))
          .otherwise(concat(col("topic"), lit(s"-$subscription-RETRY"))))
      .withColumn("real_topic", col("topic"))
      .withColumn("origin_message_id",
        concat_ws(":", col("ledger_id"), col("entry_id")))
      .withColumn("deliver_at_ms",
        when(reconsume > maxRedeliver, col("publish_ms"))
          .otherwise(col("publish_ms") + delayMs))
  }

  /** S14 — replication loop-breaking: only locally-originated messages are
   * replicated onward (reference: PulsarApi.proto:115 replicated_from;
   * PersistentReplicator). */
  def replicationOutbound(env: DataFrame): DataFrame =
    env.filter(col("replicated_from").isNull)

  /** O6 — dispatch rate limiting: micro-batch planning caps messages per
   * trigger; batch emulation assigns each message its trigger batch. The
   * per-topic sequence is two-level (see [[Sequencing.keyedSequence]]) —
   * a 3-value `topic` window would otherwise serialize the whole log. */
  def rateLimitBatches(env: DataFrame, maxPerTrigger: Long): DataFrame =
    Sequencing.keyedSequence(env, Seq("topic"), "ledger_id", "msg_offset", "_seq")
      .withColumn("trigger_batch", (col("_seq") / maxPerTrigger).cast("long"))
      .drop("_seq")

  /** S4/O6 — the BYTES cap of the batch-receive policy (reference:
   * pulsar-client-api/.../BatchReceivePolicy.java:60-66 `maxNumBytes`,
   * and `maxBytesPerTrigger` on the streaming source): each trigger
   * drains up to `maxBytesPerTrigger` of queue bytes per topic; a message
   * belongs to the trigger batch its FIRST byte falls in. Same two-level
   * prefix machinery as the count cap — no per-topic single-task scan. */
  def rateLimitBytes(env: DataFrame, maxBytesPerTrigger: Long): DataFrame =
    Sequencing.keyedCumSumExcl(env, Seq("topic"), "ledger_id", "msg_offset",
      octet_length(col("properties")).cast("long") + lit(8L), "_pfx_bytes")
      .withColumn("trigger_batch", (col("_pfx_bytes") / maxBytesPerTrigger).cast("long"))
      .drop("_pfx_bytes")
}
