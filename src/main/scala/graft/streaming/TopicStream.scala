package graft.streaming

import graft.model.Envelope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Topics as Structured Streaming sources — the M4 mapping:
 *
 *  - subscription  = a checkpointed streaming query over the topic table
 *    (the checkpoint IS the durable cursor; reference:
 *    PersistentSubscription + managed-ledger cursors)
 *  - receive       = micro-batch rows in MessageId order (Consumer.java:122)
 *  - batchReceive  = one micro-batch (maxFilesPerTrigger caps it, S4)
 *  - seek/startMessageId = startingOffset predicate on the stream (O2/S5)
 *  - initial position Earliest = process existing files; Latest =
 *    `latestFirst`/start-at-now (O5)
 *
 * A topic table is a directory of envelope-schema parquet files appended in
 * offset order (the produce path writes them — graft.operators.Produce).
 */
object TopicStream {

  /**
   * S3 — subscribe to a topic directory as a micro-batched stream.
   * `maxFilesPerTrigger` bounds each micro-batch (the batchReceive /
   * dispatch-rate knob, S4/O6).
   */
  def subscribe(spark: SparkSession, topicDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(Envelope.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(topicDir)

  /**
   * S8 — pattern subscription WITH mid-stream topic auto-discovery: the
   * source is the whole namespace glob, and Structured Streaming's file
   * source re-lists it on EVERY micro-batch — so a topic directory
   * created after the query starts joins the union at the next trigger,
   * the reference's PatternMultiTopicsConsumerImpl discovery-timer
   * behavior (pulsar-client/.../PatternMultiTopicsConsumerImpl.java,
   * recheckTopicsChange) without needing a timer. Topics that do not
   * match the regex are dropped by the predicate on the envelope's topic
   * column; in a `ns/topic=X/` partitioned layout the identical
   * predicate becomes partition pruning and the non-matching files are
   * never read.
   */
  def subscribePattern(spark: SparkSession, namespaceRoot: String,
      topicRegex: String, maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(Envelope.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"$namespaceRoot/*")
      .filter(col("topic").rlike(topicRegex))
}
