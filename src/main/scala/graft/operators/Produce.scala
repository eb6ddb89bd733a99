package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The produce path — S1 (Producer.send) and S2 (TypedMessageBuilder).
 *
 * Reference flow: the builder stamps envelope fields (TypedMessageBuilder
 * .java:96-214), a router picks the partition — keyed messages by
 * murmur3(key) % n, keyless round-robin
 * (RoundRobinPartitionMessageRouterImpl.java:74) — the broker stamps
 * sequence/ledger/entry ids and rejects replays
 * (MessageDeduplication.java:112-123), then the entry is durably written.
 *
 * Spark-first: stamping is pure column arithmetic over a caller-named
 * order column, so ids are deterministic and reproducible (no
 * monotonically_increasing_id, no driver state); the global sequence and
 * the per-partition entry sequence both come from one (block, route
 * class) summary, so no task ever sorts the whole batch; durability is
 * the Parquet append (the BookKeeper-quorum replacement).
 */
object Produce {

  /**
   * S2 — build envelope messages from a raw batch with columns
   * (`orderCol`, key STRING nullable, value DOUBLE, optional event_ms,
   * optional properties). Keyed rows route murmur3(key) % n; keyless rows
   * round-robin on their global position. `deliverAfterMs` > 0 sets the
   * delayed-delivery timestamp (TypedMessageBuilder.deliverAfter).
   *
   * One route serves any mix of keyed and keyless rows. Each row is
   * ranked within its block (`_r`, blocks are `ledgerSize` wide in
   * `orderCol`) and given a route class: its key's hash partition, or
   * `n + _r mod n` when keyless. A (block, class) count summary holds
   * everything else: a window over earlier blocks gives the global
   * offset `_gpfx`, which fixes a keyless class's partition
   * (`pmod(_gpfx + _r, n)` is the same for every row of the class), and a
   * window over earlier blocks of that partition gives `_ppfx`. One
   * broadcast join carries both to the rows: `_g = _gpfx + _r`, and
   * `_entry = _ppfx` + the row's rank within (partition, block).
   *
   * `allKeyed` is deprecated and ignored: every batch takes this route.
   */
  def build(batch: DataFrame, topic: String, producerName: String,
      numPartitions: Int, orderCol: String, nowMs: Long,
      startOffset: Long = 0L, startSeq: Long = 0L,
      deliverAfterMs: Long = 0L, ledgerSize: Long = 1000L,
      @deprecated("every batch takes the one route; the flag is ignored", "0.1.0")
      allKeyed: Boolean = false): DataFrame = {
    val n = lit(numPartitions)
    val ranked = batch
      .withColumn("_blk", (col(orderCol) / ledgerSize).cast("long"))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("_blk")).orderBy(col(orderCol))) - 1)
      .withColumn("_cls", when(col("key").isNotNull, keyHashPartition(col("key"), numPartitions))
        .otherwise(n + pmod(col("_r"), n)))
    // rows of all earlier blocks (every class), then rows of earlier
    // blocks routed to the same partition
    val earlierBlocks = Window.orderBy(col("_blk"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val earlierInPartition = Window.partitionBy(col("_pt")).orderBy(col("_blk"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val offs = ranked.groupBy(col("_blk"), col("_cls"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_gpfx", coalesce(sum(col("_n")).over(earlierBlocks), lit(0L)))
      .withColumn("_pt", when(col("_cls") < n, col("_cls"))
        .otherwise(pmod(col("_gpfx") + col("_cls") - n, n)).cast("int"))
      .withColumn("_ppfx", coalesce(sum(col("_n")).over(earlierInPartition), lit(0L)))
    val sequenced = ranked.join(broadcast(offs), Seq("_blk", "_cls"))
      .withColumn("_g", col("_gpfx") + col("_r"))
      .withColumn("_entry", col("_ppfx") + row_number().over(
        Window.partitionBy(col("_pt"), col("_blk")).orderBy(col(orderCol))) - 1)
    val eventMs = if (batch.columns.contains("event_ms")) col("event_ms") else lit(nowMs)
    val props = if (batch.columns.contains("properties")) col("properties") else lit("{}")
    // MessageId is per-partition (ledger, entry): ledgers roll every
    // `ledgerSize` entries WITHIN a partition and entry ids reset per
    // ledger, matching the reference's checkpointable (ledger, entry)
    // coordinates (MessageIdImpl.java).
    sequenced.select(
      lit(topic).as("topic"),
      col("_pt").as("partition_id"),
      (col("_entry") / ledgerSize).cast("long").as("ledger_id"),
      (col("_entry") % ledgerSize).as("entry_id"),
      lit(0).as("batch_index"),
      (col("_g") + startOffset).as("msg_offset"),
      lit(producerName).as("producer_name"),
      (col("_g") + startSeq).as("sequence_id"),
      lit(nowMs).as("publish_ms"),
      eventMs.as("event_ms"),
      col("key").cast("string").as("key"),
      col("value").cast("double").as("value"),
      // wire payload: the v0 JSON record of the schema lattice (see
      // graft.schema.PayloadCodec) serialized to UTF-8 bytes
      encode(concat(
        lit("{\"amount_c\":"),
        floor(col("value").cast("double") * 100).cast("long").cast("string"),
        lit(s""","origin":"$producerName"}""")), "UTF-8").as("value_bin"),
      props.as("properties"),
      lit(0L).as("schema_version"),
      lit(nowMs + deliverAfterMs).as("deliver_at_ms"),
      lit(null).cast("int").as("marker_type"),
      lit(null).cast("string").as("replicated_from"),
      lit(null).cast("long").as("txn_group"),
      lit(0).as("attempts"),
      (col("_g") + startOffset).as("uuid_group"),
      lit(0).as("chunk_id"),
      lit(false).as("tombstone"),
      lit(null).cast("binary").as("ordering_key"),
      concat(lit(s"$topic-"), col("_g") + startOffset).as("uuid"),
      lit(1).as("num_chunks"),
      lit(false).as("compacted_out"))
  }

  /**
   * F5 at the write boundary — drop messages the topic has already
   * persisted: intra-batch replays first, then anti-filter against the
   * existing per-producer high-water snapshot (a producer-count-sized
   * broadcast, exactly the broker's `highestSequencedPushed` map).
   */
  def dedupAgainst(newMsgs: DataFrame, existing: DataFrame): DataFrame = {
    // `existing` was written through this same dedup gate, so it holds no
    // replays — the broker's recovery of `highestSequencedPersisted` from
    // an already-deduplicated ledger is a plain per-producer max
    // (MessageDeduplication.recoverSequenceIdsMap), not the full replay
    // scan Dedup.snapshot does over an arbitrary log.
    val snap = existing.groupBy(col("producer_name"))
      .agg(max(col("sequence_id")).as("highest_sequence_persisted"))
      .select(col("producer_name").as("_p"),
        col("highest_sequence_persisted").as("_hi"))
    Dedup.dropReplays(newMsgs)
      .join(broadcast(snap), col("producer_name") === col("_p"), "left")
      .filter(col("_hi").isNull || col("sequence_id") > col("_hi"))
      .drop("_p", "_hi")
  }

  /** S1 — durable append of built messages to the topic table. */
  def append(msgs: DataFrame, topicDir: String): Unit =
    msgs.write.mode("append").parquet(topicDir)

  /** S1 + F5 — append with dedup-on-write: replays of already-persisted
   * (producer, sequence) pairs are rejected, like the broker's
   * isDuplicate check before asyncAddEntry. Returns appended count. */
  def appendDedup(spark: SparkSession, msgs: DataFrame, topicDir: String): Long = {
    val exists = graft.sources.GraftIO.nonEmptyDir(spark, topicDir)
    // the high-water needs two columns; a pinned schema also spares the
    // schema-inference job an unschema'd parquet read runs on every call
    val toWrite =
      if (exists) dedupAgainst(msgs,
        spark.read.schema("producer_name STRING, sequence_id BIGINT").parquet(topicDir))
      else Dedup.dropReplays(msgs)
    // single evaluation: the accepted-count (the producer's ack) rides the
    // durable write as an observed metric, so the dedup plan never runs a
    // second pass and nothing has to be cached
    val obs = org.apache.spark.sql.Observation()
    toWrite.observe(obs, count(lit(1)).as("n")).write.mode("append").parquet(topicDir)
    obs.get("n").asInstanceOf[Long]
  }

  /** AUTO_PRODUCE_BYTES append (Schema.java:450-462): raw `value_bin`
   * payloads are validated against the topic's CURRENT registered schema
   * at the write boundary — schema-invalid rows never reach the log, the
   * valid remainder goes through the normal dedup-on-write gate. Returns
   * (appended, schemaRejected). The verdict is a columnar expression
   * ([[graft.schema.PayloadCodec.autoProduceOk]]) evaluated inside the
   * same scan as the write; the rejected count is observed on a second
   * pass over only the rejected slice (producer-ack bookkeeping, not a
   * data-path cost). */
  def appendAutoProduce(spark: SparkSession, msgs: DataFrame,
      topicDir: String,
      current: org.apache.spark.sql.types.StructType): (Long, Long) = {
    val ok = graft.schema.PayloadCodec.autoProduceOk(col("value_bin"), current)
    val appended = appendDedup(spark, msgs.filter(ok), topicDir)
    val rejected = msgs.filter(!ok).count()
    (appended, rejected)
  }
}
