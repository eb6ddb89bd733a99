package graft.queries

import graft.functions.{Exact, Murmur3x86}
import graft.model.{EventLog, MessageEnvelope}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The SURVEY §2 operator inventory over the `events` topic fixture —
 * each entry is the Spark operator applied to the envelope log plus the
 * equivalent DuckDB SQL on the raw events table. Query names carry the
 * SURVEY §2 row ids (a1 = publish-order compaction, f5 = dedup, …).
 */
object LogQueries extends QueryGroup {

  private def env(s: SparkSession, dir: String): DataFrame = EventLog.topic(s, dir)
  private val E = EventLog.oracleCte

  private val DAY_MS = 86400000L
  private val H6_MS = 21600000L

  // ---------------------------------------------------------------- A: compaction / views

  private val a1 = QueryDef(
    (s, d) => Compaction.publishOrder(env(s, d))
      .select(col("key"), col("msg_offset").as("last_offset"),
        Exact.rRow(col("value"), 4).as("last_value"))
      .orderBy(col("key")),
    Some(s"""$E, c AS (
      |  SELECT key, msg_offset, value, tombstone,
      |         row_number() OVER (PARTITION BY key ORDER BY msg_offset DESC) AS rn
      |  FROM env WHERE marker_type IS NULL)
      |SELECT key, msg_offset AS last_offset, (CAST(floor((value) * 1e4 + 0.5) AS BIGINT) / 1e4) AS last_value
      |FROM c WHERE rn = 1 AND NOT tombstone ORDER BY key""".stripMargin))

  private val a2 = QueryDef(
    (s, d) => Compaction.eventTimeOrder(env(s, d))
      .select(col("key"), col("msg_offset").as("last_offset"),
        col("event_ms").as("last_event_ms"), Exact.rRow(col("value"), 4).as("last_value"))
      .orderBy(col("key")),
    Some(s"""$E, c AS (
      |  SELECT key, msg_offset, event_ms, value, tombstone,
      |         row_number() OVER (PARTITION BY key ORDER BY event_ms DESC, msg_offset DESC) AS rn
      |  FROM env WHERE marker_type IS NULL)
      |SELECT key, msg_offset AS last_offset, event_ms AS last_event_ms, (CAST(floor((value) * 1e4 + 0.5) AS BIGINT) / 1e4) AS last_value
      |FROM c WHERE rn = 1 AND NOT tombstone ORDER BY key""".stripMargin))

  private val a3 = QueryDef(
    (s, d) => {
      import s.implicits._
      val ds = env(s, d).as[MessageEnvelope]
      val merged = Compaction.strategic[MessageEnvelope](ds, _.key,
        (a, b) =>
          if (a.value > b.value || (a.value == b.value && a.msg_offset > b.msg_offset)) a
          else b)
      merged.map { case (k, m) => (k, m.msg_offset, m.value) }
        .toDF("key", "chosen_offset", "chosen_value")
        .withColumn("chosen_value", Exact.rRow(col("chosen_value"), 4))
        .orderBy(col("key"))
    },
    Some(s"""$E, c AS (
      |  SELECT key, msg_offset, value,
      |         row_number() OVER (PARTITION BY key ORDER BY value DESC, msg_offset DESC) AS rn
      |  FROM env)
      |SELECT key, msg_offset AS chosen_offset, (CAST(floor((value) * 1e4 + 0.5) AS BIGINT) / 1e4) AS chosen_value
      |FROM c WHERE rn = 1 ORDER BY key""".stripMargin))

  private val a5 = QueryDef(
    (s, d) => Compaction.tableView(env(s, d))
      .withColumn("latest_value", Exact.rRow(col("latest_value"), 4))
      .orderBy(col("key")),
    Some(s"""$E, c AS (
      |  SELECT key, value, publish_ms, msg_offset, tombstone,
      |         row_number() OVER (PARTITION BY key ORDER BY msg_offset DESC) AS rn
      |  FROM env WHERE marker_type IS NULL)
      |SELECT key, (CAST(floor((value) * 1e4 + 0.5) AS BIGINT) / 1e4) AS latest_value, publish_ms AS updated_ms, msg_offset AS last_offset
      |FROM c WHERE rn = 1 AND NOT tombstone ORDER BY key""".stripMargin))

  private val a4 = QueryDef(
    (s, d) => {
      val e = env(s, d)
      val h = e.agg((max(col("msg_offset")) / 2).cast("long").as("_h"))
      val withH = e.crossJoin(h)
      val head = Compaction.publishOrder(withH.filter(col("msg_offset") <= col("_h")))
        .select(col("key"), col("msg_offset"))
      val tail = withH.filter(col("msg_offset") > col("_h") && col("marker_type").isNull)
        .select(col("key"), col("msg_offset"))
      head.unionByName(tail).orderBy(col("msg_offset"), col("key"))
    },
    Some(s"""$E, h AS (SELECT max(msg_offset) // 2 AS horizon FROM env),
      |head AS (
      |  SELECT key, msg_offset FROM (
      |    SELECT key, msg_offset, tombstone,
      |           row_number() OVER (PARTITION BY key ORDER BY msg_offset DESC) AS rn
      |    FROM env, h WHERE marker_type IS NULL AND msg_offset <= horizon)
      |  WHERE rn = 1 AND NOT tombstone),
      |tail AS (
      |  SELECT key, msg_offset FROM env, h
      |  WHERE msg_offset > horizon AND marker_type IS NULL)
      |SELECT * FROM (SELECT * FROM head UNION ALL SELECT * FROM tail)
      |ORDER BY msg_offset, key""".stripMargin))

  private val f11 = QueryDef(
    (s, d) => Compaction.markCompactedOut(env(s, d))
      .groupBy(col("topic"))
      .agg(sum(when(col("compacted_out"), 1L).otherwise(0L)).as("compacted_out_count"),
        sum(when(!col("compacted_out") && col("marker_type").isNull, 1L).otherwise(0L))
          .as("retained_count"))
      .orderBy(col("topic")),
    Some(s"""$E, w AS (
      |  SELECT key, max(msg_offset) AS winner FROM env
      |  WHERE marker_type IS NULL GROUP BY key)
      |SELECT topic,
      |  CAST(sum(CASE WHEN marker_type IS NULL
      |                 AND (msg_offset < winner OR tombstone) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS compacted_out_count,
      |  CAST(sum(CASE WHEN marker_type IS NULL
      |                 AND NOT (msg_offset < winner OR tombstone) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS retained_count
      |FROM env LEFT JOIN w USING (key)
      |GROUP BY topic ORDER BY topic""".stripMargin))

  private val a8 = QueryDef(
    (s, d) => Dedup.snapshot(env(s, d)).orderBy(col("producer_name")),
    Some(s"""$E, ded AS (
      |  SELECT producer_name, sequence_id,
      |         max(sequence_id) OVER (PARTITION BY producer_name ORDER BY msg_offset
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM env)
      |SELECT producer_name, max(sequence_id) AS highest_sequence_persisted,
      |       count(*) AS persisted_count
      |FROM ded WHERE prev_max IS NULL OR sequence_id > prev_max
      |GROUP BY producer_name ORDER BY producer_name""".stripMargin))

  private val a9 = QueryDef(
    (s, d) => LogOps.topicStats(env(s, d)).orderBy(col("topic")),
    Some(s"""$E
      |SELECT topic, count(*) AS msg_count,
      |       CAST(sum(strlen(properties) + 8) AS BIGINT) AS storage_bytes,
      |       max(msg_offset) AS head_offset, min(msg_offset) AS first_offset,
      |       count(DISTINCT producer_name) AS producer_count
      |FROM env GROUP BY topic ORDER BY topic""".stripMargin))

  private val a9b = QueryDef(
    // Per-subscription backlog: each cursor's mark-delete position joined
    // (broadcast) against its topic's log — SubscriptionStatsImpl
    // .msgBacklog / getNumberOfEntriesInBacklog semantics. Markers never
    // count toward client-visible backlog.
    (s, d) => {
      import s.implicits._
      val cursors = Seq(
        ("events-0", "subA", 1000L), ("events-0", "subB", 2500L),
        ("events-1", "subA", 0L), ("events-2", "tail", 4000L))
        .toDF("topic", "subscription", "mark_delete_offset")
      LogOps.subscriptionBacklog(env(s, d), cursors)
        .orderBy(col("topic"), col("subscription"))
    },
    Some(s"""$E
      |SELECT e.topic, c.subscription, count(*) AS msg_backlog,
      |       min(e.msg_offset) AS next_offset, max(e.msg_offset) AS head_offset
      |FROM env e JOIN (VALUES ('events-0', 'subA', 1000), ('events-0', 'subB', 2500),
      |                        ('events-1', 'subA', 0), ('events-2', 'tail', 4000))
      |       AS c(topic, subscription, mark_delete_offset)
      |  ON e.topic = c.topic
      |WHERE e.marker_type IS NULL AND e.msg_offset > c.mark_delete_offset
      |GROUP BY e.topic, c.subscription
      |ORDER BY e.topic, c.subscription""".stripMargin))

  private val a10 = QueryDef(
    (s, d) => LogOps.lastMessageIds(env(s, d)).orderBy(col("topic"), col("partition_id")),
    Some(s"""$E, r AS (
      |  SELECT topic, partition_id, msg_offset, ledger_id, entry_id,
      |         row_number() OVER (PARTITION BY topic, partition_id ORDER BY msg_offset DESC) AS rn
      |  FROM env)
      |SELECT topic, partition_id, msg_offset AS last_offset,
      |       ledger_id AS last_ledger_id, entry_id AS last_entry_id
      |FROM r WHERE rn = 1 ORDER BY topic, partition_id""".stripMargin))

  // ---------------------------------------------------------------- F: log-transform filters

  private val f1 = QueryDef(
    (s, d) => {
      val e = env(s, d)
      val horizon = e.agg(max(col("publish_ms")).as("_mx"))
      LogOps.dropMarkers(e).crossJoin(horizon)
        .filter(col("publish_ms") >= col("_mx") - lit(7 * DAY_MS))
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("surviving_count"), min(col("msg_offset")).as("oldest_offset"))
        .orderBy(col("topic"))
    },
    Some(s"""$E
      |SELECT topic, count(*) AS surviving_count, min(msg_offset) AS oldest_offset
      |FROM env
      |WHERE marker_type IS NULL
      |  AND publish_ms >= (SELECT max(publish_ms) FROM env) - ${7 * DAY_MS}
      |GROUP BY topic ORDER BY topic""".stripMargin))

  private val f2 = QueryDef(
    (s, d) => LogOps.retainBySize(env(s, d), 2000L)
      .groupBy(col("topic"))
      .agg(count(lit(1)).as("retained_count"), min(col("msg_offset")).as("earliest_retained"))
      .orderBy(col("topic")),
    Some(s"""$E, sized AS (
      |  SELECT topic, msg_offset,
      |         sum(strlen(properties) + 8) OVER (PARTITION BY topic ORDER BY msg_offset DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM env)
      |SELECT topic, count(*) AS retained_count, min(msg_offset) AS earliest_retained
      |FROM sized WHERE cum <= 2000 GROUP BY topic ORDER BY topic""".stripMargin))

  private val f3 = QueryDef(
    (s, d) => {
      val e = env(s, d)
      val asOf = e.agg(((min(col("publish_ms")) + max(col("publish_ms"))) / 2).cast("long").as("_asof"))
      e.crossJoin(asOf).filter(col("deliver_at_ms") <= col("_asof"))
        .select(col("msg_offset"), col("deliver_at_ms"))
        .orderBy(col("msg_offset"))
    },
    Some(s"""$E
      |SELECT msg_offset, deliver_at_ms FROM env
      |WHERE deliver_at_ms <= (SELECT (min(publish_ms) + max(publish_ms)) // 2 FROM env)
      |ORDER BY msg_offset""".stripMargin))

  private val f5 = QueryDef(
    (s, d) => Dedup.dropReplays(env(s, d))
      .select(col("msg_offset"), col("producer_name"), col("sequence_id"))
      .orderBy(col("msg_offset")),
    Some(s"""$E, ded AS (
      |  SELECT msg_offset, producer_name, sequence_id,
      |         max(sequence_id) OVER (PARTITION BY producer_name ORDER BY msg_offset
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM env)
      |SELECT msg_offset, producer_name, sequence_id FROM ded
      |WHERE prev_max IS NULL OR sequence_id > prev_max ORDER BY msg_offset""".stripMargin))

  private val f6 = QueryDef(
    (s, d) => {
      val e = env(s, d)
      val acked = e.filter(col("msg_offset") % 3 === 0).select(col("msg_offset"))
      LogOps.unackedBacklog(e, acked)
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("backlog_count"), min(col("msg_offset")).as("next_unacked"))
        .orderBy(col("topic"))
    },
    Some(s"""$E
      |SELECT topic, count(*) AS backlog_count, min(msg_offset) AS next_unacked
      |FROM env WHERE msg_offset % 3 <> 0 GROUP BY topic ORDER BY topic""".stripMargin))

  private val f9 = QueryDef(
    (s, d) => env(s, d).groupBy(col("topic")).agg(
      sum(when(col("attempts") >= 3, 1L).otherwise(0L)).as("dlq_count"),
      sum(when(col("attempts") < 3, 1L).otherwise(0L)).as("retry_count"))
      .orderBy(col("topic")),
    Some(s"""$E
      |SELECT topic,
      |       CAST(sum(CASE WHEN attempts >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS dlq_count,
      |       CAST(sum(CASE WHEN attempts < 3 THEN 1 ELSE 0 END) AS BIGINT) AS retry_count
      |FROM env GROUP BY topic ORDER BY topic""".stripMargin))

  private val u10 = QueryDef(
    // The reconsumeLater lifecycle end-to-end: every message routes to its
    // retry letter (<topic>-sub-RETRY with delay) or dead letter
    // (<topic>-sub-DLQ, immediate) with RECONSUMETIMES/ORIGIN stamped —
    // the oracle re-derives the routing, the counter, the lexicographic
    // first origin id, and the total scheduled delay independently.
    (s, d) => LogOps.retryLetter(env(s, d), "sub", maxRedeliver = 3,
      delayMs = 60000L)
      .groupBy(col("dest_topic"))
      .agg(count(lit(1)).as("n"),
        max(col("reconsumetimes")).as("max_reconsume"),
        min(col("origin_message_id")).as("first_origin"),
        sum(col("deliver_at_ms") - col("publish_ms")).as("delay_total_ms"))
      .orderBy(col("dest_topic")),
    Some(s"""$E
      |SELECT topic || CASE WHEN attempts + 1 > 3 THEN '-sub-DLQ'
      |                     ELSE '-sub-RETRY' END AS dest_topic,
      |       count(*) AS n,
      |       CAST(max(attempts + 1) AS INT) AS max_reconsume,
      |       min(CAST(ledger_id AS VARCHAR) || ':' || CAST(entry_id AS VARCHAR))
      |         AS first_origin,
      |       CAST(sum(CASE WHEN attempts + 1 > 3 THEN 0 ELSE 60000 END) AS BIGINT)
      |         AS delay_total_ms
      |FROM env GROUP BY 1 ORDER BY dest_topic""".stripMargin))

  private val f10 = QueryDef(
    (s, d) => {
      val e = env(s, d)
      e.agg(
        sum(when(col("marker_type").isNotNull, 1L).otherwise(0L)).as("n_markers"),
        sum(when(col("marker_type").isNull, 1L).otherwise(0L)).as("n_visible"))
    },
    Some(s"""$E
      |SELECT CAST(sum(CASE WHEN marker_type IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_markers,
      |       CAST(sum(CASE WHEN marker_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_visible
      |FROM env""".stripMargin))

  private val f13 = QueryDef(
    (s, d) => ChunkBatch.reassembleChunks(env(s, d)).orderBy(col("uuid_group")),
    Some(s"""$E
      |SELECT uuid_group, count(*) AS num_chunks,
      |       string_agg(decode(value_bin), '' ORDER BY chunk_id) AS assembled,
      |       min(msg_offset) AS first_offset
      |FROM env GROUP BY uuid_group
      |HAVING count(*) = min(num_chunks) ORDER BY uuid_group""".stripMargin))

  private val f14 = QueryDef(
    (s, d) => ChunkBatch.batchRoundtrip(env(s, d))
      .select(col("topic"), col("ledger_id"), col("batch_index"), col("msg_offset"), col("key"))
      .orderBy(col("topic"), col("ledger_id"), col("batch_index")),
    Some(s"""$E
      |SELECT topic, ledger_id,
      |       CAST(row_number() OVER (PARTITION BY topic, ledger_id ORDER BY msg_offset) - 1 AS INT) AS batch_index,
      |       msg_offset, key
      |FROM env ORDER BY topic, ledger_id, batch_index""".stripMargin))

  private val f15 = QueryDef(
    // F15 wire-payload codec roundtrip across ALL five reference codecs
    // (NONE/LZ4/ZLIB/ZSTD/SNAPPY, rotated per message like a mixed
    // producer fleet): producer-side compress + consumer-side decompress
    // dispatched on the stamped `compression`, with the
    // uncompressed_size validity check; n_roundtrip counts rows whose
    // decompressed payload is byte-equal to the original, which the
    // oracle knows must be every row.
    (s, d) => {
      val orig = env(s, d).withColumn("_orig", col("value_bin"))
      val codec = element_at(
        array(Compression.codecs.map(lit): _*),
        (pmod(col("msg_offset"), lit(5)) + 1).cast("int"))
      Compression.decompress(Compression.compress(orig, codec))
        .groupBy(col("compression"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value_bin") === col("_orig") && col("size_ok"), 1L)
            .otherwise(0L)).as("n_roundtrip"),
          sum(octet_length(col("value_bin")).cast("long")).as("payload_bytes"))
        .orderBy(col("compression"))
    },
    Some(s"""$E
      |SELECT ['NONE','LZ4','ZLIB','ZSTD','SNAPPY'][CAST(msg_offset % 5 + 1 AS INT)]
      |         AS compression,
      |       count(*) AS n, count(*) AS n_roundtrip,
      |       CAST(sum(octet_length(value_bin)) AS BIGINT) AS payload_bytes
      |FROM env GROUP BY 1 ORDER BY compression""".stripMargin))

  // ---------------------------------------------------------------- S: sources / unions / replication

  /** Fixture-scoped scratch topic dir for the write-path queries (see
   * [[graft.Scratch.freshDirFor]] — concurrent runs over different
   * fixture dirs must not share one). */
  private def freshDir(tag: String, d: String): String =
    graft.Scratch.freshDirFor(tag, d)

  /** Keyed sub-batch of the raw events table used by the produce-path
   * queries (keys < 15 so the routing VALUES table stays small). */
  private def produceInput(s: SparkSession, d: String): DataFrame =
    EventLog.raw(s, d).filter(col("event_id") < 3000 && col("user_id") < 15)
      .select(col("event_id"), col("user_id").cast("string").as("key"), col("value"))

  private val produceInputSql =
    """inp AS (
      |  SELECT event_id, CAST(user_id AS VARCHAR) AS key, value
      |  FROM events WHERE event_id < 3000 AND user_id < 15)""".stripMargin

  private val s1 = QueryDef(
    (s, d) => {
      val msgs = Produce.build(produceInput(s, d), "produced", "w0",
        numPartitions = 6, orderCol = "event_id", nowMs = 0L, allKeyed = true)
        .persist() // two appends + their dedup scans share one build
      val dir = freshDir("produce", d)
      Produce.appendDedup(s, msgs, dir)
      val second = Produce.appendDedup(s, msgs, dir) // all replays → rejected
      msgs.unpersist()
      s.read.parquet(dir)
        .groupBy(col("partition_id"))
        .agg(count(lit(1)).as("n"), max(col("entry_id")).as("max_entry"),
          max(col("sequence_id")).as("max_seq"))
        .withColumn("second_append", lit(second))
        .orderBy(col("partition_id"))
    },
    Some(s"""WITH $produceInputSql,
      |m(key, pt) AS (SELECT * FROM (VALUES ${keyRouteValues(6)})),
      |r AS (SELECT inp.event_id, inp.key, m.pt FROM inp JOIN m USING (key)),
      |e AS (SELECT pt,
      |        row_number() OVER (PARTITION BY pt ORDER BY event_id) - 1 AS entry,
      |        row_number() OVER (ORDER BY event_id) - 1 AS seq
      |      FROM r)
      |SELECT CAST(pt AS INT) AS partition_id, count(*) AS n,
      |       max(entry) AS max_entry, max(seq) AS max_seq,
      |       CAST(0 AS BIGINT) AS second_append
      |FROM e GROUP BY pt ORDER BY partition_id""".stripMargin))

  private val s2 = QueryDef(
    (s, d) => Produce.build(produceInput(s, d), "produced", "w0",
      numPartitions = 6, orderCol = "event_id", nowMs = 1700000000000L,
      deliverAfterMs = 60000L, allKeyed = true)
      .select(col("partition_id"), col("msg_offset"), col("sequence_id"),
        col("ledger_id"), col("entry_id"), col("key"), col("publish_ms"),
        col("deliver_at_ms"))
      .orderBy(col("msg_offset")).limit(30),
    Some(s"""WITH $produceInputSql,
      |m(key, pt) AS (SELECT * FROM (VALUES ${keyRouteValues(6)})),
      |r AS (SELECT inp.event_id, inp.key, m.pt FROM inp JOIN m USING (key)),
      |g AS (SELECT event_id, key, pt,
      |        row_number() OVER (ORDER BY event_id) - 1 AS gidx,
      |        row_number() OVER (PARTITION BY pt ORDER BY event_id) - 1 AS entry
      |      FROM r)
      |SELECT CAST(pt AS INT) AS partition_id, gidx AS msg_offset,
      |       gidx AS sequence_id, entry // 1000 AS ledger_id,
      |       entry % 1000 AS entry_id, key,
      |       CAST(1700000000000 AS BIGINT) AS publish_ms,
      |       CAST(1700000060000 AS BIGINT) AS deliver_at_ms
      |FROM g ORDER BY msg_offset LIMIT 30""".stripMargin))

  private val s2b = QueryDef(
    // Keyless produce: the round-robin router assigns partitions from the
    // GLOBAL position (RoundRobinPartitionMessageRouterImpl), which forces
    // the two-round sequencing path (global sequence first, then
    // per-partition entries) — the branch allKeyed batches skip.
    (s, d) => {
      val keyless = EventLog.raw(s, d)
        .filter(col("event_id") < 3000 && col("user_id") < 15)
        .select(col("event_id"), lit(null).cast("string").as("key"), col("value"))
      Produce.build(keyless, "produced", "w0", numPartitions = 6,
        orderCol = "event_id", nowMs = 0L)
        .groupBy(col("partition_id"))
        .agg(count(lit(1)).as("n"), min(col("msg_offset")).as("first_offset"),
          max(col("msg_offset")).as("last_offset"),
          max(col("entry_id")).as("max_entry"))
        .orderBy(col("partition_id"))
    },
    Some("""WITH inp AS (
      |  SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS g
      |  FROM events WHERE event_id < 3000 AND user_id < 15),
      |r AS (SELECT g, g % 6 AS pt,
      |        row_number() OVER (PARTITION BY g % 6 ORDER BY g) - 1 AS entry
      |      FROM inp)
      |SELECT CAST(pt AS INT) AS partition_id, count(*) AS n,
      |       min(g) AS first_offset, max(g) AS last_offset,
      |       max(entry % 1000) AS max_entry
      |FROM r GROUP BY pt ORDER BY partition_id""".stripMargin))

  private val s3 = QueryDef(
    // S3 — the consumer receive loop as a batch twin (the streaming
    // cursor-restart semantics live in StreamingSpec "subscription"):
    // per (topic, partition), with the subscription cursor at mid-stream,
    // receive the next ≤100 messages in offset order
    // (receiverQueueSize), advance the read position past the last
    // received, and report the backlog left behind — the
    // receive → ack → cursor-advance contract, oracle-checked.
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = env(s, d)
      val cur = e.groupBy(col("topic"), col("partition_id"))
        .agg((max(col("msg_offset")) / 2).cast("long").as("cursor"))
      val w = Window.partitionBy(col("topic"), col("partition_id"))
        .orderBy(col("msg_offset"))
      e.join(cur, Seq("topic", "partition_id"))
        .filter(col("msg_offset") >= col("cursor"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("topic"), col("partition_id"))
        .agg(
          sum(when(col("rn") <= 100, 1L).otherwise(0L)).as("received"),
          min(when(col("rn") <= 100, col("msg_offset"))).as("first_offset"),
          max(when(col("rn") <= 100, col("msg_offset"))).as("last_offset"),
          (max(when(col("rn") <= 100, col("msg_offset"))) + 1L).as("next_read"),
          sum(when(col("rn") > 100, 1L).otherwise(0L)).as("backlog_after"))
        .orderBy(col("topic"), col("partition_id"))
    },
    Some(s"""$E,
      |cur AS (SELECT topic, partition_id, max(msg_offset) // 2 AS cursor
      |        FROM env GROUP BY 1, 2),
      |r AS (SELECT e.topic, e.partition_id, e.msg_offset,
      |        row_number() OVER (PARTITION BY e.topic, e.partition_id
      |                           ORDER BY e.msg_offset) AS rn
      |      FROM env e JOIN cur c
      |        ON e.topic = c.topic AND e.partition_id = c.partition_id
      |      WHERE e.msg_offset >= c.cursor)
      |SELECT topic, partition_id,
      |       CAST(sum(CASE WHEN rn <= 100 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS received,
      |       min(CASE WHEN rn <= 100 THEN msg_offset END) AS first_offset,
      |       max(CASE WHEN rn <= 100 THEN msg_offset END) AS last_offset,
      |       max(CASE WHEN rn <= 100 THEN msg_offset END) + 1 AS next_read,
      |       CAST(sum(CASE WHEN rn > 100 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS backlog_after
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  private val s5 = QueryDef(
    (s, d) => {
      val e = env(s, d)
      val start = e.agg((max(col("msg_offset")) / 2).cast("long").as("_start"))
      e.crossJoin(start).filter(col("msg_offset") >= col("_start"))
        .agg(count(lit(1)).as("n"), min(col("msg_offset")).as("first_offset"),
          max(col("msg_offset")).as("last_offset"))
    },
    Some(s"""$E
      |SELECT count(*) AS n, min(msg_offset) AS first_offset, max(msg_offset) AS last_offset
      |FROM env WHERE msg_offset >= (SELECT max(msg_offset) // 2 FROM env)""".stripMargin))

  private val s7 = QueryDef(
    (s, d) => {
      val e = env(s, d)
      val t0 = e.filter(col("topic") === "events-0")
      val t1 = e.filter(col("topic") === "events-1")
      t0.unionByName(t1)
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n"), max(col("msg_offset")).as("head_offset"))
        .orderBy(col("topic"))
    },
    Some(s"""$E
      |SELECT topic, count(*) AS n, max(msg_offset) AS head_offset
      |FROM env WHERE topic IN ('events-0', 'events-1')
      |GROUP BY topic ORDER BY topic""".stripMargin))

  private val s8 = QueryDef(
    (s, d) => env(s, d).filter(col("topic").rlike("^events-[01]$"))
      .groupBy(col("topic")).agg(count(lit(1)).as("n"))
      .orderBy(col("topic")),
    Some(s"""$E
      |SELECT topic, count(*) AS n FROM env
      |WHERE regexp_matches(topic, '^events-[01]$$')
      |GROUP BY topic ORDER BY topic""".stripMargin))

  private val s14 = QueryDef(
    (s, d) => LogOps.replicationOutbound(env(s, d))
      .groupBy(col("topic")).agg(count(lit(1)).as("outbound_count"))
      .orderBy(col("topic")),
    Some(s"""$E
      |SELECT topic, count(*) AS outbound_count FROM env
      |WHERE replicated_from IS NULL GROUP BY topic ORDER BY topic""".stripMargin))

  /** S17 fixture: five snapshot attempts over remotes {B, C} (source A,
   * two request rounds, 10 s timeout) exercising every protocol branch —
   * s1 clean completion (round-2 responses must NOT overwrite stored
   * round-1 positions: putIfAbsent), s2 missing a round-2 response
   * (incomplete), s3 structurally complete but past the timeout (the
   * builder was already dropped — its late reply is ignored), s4
   * completion with round-2 responses out of order, s5 completed but
   * never reached by the mark-delete cursor. seq doubles as the marker's
   * local entry id; REQUEST rows carry no remote position. */
  private[graft] val rsMarkerRows: Seq[(Long, Long, String, String, String, Long, Long)] =
    Seq(
      (1L, 0L, "REQUEST", "s1", "A", 0L, 0L),
      (2L, 100L, "RESPONSE", "s1", "B", 10L, 5L),
      (3L, 200L, "RESPONSE", "s1", "C", 20L, 7L),
      (4L, 300L, "REQUEST", "s1", "A", 0L, 0L),
      (5L, 400L, "RESPONSE", "s1", "B", 10L, 6L),
      (6L, 500L, "RESPONSE", "s1", "C", 20L, 9L),
      (7L, 1000L, "REQUEST", "s2", "A", 0L, 0L),
      (8L, 1100L, "RESPONSE", "s2", "B", 10L, 8L),
      (9L, 1200L, "RESPONSE", "s2", "C", 20L, 11L),
      (10L, 1300L, "REQUEST", "s2", "A", 0L, 0L),
      (11L, 1400L, "RESPONSE", "s2", "B", 10L, 9L),
      (12L, 2000L, "REQUEST", "s3", "A", 0L, 0L),
      (13L, 2500L, "RESPONSE", "s3", "B", 10L, 12L),
      (14L, 3000L, "RESPONSE", "s3", "C", 20L, 14L),
      (15L, 3500L, "REQUEST", "s3", "A", 0L, 0L),
      (16L, 4000L, "RESPONSE", "s3", "B", 10L, 13L),
      (17L, 13000L, "RESPONSE", "s3", "C", 20L, 16L),
      (18L, 20000L, "REQUEST", "s4", "A", 0L, 0L),
      (19L, 20100L, "RESPONSE", "s4", "B", 10L, 20L),
      (20L, 20200L, "RESPONSE", "s4", "C", 20L, 22L),
      (21L, 20300L, "REQUEST", "s4", "A", 0L, 0L),
      (22L, 20400L, "RESPONSE", "s4", "C", 20L, 23L),
      (23L, 20500L, "RESPONSE", "s4", "B", 10L, 21L),
      (24L, 30000L, "REQUEST", "s5", "A", 0L, 0L),
      (25L, 30100L, "RESPONSE", "s5", "B", 10L, 30L),
      (26L, 30200L, "RESPONSE", "s5", "C", 20L, 32L),
      (27L, 30300L, "REQUEST", "s5", "A", 0L, 0L),
      (28L, 30400L, "RESPONSE", "s5", "B", 10L, 31L),
      (29L, 30500L, "RESPONSE", "s5", "C", 20L, 33L))

  /** Local mark-delete advances: below s1 (no snapshot), past s1, a jump
   * past s4 (s1→s4 directly, one UPDATE, not two), a no-op re-advance. */
  private[graft] val rsAdvanceRows: Seq[(Long, Long)] =
    Seq((1L, 3L), (2L, 10L), (3L, 24L), (4L, 25L))

  private val s17 = QueryDef(
    // S17 replicated-subscription cursor sync: fold the marker protocol
    // (REQUEST/RESPONSE rounds → completed snapshots; mark-delete
    // advances → UPDATE emissions) into per-cluster synced positions.
    // The marker slice is GENERATED from the events log (one snapshot
    // round per 500-offset stripe, response delays and positions pure
    // arithmetic in the stripe index), so its size scales with SF —
    // ~20 snapshots at sf0.01, ~200 at sf0.1 — and every status branch
    // stays populated at any SF: stripes with n%7=0 never get a second
    // round (incomplete), stripes with n%13 ∈ {11,12} complete past the
    // 10 s timeout (timed_out), the rest complete. The hand 29-row
    // fixture remains the spec/streaming pin (ReplicatedSubscriptionSpec,
    // StreamingSpec "repl-sub-census"). The oracle replays every rule
    // over the same generated relation — first-response-wins storage,
    // two-round completion, the timeout gate, and the running-max UPDATE
    // fold — not pinned answers.
    (s, d) => {
      val e = env(s, d)
      // the snapshot-id relation feeds all five marker branches plus the
      // advances — derive the corpus-scale distinct ONCE
      val sn = graft.CacheScope.track(
        e.select(expr("msg_offset div 500").as("n")).distinct())
      val sid = concat(lit("s"), col("n"))
      def m(seqOff: Int, ts: org.apache.spark.sql.Column, cl: String,
          led: Long, ent: org.apache.spark.sql.Column): DataFrame =
        sn.select((col("n") * 10 + seqOff).as("seq"), ts.as("ts_ms"),
          lit(if (seqOff == 0) "REQUEST" else "RESPONSE").as("mtype"),
          sid.as("sid"), lit(cl).as("cluster"), lit(led).as("r_ledger"),
          ent.as("r_entry"))
      val base = col("n") * 1000
      val markers = m(0, base, "A", 0L, lit(0L))
        .unionByName(m(1, base + (col("n") % 12 + 1) * 100, "B", 10L,
          col("n") * 3 + 1))
        .unionByName(m(2, base + (col("n") % 9 + 1) * 150, "C", 20L,
          col("n") * 3 + 2))
        .unionByName(m(3, base + (col("n") % 13 + 1) * 900, "B", 10L,
          col("n") * 3 + 4).filter(col("n") % 7 =!= 0))
        .unionByName(m(4, base + (col("n") % 11 + 1) * 900, "C", 20L,
          col("n") * 3 + 5).filter(col("n") % 7 =!= 0))
      val advances = sn.select(col("n").as("adv_seq"),
        (col("n") * 10 + col("n") % 15).as("md_entry"))
      graft.operators.ReplicatedSubscription.sync(markers, advances,
          remotes = Seq("B", "C"), timeoutMs = 10000L)
        .orderBy(col("snapshot_id"), col("cluster"))
    },
    Some(s"""$E, sn AS (SELECT DISTINCT msg_offset // 500 AS n FROM env),
      |m AS (
      |  SELECT n*10 AS seq, n*1000 AS ts_ms, 'REQUEST' AS mtype,
      |         's' || n AS sid, 'A' AS cluster, 0 AS r_ledger,
      |         0 AS r_entry FROM sn
      |  UNION ALL SELECT n*10+1, n*1000 + (n%12+1)*100, 'RESPONSE',
      |    's' || n, 'B', 10, n*3+1 FROM sn
      |  UNION ALL SELECT n*10+2, n*1000 + (n%9+1)*150, 'RESPONSE',
      |    's' || n, 'C', 20, n*3+2 FROM sn
      |  UNION ALL SELECT n*10+3, n*1000 + (n%13+1)*900, 'RESPONSE',
      |    's' || n, 'B', 10, n*3+4 FROM sn WHERE n%7 <> 0
      |  UNION ALL SELECT n*10+4, n*1000 + (n%11+1)*900, 'RESPONSE',
      |    's' || n, 'C', 20, n*3+5 FROM sn WHERE n%7 <> 0),
      |adv AS (SELECT n AS adv_seq, n*10 + n%15 AS md_entry FROM sn),
      |req AS (SELECT sid, min(ts_ms) AS req_ts FROM m
      |        WHERE mtype = 'REQUEST' GROUP BY sid),
      |resp AS (SELECT *, row_number() OVER (PARTITION BY sid, cluster
      |           ORDER BY seq) AS rn
      |         FROM m WHERE mtype = 'RESPONSE'),
      |stored AS (SELECT sid, cluster, r_ledger * 1000000 + r_entry
      |             AS stored_pos FROM resp WHERE rn = 1),
      |done AS (SELECT sid, count(DISTINCT cluster) AS n_done,
      |                max(seq) AS done_seq, max(ts_ms) AS done_ts
      |         FROM resp WHERE rn = 2 AND cluster IN ('B', 'C')
      |         GROUP BY sid),
      |census AS (
      |  SELECT r.sid,
      |         CASE WHEN d.n_done = 2 AND d.done_ts - r.req_ts <= 10000
      |              THEN 'completed'
      |              WHEN d.n_done = 2 THEN 'timed_out'
      |              ELSE 'incomplete' END AS status,
      |         CASE WHEN d.n_done = 2 AND d.done_ts - r.req_ts <= 10000
      |              THEN d.done_seq END AS local_entry
      |  FROM req r LEFT JOIN done d USING (sid)),
      |best AS (SELECT a.adv_seq, max(c.local_entry) AS best_entry
      |         FROM adv a JOIN census c ON c.status = 'completed'
      |           AND c.local_entry <= a.md_entry
      |         GROUP BY a.adv_seq),
      |upd AS (SELECT best_entry,
      |               row_number() OVER (ORDER BY best_entry) AS upd_seq
      |        FROM (SELECT DISTINCT best_entry FROM best)),
      |grid AS (SELECT c.sid, c.status, c.local_entry, u.upd_seq,
      |                cl.cluster
      |         FROM census c LEFT JOIN upd u ON c.local_entry = u.best_entry
      |         CROSS JOIN (SELECT unnest(['B', 'C']) AS cluster) cl)
      |SELECT g.sid AS snapshot_id, g.status,
      |       CAST(g.local_entry AS BIGINT) AS local_entry,
      |       CAST(g.upd_seq AS BIGINT) AS upd_seq, g.cluster,
      |       CAST(CASE WHEN g.status = 'completed' THEN s.stored_pos END
      |         AS BIGINT) AS stored_pos
      |FROM grid g LEFT JOIN stored s
      |  ON g.sid = s.sid AND g.cluster = s.cluster
      |ORDER BY snapshot_id, g.cluster""".stripMargin))

  // ---------------------------------------------------------------- R: routing

  private val r1 = QueryDef(
    (s, d) => Routing.roundRobin(env(s, d), 6)
      .groupBy(col("route_partition")).agg(count(lit(1)).as("n"))
      .orderBy(col("route_partition")),
    Some(s"""$E
      |SELECT CAST(msg_offset % 6 AS INT) AS route_partition, count(*) AS n
      |FROM env GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Reference murmur3(seed=0) routing table for the 15 stable fixture keys,
   * generated from the engine's own hash (itself pinned to the public
   * MurmurHash3 test vectors in Murmur3Spec). */
  private def keyRouteValues(nPart: Int): String =
    (0 to 14).map { k =>
      val h = Murmur3x86.positive(k.toString.getBytes("UTF-8"), 0)
      s"('$k', ${h % nPart})"
    }.mkString(", ")

  /** Plain key → 16-bit ring bucket VALUES (no consumer mapping),
   * covering the events table's FULL user_id domain (ids < 1500 at
   * every driver SF) so the R12/R13 fence slices scale with the log
   * instead of a 15-key fixture: 10k rows at sf0.01, 100k at sf0.1. */
  private def keyRingValues: String =
    (0 to 1499).map { k =>
      val h = Murmur3x86.positive(k.toString.getBytes("UTF-8"), 0)
      s"('$k', ${h % 65536})"
    }.mkString(", ")

  private def keyBucketValues(consumers: Int): String =
    (0 to 1499).map { k =>
      val h = Murmur3x86.positive(k.toString.getBytes("UTF-8"), 0)
      val bucket = h % 65536
      val size = 65536
      val c = (0 until consumers).find { i =>
        bucket >= i * size / consumers && bucket <= (i + 1) * size / consumers - 1
      }.get
      s"('$k', $bucket, 'consumer-$c')"
    }.mkString(", ")

  private val r2 = QueryDef(
    (s, d) => Routing.keyHash(env(s, d).filter(col("key").cast("long") < 15), 6)
      .groupBy(col("key"), col("route_partition")).agg(count(lit(1)).as("n"))
      .orderBy(col("key")),
    Some(s"""$E, m(key, route_partition) AS (SELECT * FROM (VALUES ${keyRouteValues(6)})),
      |cnt AS (SELECT key, count(*) AS n FROM env WHERE CAST(key AS BIGINT) < 15 GROUP BY key)
      |SELECT cnt.key AS key, CAST(m.route_partition AS INT) AS route_partition, cnt.n AS n
      |FROM cnt JOIN m ON cnt.key = m.key ORDER BY key""".stripMargin))

  private val r5 = QueryDef(
    // ordering_key-free slice: the override path is r8's query.
    (s, d) => Routing.assignConsumers(
      env(s, d).filter(col("key").cast("long") < 15 && col("ordering_key").isNull),
      Routing.evenRanges(s, 3))
      .groupBy(col("key"), col("sticky_bucket"), col("consumer")).agg(count(lit(1)).as("n"))
      .orderBy(col("key")),
    Some(s"""$E, m(key, sticky_bucket, consumer) AS (SELECT * FROM (VALUES ${keyBucketValues(3)})),
      |cnt AS (SELECT key, count(*) AS n FROM env
      |        WHERE CAST(key AS BIGINT) < 15 AND ordering_key IS NULL GROUP BY key)
      |SELECT cnt.key AS key, CAST(m.sticky_bucket AS INT) AS sticky_bucket,
      |       m.consumer AS consumer, cnt.n AS n
      |FROM cnt JOIN m ON cnt.key = m.key ORDER BY key""".stripMargin))

  private val r6 = QueryDef(
    // R6 dynamic auto-split: fold a membership history (4 joins, 1 leave,
    // 1 re-split) into the range table, then dispatch the keyed slice over
    // the resulting ranges. The oracle's range table is derived BY HAND
    // from the reference algorithm (split largest / upper neighbor absorbs
    // a leaver's range), so the fold is checked against independent ground
    // truth.
    (s, d) => {
      val events = Seq("join" -> "consumer-A", "join" -> "consumer-B",
        "join" -> "consumer-C", "join" -> "consumer-D",
        "leave" -> "consumer-B", "join" -> "consumer-E")
      val ranges = Routing.autoSplitRanges(s, events)
      val assigned = Routing.assignConsumers(
        env(s, d).filter(col("key").cast("long") < 1500 && col("ordering_key").isNull),
        ranges)
        .groupBy(col("consumer")).agg(count(lit(1)).as("n"))
      ranges.join(assigned, Seq("consumer"), "left")
        .select(col("consumer"), col("lo"), col("hi"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("lo"))
    },
    Some(s"""$E, m(key, bucket) AS (SELECT * FROM (VALUES $keyRingValues)),
      |r(consumer, lo, hi) AS (SELECT * FROM (VALUES
      |  ('consumer-C', 0, 16383), ('consumer-E', 16384, 32767),
      |  ('consumer-D', 32768, 49151), ('consumer-A', 49152, 65535))),
      |cnt AS (
      |  SELECT r2.consumer AS consumer, count(*) AS n
      |  FROM env JOIN m ON env.key = m.key
      |           JOIN r r2 ON m.bucket BETWEEN r2.lo AND r2.hi
      |  WHERE CAST(env.key AS BIGINT) < 1500 AND env.ordering_key IS NULL
      |  GROUP BY r2.consumer)
      |SELECT r.consumer, r.lo, r.hi,
      |       CAST(coalesce(cnt.n, 0) AS BIGINT) AS n
      |FROM r LEFT JOIN cnt ON r.consumer = cnt.consumer
      |ORDER BY r.lo""".stripMargin))

  private val r7 = QueryDef(
    // R7 exclusive sticky ranges: three consumers pin disjoint ranges that
    // deliberately leave gaps ([16001,19999], [45001,51999], [60001,65535]);
    // a fourth requests [30000,55000], which conflicts with both c-mid and
    // c-high and is REJECTED at add time — so buckets inside its request
    // still route to the original owners (key 6 @ 31936 → c-mid) or park.
    // Keys 0 (bucket 49279) and 12 (61205) fall in gaps → 'parked' (the
    // reference's select() == null). Oracle = hand-applied reference
    // algorithm over the spec-pinned key buckets.
    (s, d) => {
      val requests = Seq(
        "c-low" -> Seq((0, 16000)),
        "c-mid" -> Seq((20000, 45000)),
        "c-high" -> Seq((52000, 60000)),
        "c-bad" -> Seq((30000, 55000))) // overlap → rejected, holds no ranges
      Routing.assignExclusive(
        env(s, d).filter(col("key").cast("long") < 15 && col("ordering_key").isNull),
        Routing.exclusiveRanges(s, requests))
        .groupBy(col("key"), col("sticky_bucket"), col("consumer"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("key"))
    },
    Some {
      val assign = Map( // hand-derived: bucket → pinned range owner or parked
        0 -> "parked", 1 -> "c-mid", 2 -> "c-high", 3 -> "c-mid",
        4 -> "c-high", 5 -> "c-low", 6 -> "c-mid", 7 -> "c-mid",
        8 -> "c-low", 9 -> "c-high", 10 -> "c-low", 11 -> "c-high",
        12 -> "parked", 13 -> "c-mid", 14 -> "c-high")
      val values = (0 to 14).map { k =>
        val b = Murmur3x86.positive(k.toString.getBytes("UTF-8"), 0) % 65536
        s"('$k', $b, '${assign(k)}')"
      }.mkString(", ")
      s"""$E, m(key, sticky_bucket, consumer) AS (SELECT * FROM (VALUES $values)),
        |cnt AS (SELECT key, count(*) AS n FROM env
        |        WHERE CAST(key AS BIGINT) < 15 AND ordering_key IS NULL GROUP BY key)
        |SELECT cnt.key AS key, CAST(m.sticky_bucket AS INT) AS sticky_bucket,
        |       m.consumer AS consumer, cnt.n AS n
        |FROM cnt JOIN m ON cnt.key = m.key ORDER BY key""".stripMargin
    })

  private val r12 = QueryDef(
    // R12 Key_Shared join-time ordering fence (recentlyJoinedConsumers):
    // a 5-event membership history (offsets at fixed fractions of the
    // log head, so the fixture scales with SF) gives one auto-split
    // range table per epoch; consumer-B leaves with everything from 15%
    // unacked, which replays to the final table's owners; mark-delete
    // sits at 30%, so D (joined 40%) and E (joined 70%) are still
    // fenced — D holds all its normal traffic, E delivers replays below
    // the OLDEST recently-joined position (D's 40%, the #23795 clamp)
    // but holds replays above it and all its normal traffic, and C
    // (joined 20% ≤ mark-delete) delivers everything including replays.
    // Oracle = hand-derived per-epoch range tables (the reference
    // algorithm applied by hand, the r6/r7 convention) + a relational
    // replay of the fence rules.
    (s, d) => {
      val e = env(s, d)
      val maxo = e.agg(max(col("msg_offset"))).head().getLong(0)
      def pct(p: Int): Long = maxo * p / 100
      val membership = Seq(
        (0L, "join", "consumer-A"), (0L, "join", "consumer-B"),
        (pct(20), "join", "consumer-C"), (pct(40), "join", "consumer-D"),
        (pct(60), "leave", "consumer-B"), (pct(70), "join", "consumer-E"))
      Routing.fencedDispatch(
        e.filter(col("key").cast("long") < 1500 && col("ordering_key").isNull),
        membership, leaver = "consumer-B",
        unackedMinOffset = pct(15), markDelete = pct(30))
        .groupBy(col("consumer"), col("kind"), col("disposition"))
        .agg(count(lit(1)).as("n"), min(col("msg_offset")).as("min_off"),
          max(col("msg_offset")).as("max_off"))
        .orderBy(col("consumer"), col("kind"), col("disposition"))
    },
    Some(s"""$E, m(key, bucket) AS (SELECT * FROM (VALUES $keyRingValues)),
      |mx AS (SELECT max(msg_offset) AS mx FROM env),
      |epv(epoch, consumer, lo, hi) AS (SELECT * FROM (VALUES
      |  (0, 'consumer-B', 0, 32767), (0, 'consumer-A', 32768, 65535),
      |  (1, 'consumer-C', 0, 16383), (1, 'consumer-B', 16384, 32767),
      |  (1, 'consumer-A', 32768, 65535),
      |  (2, 'consumer-C', 0, 16383), (2, 'consumer-B', 16384, 32767),
      |  (2, 'consumer-D', 32768, 49151), (2, 'consumer-A', 49152, 65535),
      |  (3, 'consumer-C', 0, 16383), (3, 'consumer-D', 16384, 49151),
      |  (3, 'consumer-A', 49152, 65535),
      |  (4, 'consumer-C', 0, 16383), (4, 'consumer-E', 16384, 32767),
      |  (4, 'consumer-D', 32768, 49151), (4, 'consumer-A', 49152, 65535))),
      |bd(epoch, fp, up) AS (SELECT * FROM (VALUES
      |  (0, 0, 20), (1, 20, 40), (2, 40, 60), (3, 60, 70), (4, 70, -1))),
      |ep AS (SELECT epv.epoch, epv.consumer, epv.lo, epv.hi,
      |              (mx.mx * bd.fp) // 100 AS from_off,
      |              CASE WHEN bd.up < 0 THEN mx.mx + 1
      |                   ELSE (mx.mx * bd.up) // 100 END AS until_off
      |       FROM epv JOIN bd USING (epoch), mx),
      |jo AS (SELECT j.consumer, (mx.mx * j.jp) // 100 AS join_pos,
      |              j.present
      |       FROM (VALUES ('consumer-A', 0, TRUE), ('consumer-B', 0, FALSE),
      |                    ('consumer-C', 20, TRUE), ('consumer-D', 40, TRUE),
      |                    ('consumer-E', 70, TRUE)) j(consumer, jp, present),
      |            mx),
      |minr AS (SELECT min(join_pos) AS min_recent FROM jo, mx
      |         WHERE present AND join_pos > (mx.mx * 30) // 100),
      |sl AS (SELECT env.msg_offset AS off, m.bucket
      |       FROM env JOIN m ON env.key = m.key
      |       WHERE CAST(env.key AS BIGINT) < 1500 AND env.ordering_key IS NULL),
      |norm AS (SELECT sl.off, sl.bucket, ep.consumer
      |         FROM sl JOIN ep ON sl.off >= ep.from_off
      |           AND sl.off < ep.until_off
      |           AND sl.bucket BETWEEN ep.lo AND ep.hi),
      |repl AS (SELECT norm.off, norm.bucket FROM norm, mx
      |         WHERE norm.consumer = 'consumer-B'
      |           AND norm.off >= (mx.mx * 15) // 100),
      |r2 AS (SELECT repl.off, f.consumer
      |       FROM repl JOIN (SELECT consumer, lo, hi FROM ep
      |                       WHERE epoch = 4) f
      |         ON repl.bucket BETWEEN f.lo AND f.hi),
      |disp AS (
      |  SELECT norm.off, norm.consumer, 'normal' AS kind FROM norm, mx
      |  WHERE NOT (norm.consumer = 'consumer-B'
      |             AND norm.off >= (mx.mx * 15) // 100)
      |  UNION ALL
      |  SELECT off, consumer, 'replay' FROM r2),
      |fx AS (SELECT d.off, d.consumer, d.kind,
      |         CASE WHEN jo.present
      |               AND jo.join_pos > (SELECT (mx * 30) // 100 FROM mx)
      |               AND d.off >= CASE WHEN d.kind = 'replay'
      |                 THEN least(coalesce((SELECT min_recent FROM minr),
      |                                     jo.join_pos), jo.join_pos)
      |                 ELSE jo.join_pos END
      |              THEN 'held' ELSE 'delivered' END AS disposition
      |       FROM disp d JOIN jo ON d.consumer = jo.consumer)
      |SELECT consumer, kind, disposition, count(*) AS n,
      |       CAST(min(off) AS BIGINT) AS min_off,
      |       CAST(max(off) AS BIGINT) AS max_off
      |FROM fx GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin))

  private val r13 = QueryDef(
    // R13 PIP-379 draining hashes — the snapshot-DEFAULT Key_Shared
    // ordering fence: consumer-X joins at 40% of the log head (taking
    // [0,16383] from B) and leaves at 70%. B's still-pending messages on
    // the moved span (acks land at o + (o%5+1)·8% of the head) register
    // per-bucket draining entries; X is blocked on those buckets until
    // each bucket's last registered ack (drain_done) — a bucket draining
    // past X's leave delivers at 70% to B instead (the span returns to
    // B, whose re-attempt lazily removes the entry — pip-379 rule 6), so
    // nothing after the leave ever blocks. X's own unblocked deliveries
    // from 55% on are its unacked tail at departure and replay to B.
    // Census by (first, final, blocked, replayed) with the total
    // blocked/replay wait. Oracle = hand-derived range tables as CASE
    // expressions + a relational replay of the entry registration and
    // every dispatch rule.
    (s, d) => {
      val e = env(s, d)
      val maxo = e.agg(max(col("msg_offset"))).head().getLong(0)
      def pct(p: Int): Long = maxo * p / 100
      val membership = Seq(
        (0L, "join", "consumer-A"), (0L, "join", "consumer-B"),
        (pct(40), "join", "consumer-X"), (pct(70), "leave", "consumer-X"))
      DrainingHashes.drainCycle(
        e.filter(col("key").cast("long") < 1500 && col("ordering_key").isNull),
        membership, joiner = "consumer-X",
        ackDelayUnit = pct(8), retainFrom = pct(55))
        .groupBy(col("first_consumer"), col("final_consumer"),
          col("was_blocked"), col("was_replayed"))
        .agg(count(lit(1)).as("n"), min(col("msg_offset")).as("min_off"),
          max(col("msg_offset")).as("max_off"),
          sum((col("deliver_seq") - col("msg_offset"))
            .cast("decimal(38,0)")).cast("long").as("sum_wait"))
        .orderBy(col("first_consumer"), col("final_consumer"),
          col("was_blocked"), col("was_replayed"))
    },
    Some(s"""$E, m(key, bucket) AS (SELECT * FROM (VALUES $keyRingValues)),
      |mx AS (SELECT max(msg_offset) AS mx FROM env),
      |sl AS (SELECT env.msg_offset AS o, m.bucket,
      |         env.msg_offset + (env.msg_offset % 5 + 1) *
      |           ((SELECT mx FROM mx) * 8 // 100) AS ack_seq,
      |         CASE WHEN m.bucket <= 32767 THEN 'consumer-B'
      |              ELSE 'consumer-A' END AS own0,
      |         CASE WHEN m.bucket <= 16383 THEN 'consumer-X'
      |              WHEN m.bucket <= 32767 THEN 'consumer-B'
      |              ELSE 'consumer-A' END AS own1,
      |         CASE WHEN m.bucket <= 32767 THEN 'consumer-B'
      |              ELSE 'consumer-A' END AS own2
      |       FROM env JOIN m ON env.key = m.key
      |       WHERE CAST(env.key AS BIGINT) < 1500 AND env.ordering_key IS NULL),
      |k(f1, f2, rf) AS (SELECT mx * 40 // 100, mx * 70 // 100,
      |                         mx * 55 // 100 FROM mx),
      |ent AS (SELECT bucket, 'consumer-B' AS entry_owner,
      |               max(ack_seq) AS drain_done
      |        FROM sl, k
      |        WHERE o < f1 AND ack_seq > f1 AND bucket <= 16383
      |        GROUP BY bucket),
      |base AS (SELECT sl.*, k.f1, k.f2, k.rf,
      |           ent.entry_owner, ent.drain_done,
      |           CASE WHEN sl.o < k.f1 THEN 'a'
      |                WHEN sl.o < k.f2 THEN 'b1' ELSE 'b2' END AS phase
      |         FROM sl CROSS JOIN k
      |         LEFT JOIN ent ON sl.bucket = ent.bucket),
      |rules0 AS (SELECT o, bucket, phase,
      |           entry_owner IS NOT NULL AND own1 <> entry_owner
      |             AND o < drain_done AND phase = 'b1' AS b1_blocked,
      |           entry_owner IS NOT NULL AND own2 <> entry_owner
      |             AND phase = 'b2' AND o < drain_done AS b2_blocked,
      |           CASE WHEN own2 = entry_owner
      |                THEN least(drain_done, f2) ELSE drain_done
      |           END AS b1_unblock,
      |           own0, own1, own2, f2, rf, drain_done
      |          FROM base),
      |rules AS (SELECT *,
      |           CASE WHEN b1_blocked THEN b1_unblock ELSE o
      |           END AS b1_recv_seq,
      |           CASE WHEN b1_blocked THEN
      |                  CASE WHEN b1_unblock < f2 THEN own1 ELSE own2 END
      |                ELSE own1 END AS b1_recv
      |          FROM rules0),
      |fx AS (SELECT o,
      |         CASE phase WHEN 'a' THEN own0
      |              WHEN 'b1' THEN b1_recv
      |              ELSE own2 END AS first_consumer,
      |         CASE phase WHEN 'a' THEN own0
      |              WHEN 'b1' THEN CASE WHEN b1_recv = 'consumer-X'
      |                     AND b1_recv_seq >= rf THEN own2 ELSE b1_recv END
      |              ELSE own2 END AS final_consumer,
      |         CASE phase WHEN 'a' THEN o
      |              WHEN 'b1' THEN CASE WHEN b1_recv = 'consumer-X'
      |                     AND b1_recv_seq >= rf THEN f2 ELSE b1_recv_seq END
      |              ELSE CASE WHEN b2_blocked THEN drain_done ELSE o END
      |         END AS deliver_seq,
      |         b1_blocked OR b2_blocked AS was_blocked,
      |         phase = 'b1' AND b1_recv = 'consumer-X'
      |           AND b1_recv_seq >= rf AS was_replayed
      |       FROM rules)
      |SELECT first_consumer, final_consumer, was_blocked, was_replayed,
      |       count(*) AS n,
      |       CAST(min(o) AS BIGINT) AS min_off,
      |       CAST(max(o) AS BIGINT) AS max_off,
      |       CAST(sum(deliver_seq - o) AS BIGINT) AS sum_wait
      |FROM fx GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin))

  /** Effective-key → 16-bit bucket VALUES for r8: both the plain fixture
   * keys and the ordering-key tags, from the spec-pinned hash. */
  private def effectiveBucketValues: String = {
    val tags = (0 to 14).map(_.toString) ++ (0 to 6).map(k => s"ok-$k")
    tags.map { t =>
      val h = Murmur3x86.positive(t.getBytes("UTF-8"), 0)
      s"('$t', ${h % 65536})"
    }.mkString(", ")
  }

  private val r8 = QueryDef(
    (s, d) => Routing.stickyBucket(
      env(s, d).filter(col("ordering_key").isNotNull || col("key").cast("long") < 15))
      .withColumn("effective_key",
        coalesce(decode(col("ordering_key"), "UTF-8"), col("key")))
      .groupBy(col("effective_key"), col("sticky_bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("effective_key")),
    Some(s"""$E, m(effective_key, sticky_bucket) AS (SELECT * FROM (VALUES $effectiveBucketValues)),
      |cnt AS (
      |  SELECT coalesce(ordering_key, key) AS effective_key, count(*) AS n
      |  FROM env WHERE ordering_key IS NOT NULL OR CAST(key AS BIGINT) < 15
      |  GROUP BY 1)
      |SELECT cnt.effective_key AS effective_key,
      |       CAST(m.sticky_bucket AS INT) AS sticky_bucket, cnt.n AS n
      |FROM cnt JOIN m ON cnt.effective_key = m.effective_key
      |ORDER BY effective_key""".stripMargin))

  private val r4 = QueryDef(
    // a user router: partition by key parity + delivery urgency
    (s, d) => Routing.customRouter(env(s, d),
      (col("key").cast("long") % 2) * 2 + when(col("attempts") >= 3, 1).otherwise(0))
      .groupBy(col("route_partition")).agg(count(lit(1)).as("n"))
      .orderBy(col("route_partition")),
    Some(s"""$E
      |SELECT CAST((CAST(key AS BIGINT) % 2) * 2 +
      |            CASE WHEN attempts >= 3 THEN 1 ELSE 0 END AS INT) AS route_partition,
      |       count(*) AS n
      |FROM env GROUP BY 1 ORDER BY 1""".stripMargin))

  private val r3 = QueryDef(
    (s, d) => Routing.singlePartition(env(s, d), 2)
      .groupBy(col("route_partition")).agg(count(lit(1)).as("n")),
    Some(s"""$E
      |SELECT CAST(2 AS INT) AS route_partition, count(*) AS n FROM env""".stripMargin))

  private val r9 = QueryDef(
    // PIP-486 entry bucketing: range-partition by sticky bucket; the
    // deterministic output is the 8-way bucket-range histogram.
    (s, d) => Routing.entryBucketed(
      env(s, d).filter(col("key").cast("long") < 1500 && col("ordering_key").isNull), 8)
      .withColumn("bucket_range", (col("sticky_bucket") / 8192).cast("int"))
      .groupBy(col("bucket_range"))
      .agg(count(lit(1)).as("n"), min(col("sticky_bucket")).as("min_bucket"),
        max(col("sticky_bucket")).as("max_bucket"))
      .orderBy(col("bucket_range")),
    Some(s"""$E, m(key, sticky_bucket, consumer) AS (SELECT * FROM (VALUES ${keyBucketValues(3)})),
      |b AS (
      |  SELECT env.key, m.sticky_bucket, m.sticky_bucket // 8192 AS bucket_range
      |  FROM env JOIN m ON env.key = m.key
      |  WHERE CAST(env.key AS BIGINT) < 1500 AND env.ordering_key IS NULL)
      |SELECT CAST(bucket_range AS INT) AS bucket_range, count(*) AS n,
      |       CAST(min(sticky_bucket) AS INT) AS min_bucket,
      |       CAST(max(sticky_bucket) AS INT) AS max_bucket
      |FROM b GROUP BY bucket_range ORDER BY bucket_range""".stripMargin))

  private val r10 = QueryDef(
    (s, d) => Routing.sharedSpread(env(s, d), 3)
      .groupBy(col("partition_id"), col("consumer")).agg(count(lit(1)).as("n"))
      .orderBy(col("partition_id"), col("consumer")),
    Some(s"""$E, sp AS (
      |  SELECT partition_id,
      |         'consumer-' || CAST((row_number() OVER (PARTITION BY partition_id ORDER BY msg_offset) - 1) % 3 AS VARCHAR) AS consumer
      |  FROM env)
      |SELECT partition_id, consumer, count(*) AS n
      |FROM sp GROUP BY partition_id, consumer ORDER BY partition_id, consumer""".stripMargin))

  private val r10b = QueryDef(
    (s, d) => {
      val e = env(s, d)
      val mid = e.agg((max(col("msg_offset")) / 2).cast("long").as("_mid"))
      e.crossJoin(mid)
        .withColumn("consumer",
          when(col("msg_offset") < col("_mid"), "consumer-0").otherwise("consumer-1"))
        .groupBy(col("partition_id"), col("consumer"))
        .agg(count(lit(1)).as("n"), min(col("msg_offset")).as("first_offset"))
        .orderBy(col("partition_id"), col("consumer"))
    },
    Some(s"""$E, m AS (SELECT max(msg_offset) // 2 AS mid FROM env)
      |SELECT partition_id,
      |       CASE WHEN msg_offset < mid THEN 'consumer-0' ELSE 'consumer-1' END AS consumer,
      |       count(*) AS n, min(msg_offset) AS first_offset
      |FROM env, m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** R11 — priority-level Shared dispatch: two priority-0 consumers with
   * unequal budgets (100/150 permits), one priority-1 (200), one
   * priority-2 (250); total budget 700, so every SF leaves a visible
   * backlog. The roll-up pins the priority-first fill order and the
   * exact offset spans each consumer received. */
  private val r11 = QueryDef(
    (s, d) => Routing.priorityDispatch(env(s, d), Seq(
        ("consumer-a", 0, 100), ("consumer-b", 0, 150),
        ("consumer-c", 1, 200), ("consumer-d", 2, 250)))
      .groupBy(col("consumer"), col("priority"))
      .agg(count(lit(1)).as("n"), min(col("msg_offset")).as("first_offset"),
        max(col("msg_offset")).as("last_offset"))
      .orderBy(col("priority"), col("consumer")),
    Some(s"""$E, cons(cid, prio, permits) AS (VALUES
      |  ('consumer-a', 0, 100), ('consumer-b', 0, 150),
      |  ('consumer-c', 1, 200), ('consumer-d', 2, 250)),
      |slots AS (SELECT cid, prio,
      |            unnest(generate_series(0, permits - 1)) AS si
      |          FROM cons),
      |rk AS (SELECT cid, prio, row_number() OVER
      |         (ORDER BY prio, si, cid) AS slot_rank
      |       FROM slots),
      |a AS (SELECT env.msg_offset,
      |        coalesce(rk.cid, 'backlog') AS consumer,
      |        coalesce(rk.prio, -1) AS priority
      |      FROM env LEFT JOIN rk ON env.msg_offset + 1 = rk.slot_rank)
      |SELECT consumer, CAST(priority AS INT) AS priority, count(*) AS n,
      |       min(msg_offset) AS first_offset, max(msg_offset) AS last_offset
      |FROM a GROUP BY consumer, priority
      |ORDER BY priority, consumer""".stripMargin))

  // ---------------------------------------------------------------- O: seeks / limits

  private def midPublish = "(SELECT (min(publish_ms) + max(publish_ms)) // 2 FROM env)"

  private val o2 = QueryDef(
    (s, d) => {
      val e = env(s, d)
      val mid = e.agg(((min(col("publish_ms")) + max(col("publish_ms"))) / 2).cast("long").as("_mid"))
      e.crossJoin(mid).filter(col("publish_ms") >= col("_mid"))
        .select(col("msg_offset"), col("key"), col("publish_ms"))
        .orderBy(col("msg_offset")).limit(20)
    },
    Some(s"""$E
      |SELECT msg_offset, key, publish_ms FROM env
      |WHERE publish_ms >= $midPublish
      |ORDER BY msg_offset LIMIT 20""".stripMargin))

  private val o3 = QueryDef(
    (s, d) => {
      val e = env(s, d)
      val mid = e.agg(((min(col("publish_ms")) + max(col("publish_ms"))) / 2).cast("long").as("_mid"))
      e.crossJoin(mid).filter(col("publish_ms") >= col("_mid"))
        .agg(min(col("msg_offset")).as("seek_offset"))
    },
    Some(s"""$E
      |SELECT min(msg_offset) AS seek_offset FROM env
      |WHERE publish_ms >= $midPublish""".stripMargin))

  private val o4 = QueryDef(
    (s, d) => LogOps.peek(env(s, d), "events-0", 10)
      .select(col("msg_offset"), col("key"), Exact.rRow(col("value"), 4).as("payload")),
    Some(s"""$E
      |SELECT msg_offset, key, (CAST(floor((value) * 1e4 + 0.5) AS BIGINT) / 1e4) AS payload FROM env
      |WHERE topic = 'events-0' ORDER BY msg_offset LIMIT 10""".stripMargin))

  private val o6 = QueryDef(
    (s, d) => LogOps.rateLimitBatches(env(s, d), 100L)
      .groupBy(col("topic"), col("trigger_batch")).agg(count(lit(1)).as("n"))
      .orderBy(col("topic"), col("trigger_batch")),
    Some(s"""$E, rb AS (
      |  SELECT topic,
      |         (row_number() OVER (PARTITION BY topic ORDER BY msg_offset) - 1) // 100 AS trigger_batch
      |  FROM env)
      |SELECT topic, trigger_batch, count(*) AS n
      |FROM rb GROUP BY topic, trigger_batch ORDER BY topic, trigger_batch""".stripMargin))

  private val o6b = QueryDef(
    // The AsyncTokenBucket dispatch-rate fold in its relative-to-
    // publish-rate mode: each topic's byte quota accrues at the topic's
    // own observed throughput with a span/120 burst budget (≈6 h of a
    // 30-day log), so steady consumption never throttles at any SF
    // while bursts beyond the budget do. Census per topic: requests,
    // throttled requests (balance ≤ 0 after the consume), the deepest
    // and final balances, and the total computed pause time. The oracle
    // replays the closed-form fold (prefix-sum + prefix-min) with the
    // identical HUGEINT arithmetic.
    (s, d) => TokenBucket.balancesRelative(env(s, d), col("topic"),
        col("publish_ms"), col("msg_offset"),
        octet_length(col("properties")) + lit(8),
        burstFraction = 120L, minCapacity = 16L)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("throttled"), 1L).otherwise(0L)).as("n_throttled"),
        min(col("tokens_after")).as("min_tokens"),
        max_by(col("tokens_after"), col("ord")).as("final_tokens"),
        sum(col("throttle_ms")).cast("long").as("sum_throttle_ms"))
      .select(col("k").as("topic"), col("n"), col("n_throttled"),
        col("min_tokens"), col("final_tokens"), col("sum_throttle_ms"))
      .orderBy(col("topic")),
    Some(s"""$E, b AS (
      |  SELECT topic, msg_offset, publish_ms, strlen(properties) + 8 AS c,
      |         min(publish_ms) OVER (PARTITION BY topic) AS t0,
      |         greatest(max(publish_ms) OVER (PARTITION BY topic)
      |           - min(publish_ms) OVER (PARTITION BY topic), 1) AS period,
      |         sum(strlen(properties) + 8) OVER (PARTITION BY topic) AS rate
      |  FROM env),
      |b2 AS (SELECT *, greatest(rate // 120, 16) AS cap FROM b),
      |t AS (SELECT topic, msg_offset, publish_ms, c, rate, period, cap,
      |       (CAST(publish_ms - t0 AS HUGEINT) * rate) // period AS add_cum,
      |       sum(c) OVER (PARTITION BY topic ORDER BY publish_ms, msg_offset
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_run
      |    FROM b2),
      |v AS (SELECT topic, msg_offset, add_cum, s_run, cap, rate, period,
      |       least(CAST(cap // 2 AS HUGEINT),
      |             min(cap + (s_run - c) - add_cum) OVER
      |         (PARTITION BY topic ORDER BY publish_ms, msg_offset
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS v
      |    FROM t),
      |tok AS (SELECT topic, msg_offset, add_cum - s_run + v AS tokens,
      |         greatest(cap // 100, 1) AS req, rate, period
      |    FROM v),
      |fin AS (SELECT topic, msg_offset, tokens,
      |         CASE WHEN tokens >= req THEN 0
      |              ELSE ((req - tokens) * period) // rate END AS throttle_ms
      |    FROM tok)
      |SELECT topic, count(*) AS n,
      |       CAST(sum(CASE WHEN tokens <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_throttled,
      |       CAST(min(tokens) AS BIGINT) AS min_tokens,
      |       CAST(arg_max(tokens, msg_offset) AS BIGINT) AS final_tokens,
      |       CAST(sum(throttle_ms) AS BIGINT) AS sum_throttle_ms
      |FROM fin GROUP BY topic ORDER BY topic""".stripMargin))

  private val o5 = QueryDef(
    (s, d) => env(s, d).groupBy(col("topic"))
      .agg(min(col("msg_offset")).as("earliest_start"),
        (max(col("msg_offset")) + 1).as("latest_start"))
      .orderBy(col("topic")),
    Some(s"""$E
      |SELECT topic, min(msg_offset) AS earliest_start,
      |       max(msg_offset) + 1 AS latest_start
      |FROM env GROUP BY topic ORDER BY topic""".stripMargin))

  private val s4 = QueryDef(
    // batchReceive policy emulation: count-capped receive batches with
    // per-batch byte totals (maxNumBytes/timeout are trigger options in
    // the streaming path).
    (s, d) => LogOps.rateLimitBatches(env(s, d), 50L)
      .groupBy(col("topic"), col("trigger_batch"))
      .agg(count(lit(1)).as("n"),
        sum(octet_length(col("properties")) + lit(8)).cast("long").as("batch_bytes"),
        min(col("msg_offset")).as("first_offset"),
        max(col("msg_offset")).as("last_offset"))
      .orderBy(col("topic"), col("trigger_batch")),
    Some(s"""$E, rb AS (
      |  SELECT topic, msg_offset, strlen(properties) + 8 AS sz,
      |         (row_number() OVER (PARTITION BY topic ORDER BY msg_offset) - 1) // 50 AS trigger_batch
      |  FROM env)
      |SELECT topic, trigger_batch, count(*) AS n,
      |       CAST(sum(sz) AS BIGINT) AS batch_bytes,
      |       min(msg_offset) AS first_offset, max(msg_offset) AS last_offset
      |FROM rb GROUP BY topic, trigger_batch ORDER BY topic, trigger_batch""".stripMargin))

  private val s4b = QueryDef(
    // The byte-cap twin of s4 (BatchReceivePolicy.maxNumBytes): batches
    // close on a 4 KiB byte quota instead of a 50-message count; a message
    // joins the batch its first byte falls in.
    (s, d) => LogOps.rateLimitBytes(env(s, d), 4096L)
      .groupBy(col("topic"), col("trigger_batch"))
      .agg(count(lit(1)).as("n"),
        sum(octet_length(col("properties")) + lit(8)).cast("long").as("batch_bytes"),
        min(col("msg_offset")).as("first_offset"),
        max(col("msg_offset")).as("last_offset"))
      .orderBy(col("topic"), col("trigger_batch")),
    Some(s"""$E, rb AS (
      |  SELECT topic, msg_offset, strlen(properties) + 8 AS sz,
      |         CAST(coalesce(sum(strlen(properties) + 8) OVER (
      |             PARTITION BY topic ORDER BY msg_offset
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096
      |           AS BIGINT) AS trigger_batch
      |  FROM env)
      |SELECT topic, trigger_batch, count(*) AS n,
      |       CAST(sum(sz) AS BIGINT) AS batch_bytes,
      |       min(msg_offset) AS first_offset, max(msg_offset) AS last_offset
      |FROM rb GROUP BY topic, trigger_batch ORDER BY topic, trigger_batch""".stripMargin))

  // ---------------------------------------------------------------- W: windows

  private val w1 = QueryDef(
    (s, d) => TimeWindows.tumbling(env(s, d), H6_MS,
      Seq(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("sum_v")),
      Seq(col("topic")))
      .select(col("window_start_ms"), col("topic"), col("n"), col("sum_v"))
      .orderBy(col("window_start_ms"), col("topic")),
    Some(s"""$E
      |SELECT (event_ms // $H6_MS) * $H6_MS AS window_start_ms, topic,
      |       count(*) AS n, ${Exact.sqlSumE("value", 2)} AS sum_v
      |FROM env GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  private val w2 = QueryDef(
    (s, d) => TimeWindows.sliding(env(s, d), 2 * H6_MS, H6_MS,
      Seq(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("sum_v")))
      .select(col("window_start_ms"), col("n"), col("sum_v"))
      .orderBy(col("window_start_ms")),
    Some(s"""$E, sel AS (
      |  SELECT (event_ms // $H6_MS) * $H6_MS AS ws, value FROM env
      |  UNION ALL
      |  SELECT (event_ms // $H6_MS) * $H6_MS - $H6_MS AS ws, value FROM env)
      |SELECT ws AS window_start_ms, count(*) AS n, ${Exact.sqlSumE("value", 2)} AS sum_v
      |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin))

  private val w2b = QueryDef(
    // W2 processing-time variant: same sliding shape as w2 but windowed on
    // the deterministic processing clock (publish_ms — broker receipt),
    // the reference's wall-clock TimeTriggerPolicy semantics.
    (s, d) => TimeWindows.processingSliding(env(s, d), 2 * H6_MS, H6_MS,
      Seq(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("sum_v")))
      .select(col("window_start_ms"), col("n"), col("sum_v"))
      .orderBy(col("window_start_ms")),
    Some(s"""$E, sel AS (
      |  SELECT (publish_ms // $H6_MS) * $H6_MS AS ws, value FROM env
      |  UNION ALL
      |  SELECT (publish_ms // $H6_MS) * $H6_MS - $H6_MS AS ws, value FROM env)
      |SELECT ws AS window_start_ms, count(*) AS n, ${Exact.sqlSumE("value", 2)} AS sum_v
      |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin))

  private val w3t = QueryDef(
    (s, d) => TimeWindows.countTumblingPerKey(env(s, d), 5,
      Seq(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("sum_v"),
        min(col("msg_offset")).as("first_offset")))
      .orderBy(col("key"), col("window_id")),
    Some(s"""$E, win AS (
      |  SELECT key, value, msg_offset,
      |         (row_number() OVER (PARTITION BY key ORDER BY msg_offset) - 1) // 5 AS window_id
      |  FROM env)
      |SELECT key, window_id, count(*) AS n, ${Exact.sqlSumE("value", 2)} AS sum_v,
      |       min(msg_offset) AS first_offset
      |FROM win GROUP BY key, window_id ORDER BY key, window_id""".stripMargin))

  private val w3s = QueryDef(
    (s, d) => TimeWindows.countSliding(env(s, d), 5, 2,
      Seq(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("sum_v")))
      .orderBy(col("window_start")),
    Some(s"""$E, idx AS (
      |  SELECT value, row_number() OVER (ORDER BY msg_offset) - 1 AS i FROM env),
      |js AS (
      |  SELECT value, unnest(generate_series(greatest((i - 3) // 2, 0), i // 2)) AS j
      |  FROM idx)
      |SELECT 2 * j AS window_start, count(*) AS n, ${Exact.sqlSumE("value", 2)} AS sum_v
      |FROM js GROUP BY 1 ORDER BY 1""".stripMargin))

  private val w6 = QueryDef(
    (s, d) => TimeWindows.lateData(env(s, d), 60000L)
      .select(col("msg_offset"), col("topic"), col("event_ms"), col("watermark_ms"))
      .orderBy(col("msg_offset")),
    Some(s"""$E, wm AS (
      |  SELECT msg_offset, topic, event_ms,
      |         max(event_ms) OVER (PARTITION BY topic ORDER BY msg_offset
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 60000 AS watermark_ms
      |  FROM env)
      |SELECT msg_offset, topic, event_ms, watermark_ms
      |FROM wm WHERE event_ms < watermark_ms ORDER BY msg_offset""".stripMargin))

  // ---------------------------------------------------------------- T: transactions

  private val t2 = QueryDef(
    // T2 through the REAL recovery mechanism: append one coordinator
    // end-marker per txn group to the log (the durable 2PC decision —
    // abort when txn % 4 = 0, the fixture's decision ledger), then derive
    // status purely from the markers (TopicTransactionBuffer recovery),
    // NOT from the decision rule.
    (s, d) => {
      val e = env(s, d)
      // markers land AFTER every data row (offset 10⁹ + txn id — the
      // coordinator appends the decision at the log tail); offsets are
      // required since statusFromMarkers takes the FIRST terminal
      // marker per txn by offset (one marker each here, so the rule is
      // vacuous on this fixture — the adversarial dual-marker case is
      // TxnDualMarkerSpec's)
      val markers = e.filter(col("txn_group").isNotNull)
        .select(col("txn_group")).distinct()
        .select(col("txn_group"),
          when(col("txn_group") % 4 === 0, lit(Transactions.TxnAbortMarker))
            .otherwise(lit(Transactions.TxnCommitMarker)).cast("int").as("marker_type"),
          (lit(1000000000L) + col("txn_group")).as("msg_offset"))
      val log = e.select(col("txn_group"), col("marker_type"), col("msg_offset"))
        .unionByName(markers)
      Transactions.statusFromMarkers(log).orderBy(col("txn_id"))
    },
    Some(s"""$E
      |SELECT DISTINCT txn_group AS txn_id,
      |       CASE WHEN txn_group % 4 = 0 THEN 'ABORTED' ELSE 'COMMITTED' END AS status
      |FROM env WHERE txn_group IS NOT NULL ORDER BY txn_id""".stripMargin))

  private val t3 = QueryDef(
    (s, d) => {
      val e = env(s, d)
      Transactions.visible(e, Transactions.fixtureStatus(e))
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("visible_count"), Exact.sumE(col("value"), 2).as("visible_sum"))
        .orderBy(col("topic"))
    },
    Some(s"""$E
      |SELECT topic, count(*) AS visible_count, ${Exact.sqlSumE("value", 2)} AS visible_sum
      |FROM env WHERE txn_group IS NULL OR txn_group % 4 <> 0
      |GROUP BY topic ORDER BY topic""".stripMargin))

  private val t1 = QueryDef(
    // T1 round-trip: stage two txn batches + commit one / abort the other
    // via log markers; visibility flips exactly for the committed one.
    (s, d) => {
      val base = EventLog.raw(s, d).filter(col("user_id") < 15)
      def slice(lo: Long, hi: Long): DataFrame =
        base.filter(col("event_id") >= lo && col("event_id") < hi)
          .select(col("event_id"), col("user_id").cast("string").as("key"), col("value"))
      val dir = freshDir("txn", d)
      // The four log segments (two staged batches, two markers) are one
      // append: the log's order lives in the (offset, sequence) columns,
      // not in write-call order, so a single write job replaces four.
      val toStage = Transactions.produceInTxn(
        Produce.build(slice(0, 1000), "txn-topic", "w0", 4, "event_id", 0L,
          allKeyed = true), 100L)
        .unionByName(Transactions.produceInTxn(
          Produce.build(slice(1000, 2000), "txn-topic", "w0", 4, "event_id", 0L,
            startOffset = 10000L, allKeyed = true), 101L))
      val markers = Transactions.txnMarker(s, "txn-topic", 100L, commit = true, 99998L)
        .unionByName(Transactions.txnMarker(s, "txn-topic", 101L, commit = false, 99999L))
      Produce.append(toStage.unionByName(markers.select(toStage.columns.map(col): _*)), dir)
      val log = s.read.parquet(dir)
      val status = Transactions.statusFromMarkers(log)
      val staged = log.filter(col("marker_type").isNull && col("txn_group").isNotNull)
        .groupBy(col("txn_group")).agg(count(lit(1)).as("n_staged"))
      val visible = Transactions.visibleCommitted(log)
        .filter(col("txn_group").isNotNull)
        .groupBy(col("txn_group").as("_vt")).agg(count(lit(1)).as("n_visible"))
      status.join(staged, col("txn_id") === col("txn_group"))
        .join(visible, col("txn_id") === col("_vt"), "left")
        .select(col("txn_id"), col("status"), col("n_staged"),
          coalesce(col("n_visible"), lit(0L)).as("n_visible"))
        .orderBy(col("txn_id"))
    },
    Some("""WITH inp AS (
      |  SELECT CASE WHEN event_id < 1000 THEN 100 ELSE 101 END AS txn_id
      |  FROM events WHERE user_id < 15 AND event_id < 2000)
      |SELECT CAST(txn_id AS BIGINT) AS txn_id,
      |       CASE WHEN txn_id = 100 THEN 'COMMITTED' ELSE 'ABORTED' END AS status,
      |       count(*) AS n_staged,
      |       CAST(CASE WHEN txn_id = 100 THEN count(*) ELSE 0 END AS BIGINT) AS n_visible
      |FROM inp GROUP BY txn_id ORDER BY txn_id""".stripMargin))

  private val o7 = QueryDef(
    // Hot-key aggregation through the explicit two-phase salted form
    // (Skew.saltedAggregate): the whole log concentrates on 5 producer
    // keys; phase 1 spreads each over 16 salted reducers, phase 2 merges
    // the partials (count→sum, sum→sum, max→max). The plan shows two
    // HashAggregate exchanges — no single reducer ever sees a whole key.
    (s, d) => Skew.saltedAggregate(env(s, d), Seq("producer_name"), 16,
      Seq(count(lit(1)).as("_n"), sum(Exact.eRow(col("value"), 2)).as("_s"),
        max(col("msg_offset")).as("_m")),
      Seq(sum(col("_n")).as("n"),
        (sum(col("_s")).cast("double") / 100).as("sum_v"),
        max(col("_m")).as("last_offset")))
      .orderBy(col("producer_name")),
    Some(s"""$E
      |SELECT producer_name, count(*) AS n, ${Exact.sqlSumE("value", 2)} AS sum_v,
      |       max(msg_offset) AS last_offset
      |FROM env GROUP BY producer_name ORDER BY producer_name""".stripMargin))

  private val t4 = QueryDef(
    // T4: every 3rd offset is acked; acks on 15-divisible offsets happen
    // inside txn (offset % 20), which takes effect only if that txn
    // commits (txn % 4 <> 0 in the fixture ledger).
    (s, d) => {
      val e = env(s, d)
      val acks = e.filter(col("msg_offset") % 3 === 0)
        .select(col("msg_offset"),
          when(col("msg_offset") % 5 === 0, col("msg_offset") % 20).as("ack_txn"))
      val status = s.range(20).select(col("id").as("txn_id"),
        when(col("id") % 4 === 0, "ABORTED").otherwise("COMMITTED").as("status"))
      val backlog = LogOps.unackedBacklog(e, Transactions.effectiveAcks(acks, status))
      backlog.groupBy(col("topic"))
        .agg(count(lit(1)).as("pending_count"), min(col("msg_offset")).as("oldest_pending"))
        .orderBy(col("topic"))
    },
    Some(s"""$E
      |SELECT topic, count(*) AS pending_count, min(msg_offset) AS oldest_pending
      |FROM env
      |WHERE NOT (msg_offset % 3 = 0 AND
      |           (msg_offset % 5 <> 0 OR (msg_offset % 20) % 4 <> 0))
      |GROUP BY topic ORDER BY topic""".stripMargin))

  override val defs: Map[String, QueryDef] = Map(
    "t1_txn_roundtrip" -> t1,
    "t4_pending_acks" -> t4,
    "a1_compact_publish" -> a1,
    "a2_compact_eventtime" -> a2,
    "a3_compact_strategic" -> a3,
    "a4_read_compacted" -> a4,
    "a5_tableview" -> a5,
    "f11_compacted_out" -> f11,
    "o5_initial_position" -> o5,
    "s1_produce_roundtrip" -> s1,
    "s2_message_builder" -> s2,
    "s2b_keyless_rr" -> s2b,
    "s4_batch_receive" -> s4,
    "s4b_bytes_receive" -> s4b,
    "r3_single_partition" -> r3,
    "r4_custom_router" -> r4,
    "r8_ordering_key" -> r8,
    "r9_entry_buckets" -> r9,
    "a8_dedup_snapshot" -> a8,
    "a9_topic_stats" -> a9,
    "a9b_subscription_backlog" -> a9b,
    "a10_last_message_ids" -> a10,
    "f1_ttl_expiry" -> f1,
    "f2_retention_size" -> f2,
    "f3_delayed_due" -> f3,
    "f5_dedup" -> f5,
    "f6_unacked_backlog" -> f6,
    "f9_dlq_routing" -> f9,
    "u10_retry_letter" -> u10,
    "f10_marker_filter" -> f10,
    "f13_chunk_reassembly" -> f13,
    "f14_batch_roundtrip" -> f14,
    "f15_compression" -> f15,
    "s3_consumer_receive" -> s3,
    "s5_reader_from_mid" -> s5,
    "s7_union_topics" -> s7,
    "s8_regex_topics" -> s8,
    "s14_replication_outbound" -> s14,
    "s17_replicated_subscription" -> s17,
    "r1_round_robin" -> r1,
    "r2_key_hash_route" -> r2,
    "r5_key_shared_buckets" -> r5,
    "r7_exclusive_ranges" -> r7,
    "r6_auto_split" -> r6,
    "r12_join_fence" -> r12,
    "r13_draining_hashes" -> r13,
    "r10_shared_spread" -> r10,
    "r11_priority_dispatch" -> r11,
    "r10b_failover" -> r10b,
    "o2_seek_by_time" -> o2,
    "o3_find_by_time" -> o3,
    "o4_peek_messages" -> o4,
    "o6_rate_limit_batches" -> o6,
    "o6b_token_bucket" -> o6b,
    "o7_salted_agg" -> o7,
    "w1_tumbling_agg" -> w1,
    "w2_sliding_agg" -> w2,
    "w2b_processing_sliding" -> w2b,
    "w3_count_tumbling" -> w3t,
    "w3_count_sliding" -> w3s,
    "w6_watermark_late" -> w6,
    "t2_txn_status" -> t2,
    "t3_txn_visibility" -> t3
  )
}
