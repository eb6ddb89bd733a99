package graft.model

import graft.sources.GraftIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Canonical message-envelope model of the engine.
 *
 * A "topic" is an ordered, keyed event-log table: every message is one row
 * of this envelope schema, totally ordered within a partition by
 * (ledger_id, entry_id, batch_index) — mirroring the reference's
 * MessageIdData (reference: pulsar-common/src/main/proto/PulsarApi.proto:59-69)
 * and MessageMetadata (PulsarApi.proto:107-185).
 *
 * The engine is columnar by construction (Parquet + Tungsten); the reference
 * stores row-oriented serialized entries in ledgers. Capabilities, not
 * architecture, are reproduced.
 */
final case class MessageEnvelope(
    topic: String,
    partition_id: Int,
    ledger_id: Long,
    entry_id: Long,
    batch_index: Int,
    msg_offset: Long, // dense total order within the log (engine-side convenience)
    producer_name: String,
    sequence_id: Long,
    publish_ms: Long, // epoch millis (timestamps kept integral for engine determinism)
    event_ms: Long,
    key: String,
    value: Double, // decoded numeric view (engine-side convenience)
    value_bin: Array[Byte] = null, // the wire payload (PulsarApi.proto: the entry's payload bytes)
    properties: String = "{}", // JSON map<string,string>
    schema_version: Long,
    deliver_at_ms: Long,
    marker_type: Option[Int],
    replicated_from: Option[String],
    txn_group: Option[Long],
    attempts: Int,
    uuid_group: Long,
    chunk_id: Int,
    tombstone: Boolean, // null_value in the reference wire format
    ordering_key: Option[Array[Byte]], // overrides key for Key_Shared (PulsarApi.proto:141)
    uuid: String, // chunk-correlation id (PulsarApi.proto:160)
    num_chunks: Int, // num_chunks_from_msg (PulsarApi.proto:162)
    compacted_out: Boolean // set by compaction, false on the wire (PulsarApi.proto:191)
)

object Envelope {

  /** Envelope StructType (see SURVEY.md §1.4). */
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition_id", IntegerType, nullable = false),
    StructField("ledger_id", LongType, nullable = false),
    StructField("entry_id", LongType, nullable = false),
    StructField("batch_index", IntegerType, nullable = false),
    StructField("msg_offset", LongType, nullable = false),
    StructField("producer_name", StringType, nullable = false),
    StructField("sequence_id", LongType, nullable = false),
    StructField("publish_ms", LongType, nullable = false),
    StructField("event_ms", LongType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("value_bin", BinaryType, nullable = true),
    StructField("properties", StringType, nullable = true),
    StructField("schema_version", LongType, nullable = false),
    StructField("deliver_at_ms", LongType, nullable = false),
    StructField("marker_type", IntegerType, nullable = true),
    StructField("replicated_from", StringType, nullable = true),
    StructField("txn_group", LongType, nullable = true),
    StructField("attempts", IntegerType, nullable = false),
    StructField("uuid_group", LongType, nullable = false),
    StructField("chunk_id", IntegerType, nullable = false),
    StructField("tombstone", BooleanType, nullable = false),
    StructField("ordering_key", BinaryType, nullable = true),
    StructField("uuid", StringType, nullable = false),
    StructField("num_chunks", IntegerType, nullable = false),
    StructField("compacted_out", BooleanType, nullable = false)
  ))
}

/**
 * Deterministic mapping of the driver's `events` table onto the envelope.
 *
 * events(event_id, ts, user_id, event_type, value, props) is the
 * topic-shaped fixture (FIXTURES.md §A): event_id is the log order,
 * user_id is the message key, ts is both publish and (shifted) event time.
 * Every derived column below is a pure arithmetic function of the source
 * row so the DuckDB oracle can reproduce it exactly.
 */
object EventLog {

  /**
   * Read the raw events table for a scale-factor dir, with `ts` ALWAYS
   * surfaced as an epoch-nanos LONG. The fixtures write `ts` as parquet
   * TIMESTAMP(MICROS) (a plain Spark TimestampType); a TIMESTAMP(NANOS)
   * file reads as a LONG under the `nanosAsLong` that
   * [[graft.SparkEntry.prepare]] sets (without it Spark rejects the
   * column). Either becomes the same integral column, so all time
   * arithmetic downstream stays exact and the DuckDB oracle's
   * `epoch_ms(ts)` view agrees bit for bit. (Micros → nanos is ×1000 on
   * a BIGINT — exact; a double round-trip would lose bits above 2^53.)
   */
  def raw(spark: SparkSession, sfDir: String): DataFrame = {
    val df = GraftIO.fixture(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) read as epoch-nanos long
      case _ => df.withColumn("ts", unix_micros(col("ts")) * 1000L)
    }
  }

  /**
   * events → envelope. Deterministic, SQL-mirrorable derivation:
   *  - 3 topics (`events-0..2`), 4 partitions, ledger = offset/100.
   *  - producer p0..p4 with pseudo-random per-producer sequence ids
   *    (so dedup has real replays to reject).
   *  - event time shifted behind publish time (out-of-order stream).
   *  - tombstones on `error` events; txn tags on `purchase` events;
   *    broker markers every 50th offset; replicated rows every 7th.
   */
  def asTopic(events: DataFrame): DataFrame = {
    // ts is epoch NANOS as LONG; integer division keeps exactness (a
    // double round-trip would lose bits above 2^53).
    val pubMs = expr("ts div 1000000")
    // Chunk layout: group sizes cycle 2,3,4,5 over 14-event super-blocks so
    // reassembly must honor the declared num_chunks, not a constant
    // (PulsarApi.proto:160-163 carries the count on every chunk).
    val chunkPos = col("event_id") % 14
    val chunkSub = when(chunkPos < 2, 0L).when(chunkPos < 5, 1L)
      .when(chunkPos < 9, 2L).otherwise(3L)
    val chunkGroup = (col("event_id") / 14).cast(LongType) * 4 + chunkSub
    val chunkId = when(chunkPos < 2, chunkPos).when(chunkPos < 5, chunkPos - 2)
      .when(chunkPos < 9, chunkPos - 5).otherwise(chunkPos - 9)
    val chunkN = when(chunkPos < 2, 2).when(chunkPos < 5, 3)
      .when(chunkPos < 9, 4).otherwise(5)
    events.select(
      concat(lit("events-"), col("user_id") % 3).as("topic"),
      (col("user_id") % 4).cast(IntegerType).as("partition_id"),
      (col("event_id") / 100).cast(LongType).as("ledger_id"),
      (col("event_id") % 100).as("entry_id"),
      lit(0).as("batch_index"),
      col("event_id").as("msg_offset"),
      concat(lit("p"), col("user_id") % 5).as("producer_name"),
      ((col("event_id") * 37) % 1000).as("sequence_id"),
      pubMs.as("publish_ms"),
      (pubMs - (col("event_id") % 10) * 60000L).as("event_ms"),
      col("user_id").cast(StringType).as("key"),
      col("value"),
      // The wire payload: a version-keyed JSON record serialized to UTF-8
      // bytes (SchemaType.JSON analog, SchemaType.java:66). v1 adds a
      // nullable field over v0 — a BACKWARD-compatible evolution — so the
      // decode lattice has real per-version work to do. Integer cents keep
      // Spark/DuckDB byte parity exact (double→string formatting differs).
      encode(concat(
        lit("{\"amount_c\":"),
        floor(col("value") * 100).cast(LongType).cast(StringType),
        lit(",\"origin\":\"p"), (col("user_id") % 5).cast(StringType), lit("\""),
        when(col("event_id") % 2 === 1,
          concat(lit(",\"attempts\":"), (col("event_id") % 5).cast(StringType)))
          .otherwise(lit("")),
        lit("}")), "UTF-8").as("value_bin"),
      col("props").as("properties"),
      (col("event_id") % 2).as("schema_version"),
      (pubMs + (col("event_id") % 5) * 60000L).as("deliver_at_ms"),
      when(col("event_id") % 50 === 0, lit(1)).cast(IntegerType).as("marker_type"),
      when(col("event_id") % 7 === 0, lit("west")).as("replicated_from"),
      when(col("event_type") === "purchase", col("event_id") % 20).as("txn_group"),
      (col("event_id") % 5).cast(IntegerType).as("attempts"),
      chunkGroup.as("uuid_group"),
      chunkId.cast(IntegerType).as("chunk_id"),
      (col("event_type") === "error").as("tombstone"),
      when(col("event_id") % 3 === 0,
        encode(concat(lit("ok-"), col("user_id") % 7), "UTF-8")).as("ordering_key"),
      concat(lit("uuid-"), chunkGroup).as("uuid"),
      chunkN.as("num_chunks"),
      lit(false).as("compacted_out")
    )
  }

  /**
   * events → envelope, memoized + persisted per (application, sfDir) RUN
   * scope. ~80 of the capability queries start from this exact derivation;
   * materializing it once per harness run (instead of re-deriving the
   * concat/when/encode column work under every query) is the single
   * biggest bench lever. The cached relation is |events|-scale — the same
   * thing a long-lived engine would keep hot as its "topic" view. Callers
   * that need the un-cached plan (streaming, explain) use [[asTopic]]
   * directly.
   */
  def topic(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${spark.sparkContext.applicationId}:envelope:$sfDir") {
      asTopic(raw(spark, sfDir))
    }

  /**
   * The same derivation as a DuckDB CTE, textually embedded in every oracle
   * query. Kept in one place so Spark and oracle can never drift.
   */
  val oracleCte: String =
    """WITH env AS (
      |  SELECT
      |    'events-' || CAST(user_id % 3 AS VARCHAR)          AS topic,
      |    CAST(user_id % 4 AS INT)                            AS partition_id,
      |    event_id // 100                                     AS ledger_id,
      |    event_id % 100                                      AS entry_id,
      |    0                                                   AS batch_index,
      |    event_id                                            AS msg_offset,
      |    'p' || CAST(user_id % 5 AS VARCHAR)                 AS producer_name,
      |    (event_id * 37) % 1000                              AS sequence_id,
      |    epoch_ms(ts)                                        AS publish_ms,
      |    epoch_ms(ts) - (event_id % 10) * 60000              AS event_ms,
      |    CAST(user_id AS VARCHAR)                            AS key,
      |    value                                               AS value,
      |    encode('{"amount_c":' || CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) ||
      |      ',"origin":"p' || CAST(user_id % 5 AS VARCHAR) || '"' ||
      |      CASE WHEN event_id % 2 = 1
      |           THEN ',"attempts":' || CAST(event_id % 5 AS VARCHAR)
      |           ELSE '' END || '}')                           AS value_bin,
      |    props                                               AS properties,
      |    event_id % 2                                        AS schema_version,
      |    epoch_ms(ts) + (event_id % 5) * 60000               AS deliver_at_ms,
      |    CASE WHEN event_id % 50 = 0 THEN 1 END              AS marker_type,
      |    CASE WHEN event_id % 7 = 0 THEN 'west' END          AS replicated_from,
      |    CASE WHEN event_type = 'purchase' THEN event_id % 20 END AS txn_group,
      |    CAST(event_id % 5 AS INT)                           AS attempts,
      |    (event_id // 14) * 4 + CASE WHEN event_id % 14 < 2 THEN 0
      |                                WHEN event_id % 14 < 5 THEN 1
      |                                WHEN event_id % 14 < 9 THEN 2
      |                                ELSE 3 END              AS uuid_group,
      |    CAST(CASE WHEN event_id % 14 < 2 THEN event_id % 14
      |              WHEN event_id % 14 < 5 THEN event_id % 14 - 2
      |              WHEN event_id % 14 < 9 THEN event_id % 14 - 5
      |              ELSE event_id % 14 - 9 END AS INT)        AS chunk_id,
      |    (event_type = 'error')                              AS tombstone,
      |    CASE WHEN event_id % 3 = 0
      |         THEN 'ok-' || CAST(user_id % 7 AS VARCHAR) END AS ordering_key,
      |    'uuid-' || CAST((event_id // 14) * 4 + CASE WHEN event_id % 14 < 2 THEN 0
      |                                WHEN event_id % 14 < 5 THEN 1
      |                                WHEN event_id % 14 < 9 THEN 2
      |                                ELSE 3 END AS VARCHAR)  AS uuid,
      |    CAST(CASE WHEN event_id % 14 < 2 THEN 2
      |              WHEN event_id % 14 < 5 THEN 3
      |              WHEN event_id % 14 < 9 THEN 4
      |              ELSE 5 END AS INT)                        AS num_chunks,
      |    FALSE                                               AS compacted_out
      |  FROM events
      |)""".stripMargin
}
