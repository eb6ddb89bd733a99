package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Transactional visibility.
 *
 * Reference semantics: messages produced inside a transaction stay invisible
 * until the COMMIT marker; the topic transaction buffer keeps an
 * aborted-transaction snapshot used to filter dispatch (reference:
 * pulsar-broker/.../transaction/buffer/impl/TopicTransactionBuffer.java,
 * markers PulsarApi.proto:149-153).
 *
 * Spark mapping: visibility is a semi/anti join of the envelope's txn id
 * against the coordinator's status table (one row per transaction).
 * The reference keeps an ABORTED-only snapshot in broker memory precisely
 * because the committed set is unbounded (TopicTransactionBuffer's
 * aborts snapshot) — so neither side gets a static broadcast hint here:
 * the status relations are data-dependent (they grow with transaction
 * count, ∝ corpus at the 100 TB design point), and AQE broadcasts them
 * at runtime whenever they measure small while a static hint could
 * never be demoted (the r15 convention). At every reachable tier the
 * physical plan is the same BHJ the old hints forced.
 */
object Transactions {

  /** T3 — only non-transactional messages and messages of committed
   * transactions are visible. */
  def visible(env: DataFrame, txnStatus: DataFrame): DataFrame = {
    val aborted = txnStatus.filter(col("status") === "ABORTED").select(col("txn_id"))
    env.join(aborted, col("txn_group") === col("txn_id"), "left_anti")
  }

  /** T2 — coordinator status ledger derived deterministically for the
   * fixture: every 4th txn group aborts. */
  def fixtureStatus(env: DataFrame): DataFrame =
    env.filter(col("txn_group").isNotNull)
      .select(col("txn_group").as("txn_id")).distinct()
      .withColumn("status", when(col("txn_id") % 4 === 0, "ABORTED").otherwise("COMMITTED"))

  /** Marker types of the txn end markers (PulsarApi.proto:149-153). */
  val TxnCommitMarker = 22
  val TxnAbortMarker = 23

  /** T1 — stage a built batch into an open transaction: the rows carry
   * their txn id and stay invisible until a commit marker lands
   * (Transaction.java:86; Producer.newMessage(Transaction):193). */
  def produceInTxn(msgs: DataFrame, txnId: Long): DataFrame =
    msgs.withColumn("txn_group", lit(txnId))

  /** T1 — the commit/abort control record appended to the topic log. */
  def txnMarker(spark: org.apache.spark.sql.SparkSession, topic: String,
      txnId: Long, commit: Boolean, markerOffset: Long): DataFrame = {
    import spark.implicits._
    Seq(graft.model.MessageEnvelope(
      topic = topic, partition_id = 0, ledger_id = markerOffset / 1000,
      entry_id = markerOffset % 1000, batch_index = 0, msg_offset = markerOffset,
      producer_name = "txn-coordinator", sequence_id = markerOffset,
      publish_ms = 0L, event_ms = 0L, key = s"txn-$txnId", value = 0.0,
      properties = "{}", schema_version = 0L, deliver_at_ms = 0L,
      marker_type = Some(if (commit) TxnCommitMarker else TxnAbortMarker),
      replicated_from = None, txn_group = Some(txnId), attempts = 0,
      uuid_group = markerOffset, chunk_id = 0, tombstone = false,
      ordering_key = None, uuid = s"txn-$txnId", num_chunks = 1,
      compacted_out = false)).toDF()
  }

  /** T2 — coordinator status recovered from the txn end markers in the
   * log (the marker IS the durable 2PC decision; open txns have none).
   * The FIRST terminal marker by log offset wins: the coordinator
   * enforces a single terminal state (a second END_TXN on an ended txn
   * is rejected with InvalidTxnStatusException —
   * TransactionCoordinator end-txn path), so a valid log never carries
   * two — but recovery over an adversarial/corrupt log must still
   * agree with the streaming buffer ([[graft.streaming.StreamingOps
   * .txnBufferStream]] treats terminal markers as idempotent, first
   * one wins). The agreement holds UNDER THE DISPATCH CONTRACT the
   * stream already requires: per-txn rows arrive in log-offset order
   * (the broker's dispatch order), so the stream's first-ARRIVAL equals
   * this fold's first-by-offset. A feed that breaks the contract —
   * delivering a LOWER-offset terminal marker in a LATER micro-batch —
   * is DETECTED by the stream (r18: the acting marker's offset persists
   * in state; a lower-offset terminal marker fails the query by name,
   * since append mode cannot retract dispatched rows and silent
   * batch/stream divergence is the one unacceptable outcome). Offsets
   * are log positions ((ledger, entry) — unique by the ledger contract),
   * so min_by is deterministic. TxnDualMarkerSpec pins both orders with
   * the markers split across micro-batch boundaries, plus the
   * contract-violation refusal. */
  def statusFromMarkers(env: DataFrame): DataFrame =
    env.filter(col("marker_type").isin(TxnCommitMarker, TxnAbortMarker) &&
        col("txn_group").isNotNull)
      .groupBy(col("txn_group").as("txn_id"))
      .agg(min_by(col("marker_type"), col("msg_offset")).as("_m"))
      .withColumn("status", when(col("_m") === TxnCommitMarker, "COMMITTED")
        .otherwise("ABORTED"))
      .drop("_m")

  /** T3 strict — reference visibility: txn messages are invisible until
   * COMMIT (open AND aborted both hidden); non-txn messages always show. */
  def visibleCommitted(env: DataFrame): DataFrame = {
    val committed = statusFromMarkers(env)
      .filter(col("status") === "COMMITTED").select(col("txn_id"))
    val nonTxn = env.filter(col("marker_type").isNull && col("txn_group").isNull)
    val txnRows = env.filter(col("marker_type").isNull && col("txn_group").isNotNull)
      .join(committed, col("txn_group") === col("txn_id"), "left_semi")
    nonTxn.unionByName(txnRows)
  }

  /** T4 — pending acks: an ack performed inside a transaction takes
   * effect only when that transaction commits (PendingAckHandle); acks of
   * aborted or open txns are discarded/held. `ackLog` columns:
   * (msg_offset, ack_txn nullable). */
  def effectiveAcks(ackLog: DataFrame, txnStatus: DataFrame): DataFrame = {
    val committed = txnStatus.filter(col("status") === "COMMITTED")
      .select(col("txn_id").as("_t"))
    val immediate = ackLog.filter(col("ack_txn").isNull).select(col("msg_offset"))
    val inTxn = ackLog.filter(col("ack_txn").isNotNull)
      .join(committed, col("ack_txn") === col("_t"), "left_semi")
      .select(col("msg_offset"))
    immediate.unionByName(inTxn)
  }
}
