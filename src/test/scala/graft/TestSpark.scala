package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for all specs (Spark startup dominates test
 * time otherwise). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Envelope rows from compact tuples: (offset, producer, seq, key, value,
   * eventMs, tombstone, marker). Fills the remaining envelope columns with
   * deterministic derivations so any operator can run on the result. */
  def env(rows: Seq[(Long, String, Long, String, Double, Long, Boolean, Option[Int])]): DataFrame = {
    import spark.implicits._
    rows.map { case (off, prod, seq, key, v, evMs, tomb, marker) =>
      graft.model.MessageEnvelope(
        topic = s"t-${off % 2}", partition_id = (off % 4).toInt,
        ledger_id = off / 100, entry_id = off % 100, batch_index = 0,
        msg_offset = off, producer_name = prod, sequence_id = seq,
        publish_ms = 1000000L + off * 1000, event_ms = evMs, key = key,
        value = v,
        value_bin = s"""{"amount_c":${math.floor(v * 100).toLong},"origin":"$prod"}"""
          .getBytes("UTF-8"),
        properties = "{}", schema_version = 0L,
        deliver_at_ms = 1000000L + off * 1000, marker_type = marker,
        replicated_from = None, txn_group = None, attempts = 0,
        uuid_group = off / 4, chunk_id = (off % 4).toInt, tombstone = tomb,
        ordering_key = None, uuid = s"uuid-${off / 4}", num_chunks = 4,
        compacted_out = false)
    }.toDF()
  }
}
