package graft.streaming

import graft.functions.Exact
import graft.model.MessageEnvelope
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** One TableView entry (latest value per key; `None` where that message's
 * value is null, as the batch `Compaction.tableView` shows it). */
case class TableViewEntry(value: Option[Double], publish_ms: Long, msg_offset: Long)

/** One emitted count window (W5). */
case class CountWindow(key: String, window_id: Long, n: Long, sum_v: Double)

/** One fully reassembled chunked message (F13 streaming output row). */
case class AssembledMessage(uuid: Long, n_chunks: Long, payload: String, first_offset: Long)

/** One streamed corpus-ingest document (id + content fingerprint). */
case class DocIngest(doc_id: Long, fp: String)

/** One streamed funnel event (user, type, event-time ms). */
case class FunnelEvent(user_id: Long, event_type: String, ms: Long)

/** One per-user event for the streaming sessionizer
 * (StreamingSpec "sessionizer-q34"). */
case class SessEvent(user_id: Long, event_id: Long, ms: Long)

/** One per-user typed event for the streaming Markov census
 * (StreamingSpec "markov-census"). */
case class TypedEvent(user_id: Long, event_id: Long, ms: Long,
    event_type: String)

/** One observed transition from the streaming Markov census
 * (StreamingSpec "markov-census"). */
case class Transition(user_id: Long, from_type: String, to_type: String)

/** One scored row for the streaming weighted sampler
 * (StreamingSpec "weighted-sampler"). */
case class SampleCand(stratum: String, doc_id: Long, ky: Double, w: Double)

/** The streaming sampler's current selection for a stratum — upsert
 * style: the max-`version` row per stratum is the final sample. */
case class SampleState(stratum: String, version: Long, member_ids: String,
    weight_sampled: Double)

/** A session row as emitted by the streaming sessionizer — upsert-style:
 * the LAST emission per (user, session) equals the batch session row. */
case class SessRow(user_id: Long, session_idx: Long, n_events: Long,
    start_ms: Long, end_ms: Long)

/** One streamed crawl-frontier arrival: a doc's canonical URL, its
 * host key, and its text size. */
case class UrlIngest(doc_id: Long, host: String, url: String, chars: Long)

/** Per-host frontier state: a monotone version plus the distinct-URL
 * histogram url → (docs, chars). */
case class HostState(version: Long, hist: Map[String, (Long, Long)])

/** One upserted host-census row (the max version per host equals the
 * batch p127 census). */
case class HostCensus(host: String, version: Long, n_docs: Long,
    n_urls: Long, n_dup_docs: Long, max_url_docs: Long, text_chars: Long)

/** One streamed retention activity (user, epoch day). */
case class RetEvent(user_id: Long, day: Long)

/** A user's first appearance in a (cohort week, offset week) cell. */
case class CohortCell(user_id: Long, cohort_week: Long, offset_week: Long)

/** A user's funnel state after an advance (nullable stage times). */
case class FunnelUser(user_id: Long, t1: Option[Long], t2: Option[Long],
    t3: Option[Long], t4: Option[Long], stage: Long)

/**
 * The client-side latest-value-per-key map the streaming TableView
 * maintains — the Spark twin of the reference's ConcurrentMap-backed view
 * (reference: pulsar-client/.../impl/TableViewImpl.java:49-166): tailing
 * upserts, tombstone deletes, and change listeners (`forEachAndListen`,
 * TableViewImpl.java:208). Holding the map client-side is the operator's
 * definition, not a scale bug — its size is |keys|, and the heavy work
 * (per-key latest) runs distributed in the update-mode aggregation that
 * feeds it.
 *
 * MEMORY BOUND — this map is O(|keys| × entry size) in ONE process,
 * exactly the reference's bound (TableViewImpl keeps every key in its
 * ConcurrentMap). Keep it out of data-plane paths: it is a control-plane
 * lookup view. For key cardinalities that do not fit a driver, use
 * [[StreamingOps.compactedTableStream]], which maintains the same
 * latest-per-key contract as a bucket-partitioned parquet table with no
 * driver-side state at all.
 */
final class TableView {
  private val map = TrieMap.empty[String, TableViewEntry]
  private val listeners = ArrayBuffer.empty[(String, Option[TableViewEntry]) => Unit]

  // listener registration races the streaming thread's upsert/remove —
  // the reference's TableViewImpl serializes listener handling the same
  // way, so replay-then-subscribe can't miss or double-deliver a change
  def upsert(key: String, e: TableViewEntry): Unit = synchronized {
    map.put(key, e); listeners.foreach(_(key, Some(e)))
  }
  def remove(key: String): Unit = synchronized {
    map.remove(key); listeners.foreach(_(key, None))
  }
  def get(key: String): Option[TableViewEntry] = map.get(key)
  def snapshot: Map[String, TableViewEntry] = map.toMap
  def size: Int = map.size
  /** forEachAndListen: replay current state, then subscribe to changes. */
  def forEachAndListen(f: (String, Option[TableViewEntry]) => Unit): Unit = synchronized {
    map.foreach { case (k, v) => f(k, Some(v)) }
    listeners += f
  }
}

object StreamingOps {

  /**
   * A5 streaming — TableView over an envelope stream: distributed
   * update-mode per-column `max_by` per key ([[latestPerKeyDelta]], a hash
   * aggregate) keeps only changed keys per micro-batch;
   * foreachBatch applies the (key-sized) delta to the client map. Matches
   * the batch Compaction.tableView on the same data, given one message
   * per `msg_offset`. A checkpoint written while the aggregation state
   * was one `struct` column cannot be resumed: start from a fresh one.
   *
   * Scale contract, enforced (the scaledPlanes discipline — a hard
   * REFUSE, not a silent cap): the client map is DRIVER-heap-resident,
   * which is the reference's own TableView shape (TableViewImpl holds a
   * ConcurrentHashMap in client memory), so its bound is the key
   * cardinality of the topic, NOT the corpus size. `maxKeys` documents
   * that bound and the stream FAILS BY NAME when a topic exceeds it,
   * instead of silently OOMing the driver at 100 TB key spaces. Census:
   * an entry is one key string plus a 24-byte payload (and 32 B more
   * for the boxed `Option` value) plus hash-map overhead ≈ 180 B, so the
   * default 1,048,576 keys ≈ 190 MB of driver heap — a
   * compacted-topic/config-table cardinality. Past that the
   * right operator is [[compactedTableStream]], whose view is a bucketed
   * parquet TABLE (bounded by storage, per-batch work O(delta)): same
   * latest-per-key delta upstream, no driver-resident state.
   *
   * After a REFUSE the returned view is MID-BATCH-TORN: rows of the
   * refusing micro-batch applied before the ceiling hit stay applied.
   * Treat a refused stream's view as diagnostic evidence only — the
   * consistent recovery path is a fresh stream against
   * [[compactedTableStream]].
   */
  def tableViewStream(env: DataFrame, checkpointDir: String,
      maxKeys: Int = 1 << 20): (StreamingQuery, TableView) = {
    val view = new TableView
    val query = latestPerKeyDelta(env).writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        def apply(r: org.apache.spark.sql.Row): Unit = {
          val k = r.getAs[String]("key")
          if (r.getAs[Boolean]("tombstone")) view.remove(k)
          else view.upsert(k, TableViewEntry(
            Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue),
            r.getAs[Long]("publish_ms"), r.getAs[Long]("msg_offset")))
        }
        def refuse(): Nothing = throw new IllegalStateException(
          s"TableView key cardinality ${view.size} exceeds maxKeys=$maxKeys: " +
            "the client map is driver-heap-resident (the reference " +
            "TableViewImpl contract — bounded by TOPIC KEY cardinality, not " +
            "corpus size); for unbounded key spaces use compactedTableStream, " +
            "whose view is a storage-backed parquet table")
        // two-tier guard so the REFUSE precedes driver materialization:
        // the delta is one row per changed KEY, so view.size + count is
        // an upper bound on the post-batch cardinality. Under the bound,
        // collect() is safe outright. Over it (which may still be legal —
        // updates to existing keys don't grow the map), ingest via
        // toLocalIterator with the ceiling checked per row, so the driver
        // never holds more than one partition of rows plus maxKeys
        // entries before refusing — the guard cannot itself OOM first.
        // The batch is persisted DISK_ONLY across the guard: count()
        // and the ingest path then share ONE evaluation of the per-key
        // delta aggregation instead of running it twice per micro-batch,
        // and the materialization lands in executor disk blocks — not
        // the block manager's heap — so the guard adds no driver/heap
        // exposure of its own even on the over-ceiling path (the ingest
        // side still bounds DRIVER residency at one partition of rows
        // plus maxKeys entries via toLocalIterator).
        // After a REFUSE the view is MID-BATCH-TORN (rows applied up to
        // the ceiling stay applied) — a refusing stream's view is
        // evidence for the error, not a consistent snapshot.
        batch.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        try {
          val deltaRows = batch.count()
          if (view.size + deltaRows <= maxKeys) batch.collect().foreach(apply)
          else {
            val it = batch.toLocalIterator()
            while (it.hasNext) {
              apply(it.next())
              if (view.size > maxKeys) refuse()
            }
            if (view.size > maxKeys) refuse()
          }
        } finally batch.unpersist()
      }
      .start()
    (query, view)
  }

  /**
   * The shared update-mode latest-per-key delta behind both TableView
   * sinks: only keys whose latest changed appear in each micro-batch.
   *
   * Each column is its own `max_by(_, msg_offset)` (and the offset its own
   * `max`), so every aggregation buffer is fixed-width and Spark plans a
   * codegen'd HashAggregate; a `max_by(struct, …)` buffer is not
   * fixed-width and plans a SortAggregate that sorts every message by key.
   * Precondition: `msg_offset` is unique per message within the topic, so
   * the per-column picks all come from the same (latest) message.
   *
   * The state store holds these four columns per key. A checkpoint
   * written while the state was one `struct` column cannot be resumed.
   */
  private def latestPerKeyDelta(env: DataFrame): DataFrame =
    latestByOffset(env.filter(col("marker_type").isNull), col("key"))

  /** Latest (value, publish_ms, msg_offset, tombstone) per group, by
   * `msg_offset`: one fixed-width aggregate per column (see
   * [[latestPerKeyDelta]] for the unique-offset precondition). */
  private def latestByOffset(rows: DataFrame, groups: Column*): DataFrame =
    rows.groupBy(groups: _*).agg(
      max_by(col("value"), col("msg_offset")).as("value"),
      max_by(col("publish_ms"), col("msg_offset")).as("publish_ms"),
      max(col("msg_offset")).as("msg_offset"),
      max_by(col("tombstone"), col("msg_offset")).as("tombstone"))

  /**
   * A5 at data-plane scale — the compacted-TABLE sink: the same
   * update-mode latest-per-key delta as [[tableViewStream]], but merged
   * into a parquet table partitioned by a key-hash bucket instead of a
   * driver map, so the view's size is bounded by storage, not one heap.
   *
   * Per micro-batch the merge touches ONLY the buckets containing changed
   * keys: read those buckets, fold in the delta (the same per-column
   * latest-by-offset hash aggregate as the delta; tombstones delete), and
   * dynamic-partition-overwrite exactly those buckets — the reference's
   * TwoPhaseCompactor ledger rewrite
   * (pulsar-broker/.../compaction/TwoPhaseCompactor.java) amortized per
   * batch. Work per batch is O(delta + touched buckets), never O(table).
   * The merge is shuffled by `_bucket`, which also satisfies its
   * `(_bucket, key)` grouping, so each touched bucket is rewritten by one
   * task as one file. The unique-offset precondition of
   * [[latestPerKeyDelta]] holds here too: a stored row and a delta row of
   * one key carry different offsets. A checkpoint written while the
   * aggregation state was one `struct` column cannot be resumed: start
   * from a fresh checkpoint and table.
   */
  def compactedTableStream(env: DataFrame, checkpointDir: String,
      tableDir: String, numBuckets: Int = 64): StreamingQuery =
    latestPerKeyDelta(env).writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (delta: DataFrame, _: Long) =>
        val spark = delta.sparkSession
        val bucketed = delta
          .withColumn("_bucket", pmod(xxhash64(col("key")), lit(numBuckets)))
          .persist()
        try {
          val touched = bucketed.select(col("_bucket")).distinct()
            .collect().map(_.getLong(0)).toSeq // ≤ numBuckets values
          if (touched.nonEmpty) {
            val existing =
              if (graft.sources.GraftIO.nonEmptyDir(spark, tableDir))
                spark.read.parquet(tableDir)
                  .filter(col("_bucket").isin(touched: _*))
              else bucketed.limit(0)
            val merged = latestByOffset(
                existing.unionByName(bucketed).repartition(col("_bucket")),
                col("_bucket"), col("key"))
              // tombstones STAY in the stored table (the compacted ledger
              // keeps the latest delete marker too): dropping them here
              // could leave a touched bucket with zero output rows, and
              // dynamic overwrite never rewrites a partition it doesn't
              // write — the stale bucket would survive. Readers filter.
              //
              // localCheckpoint breaks the read→overwrite lineage on the
              // same path; it materializes touched buckets, not the table.
              .localCheckpoint(true)
            merged.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("_bucket")
              .parquet(tableDir)
          }
        } finally { bucketed.unpersist(); () }
      }
      .start()

  /** Read back the compacted table maintained by [[compactedTableStream]]
   * (latest delete markers are stored; the view excludes them). */
  def compactedTable(spark: org.apache.spark.sql.SparkSession,
      tableDir: String): DataFrame =
    spark.read.parquet(tableDir).filter(!col("tombstone")).drop("_bucket")

  /**
   * F5 streaming — producer-dedup with keyed state: per producer, the
   * state is the highest sequence id persisted (exactly the broker's
   * `highestSequencedPushed` map, MessageDeduplication.java:112); a
   * message survives iff its sequence id exceeds it. Rows within a
   * micro-batch are ordered by msg_offset before the state walk (the
   * iterator order is not otherwise guaranteed).
   */
  def dropReplaysStream(env: Dataset[MessageEnvelope]): Dataset[MessageEnvelope] = {
    import env.sparkSession.implicits._
    env.groupByKey(_.producer_name)
      .flatMapGroupsWithState[Long, MessageEnvelope](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[MessageEnvelope], state: GroupState[Long]) =>
          var maxSeq = state.getOption.getOrElse(Long.MinValue)
          val out = rows.toSeq.sortBy(_.msg_offset).filter { m =>
            val keep = m.sequence_id > maxSeq
            if (keep) maxSeq = m.sequence_id
            keep
          }
          state.update(maxSeq)
          out.iterator
      }
  }

  /**
   * F5 streaming (built-in variant) — near-dup suppression keyed on
   * (producer, sequence) within a watermark: Spark's native
   * dropDuplicatesWithinWatermark, the bounded-state form for exact
   * replays (same sequence id re-sent, the common at-least-once case).
   */
  def dropExactReplaysStream(env: DataFrame, watermarkDelay: String): DataFrame =
    env.withColumn("publish_ts", timestamp_millis(col("publish_ms")))
      .withWatermark("publish_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("producer_name", "sequence_id")

  /**
   * W1/W4/W6 streaming — event-time tumbling window with watermark; with
   * complete output the final result equals the batch TimeWindows.tumbling
   * on the same data.
   */
  def tumblingCounts(env: DataFrame, windowMs: Long, watermarkDelay: String): DataFrame =
    env.withColumn("event_ts", timestamp_millis(col("event_ms")))
      .withWatermark("event_ts", watermarkDelay)
      .groupBy(window(col("event_ts"), s"$windowMs milliseconds"), col("topic"))
      .agg(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("sum_v"))
      .withColumn("window_start_ms", unix_millis(col("window.start")))
      .drop("window")

  /**
   * A6 streaming — durable keyed counters (context.incrCounter/getCounter,
   * BaseContext.java:161-187): mapGroupsWithState holds one Long per
   * counter key; each micro-batch emits the updated totals.
   */
  def keyedCounters(env: Dataset[MessageEnvelope],
      counterKey: MessageEnvelope => String): Dataset[(String, Long)] = {
    import env.sparkSession.implicits._
    env.groupByKey(counterKey)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout()) {
        (key, rows, state) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (key, n)
      }
  }

  /**
   * A7 streaming — byte KV state (context.putState/getState,
   * BaseContext.java:115-153): opaque Array[Byte] per key, folded with a
   * user update function in msg_offset order.
   */
  def byteState(env: Dataset[MessageEnvelope],
      update: (Array[Byte], MessageEnvelope) => Array[Byte]): Dataset[(String, Array[Byte])] = {
    import env.sparkSession.implicits._
    env.groupByKey(_.key)
      .mapGroupsWithState[Array[Byte], (String, Array[Byte])](GroupStateTimeout.NoTimeout()) {
        (key, rows, state) =>
          val st = rows.toSeq.sortBy(_.msg_offset)
            .foldLeft(state.getOption.orNull)(update)
          // a null fold result models deletion — GroupState.update(null) throws
          if (st == null) state.remove() else state.update(st)
          (key, st)
      }
  }

  /**
   * W5 streaming — count-tumbling windows per key with keyed buffering
   * (WatermarkCountTriggerPolicy / CountEvictionPolicy): a window emits
   * exactly when its Nth record arrives; the partial tail stays in state.
   */
  def countWindowStream(env: Dataset[MessageEnvelope], n: Int): Dataset[CountWindow] = {
    import env.sparkSession.implicits._
    env.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Seq[Double]), CountWindow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state) =>
          val (emitted, pending) = state.getOption.getOrElse((0L, Seq.empty[Double]))
          val buf = pending ++ rows.toSeq.sortBy(_.msg_offset).map(_.value)
          val complete = buf.size / n
          val out = buf.take(complete * n).grouped(n).zipWithIndex.map {
            case (g, i) =>
              // the Exact convention, Scala-side: per-element e2 codes,
              // exact integer sum, one final IEEE division — bit-equal to
              // the batch twin's Exact.sumE regardless of buffering order
              CountWindow(key, emitted + i, n.toLong,
                g.map(v => math.floor(v * 100.0 + 0.5).toLong).sum.toDouble / 100.0)
          }.toList
          state.update((emitted + complete, buf.drop(complete * n)))
          out.iterator
      }
  }

  /** One observed record of the key-ordered stream: the ordinal the
   * function instance assigned at observation time, plus the running
   * violation count (order breaches seen so far for the key). */
  final case class KeyOrdered(key: String, msg_offset: Long, obs_seq: Long, violations: Long)

  /**
   * U6 streaming — retainKeyOrdering (FunctionConfig.java:94-96): each
   * key's records reach its (stateful) function instance in publish
   * order. groupByKey pins a key to one instance; within a micro-batch
   * the instance restores offset order before processing (Spark does not
   * order rows through the state shuffle — imposing it IS the
   * semantic); across micro-batches, state carries the last offset so
   * the monotonicity contract is checked over the whole stream, not per
   * batch. The batch twin is PFunctions.keyOrderedProbe.
   */
  /**
   * Streaming corpus-ingest exact dedup — the curation twin of
   * [[graft.pipeline.DedupOps.exactDuplicates]] for a continuously
   * arriving crawl: the FIRST document bearing a given content
   * fingerprint survives; every later arrival is dropped. Within one
   * micro-batch the lowest doc id wins, so an id-ordered feed converges
   * exactly to the batch min-id-per-fingerprint rule.
   *
   * State is one long (the surviving doc id) per distinct fingerprint —
   * the minimum any exact-dedup ingest must remember. At 100 TB the
   * state store shards by fingerprint across executors (it is the same
   * hash layout as the batch groupBy), and a TTL policy
   * (GroupStateTimeout) bounds it when the ingest horizon allows.
   */
  def corpusDedupStream(docs: Dataset[DocIngest]): Dataset[DocIngest] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.fp)
      .flatMapGroupsWithState[Long, DocIngest](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state) =>
          if (state.exists) Iterator.empty
          else {
            val first = rows.minBy(_.doc_id)
            state.update(first.doc_id)
            Iterator.single(first)
          }
      }
  }

  /**
   * Streaming conversion funnel — the CEP-style per-user state machine
   * twin of [[graft.operators.Funnel.stageTimes]]: 4 longs of state per
   * user advance through signup → view → click → purchase, each stage
   * locking to the first qualifying event STRICTLY after the previous
   * stage. Emits the user's updated stage row whenever state advances
   * (stage is monotone, so the max-stage row per user is the final
   * answer).
   *
   * CONTRACT: events must arrive per-user in non-decreasing event-time
   * order for the incremental chain to equal the batch minimums (a late
   * earlier signup could re-anchor the whole chain). Production gets
   * that ordering from a watermark + in-batch sort; StreamingSpec
   * "funnel-state" feeds time-sorted chunks and asserts convergence to the batch
   * relation.
   */
  def funnelStream(ev: Dataset[FunnelEvent]): Dataset[FunnelUser] = {
    import ev.sparkSession.implicits._
    val order = graft.operators.Funnel.stages.zipWithIndex.toMap
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Option[Long], Option[Long], Option[Long], Option[Long]),
        FunnelUser](OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
          var (t1, t2, t3, t4) =
            state.getOption.getOrElse((Option.empty[Long], Option.empty[Long],
              Option.empty[Long], Option.empty[Long]))
          val before = (t1, t2, t3, t4)
          // in-batch event-time order; same-ms ties can't matter (every
          // stage requires STRICTLY later, so order among ties is moot)
          rows.toSeq.sortBy(e => (e.ms, order.getOrElse(e.event_type, 9)))
            .foreach { e =>
              e.event_type match {
                case "signup" if t1.isEmpty => t1 = Some(e.ms)
                case "view" if t2.isEmpty && t1.exists(e.ms > _) => t2 = Some(e.ms)
                case "click" if t3.isEmpty && t2.exists(e.ms > _) => t3 = Some(e.ms)
                case "purchase" if t4.isEmpty && t3.exists(e.ms > _) => t4 = Some(e.ms)
                case _ =>
              }
            }
          if ((t1, t2, t3, t4) == before) Iterator.empty
          else {
            state.update((t1, t2, t3, t4))
            val stage = Seq(t1, t2, t3, t4).count(_.isDefined).toLong
            Iterator.single(FunnelUser(user, t1, t2, t3, t4, stage))
          }
      }
  }

  /**
   * Streaming retention-cohort cells — the incremental twin of the q30
   * matrix's `act` relation: per user, the cohort day locks on the
   * FIRST event (ordered arrival, the [[funnelStream]] contract) and
   * each (cohort week, offset week) cell is emitted exactly once on
   * first activity. Counting the emitted cells per (cohort, offset)
   * downstream yields q30's n_active incrementally. State per user =
   * the cohort day + the set of offset weeks seen — bounded by the
   * observation span in weeks, not by events.
   */
  def retentionStream(ev: Dataset[RetEvent]): Dataset[CohortCell] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Set[Long]), CohortCell](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
          var (cohortDay, seen) =
            state.getOption.getOrElse((Long.MaxValue, Set.empty[Long]))
          val out = ArrayBuffer.empty[CohortCell]
          rows.toSeq.sortBy(_.day).foreach { e =>
            if (cohortDay == Long.MaxValue) cohortDay = e.day
            val off = (e.day - cohortDay) / 7
            if (!seen(off)) {
              seen += off
              out += CohortCell(user, cohortDay / 7, off)
            }
          }
          state.update((cohortDay, seen))
          out.iterator
      }
  }

  /**
   * Streaming gap-based sessionization — the incremental twin of
   * [[graft.operators.Sessionize.sessions]] (Structured Streaming's
   * session-window semantics hand-rolled on flatMapGroupsWithState so the
   * session row matches the batch relation field for field). State per
   * user is 4 longs: current session index, its start, last-seen ms, and
   * its event count. A gap > `gapMs` rolls the index; every processed
   * event emits the session's UPDATED row, so the last emission per
   * (user, session) — equivalently the max-`n_events` row, since the
   * count is monotone within a session — equals the batch row, open
   * sessions included.
   *
   * CONTRACT (the [[funnelStream]] ordering contract): per-user arrival
   * in non-decreasing event-time order; production gets that from a
   * watermark + in-batch sort. In production the per-user state would
   * use an idle [[GroupStateTimeout]] of `gapMs` to retire closed
   * sessions; the test fixture is finite so no timeout fires.
   */
  def sessionStream(ev: Dataset[SessEvent], gapMs: Long): Dataset[SessRow] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long), SessRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
          var (idx, start, last, n) =
            state.getOption.getOrElse((0L, 0L, Long.MinValue, 0L))
          val out = ArrayBuffer.empty[SessRow]
          rows.toSeq.sortBy(e => (e.ms, e.event_id)).foreach { e =>
            if (idx == 0L || e.ms - last > gapMs) {
              idx += 1; start = e.ms; n = 0L
            }
            n += 1; last = e.ms
            out += SessRow(user, idx, n, start, e.ms)
          }
          state.update((idx, start, last, n))
          out.iterator
      }
  }

  /**
   * Streaming Markov transition extraction — the incremental twin of
   * q36's census: one string of state per user (the last event type);
   * every arriving event emits the (from, to) transition it completes.
   * Counting emitted transitions downstream equals the batch lag-window
   * census exactly (same ordering contract as [[funnelStream]]:
   * per-user non-decreasing event time, ties pre-sorted on event_id).
   */
  def transitionStream(ev: Dataset[TypedEvent]): Dataset[Transition] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[String, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
          var last = state.getOption.orNull
          val out = ArrayBuffer.empty[Transition]
          rows.toSeq.sortBy(e => (e.ms, e.event_id)).foreach { e =>
            if (last != null) out += Transition(user, last, e.event_type)
            last = e.event_type
          }
          state.update(last)
          out.iterator
      }
  }

  /**
   * Streaming crawl-frontier census — the incremental twin of p127's
   * host census: canonicalized URLs arrive keyed by host, the per-host
   * state is the distinct-URL histogram (url → docs, chars — exactly
   * the frontier table a crawler keeps anyway, sized by the host's
   * distinct URLs, never the doc stream), and every micro-batch emits
   * an upserted census row per touched host with a monotone version.
   * The max-version row per host equals the batch two-level
   * aggregation exactly; no ordering contract at all — the census is a
   * pure function of the arrived multiset.
   *
   * Per-key state bound, ENFORCED (the TableView-maxKeys discipline
   * applied to a state store): unlike the other stateful twins — the
   * sessionizer's 4 longs, the transition census's one string, the
   * sampler's k triples, all O(1) per key — this state is the host's
   * DISTINCT-URL histogram, and a pathological host (calendar pages, a
   * session-id URL space) grows it without bound inside ONE state-store
   * entry, which Spark materializes whole per trigger. `maxUrlsPerHost`
   * documents that bound and the stream REFUSES BY NAME past it instead
   * of silently OOMing an executor at 100 TB frontiers. Census: an entry
   * is a URL string (~80 B) + 16 B of counters + map overhead ≈ 200 B,
   * so the default 2²⁰ URLs ≈ 200 MB — the practical per-host frontier a
   * single crawler shard keeps. Past it, the right operator is the batch
   * [[graft.pipeline.UrlOps.hostCensus]] over the frontier TABLE
   * (storage-backed, never one heap entry). */
  def urlCensusStream(ds: Dataset[UrlIngest],
      maxUrlsPerHost: Int = 1 << 20): Dataset[HostCensus] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.host)
      .flatMapGroupsWithState[HostState, HostCensus](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (host, rows, state) =>
          val st = state.getOption.getOrElse(HostState(0L, Map.empty))
          var hist = st.hist
          rows.foreach { r =>
            val (n, ch) = hist.getOrElse(r.url, (0L, 0L))
            if (n == 0L && hist.size >= maxUrlsPerHost)
              throw new IllegalStateException(
                s"urlCensusStream: host '$host' exceeds maxUrlsPerHost=" +
                  s"$maxUrlsPerHost distinct URLs: the per-host histogram " +
                  "is ONE state-store entry, materialized whole per " +
                  "trigger; census a frontier this shape with the batch " +
                  "UrlOps.hostCensus over a storage-backed frontier table")
            hist += r.url -> ((n + 1L, ch + r.chars))
          }
          val version = st.version + 1L
          state.update(HostState(version, hist))
          val counts = hist.values.map(_._1)
          Iterator.single(HostCensus(host, version,
            n_docs = counts.sum,
            n_urls = hist.size.toLong,
            n_dup_docs = counts.filter(_ > 1L).sum,
            max_url_docs = counts.max,
            text_chars = hist.values.map(_._2).sum))
      }
  }

  /**
   * Streaming Efraimidis–Spirakis weighted sampling — the incremental
   * twin of [[graft.pipeline.CorpusOps.weightedSample]]: per stratum the
   * state is the current top-k (key, id, weight) triples; an arriving
   * candidate displaces the weakest member when its key ranks higher
   * (key desc, id asc — the batch tie order). The selection is a pure
   * function of the candidate SET (no ordering contract at all — unlike
   * the funnel/session twins), so any arrival order converges to the
   * batch sample. Emits the updated membership with a monotone version;
   * the max-version row per stratum is the final sample.
   *
   * This is the A-ExpJ reservoir shape (Efraimidis–Spirakis 2006 §4):
   * state = k triples per stratum, independent of stream length.
   */
  def weightedSampleStream(ev: Dataset[SampleCand], k: Int): Dataset[SampleState] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.stratum)
      .flatMapGroupsWithState[(Long, List[(Double, Long, Double)]), SampleState](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (stratum, rows, state) =>
          var (ver, top) = state.getOption.getOrElse((0L, List.empty[(Double, Long, Double)]))
          val out = ArrayBuffer.empty[SampleState]
          rows.foreach { c =>
            val cand = (c.ky, c.doc_id, c.w)
            val merged = (cand :: top)
              .sortBy { case (ky, id, _) => (-ky, id) }.take(k)
            if (merged != top) {
              top = merged
              ver += 1
              out += SampleState(stratum, ver,
                top.map(_._2).sorted.mkString(","),
                top.map(_._3).sum)
            }
          }
          state.update((ver, top))
          out.iterator
      }
  }

  def keyOrderedStream(env: Dataset[MessageEnvelope]): Dataset[KeyOrdered] = {
    import env.sparkSession.implicits._
    env.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long, Long), KeyOrdered](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state) =>
          var (last, seq, viol) = state.getOption.getOrElse((Long.MinValue, 0L, 0L))
          val out = rows.toSeq.sortBy(_.msg_offset).map { m =>
            seq += 1
            if (m.msg_offset <= last) viol += 1
            last = m.msg_offset
            KeyOrdered(key, m.msg_offset, seq, viol)
          }
          state.update((last, seq, viol))
          out.iterator
      }
  }

  /**
   * F3/F4 streaming — delayed delivery with keyed state: messages are
   * held per partition until the group's clock (max publish time seen —
   * the deterministic stand-in for the tracker's tick) passes their
   * deliver-at time; due messages release in offset order
   * (InMemoryDelayedDeliveryTracker.getScheduledMessages :221).
   */
  def delayedDeliveryStream(env: Dataset[MessageEnvelope]): Dataset[MessageEnvelope] = {
    import env.sparkSession.implicits._
    env.groupByKey(_.partition_id)
      .flatMapGroupsWithState[(Long, Seq[MessageEnvelope]), MessageEnvelope](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, rows, state) =>
          val (clock0, pending0) = state.getOption.getOrElse((Long.MinValue, Seq.empty[MessageEnvelope]))
          val rs = rows.toSeq
          val clock = (clock0 +: rs.map(_.publish_ms)).max
          val (due, hold) = (pending0 ++ rs).partition(_.deliver_at_ms <= clock)
          state.update((clock, hold))
          due.sortBy(_.msg_offset).iterator
      }
  }

  /**
   * T3 streaming — the topic transaction buffer as keyed state
   * (TopicTransactionBuffer.java): data rows of an open transaction are
   * HELD; the commit marker releases the buffer (and everything that
   * arrives after it); the abort marker discards it. Markers themselves
   * never dispatch (F10), and non-transactional rows pass straight
   * through. This is the streaming twin of
   * [[graft.operators.Transactions.visibleCommitted]].
   *
   * State schema note: r18 widened the per-txn state from
   * (status, buffer) to (status, actingMarkerOffset, buffer) for the
   * dispatch-contract violation check below — a checkpoint written by
   * the 2-field version is NOT resumable across the upgrade (Spark
   * state-schema compatibility). The repo ships no durable checkpoints
   * (every harness uses fresh temp dirs); an embedding caller upgrading
   * across this boundary must drain-and-restart the query.
   */
  def txnBufferStream(env: Dataset[MessageEnvelope]): Dataset[MessageEnvelope] = {
    import env.sparkSession.implicits._
    val (open, committed, aborted) = (0, 1, 2)
    env.groupByKey(m => m.txn_group.getOrElse(-1L))
      .flatMapGroupsWithState[(Int, Long, Seq[MessageEnvelope]), MessageEnvelope](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (txn, rows, state) =>
          if (txn == -1L) {
            rows.filter(_.marker_type.isEmpty).toSeq.sortBy(_.msg_offset).iterator
          } else {
            var (status, actingOffset, buf) = state.getOption
              .getOrElse((open, Long.MinValue, Seq.empty[MessageEnvelope]))
            val out = scala.collection.mutable.ArrayBuffer.empty[MessageEnvelope]
            val terminals = Set(graft.operators.Transactions.TxnCommitMarker,
              graft.operators.Transactions.TxnAbortMarker)
            rows.toSeq.sortBy(_.msg_offset).foreach { m =>
              m.marker_type match {
                // terminal markers are IDEMPOTENT: only the first one
                // takes effect (the coordinator rejects END_TXN on an
                // ended txn — InvalidTxnStatusException — so a valid
                // log never has two; on an invalid one this matches
                // the batch recovery's first-marker-by-offset rule
                // UNDER the stream's standing dispatch contract of
                // per-txn offset-ordered arrival. Within one
                // micro-batch the sort above makes first-arrival =
                // first-offset outright; ACROSS micro-batches a
                // lower-offset terminal marker arriving after the
                // acting one PROVES the feed broke the contract, and
                // since dispatched rows cannot be retracted in append
                // mode the stream fails BY NAME instead of silently
                // diverging from the batch fold (min_by). The acting
                // marker's offset persists in state exactly for this
                // check. TxnDualMarkerSpec pins both orders across
                // micro-batch boundaries plus the violation path.
                case Some(t) if terminals(t) && status == open =>
                  actingOffset = m.msg_offset
                  if (t == graft.operators.Transactions.TxnCommitMarker) {
                    status = committed; out ++= buf; buf = Seq.empty
                  } else {
                    status = aborted; buf = Seq.empty
                  }
                case Some(t) if terminals(t) && m.msg_offset < actingOffset =>
                  throw new IllegalStateException(
                    s"txn $txn: terminal marker at offset ${m.msg_offset} " +
                      s"arrived after acting marker at offset $actingOffset " +
                      "— per-txn offset-ordered dispatch contract violated; " +
                      "batch recovery (first-marker-by-offset) would resolve " +
                      "this log differently, so the stream refuses rather " +
                      "than silently diverge")
                case Some(_) => // other/late markers never dispatch
                case None => status match {
                  case `open` => buf = buf :+ m
                  case `committed` => out += m
                  case _ => // aborted: swallowed
                }
              }
            }
            state.update((status, actingOffset, buf))
            out.iterator
          }
      }
  }

  /**
   * F13 streaming — consumer-side chunk reassembly as keyed state
   * (ConsumerImpl chunk handling): chunks of a uuid buffer across
   * micro-batches until all `num_chunks` declared pieces arrived, then
   * the assembled payload emits (binary concat in chunk order) and the
   * state clears. Streaming twin of
   * [[graft.operators.ChunkBatch.reassembleChunks]].
   */
  def reassembleChunksStream(env: Dataset[MessageEnvelope]): Dataset[AssembledMessage] = {
    import env.sparkSession.implicits._
    // State per uuid: buffered (chunk_id, payload, offset, declared num_chunks).
    // The declared count rides on every chunk (PulsarApi.proto:162
    // num_chunks_from_msg), so any chunk in the buffer can tell us when the
    // group is complete — no fixture constant.
    env.groupByKey(_.uuid_group)
      .flatMapGroupsWithState[Seq[(Int, Array[Byte], Long, Int)], AssembledMessage](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uuid, rows, state) =>
          val buf = state.getOption.getOrElse(Seq.empty) ++
            rows.map(m => (m.chunk_id, m.value_bin, m.msg_offset, m.num_chunks))
          if (buf.isEmpty) { state.update(buf); Iterator.empty }
          else {
            val declared = buf.head._4
            if (buf.length >= declared) {
              state.remove()
              val sorted = buf.sortBy(_._1)
              Iterator.single(AssembledMessage(uuid, declared.toLong,
                new String(sorted.flatMap(_._2).toArray, "UTF-8"),
                buf.map(_._3).min))
            } else { state.update(buf); Iterator.empty }
          }
      }
  }

  /**
   * W2 streaming — processing-time windows under a wall-clock trigger
   * (TimeTriggerPolicy.java): the aggregation keys on the deterministic
   * processing clock (publish_ms) so the converged result matches the
   * batch TimeWindows.processingTumbling; the TRIGGER is real wall-clock
   * (`Trigger.ProcessingTime`), firing micro-batches on cadence like the
   * reference's scheduled task.
   */
  def processingTimeCounts(env: DataFrame, windowMs: Long): DataFrame =
    env.groupBy(window(timestamp_millis(col("publish_ms")), s"$windowMs milliseconds"))
      .agg(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("sum_v"))
      .withColumn("window_start_ms", unix_millis(col("window.start")))
      .drop("window")

  /** Run a streaming DataFrame to a named in-memory table on a wall-clock
   * cadence (Trigger.ProcessingTime); caller drains with
   * processAllAvailable() then stops. */
  def runToMemoryProcessing(df: DataFrame, name: String, mode: OutputMode,
      checkpointDir: String, intervalMs: Long = 50L): StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()
}
