package graft.operators

import graft.functions.GraftFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Routing / partitioning algebra — the reference's "shuffle".
 *
 * Reference semantics: producers choose a partition per message (round-robin
 * for keyless, murmur3(key) % n for keyed — RoundRobinPartitionMessageRouterImpl
 * .java:74, Murmur3Hash32.java:44); Key_Shared dispatch assigns each key a
 * 16-bit hash bucket and maps bucket ranges to consumers
 * (StickyKeyConsumerSelectorUtils.java:42, KeySharedPolicy.java:40-96).
 */
object Routing {

  /** R1 — round-robin router for keyless messages. In a distributed write
   * this is `repartition(n)`; the deterministic batch form assigns
   * offset % n so results are reproducible. */
  def roundRobin(env: DataFrame, numPartitions: Int): DataFrame =
    env.withColumn("route_partition", (col("msg_offset") % numPartitions).cast("int"))

  /** R2 — key-hash router: murmur3(key, seed=0) % n, exact parity with the
   * reference's hash (Spark's hash() uses seed 42 — wrong constant). */
  def keyHash(env: DataFrame, numPartitions: Int): DataFrame =
    env.withColumn("route_partition", keyHashPartition(col("key"), numPartitions))

  /** R3 — single-partition router (all keyless traffic to one partition). */
  def singlePartition(env: DataFrame, thePartition: Int): DataFrame =
    env.withColumn("route_partition", lit(thePartition))

  /** R4 — custom MessageRouter SPI: the user supplies choosePartition as
   * an arbitrary column expression over the message
   * (pulsar-client-api/.../MessageRouter.java); distributed write =
   * `repartition(n, expr)`. */
  def customRouter(env: DataFrame, choosePartition: org.apache.spark.sql.Column): DataFrame =
    env.withColumn("route_partition", choosePartition.cast("int"))

  /** R5/R8 — Key_Shared sticky bucket: 16-bit ring position of the
   * effective key — ordering_key (bytes) overrides key
   * (PulsarApi.proto:141); murmur3 of a string hashes its UTF-8 bytes, so
   * the coalesce over `encode(key)` is exact parity. */
  def stickyBucket(env: DataFrame): DataFrame =
    env.withColumn("sticky_bucket",
      keySharedBucket(coalesce(col("ordering_key"), encode(col("key"), "UTF-8"))))

  /**
   * R5-R7 — assign messages to consumers by hash-range: ranges is a small
   * dimension (consumer, lo, hi) broadcast to every task, so the range join
   * never shuffles the message side.
   */
  def assignConsumers(env: DataFrame, ranges: DataFrame): DataFrame = {
    val b = stickyBucket(env)
    b.join(broadcast(ranges),
      col("sticky_bucket") >= col("lo") && col("sticky_bucket") <= col("hi"),
      "left")
  }

  /** R6 — evenly split the 16-bit ring across n consumers (the auto-split
   * steady state). */
  def evenRanges(spark: org.apache.spark.sql.SparkSession, consumers: Int): DataFrame = {
    import spark.implicits._
    val size = 65536
    (0 until consumers).map { i =>
      val lo = i * size / consumers
      val hi = (i + 1) * size / consumers - 1
      (s"consumer-$i", lo, hi)
    }.toDF("consumer", "lo", "hi")
  }

  /** One consumer's contiguous slice of the 16-bit Key_Shared ring. */
  final case class HashRange(consumer: String, lo: Int, hi: Int)

  /**
   * R6 — DYNAMIC auto-split: fold a consumer join/leave event sequence
   * into the ring's range table, the reference's
   * HashRangeAutoSplitStickyKeyConsumerSelector behavior: a joining
   * consumer splits the LARGEST current range in half (ties broken toward
   * the lowest lo) and takes its lower half; a leaving consumer's range is
   * absorbed by its upper neighbor (ceilingEntry select after the entry is
   * removed) — only the topmost range merges into its lower neighbor.
   * Membership changes are control-plane events — a tiny driver-side fold,
   * like the reference's in-broker selector; the resulting table is the
   * broadcast side of [[assignConsumers]].
   *
   * Invariant (property-tested): after every event the ranges exactly tile
   * [0, 65536) — every bucket maps to exactly one consumer.
   */
  def autoSplitFold(events: Seq[(String, String)]): Seq[HashRange] = {
    val size = 65536
    events.foldLeft(Vector.empty[HashRange]) { case (ranges, (op, c)) =>
      op match {
        case "join" =>
          if (ranges.isEmpty) Vector(HashRange(c, 0, size - 1))
          else {
            val idx = ranges.indices.maxBy(i =>
              (ranges(i).hi - ranges(i).lo, -ranges(i).lo))
            val r = ranges(idx)
            val mid = (r.lo + r.hi) >>> 1
            ranges.patch(idx,
              Seq(HashRange(c, r.lo, mid), HashRange(r.consumer, mid + 1, r.hi)), 1)
          }
        case "leave" =>
          // Removing the range entry means hashes in the freed span resolve
          // to the next-higher boundary (ceilingEntry select): the UPPER
          // neighbor absorbs the freed range. Only a topmost leaver has no
          // upper neighbor — its lower neighbor extends up to the top.
          val idx = ranges.indexWhere(_.consumer == c)
          if (idx < 0) ranges
          else if (ranges.size == 1) Vector.empty
          else if (idx < ranges.size - 1) {
            val freed = ranges(idx)
            ranges.patch(idx, Seq(ranges(idx + 1).copy(lo = freed.lo)), 2)
          } else {
            val freed = ranges(idx)
            ranges.patch(idx - 1, Seq(ranges(idx - 1).copy(hi = freed.hi)), 2)
          }
        case other => throw new IllegalArgumentException(s"unknown op: $other")
      }
    }
  }

  /** [[autoSplitFold]] as the broadcastable (consumer, lo, hi) table. */
  def autoSplitRanges(spark: org.apache.spark.sql.SparkSession,
      events: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    autoSplitFold(events).map(r => (r.consumer, r.lo, r.hi))
      .toDF("consumer", "lo", "hi")
  }

  /**
   * R7 — EXCLUSIVE sticky ranges: consumers pin their own hash ranges
   * (KeySharedPolicy STICKY, KeySharedPolicy.java:86-96); the broker only
   * validates and stores them. Admission mirrors the reference
   * (HashRangeExclusiveStickyKeyConsumerSelector.java:117-154,
   * findConflictingConsumer :156-176): a request is rejected whole if any
   * range has start > end, its own ranges overlap, or any range overlaps a
   * previously admitted consumer's — rejected consumers hold NO ranges.
   * Unlike auto-split, nobody re-tiles the ring: coverage gaps are the
   * user's problem (class doc :35-38).
   */
  def exclusiveRangesFold(requests: Seq[(String, Seq[(Int, Int)])]): Seq[HashRange] =
    requests.foldLeft(Vector.empty[HashRange]) { case (acc, (c, rs)) =>
      val sorted = rs.sortBy(_._1)
      val selfOk = rs.forall { case (lo, hi) => lo <= hi } &&
        sorted.zip(sorted.drop(1)).forall { case (a, b) => a._2 < b._1 }
      val othersOk = !rs.exists { case (lo, hi) =>
        acc.exists(e => math.max(lo, e.lo) <= math.min(hi, e.hi))
      }
      if (selfOk && othersOk) acc ++ rs.map { case (lo, hi) => HashRange(c, lo, hi) }
      else acc
    }

  /** [[exclusiveRangesFold]] as the broadcastable (consumer, lo, hi) table. */
  def exclusiveRanges(spark: org.apache.spark.sql.SparkSession,
      requests: Seq[(String, Seq[(Int, Int)])]): DataFrame = {
    import spark.implicits._
    exclusiveRangesFold(requests).map(r => (r.consumer, r.lo, r.hi))
      .toDF("consumer", "lo", "hi")
  }

  /** R7 — dispatch over user-pinned ranges: a key whose bucket falls in a
   * coverage gap has NO consumer (select returns null,
   * HashRangeExclusiveStickyKeyConsumerSelector.java:100-115) — surfaced
   * as 'parked' so the undelivered slice is a first-class query result. */
  def assignExclusive(env: DataFrame, ranges: DataFrame): DataFrame =
    assignConsumers(env, ranges)
      .withColumn("consumer", coalesce(col("consumer"), lit("parked")))

  /**
   * R9 — PIP-486 entry-bucketing: whole entries routed by 16-bit bucket;
   * in Spark this is key-range partitioning, giving row-group locality.
   */
  def entryBucketed(env: DataFrame, buckets: Int): DataFrame =
    stickyBucket(env).repartitionByRange(buckets, col("sticky_bucket"))

  /** R10 — Shared-subscription fair spread: work-queue assignment of
   * messages to n consumers, order not preserved across consumers. The
   * per-partition sequence is two-level ([[Sequencing.keyedSequence]]) so
   * a 4-value partition_id never serializes the log through 4 tasks. */
  def sharedSpread(env: DataFrame, consumers: Int): DataFrame =
    Sequencing.keyedSequence(env, Seq("partition_id"), "ledger_id", "msg_offset", "_seq")
      .withColumn("consumer", concat(lit("consumer-"), col("_seq") % consumers))
      .drop("_seq")

  /** R11 — Shared-subscription PRIORITY dispatch: consumers declare a
   * priorityLevel (LOWER value = higher priority, the reference
   * convention) and a permit budget; messages go to the
   * highest-priority consumers first, round-robin within a level, a
   * consumer dropping out of rotation when its permits exhaust, and
   * messages beyond the total budget staying in the backlog (reference:
   * `pulsar-broker/.../persistent/PersistentDispatcherMultipleConsumers
   * .java` sorts the consumer list by priority before picking; permits
   * gate each pick).
   *
   * Deterministic relational model: expand each consumer into its
   * permit slots and rank slots by (priority, slot index, consumer) —
   * exactly priority-first round-robin respecting unequal budgets; the
   * log's dense `msg_offset` IS the dispatch order, so assignment is a
   * broadcast join of the slot dimension against `msg_offset + 1`, no
   * global window. Slot dimension = Σ permits rows — control-plane
   * sized, never log-sized.
   */
  def priorityDispatch(env: DataFrame,
      consumers: Seq[(String, Int, Int)]): DataFrame = {
    val spark = env.sparkSession
    import spark.implicits._
    val slots = consumers
      .flatMap { case (cid, prio, permits) =>
        (0 until permits).map(i => (cid, prio, i))
      }
      .sortBy { case (cid, prio, i) => (prio, i, cid) }
      .zipWithIndex
      .map { case ((cid, prio, _), idx) => (idx.toLong + 1L, cid, prio) }
      .toDF("slot_rank", "consumer", "priority")
    env.join(broadcast(slots), col("msg_offset") + 1 === col("slot_rank"), "left")
      .withColumn("consumer", coalesce(col("consumer"), lit("backlog")))
      .withColumn("priority", coalesce(col("priority"), lit(-1)))
  }

  /**
   * R12 — Key_Shared JOIN-TIME ORDERING FENCE (`recentlyJoinedConsumers`,
   * `PersistentStickyKeyDispatcherMultipleConsumersClassic.java:80-87`):
   * a consumer joining a live dispatcher is recorded with the read
   * position at its join, and until the subscription's mark-delete
   * position passes that point it may only receive messages PUBLISHED
   * BEFORE it joined (`getRestrictedMaxEntriesForConsumer` :434-490 —
   * entries at or past the divider stop the dispatch batch). Replay
   * reads (redeliveries freed by a leaving consumer) additionally clamp
   * to the OLDEST recently-joined consumer's position (:471-478, the
   * #23795 ordering fix), so a redelivered message can't sneak past a
   * newer consumer's fence just because its own divider is higher.
   *
   * Batch model over an offset-ordered log: the membership history
   * (offset, join/leave, consumer) yields one auto-split range table per
   * epoch ([[autoSplitFold]] prefix per event); a message dispatches
   * normally by its epoch's table, except that the `leaver`'s messages
   * from `unackedMinOffset` on were never acked — on its leave they
   * REPLAY to the final table's owner of their bucket. Disposition
   * (final state, mark-delete at `markDelete`): a PRESENT target whose
   * join position is still past mark-delete holds every message at or
   * past its divider — its own join position for normal reads, the min
   * of the present recently-joined joins for replays. A consumer that
   * left is removed from recentlyJoinedConsumers (removeConsumer
   * :245-246), so it neither fences its own past deliveries nor drags
   * the replay clamp down.
   *
   * Shape at scale: epochs × ranges and the join-position table are
   * control-plane relations (broadcast non-equi joins, the
   * assignConsumers class); the log never shuffles. Returns per-message
   * (msg_offset, consumer, kind ∈ normal|replay, disposition ∈
   * delivered|held).
   */
  /** The per-epoch range tables of a membership history: epoch i is the
   * [[autoSplitFold]] of the first i+1 events, live on offsets
   * [events(i).offset, events(i+1).offset); a same-offset successor
   * supersedes its predecessor (empty span dropped). Pure —
   * property-tested in RoutingProps (spans tile the offset axis, every
   * table tiles the ring). */
  def epochTables(membership: Seq[(Long, String, String)])
      : Seq[(Int, Long, Long, Seq[HashRange])] = {
    require(membership.sortBy(_._1) == membership, "membership offset-sorted")
    membership.indices.flatMap { i =>
      val from = membership(i)._1
      val until = if (i + 1 < membership.size) membership(i + 1)._1
        else Long.MaxValue
      if (from == until) Nil // superseded by a same-offset event
      else Seq((i, from, until,
        autoSplitFold(membership.take(i + 1).map(e => (e._2, e._3)))))
    }
  }

  /** The fence divider for one dispatch: a recently-joined consumer may
   * only receive messages strictly below this position. Normal reads use
   * the consumer's own join position; replay reads clamp to the OLDEST
   * recently-joined consumer's position (the #23795 fix). Pure —
   * property-tested in RoutingProps. */
  def fenceDivider(isReplay: Boolean, joinPos: Long,
      minRecentJoin: Option[Long]): Long =
    if (isReplay) math.min(minRecentJoin.getOrElse(joinPos), joinPos)
    else joinPos

  def fencedDispatch(env: DataFrame,
      membership: Seq[(Long, String, String)], leaver: String,
      unackedMinOffset: Long, markDelete: Long): DataFrame = {
    val spark = env.sparkSession
    import spark.implicits._
    val eps = epochTables(membership).flatMap { case (ep, from, until, rs) =>
      rs.map(r => (ep, from, until, r.consumer, r.lo, r.hi))
    }
    val epochs = broadcast(
      eps.toDF("epoch", "from_off", "until_off", "consumer", "lo", "hi"))
    val joinPos = membership.filter(_._2 == "join")
      .map(e => e._3 -> e._1).toMap
    val joins = broadcast(joinPos.toSeq.toDF("consumer", "join_pos"))
    // a leaver is REMOVED from recentlyJoinedConsumers
    // (removeConsumer :245-246): only consumers still present can fence,
    // and the replay clamp tracks the oldest PRESENT recent joiner
    val present = membership.foldLeft(Set.empty[String]) {
      case (s, (_, "join", c)) => s + c
      case (s, (_, _, c)) => s - c
    }
    val recentMin: Option[Long] = {
      val r = joinPos.filter { case (c, p) => present(c) && p > markDelete }
      if (r.isEmpty) None else Some(r.values.min)
    }
    val recentSet = joinPos.filter { case (c, p) =>
      present(c) && p > markDelete }.keySet
    val b = stickyBucket(env).select(col("msg_offset"), col("sticky_bucket"))
    val norm = b.join(epochs,
      col("msg_offset") >= col("from_off") &&
        col("msg_offset") < col("until_off") &&
        col("sticky_bucket") >= col("lo") && col("sticky_bucket") <= col("hi"))
    val replayed = col("consumer") === leaver &&
      col("msg_offset") >= unackedMinOffset
    val lastEpoch = membership.size - 1
    val finalRanges = broadcast(epochs.filter(col("epoch") === lastEpoch)
      .select(col("consumer"), col("lo"), col("hi")))
    val replays = norm.filter(replayed)
      .select(col("msg_offset"), col("sticky_bucket"))
      .join(finalRanges,
        col("sticky_bucket") >= col("lo") && col("sticky_bucket") <= col("hi"))
      .withColumn("kind", lit("replay"))
    val normKept = norm.filter(!replayed).withColumn("kind", lit("normal"))
    val both = normKept.select(col("msg_offset"), col("consumer"), col("kind"))
      .unionByName(replays.select(col("msg_offset"), col("consumer"),
        col("kind")))
      .join(joins, Seq("consumer"))
    val divider = when(col("kind") === "replay",
      recentMin.map(m => least(lit(m), col("join_pos")))
        .getOrElse(col("join_pos"))).otherwise(col("join_pos"))
    val isRecent = if (recentSet.isEmpty) lit(false)
      else col("consumer").isInCollection(recentSet)
    both.withColumn("disposition",
      when(isRecent && col("msg_offset") >= divider,
        "held").otherwise("delivered"))
      .select(col("msg_offset"), col("consumer"), col("kind"),
        col("disposition"))
  }
}
