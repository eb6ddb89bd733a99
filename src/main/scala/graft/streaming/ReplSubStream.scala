package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One replicated-subscription marker as a stream event (S17's input
 * relation, arriving in publish order but possibly split across
 * micro-batches mid-snapshot). */
final case class RsMarkerEvent(seq: Long, tsMs: Long, mtype: String,
  sid: String, cluster: String, rLedger: Long, rEntry: Long)

/** Upsert-style census row: the latest state of one snapshot attempt.
 * `version` is the max marker seq folded in — the converged table keeps
 * each sid's max-version row. localEntry = −1 until completed; storedCsv
 * lists the per-cluster stored positions ("B:10000005,C:20000007",
 * cluster-sorted) only once completed. */
final case class RsCensus(sid: String, status: String, localEntry: Long,
  storedCsv: String, version: Long)

/** Accumulated per-snapshot fold state: the first REQUEST's ts, each
 * cluster's first `needed` response (seq, ts) pairs, the putIfAbsent
 * stored positions, and the max seq folded (the emit version). */
final case class RsSnapState(reqTs: Long,
  respSeqTs: Map[String, Seq[(Long, Long)]],
  stored: Map[String, Long], maxSeq: Long)

/**
 * S17's STREAMING twin: the snapshot-census fold of
 * [[graft.operators.ReplicatedSubscription.sync]] as incremental keyed
 * state — markers arrive over micro-batches, each snapshot's state
 * (request time, per-cluster response rounds, first-response-wins stored
 * positions) accumulates in the state store, and every batch emits the
 * snapshot's CURRENT census row (completed / timed_out / incomplete by
 * the same completion-vs-request-time rule the batch fold applies). The
 * converged max-version rows equal the batch census — proven by
 * StreamingSpec "repl-sub-census", including snapshots whose two
 * response rounds straddle a micro-batch boundary.
 */
object ReplSubStream {

  def censusStream(src: Dataset[RsMarkerEvent], remotes: Seq[String],
      timeoutMs: Long): Dataset[RsCensus] = {
    val needed = if (remotes.size > 1) 2 else 1
    val remoteSet = remotes.toSet
    implicit val stateEnc = Encoders.product[RsSnapState]
    implicit val outEnc = Encoders.product[RsCensus]
    src.groupByKey(_.sid)(Encoders.STRING)
      .flatMapGroupsWithState[RsSnapState, RsCensus](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, events: Iterator[RsMarkerEvent],
            state: GroupState[RsSnapState]) =>
          val prior = state.getOption
          var s = prior.getOrElse(
            RsSnapState(Long.MaxValue, Map.empty, Map.empty, 0L))
          // fold in seq order within the batch; cross-batch order is an
          // ASSUMPTION on the source's publish order — checked, not
          // silent: an event whose seq is at/below the max already
          // folded in a PRIOR batch would invert the putIfAbsent stored
          // position and the round assignment relative to the batch
          // twin, so it fails fast instead
          val priorMax = prior.map(_.maxSeq).getOrElse(Long.MinValue)
          events.toSeq.sortBy(_.seq).foreach { e =>
            if (prior.isDefined && e.seq <= priorMax)
              throw new IllegalStateException(
                s"out-of-order marker for sid=$sid: seq=${e.seq} arrived " +
                  s"after a batch that folded seq=$priorMax — the source " +
                  "broke publish order across micro-batches")
            s = e.mtype match {
              case "REQUEST" =>
                s.copy(reqTs = math.min(s.reqTs, e.tsMs),
                  maxSeq = math.max(s.maxSeq, e.seq))
              case "RESPONSE" =>
                val had = s.respSeqTs.getOrElse(e.cluster, Seq.empty)
                s.copy(
                  respSeqTs = s.respSeqTs.updated(e.cluster,
                    if (had.size >= needed) had
                    else had :+ ((e.seq, e.tsMs))),
                  // putIfAbsent: the FIRST response's position sticks
                  stored =
                    if (s.stored.contains(e.cluster)) s.stored
                    else s.stored.updated(e.cluster,
                      e.rLedger * 1000000L + e.rEntry),
                  maxSeq = math.max(s.maxSeq, e.seq))
              case other =>
                throw new IllegalArgumentException(s"marker type $other")
            }
          }
          state.update(s)
          // a sid with responses but NO request yet has no census row —
          // the batch fold builds the census from the REQUEST relation,
          // so emitting here (reqTs still at the sentinel) would both
          // diverge from the twin and mis-pass the timeout comparison;
          // the row appears once the REQUEST marker arrives
          if (s.reqTs == Long.MaxValue) Iterator.empty
          else {
          val complete = remoteSet.forall(c =>
            s.respSeqTs.getOrElse(c, Seq.empty).size >= needed)
          val census =
            if (complete) {
              val nth = remoteSet.toSeq.map(c => s.respSeqTs(c)(needed - 1))
              val doneSeq = nth.map(_._1).max
              val doneTs = nth.map(_._2).max
              if (doneTs - s.reqTs <= timeoutMs)
                RsCensus(sid, "completed", doneSeq,
                  s.stored.filter(kv => remoteSet(kv._1)).toSeq.sortBy(_._1)
                    .map { case (c, p) => s"$c:$p" }.mkString(","),
                  s.maxSeq)
              else RsCensus(sid, "timed_out", -1L, "", s.maxSeq)
            } else RsCensus(sid, "incomplete", -1L, "", s.maxSeq)
          Iterator.single(census)
          }
      }
  }
}
