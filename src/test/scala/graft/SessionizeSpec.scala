package graft

import graft.operators.Sessionize
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gap-based sessionization (q34 + StreamingSpec "sessionizer-q34"): the gap
 * boundary is INCLUSIVE (gap == gapMs stays in the session, gap ==
 * gapMs + 1 splits), session indices are 1-based per user in time order,
 * ties on ms break on event_id, and the lag + running-sum windows fuse
 * into ONE Window operator on one user-key exchange. */
class SessionizeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val gap = 100L

  private def ev(rows: (Long, Long, Long)*) =
    rows.toSeq.toDF("user_id", "event_id", "ms")

  test("boundary gap stays; gap+1 splits; indices 1-based per user") {
    val sessions = Sessionize.sessions(ev(
      // user 1: 0 --100--> 100 (same session, boundary), --101--> 201 (split)
      (1L, 1L, 0L), (1L, 2L, 100L), (1L, 3L, 201L),
      // user 2: single event → one 1-event session
      (2L, 4L, 50L)), gap)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("start_ms"),
          r.getAs[Long]("end_ms"), r.getAs[Long]("duration_ms"))).toMap
    assert(sessions === Map(
      (1L, 1L) -> ((2L, 0L, 100L, 100L)),
      (1L, 2L) -> ((1L, 201L, 201L, 0L)),
      (2L, 1L) -> ((1L, 50L, 50L, 0L))))
  }

  test("same-ms ties order on event_id; assignment is deterministic") {
    val a = Sessionize.assign(ev(
      (1L, 9L, 0L), (1L, 2L, 0L), (1L, 3L, 150L)), gap)
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[Long]("session_idx")).toMap
    // 0 → 0 gap (tie) stays; 0 → 150 splits regardless of tie order
    assert(a === Map(2L -> 1L, 9L -> 1L, 3L -> 2L))
  }

  test("parity vs a naive per-user fold on a pseudo-random stream") {
    // 400 events over 8 users, LCG times with occasional big jumps
    val rng = new Lcg(99L)
    val events = (0 until 400).map { i =>
      val user = rng.next(8L)
      val t = rng.next(2000L) +
        (if (rng.next(5L) == 0L) 100000L * rng.next(10L) else 0L)
      (user, i.toLong, t)
    }
    val got = Sessionize.sessions(events.toDF("user_id", "event_id", "ms"), gap)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("start_ms"),
          r.getAs[Long]("end_ms"))).toMap
    val want = events.groupBy(_._1).flatMap { case (u, evs) =>
      val sorted = evs.map(e => (e._3, e._2)).sorted
      val sess = sorted.foldLeft(List.empty[List[(Long, Long)]]) {
        case (Nil, e) => List(List(e))
        case (cur :: done, e) =>
          if (e._1 - cur.head._1 <= gap) (e :: cur) :: done
          else List(e) :: (cur :: done)
      }.reverse
      sess.zipWithIndex.map { case (es, i) =>
        (u, (i + 1).toLong) ->
          ((es.length.toLong, es.last._1, es.head._1))
      }
    }
    assert(got === want)
    // partition property: every event in exactly one session
    assert(got.values.map(_._1).sum === 400L)
  }

  test("both window passes share one user-key exchange and one sort") {
    val plan = Sessionize.assign(ev((1L, 1L, 0L)), gap)
      .queryExecution.executedPlan.toString
    // the lag and running-sum windows stay separate operators (a
    // projection sits between), but they reuse the SAME partitioning and
    // ordering — the event stream is shuffled and sorted exactly once
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert("(?m)^\\s*\\+?- Sort ".r.findAllIn(plan).size === 1, plan)
  }
}
