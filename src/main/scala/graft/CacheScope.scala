package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/**
 * Registry for intermediate relations an operator persists because they fan
 * out into several downstream branches (LSH band tables, block summaries,
 * propagation labels). The persist must outlive the operator call — the
 * returned plan still references it lazily — so the operator itself can
 * never unpersist safely. Instead it `track`s the relation here and the
 * HARNESS (Verify/Bench per query, or any library caller) calls
 * [[releaseAll]] once the plans built from it have been materialized.
 * Without a release, a long shared session accumulates MEMORY_AND_DISK
 * entries bounded only by plan-identity dedupe.
 */
object CacheScope {

  private val tracked = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val runMemo = scala.collection.mutable.LinkedHashMap.empty[String, Dataset[_]]
  private val valueMemo = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  /** Persist `ds` at `level` and register it for the next [[releaseAll]]. */
  def track[T](ds: Dataset[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] =
    synchronized {
      val p = ds.persist(level)
      tracked += p
      p
    }

  /**
   * RUN-scoped memoized persist: derivations shared by MANY queries in one
   * harness run (the canonical envelope view of the events table, the LSH
   * verified-pair relation that both p15 and p18 consume). These survive
   * the per-query [[releaseAll]] — a 107-query bench re-deriving the same
   * envelope 80 times, or paying a 38 s LSH pipeline twice, measures the
   * harness, not the operators. Keyed by caller-chosen string (callers
   * include the SparkContext applicationId so a stale entry from a stopped
   * test session is never handed to a new one). Released by [[releaseRun]]
   * at end of run, or implicitly bounded: one entry per (app, sfDir, kind).
   *
   * Ordering contract (the r17 ADVICE trade-off, accepted and documented):
   * the FINAL [[releaseRun]] of a session must happen-after every
   * in-flight memoRun builder. A builder that races the last releaseRun
   * re-registers its persisted dataset into a memo no future releaseRun
   * clears, pinning MEMORY_AND_DISK blocks for the session's remainder —
   * traded deliberately against the r16 alternative (unpersist + hand
   * back an uncached plan), which left a raced caller permanently
   * recomputing a 38 s-class lineage with no signal. Every harness here
   * (the Verify/Bench mains, the per-JVM test run) is
   * sequential — builders complete before their end-of-run releaseRun —
   * and a long-lived embedding caller should either arrange the same or
   * call releaseRun() once more after quiescence. */
  def memoRun[T](key: String)(build: => Dataset[T]): Dataset[T] = {
    // build OUTSIDE the monitor (check-then-put): a plan build is usually
    // cheap but may analyze a deep lineage — holding the global lock for
    // its duration would stall every concurrent track/memoRun caller
    // (e.g. a streaming foreachBatch). Lost-race cleanup is plan-aware:
    // Spark's CacheManager keys cached data by the ANALYZED plan
    // (sameResult), so when the loser's plan equals the winner's, its
    // persist was a no-op and unpersisting would silently uncache the
    // WINNER; when the build is plan-nondeterministic (e.g. ends in a
    // localCheckpoint → fresh LogicalRDD), the loser registered a
    // separate cache entry that must be released or it leaks for the
    // session's lifetime.
    synchronized {
      runMemo.get(key).foreach(ds => return ds.asInstanceOf[Dataset[T]])
    }
    val built = build.persist(StorageLevel.MEMORY_AND_DISK)
    synchronized {
      runMemo.get(key) match {
        case Some(winner) =>
          if (!built.queryExecution.analyzed
              .sameResult(winner.queryExecution.analyzed))
            built.unpersist(blocking = false)
          winner.asInstanceOf[Dataset[T]]
        case None =>
          // A builder that raced a releaseRun (the run ended between the
          // first check and this registration) lands HERE with a cleared
          // memo — registering anyway is both safe and the right call:
          // the derivation is a pure function of the dataset and the key
          // encodes (app, sfDir, kind), so any later run asking for the
          // key gets a correct answer, and ownership transfers to the
          // CURRENT memo, released by the next releaseRun. The r16
          // alternative (unpersist + hand back an uncached plan) left a
          // raced caller permanently recomputing a 38 s-class lineage
          // with no signal (the r16 ADVICE item this replaces).
          runMemo.put(key, built)
          built
      }
    }
  }

  /** RUN-scoped memoized SCALAR: corpus statistics a query derives its
   * plan knobs from (p17's corpus count → LSH width). Computing one is an
   * eager driver action, so a per-execution derivation bills an extra
   * corpus pass to every run of the query; the stat is a pure function of
   * the dataset, so one value per (app, sfDir, kind) is correct for the
   * whole run. Cleared by [[releaseRun]]. */
  def memoRunValue[T](key: String)(build: => T): T = {
    // the build thunk is an EAGER Spark job (a corpus count) — run it
    // outside the monitor (check-then-put), or every concurrent
    // track/memoRun caller stalls for the full job duration on first
    // derivation; a lost race recomputes once, the first writer wins
    synchronized {
      valueMemo.get(key).foreach(v => return v.asInstanceOf[T])
    }
    val v = build
    synchronized {
      valueMemo.getOrElseUpdate(key, v).asInstanceOf[T]
    }
  }

  /** Unpersist every tracked relation (non-blocking) and clear the registry.
   * Run-scoped memo entries are NOT touched — see [[releaseRun]].
   * Safe to call while nothing is tracked; double-unpersist is a no-op. */
  def releaseAll(): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking = false))
    tracked.clear()
  }

  /** Unpersist run-scoped memo entries too (end of a harness run / suite). */
  def releaseRun(): Unit = synchronized {
    releaseAll()
    runMemo.valuesIterator.foreach(_.unpersist(blocking = false))
    runMemo.clear()
    valueMemo.clear()
  }

  /** Number of currently tracked relations (test introspection). */
  def size: Int = synchronized(tracked.size)

  /** Number of run-scoped memo entries (test introspection). */
  def runSize: Int = synchronized(runMemo.size)
}
