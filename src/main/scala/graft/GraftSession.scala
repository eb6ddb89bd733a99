package graft

import org.apache.spark.sql.SparkSession

/** The one local session factory every harness, tool and spec uses, so
 * their settings cannot drift apart. (`Smoke` deliberately builds a
 * plain session: it checks that `SparkEntry.entry` configures a
 * caller's session by itself.) */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UI off, UTC, and
   * [[SparkEntry.prepare]] applied before the caller sees the session. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // A long session accumulates shuffle files and broadcasts that
      // ContextCleaner only reclaims after a JVM GC — which a large heap
      // rarely triggers on its own. Late queries then run against a
      // machine whose disk/page cache is full of dead shuffle state (p18
      // measured 2.6x slower at query #95 than standalone). Periodic
      // cleaner GC bounds that drift.
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.prepare(spark)
  }
}
