package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** The single-task-scan spread, made scale-adaptive (r20 verdict item 3).
 *
 * The gate fixtures are one-row-group parquet files: a scan of one is ONE
 * input split, so compute-heavy per-row work placed directly over it (word
 * explodes, per-position md5 fingerprints, n-gram construction) runs in a
 * single task while every other core idles (measured at sf0.1: a 46 s
 * single-task md5 stage in the crossdoc span build; 1–2.5 s single-task
 * word-explode stages in ~8 other queries). The established fix is an
 * explicit `repartition(shuffle.partitions, key)` before the heavy work.
 *
 * But the blanket spread is the WRONG trade at the 100 TB design point: a
 * splittable source already parallelizes the scan, and the repartition
 * becomes a pure corpus-scale exchange of the full document text. So the
 * spread is CONDITIONAL: it fires only when the incoming relation has
 * fewer partitions than the session's parallelism floor
 * (`spark.sql.shuffle.partitions`) — i.e. exactly when the scan cannot
 * parallelize on its own. At gate scale (1 split < 32) the plan is
 * identical to the old unconditional form; at production scale
 * (splits ≥ floor) the exchange vanishes.
 *
 * The partition count is read from the UNOPTIMIZED physical plan of `df`
 * (driver-side, no job): every call site passes a narrow scan-projection
 * relation, so building its RDD lineage costs planning only. An input
 * whose physical plan holds an exchange, or is adaptive, is rejected
 * before that probe: under AQE, building its RDD runs the shuffle
 * stages as jobs, and an exchange's partition count says nothing about
 * the scan's splits anyway. Keyed spread
 * (hash on the row id) rather than round-robin: round-robin pays a local
 * sort of the input (sortBeforeRepartition) and the id key feeds the
 * downstream per-doc aggregations the same way the old form did.
 */
object Spread {
  def ifNarrow(df: DataFrame, key: Column): DataFrame = {
    val plan = df.queryExecution.executedPlan
    require(!plan.isInstanceOf[AdaptiveSparkPlanExec] &&
      plan.find(_.isInstanceOf[Exchange]).isEmpty,
      "Spread.ifNarrow takes a scan-projection relation; this plan holds " +
        s"an exchange or is adaptive:\n$plan")
    val parts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    if (df.rdd.getNumPartitions < parts) df.repartition(parts, key) else df
  }
}
