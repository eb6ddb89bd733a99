package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Session settings every query needs regardless of who built the
   * SparkSession (the driver smoke-checks `entry` with its own). */
  def prepare(spark: SparkSession): SparkSession = {
    // A parquet TIMESTAMP(NANOS) column (EventLog.raw accepts an events.ts
    // of that type; the fixtures write MICROS) surfaces as an epoch LONG.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Naive parquet timestamps (orders/lineitem dates) as TIMESTAMP in the
    // UTC session, not TIMESTAMP_NTZ — keeps unix_millis/date arithmetic
    // available and matches the oracle's naive-timestamp view byte for byte.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // The k-bounded top-k aggregates (min_k_pairs — the ANN graph-build
    // kernel) run under ObjectHashAggregateExec, whose DEFAULT behavior
    // falls back to sort-based aggregation past 128 groups per
    // partition — which would re-introduce exactly the corpus-scale
    // sort the aggregate exists to avoid. The buffers are k-bounded
    // (≤ a few hundred bytes each), so a million hashed groups per
    // partition is far cheaper than sorting the ~N^1.5 pair relation.
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
    spark
  }

  private def groups: Seq[QueryGroup] =
    Seq(LogQueries, RelationalQueries, PipelineQueries, SchemaQueries,
      FunctionQueries, SurfaceQueries, CorpusQueries)

  private lazy val allDefs: Map[String, QueryDef] =
    groups.flatMap(_.defs).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
   * the TableView materialization (latest value per key) of the events topic. */
  def entry(spark: SparkSession): DataFrame = {
    prepare(spark)
    allDefs("a5_tableview").fn(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (name, qd) =>
      name -> ((s: SparkSession, dir: String) => qd.fn(prepare(s), dir))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.collect { case (name, QueryDef(_, Some(sql))) => name -> sql }
}
