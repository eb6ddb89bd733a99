package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Scale-safe per-key running sequences.
 *
 * A bare `Window.partitionBy(lowCardinalityKey).orderBy(...)` moves every
 * message of a key through one task — dead at 100 TB when the key is
 * `topic` (a handful of values), and Catalyst folds a CONSTANT key away
 * entirely ("No Partition Defined" = the whole input in one task). These
 * helpers compute running quantities in two levels:
 *
 *   1. the expensive row window runs inside (key, block) — high-
 *      cardinality, parallel, already clustered in storage
 *      (block = ledger);
 *   2. the per-block summary — one row per (key, block), 1/blockSize of
 *      the log — pays one exclusive window per key, and the result joins
 *      back to the rows on (key, block), which AQE broadcasts when small.
 *
 * The bound: one task per key holds rows/blockSize summary rows — about
 * 10^8 for a 100 TB topic at 1k-entry ledgers, tens of bytes each — and
 * never a message row.
 */
object Sequencing {

  /**
   * Exclusive prefix fold of `_val` over earlier (later when `desc`)
   * blocks of the same key — level 2 above. Input: one row per
   * (key, block) with a `_val` column; output: those rows plus `outCol`
   * = fold of all strictly earlier blocks' `_val` (a max is null and a
   * sum 0 when there are none).
   */
  private[operators] def exclusiveBlockPrefix(blocks: DataFrame, keyCols: Seq[String],
      blockCol: String, isMax: Boolean, desc: Boolean, outCol: String,
      keepVal: Boolean = false): DataFrame = {
    val ord = if (desc) col(blockCol).desc else col(blockCol).asc
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix =
      if (isMax) max(col("_val")).over(w)
      else coalesce(sum(col("_val")).over(w), lit(0L))
    val out = blocks.withColumn(outCol, prefix)
    if (keepVal) out else out.drop("_val")
  }

  /**
   * 0-based position of each row within its key group, ordered by
   * (blockCol, orderCol). Requires orderCol unique within a block
   * (MessageId order gives this for free). `keyCols` may be empty — the
   * dense GLOBAL sequence — or constant-valued; neither creates an
   * unpartitioned window.
   */
  def keyedSequence(env: DataFrame, keyCols: Seq[String], blockCol: String,
      orderCol: String, outCol: String): DataFrame = {
    val blocks = env.groupBy((keyCols :+ blockCol).map(col): _*)
      .agg(count(lit(1)).as("_val"))
    val offsets = exclusiveBlockPrefix(blocks, keyCols, blockCol,
      isMax = false, desc = false, "_blk_prefix")
    val withinW = Window.partitionBy((keyCols :+ blockCol).map(col): _*)
      .orderBy(col(orderCol))
    env.join(offsets, keyCols :+ blockCol)
      .withColumn(outCol, col("_blk_prefix") + row_number().over(withinW) - 1)
      .drop("_blk_prefix")
  }

  /** Dense 0-based GLOBAL position in (blockCol, orderCol) order — the
   * produce path's total order ([[keyedSequence]] with no keys). */
  def globalSequence(env: DataFrame, blockCol: String, orderCol: String,
      outCol: String): DataFrame =
    keyedSequence(env, Seq.empty, blockCol, orderCol, outCol)

  /**
   * Exclusive running max of `valueExpr` per key in (blockCol, orderCol)
   * order — the watermark shape: for each row, the max over all strictly
   * earlier rows of its key. Within-block exclusive max combined with the
   * prefix max of all earlier blocks.
   */
  def keyedRunningMaxExcl(env: DataFrame, keyCols: Seq[String], blockCol: String,
      orderCol: String, valueExpr: Column, outCol: String): DataFrame = {
    val valued = env.withColumn("_rowval", valueExpr)
    val blocks = valued.groupBy((keyCols :+ blockCol).map(col): _*)
      .agg(max(col("_rowval")).as("_val"))
    val offsets = exclusiveBlockPrefix(blocks, keyCols, blockCol,
      isMax = true, desc = false, "_blk_prefix_max")
    val withinW = Window.partitionBy((keyCols :+ blockCol).map(col): _*)
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    valued.join(offsets, keyCols :+ blockCol)
      .withColumn(outCol,
        greatest(coalesce(max(col("_rowval")).over(withinW), lit(Long.MinValue)),
          coalesce(col("_blk_prefix_max"), lit(Long.MinValue))))
      .withColumn(outCol, when(col(outCol) === Long.MinValue, lit(null)).otherwise(col(outCol)))
      .drop("_rowval", "_blk_prefix_max")
  }

  /**
   * Oldest-first EXCLUSIVE running sum of `valueExpr` per key in
   * (blockCol, orderCol) order — for each row, the total of all strictly
   * earlier rows of its key (0 for the first). The byte-quota shape:
   * which fixed-size bucket does this row's first byte fall in.
   */
  def keyedCumSumExcl(env: DataFrame, keyCols: Seq[String], blockCol: String,
      orderCol: String, valueExpr: Column, outCol: String): DataFrame = {
    val sized = env.withColumn("_rowval", valueExpr)
    val blocks = sized.groupBy((keyCols :+ blockCol).map(col): _*)
      .agg(sum(col("_rowval")).as("_val"))
    val offsets = exclusiveBlockPrefix(blocks, keyCols, blockCol,
      isMax = false, desc = false, "_blk_prefix")
    val withinW = Window.partitionBy((keyCols :+ blockCol).map(col): _*)
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    sized.join(offsets, keyCols :+ blockCol)
      .withColumn(outCol,
        col("_blk_prefix") + coalesce(sum(col("_rowval")).over(withinW), lit(0L)))
      .drop("_rowval", "_blk_prefix")
  }

  /**
   * Newest-first running sum of `valueExpr` per key (retention-style
   * cumulative size): within-block running sum + the prefix total of all
   * newer blocks.
   */
  def keyedCumSumDesc(env: DataFrame, keyCols: Seq[String], blockCol: String,
      orderCol: String, valueExpr: Column, outCol: String): DataFrame = {
    val sized = env.withColumn("_rowval", valueExpr)
    val blocks = sized.groupBy((keyCols :+ blockCol).map(col): _*)
      .agg(sum(col("_rowval")).as("_val"))
    val offsets = exclusiveBlockPrefix(blocks, keyCols, blockCol,
      isMax = false, desc = true, "_blk_prefix")
    val withinW = Window.partitionBy((keyCols :+ blockCol).map(col): _*)
      .orderBy(col(orderCol).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    sized.join(offsets, keyCols :+ blockCol)
      .withColumn(outCol, col("_blk_prefix") + sum(col("_rowval")).over(withinW))
      .drop("_rowval", "_blk_prefix")
  }
}
