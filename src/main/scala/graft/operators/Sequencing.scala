package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
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
 *
 * The four public helpers differ only in the block fold (count, sum or
 * max), the fold direction and the row window; all of them run the one
 * private body `prefixBody`. The produce path's keyless router needs a
 * route that depends on the global position, so [[Produce.build]] keeps
 * its own (block, route class) summary instead.
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
   * The one two-level body behind the helpers below: `blockAgg` folds
   * each (key, block) to `_val` (over `_rowval` = `rowVal`, when given),
   * [[exclusiveBlockPrefix]] turns the folds into `_blk_prefix`, the
   * prefix joins back on (key, block), and `rowExpr` combines it with a
   * row window inside (key, block) ordered by `orderCol` (descending
   * when `desc`, which also folds newer blocks first).
   */
  private def prefixBody(env: DataFrame, keyCols: Seq[String], blockCol: String,
      orderCol: String, outCol: String, rowVal: Option[Column], blockAgg: Column,
      isMax: Boolean, desc: Boolean)(rowExpr: (WindowSpec, Column) => Column): DataFrame = {
    val rows = rowVal.fold(env)(env.withColumn("_rowval", _))
    val keys = keyCols :+ blockCol
    val blocks = rows.groupBy(keys.map(col): _*).agg(blockAgg.as("_val"))
    val offsets = exclusiveBlockPrefix(blocks, keyCols, blockCol, isMax, desc,
      "_blk_prefix")
    val withinW = Window.partitionBy(keys.map(col): _*)
      .orderBy(if (desc) col(orderCol).desc else col(orderCol))
    rows.join(offsets, keys)
      .withColumn(outCol, rowExpr(withinW, col("_blk_prefix")))
      .drop("_blk_prefix" +: rowVal.map(_ => "_rowval").toSeq: _*)
  }

  /**
   * 0-based position of each row within its key group, ordered by
   * (blockCol, orderCol). Requires orderCol unique within a block
   * (MessageId order gives this for free). `keyCols` may be empty — a
   * dense GLOBAL sequence — or constant-valued; neither creates an
   * unpartitioned row window.
   */
  def keyedSequence(env: DataFrame, keyCols: Seq[String], blockCol: String,
      orderCol: String, outCol: String): DataFrame =
    prefixBody(env, keyCols, blockCol, orderCol, outCol, None, count(lit(1)),
      isMax = false, desc = false) { (w, prefix) => prefix + row_number().over(w) - 1 }

  /**
   * Exclusive running max of `valueExpr` per key in (blockCol, orderCol)
   * order — the watermark shape: for each row, the max over all strictly
   * earlier rows of its key. Within-block exclusive max combined with the
   * prefix max of all earlier blocks.
   */
  def keyedRunningMaxExcl(env: DataFrame, keyCols: Seq[String], blockCol: String,
      orderCol: String, valueExpr: Column, outCol: String): DataFrame =
    prefixBody(env, keyCols, blockCol, orderCol, outCol, Some(valueExpr),
      max(col("_rowval")), isMax = true, desc = false) { (w, prefix) =>
      greatest(
        coalesce(max(col("_rowval")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(Long.MinValue)),
        coalesce(prefix, lit(Long.MinValue)))
    }.withColumn(outCol, when(col(outCol) === Long.MinValue, lit(null)).otherwise(col(outCol)))

  /**
   * Oldest-first EXCLUSIVE running sum of `valueExpr` per key in
   * (blockCol, orderCol) order — for each row, the total of all strictly
   * earlier rows of its key (0 for the first). The byte-quota shape:
   * which fixed-size bucket does this row's first byte fall in.
   */
  def keyedCumSumExcl(env: DataFrame, keyCols: Seq[String], blockCol: String,
      orderCol: String, valueExpr: Column, outCol: String): DataFrame =
    prefixBody(env, keyCols, blockCol, orderCol, outCol, Some(valueExpr),
      sum(col("_rowval")), isMax = false, desc = false) { (w, prefix) =>
      prefix + coalesce(sum(col("_rowval"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    }

  /**
   * Newest-first running sum of `valueExpr` per key (retention-style
   * cumulative size): within-block running sum + the prefix total of all
   * newer blocks.
   */
  def keyedCumSumDesc(env: DataFrame, keyCols: Seq[String], blockCol: String,
      orderCol: String, valueExpr: Column, outCol: String): DataFrame =
    prefixBody(env, keyCols, blockCol, orderCol, outCol, Some(valueExpr),
      sum(col("_rowval")), isMax = false, desc = true) { (w, prefix) =>
      prefix + sum(col("_rowval")).over(w.rowsBetween(Window.unboundedPreceding, 0))
    }
}
