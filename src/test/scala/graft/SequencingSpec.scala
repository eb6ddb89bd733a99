package graft

import graft.operators.Sequencing
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The two-level Sequencing helpers must equal the naive single-window
 * formulation they replace (the one that is scale-hostile but obviously
 * correct). Randomized rows with seeded RNG; block ids are sparse and far
 * apart (0, 1, 2, B, B + 1, 3B) so the per-key block prefix must not
 * assume contiguous blocks, and a constant-key set guards the "Catalyst
 * folds constant partition keys away" regression.
 */
class SequencingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val B = 1L << 20
  private def data(seed: Long, constantKey: Boolean) = {
    val rnd = new scala.util.Random(seed)
    val blocks = Seq(0L, 1L, 2L, B, B + 1, 3 * B)
    (0 until 240).map { i =>
      val key = if (constantKey) "k" else s"k${rnd.nextInt(3)}"
      (key, blocks(rnd.nextInt(blocks.length)), i.toLong,
        rnd.nextInt(1000).toLong - 200)
    }.toDF("key", "blk", "ord", "v")
  }

  private def rows(df: org.apache.spark.sql.DataFrame, c: String) =
    df.select(col("key"), col("blk"), col("ord"), col(c))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))

  for (constantKey <- Seq(false, true)) {
    val tag = if (constantKey) "constant key" else "multi key"

    test(s"keyedSequence == naive row_number ($tag)") {
      val df = data(1, constantKey)
      val fast = Sequencing.keyedSequence(df, Seq("key"), "blk", "ord", "seq")
      val naive = df.withColumn("seq",
        row_number().over(Window.partitionBy(col("key"))
          .orderBy(col("blk"), col("ord"))).cast("long") - 1)
      assert(rows(fast, "seq").toSeq === rows(naive, "seq").toSeq)
    }

    test(s"keyedRunningMaxExcl == naive exclusive window max ($tag)") {
      val df = data(2, constantKey)
      val fast = Sequencing.keyedRunningMaxExcl(df, Seq("key"), "blk", "ord",
        col("v"), "wm")
      val naive = df.withColumn("wm",
        max(col("v")).over(Window.partitionBy(col("key"))
          .orderBy(col("blk"), col("ord"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      assert(rows(fast, "wm").toSeq === rows(naive, "wm").toSeq)
    }

    test(s"keyedCumSumExcl == naive exclusive running sum ($tag)") {
      val df = data(5, constantKey)
      val fast = Sequencing.keyedCumSumExcl(df, Seq("key"), "blk", "ord",
        col("v"), "cum")
      val naive = df.withColumn("cum",
        coalesce(sum(col("v")).over(Window.partitionBy(col("key"))
          .orderBy(col("blk"), col("ord"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      assert(rows(fast, "cum").toSeq === rows(naive, "cum").toSeq)
    }

    test(s"keyedCumSumDesc == naive newest-first running sum ($tag)") {
      val df = data(3, constantKey)
      val fast = Sequencing.keyedCumSumDesc(df, Seq("key"), "blk", "ord",
        col("v"), "cum")
      val naive = df.withColumn("cum",
        sum(col("v")).over(Window.partitionBy(col("key"))
          .orderBy(col("blk").desc, col("ord").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      assert(rows(fast, "cum").toSeq === rows(naive, "cum").toSeq)
    }
  }
}
