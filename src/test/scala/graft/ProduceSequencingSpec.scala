package graft

import graft.functions.GraftFunctions.keyHashPartition
import graft.operators.Produce
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * `Produce.build` stamps ids from one (block, route class) summary; it
 * must equal the naive formulation: the global sequence is a row_number
 * over the whole batch, a keyed row routes murmur3(key) % n, a keyless
 * row routes on its global position, and the entry sequence is a
 * row_number within the partition. Order values are sparse and shuffled,
 * and 7-entry ledgers make a 500-row batch span dozens of blocks and
 * ledgers per partition.
 */
class ProduceSequencingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val n = 4
  private val ledgerSize = 7L
  private val start = 1000L

  private def raw(seed: Long, keyed: Int => Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val ords = rnd.shuffle((0L until 5000L).toVector).take(500)
    ords.zipWithIndex.map { case (o, i) =>
      (o, if (keyed(i)) Some(s"k${rnd.nextInt(50)}") else None, i.toDouble)
    }.toDF("ord", "key", "value")
  }

  private def naive(batch: DataFrame): DataFrame = {
    val g = row_number().over(Window.orderBy(col("ord"))) - 1
    batch.withColumn("_g", g)
      .withColumn("_pt", when(col("key").isNotNull, keyHashPartition(col("key"), n))
        .otherwise(pmod(col("_g"), lit(n))).cast("int"))
      .withColumn("_entry",
        row_number().over(Window.partitionBy(col("_pt")).orderBy(col("ord"))) - 1)
      .select(col("ord"), col("_pt").as("partition_id"),
        (col("_entry") / ledgerSize).cast("long").as("ledger_id"),
        (col("_entry") % ledgerSize).cast("long").as("entry_id"),
        (col("_g") + start).cast("long").as("msg_offset"),
        (col("_g") + start).cast("long").as("sequence_id"))
  }

  private def ids(df: DataFrame) =
    df.select("ord", "partition_id", "ledger_id", "entry_id", "msg_offset", "sequence_id")
      .as[(Long, Int, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq

  for ((tag, keyed) <- Seq[(String, Int => Boolean)](
      "keyed" -> (_ => true), "keyless" -> (_ => false), "mixed" -> (_ % 3 != 0))) {
    test(s"Produce.build ids == naive row_number reference ($tag)") {
      val batch = raw(tag.hashCode.toLong, keyed)
      val built = Produce.build(batch, "t", "p", n, "ord", 0L,
        startOffset = start, startSeq = start, ledgerSize = ledgerSize)
      // value is unique per row: it carries each row's order value back
      val got = ids(built.join(batch.select(col("ord"), col("value")), "value"))
      assert(got === ids(naive(batch)))
      assert(got.map(_._2).distinct.size === n)
    }
  }
}
