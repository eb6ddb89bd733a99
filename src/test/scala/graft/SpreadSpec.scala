package graft

import graft.pipeline.Spread
import graft.sources.GraftIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Spread.ifNarrow]]'s CONDITIONAL contract (r20 verdict item 3):
 * the pre-compute spread exists for narrow gate-scale scans only — a
 * relation already at (or past) the session parallelism floor must pass
 * through with NO added exchange, so the 100 TB design point never pays
 * a corpus-scale text shuffle for fixture-shape parallelism. An input
 * whose plan holds an exchange is rejected before the partition probe,
 * which would run its shuffle stage as a job. */
class SpreadSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val floor =
    spark.conf.get("spark.sql.shuffle.partitions").toInt // 4 in tests

  test("narrow input gains the keyed spread up to the parallelism floor") {
    val narrow = (1L to 40L).map(i => (i, s"doc $i")).toDF("id", "text")
      .coalesce(1)
    val out = Spread.ifNarrow(narrow, col("id"))
    assert(out.rdd.getNumPartitions === floor)
    // hash-partitioned on the key, visible as a repartition exchange
    assert(out.queryExecution.executedPlan.toString.contains("hashpartitioning"))
    // content unchanged
    assert(out.select(sum(col("id"))).head.getLong(0) === (1L to 40L).sum)
  }

  test("input at or past the floor passes through untouched (same plan)") {
    // a scan already split past the floor (an exchange is rejected below)
    val wide = spark.range(1, 41, 1, floor + 2)
      .select(col("id"), concat(lit("doc "), col("id")).as("text"))
    val out = Spread.ifNarrow(wide, col("id"))
    // no new exchange: the returned relation IS the input
    assert(out.rdd.getNumPartitions === floor + 2)
    assert(out.queryExecution.logical eq wide.queryExecution.logical)
  }

  /** A one-file parquet table read the way builders read fixtures. */
  private lazy val docs = {
    val dir = java.nio.file.Files.createTempDirectory("graft-spread-").toString
    (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    GraftIO.fixture(spark, dir, "documents")
  }

  test("an input with an exchange is rejected before its probe runs a job") {
    // under AQE, building the RDD of this aggregate runs its shuffle stage
    val grouped = docs.groupBy((col("doc_id") % 5).as("k")).count()
    val (_, jobs) = TestSpark.countingJobs(
      intercept[IllegalArgumentException](Spread.ifNarrow(grouped, col("k"))))
    assert(jobs === 0)
  }

  test("a fixture scan is probed with no job") {
    val (out, jobs) = TestSpark.countingJobs(Spread.ifNarrow(docs, col("doc_id")))
    assert(jobs === 0)
    assert(out.rdd.getNumPartitions === floor)
  }
}
