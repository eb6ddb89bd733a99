package perfbench

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A query that throws is recorded by name as failed:<class>, counts in
 * failed_frac, and adds nothing to the pass wall. */
class FailureHonestySpec extends AnyFunSuite {

  test("a throwing query is failed:<class>, counted, and left out of wall_s") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      graft.SparkEntry.prepare(spark)
      val dir = Files.createTempDirectory("perfbench-spec").toString
      spark.range(20).select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"),
        (col("id") % 3).as("user_id"), lit("click").as("event_type"),
        col("id").cast("double").as("value"), lit("{\"k\": 1}").as("props"))
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
        "a_ok" -> ((s, _) => s.range(5).toDF()),
        "b_throws" -> ((_, _) => { Thread.sleep(1500); throw new IllegalStateException("boom") }),
        "c_ok" -> ((s, _) => s.range(3).selectExpr("id * 2 AS x")))
      val t0 = System.nanoTime()
      val ops = LogSurface.pass(spark, dir, Seq("a_ok", "b_throws", "c_ok"), 1, new Tracer,
        queries).map(_._1)
      val elapsed = (System.nanoTime() - t0) / 1e9
      val summary = BatchSummary(ops)

      val failed = ops.find(_.name == "b_throws").get
      assert(failed.status == "failed:java.lang.IllegalStateException")
      assert(failed.wallS >= 1.5)
      assert(ops.filter(_.name != "b_throws").forall(_.ok))
      assert(summary.attempted == 4) // the shared derivation plus three queries
      assert(summary.failed == 1)
      assert(summary.failedFrac == 0.25)
      assert(summary.failedNames == Seq("b_throws failed:java.lang.IllegalStateException"))
      assert(summary.wallS == ops.filter(_.ok).map(_.wallS).sum)
      assert(summary.wallS <= elapsed - 1.5)
      assert(summary.queryWalls.size == 2)
    } finally { graft.CacheScope.releaseRun(); spark.stop() }
  }
}
