package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the number of Spark jobs one produce call runs. At the small
 * batches a producer sends, per-job fixed cost sets the publish latency,
 * so a sequencing or dedup change that grows the job chain fails here
 * instead of only showing up as a slower benchmark.
 */
class ProduceJobsSpec extends AnyFunSuite {
  import TestSpark._

  test("appendDedup of a 1000-row keyed batch onto a non-empty topic runs at most 16 jobs") {
    // 13 jobs measured on the shared local(4) session; the bound leaves
    // room for AQE's plan choices, not for another level of prefixes
    // (a three-level block prefix ran 39).
    val dir = Scratch.freshDir("produce-jobs")
    try {
      operators.Produce.append(keyedBatch(1000, 4), dir)
      val batch = keyedBatch(1000, 4, start = 1000L)
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val accepted =
        try operators.Produce.appendDedup(spark, batch, dir)
        finally {
          ListenerDrain.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
      assert(accepted === 1000L)
      info(s"appendDedup ran ${jobs.get} jobs")
      assert(jobs.get <= 16)
    } finally Scratch.rm(dir)
  }
}
