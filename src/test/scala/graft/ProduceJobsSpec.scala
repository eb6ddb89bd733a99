package graft

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
      val (accepted, jobs) = countingJobs(operators.Produce.appendDedup(spark, batch, dir))
      assert(accepted === 1000L)
      info(s"appendDedup ran $jobs jobs")
      assert(jobs <= 16)
    } finally Scratch.rm(dir)
  }

  test("appendDedup of a 1000-row keyless batch onto a non-empty topic runs at most 13 jobs") {
    // the round-robin route sequences in the same single pass as the
    // keyed one; the two-round keyless chain it replaced ran 15
    val dir = Scratch.freshDir("produce-jobs-keyless")
    try {
      operators.Produce.append(keylessBatch(1000, 4), dir)
      val batch = keylessBatch(1000, 4, start = 1000L)
      val (accepted, jobs) = countingJobs(operators.Produce.appendDedup(spark, batch, dir))
      assert(accepted === 1000L)
      info(s"appendDedup ran $jobs jobs")
      assert(jobs <= 13)
    } finally Scratch.rm(dir)
  }
}
