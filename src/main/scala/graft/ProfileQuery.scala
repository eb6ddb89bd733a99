package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

/** Driver-side profiling harness: runs the named declared queries
 * through the Bench methodology (noop sink, per-query CacheScope
 * release) with a SparkListener that prints one line per JOB (duration,
 * stage/task counts, call site) so a slow query's wall can be attributed
 * to a specific derivation without re-instrumenting the operator.
 * Repeats each query `SPARK_GRAFT_REPS` times (default 1) — second runs
 * isolate run-scoped memo effects from per-query cost. The TOTAL line
 * carries the output row count, observed on the noop write itself (no
 * extra job), so a degenerate result set shows next to its wall. */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    val spark = GraftSession.local(GraftSession.cpus)

    @volatile var jobInfo = Map.empty[Int, (Long, String, Int)] // start, site, nStages
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobInfo += js.jobId -> (System.nanoTime(), site, js.stageInfos.size)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(0L)
        val tm = si.taskMetrics
        if (ms >= 200 && tm != null)
          println(f"    STAGE ${si.stageId}%4d ${ms / 1e3}%7.2f s  tasks=${si.numTasks}%-3d " +
            f"run=${tm.executorRunTime / 1e3}%7.2f cpu=${tm.executorCpuTime / 1e9}%7.2f " +
            f"gc=${tm.jvmGCTime / 1e3}%5.2f deser=${tm.executorDeserializeTime / 1e3}%5.2f " +
            f"sRead=${tm.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
            f"sWrite=${tm.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
            f"in=${tm.inputMetrics.bytesRead / 1e6}%7.1fMB  ${si.name.take(60)}")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        jobInfo.get(je.jobId).foreach { case (t0, site, nStages) =>
          val sec = (System.nanoTime() - t0) / 1e9
          if (sec >= 0.005)
            println(f"  JOB ${je.jobId}%4d ${sec}%8.3f s  stages=$nStages%-3d $site")
        }
        jobInfo -= je.jobId // bound driver-map growth over a long session
      }
    })

    val names = if (args.nonEmpty) args.toSeq
      else Seq("p123_hnsw_recall")
    for (rep <- 1 to reps; name <- names) {
      val fn = SparkEntry.queries(name)
      println(s"===== $name (rep $rep) =====")
      val t0 = System.nanoTime()
      val rows = Observation()
      fn(spark, sfDir).observe(rows, count(lit(1)).as("n"))
        .write.mode("overwrite").format("noop").save()
      CacheScope.releaseAll()
      println(f"TOTAL $name ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        s"rows=${rows.get("n")} (rep $rep)")
    }
    CacheScope.releaseRun()
    spark.stop()
  }
}
