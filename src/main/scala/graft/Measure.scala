package graft

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/**
 * What one body cost, split into its two phases: `build` (constructing a
 * DataFrame: analysis, and every job a builder runs eagerly) and `action`
 * (running it). One listener counts the jobs, stages, tasks and task
 * metrics each phase submitted, and keeps the planning trackers of the
 * queries the action executed; the Janino compile count and host CPU
 * steal come from counters Spark and the kernel already keep. The
 * listener bus is drained before, between and after the phases, outside
 * both timed intervals, so each phase's tally holds every event it
 * caused and none of a neighbour's. The same split as Structured
 * Streaming's per-trigger phase durations, for batch queries.
 */
object Measure {

  /** Work one phase ran: Spark jobs, completed stages and tasks, the
   * tasks' executor run, CPU and GC time, the bytes they read, shuffled
   * and spilled, and the generated classes Janino compiled meanwhile
   * (compile milliseconds are not summable from Spark's histogram). */
  final case class Work(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      runMs: Long = 0L, cpuNs: Long = 0L, gcMs: Long = 0L,
      inputBytes: Long = 0L, shuffleReadBytes: Long = 0L,
      shuffleWriteBytes: Long = 0L, spillBytes: Long = 0L,
      compiles: Long = 0L) {
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"run_s":${fmt(runMs / 1e3)},""" +
        s""""cpu_s":${fmt(cpuNs / 1e9)},"gc_s":${fmt(gcMs / 1e3)},""" +
        s""""input_bytes":$inputBytes,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
        s""""compiles":$compiles}"""
  }

  /** One Spark job: the phase it started in, its wall, its stage count
   * (skipped stages included), its finished tasks and its call site. */
  final case class Job(id: Int, phase: String, seconds: Double, stages: Int,
      tasks: Int, site: String) {
    def json: String =
      s"""{"id":$id,"phase":"$phase","s":${fmt(seconds)},"stages":$stages,""" +
        s""""tasks":$tasks,"site":"${site.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
  }

  /** The cost of one body. `status` is `ok`, or `FAILED:<class>` when the
   * build or the action threw; a failed body reports 0 seconds, so no sum
   * of records counts it as a fast success. `planS` is part of `actionS`:
   * the analysis, optimization and planning phases the action's own
   * queries recorded in their `QueryPlanningTracker`s. `stealFrac` is the
   * share of host CPU time stolen over the body (None without
   * `/proc/stat`). */
  final case class Record(status: String, buildS: Double, actionS: Double,
      planS: Double, build: Work, action: Work, stealFrac: Option[Double],
      jobDetail: Seq[Job]) {
    def ok: Boolean = status == "ok"
    def seconds: Double = buildS + actionS
    def json: String =
      s"""{"status":"$status","build_s":${fmt(buildS)},"action_s":${fmt(actionS)},""" +
        s""""plan_s":${fmt(planS)},"build":${build.json},"action":${action.json},""" +
        s""""steal_frac":${stealFrac.fold("null")(fmt)},""" +
        s""""job_detail":${jobDetail.map(_.json).mkString("[", ",", "]")}}"""
  }

  private[graft] def fmt(v: Double): String = BigDecimal(v)
    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  /** Runs `build`, then `action` on what it built, on `spark`'s context,
   * and returns the action's outcome with the record of both. A throw in
   * either phase is returned, never rethrown; the action does not run
   * after a failed build. */
  def apply[B, A](spark: SparkSession)(build: => B)(
      action: B => A): (Either[Throwable, A], Record) = {
    val sc = spark.sparkContext
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val probe = new Probe
    ListenerDrain.drain(sc)
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    try {
      val cpu0 = cpuTicks()
      val c0 = compiles.getCount
      val (built, buildS, _, _) = timed(sc)(build)
      val c1 = compiles.getCount
      probe.enterAction()
      val (result, actionS, a0, a1) = built match {
        case Right(b) => timed(sc)(action(b))
        case Left(t) => (Left(t), 0.0, 0L, 0L)
      }
      val c2 = compiles.getCount
      val steal = for (x <- cpu0; y <- cpuTicks())
        yield if (y._2 > x._2) (y._1 - x._1).toDouble / (y._2 - x._2) else 0.0
      val ok = result.isRight
      val (bw, aw, jobs, planS) = probe.snapshot(a0, a1)
      (result, Record(result.fold("FAILED:" + _.getClass.getName, _ => "ok"),
        if (ok) buildS else 0.0, if (ok) actionS else 0.0, if (ok) planS else 0.0,
        bw.copy(compiles = c1 - c0), aw.copy(compiles = c2 - c1), steal, jobs))
    } finally {
      spark.listenerManager.unregister(probe)
      sc.removeSparkListener(probe)
    }
  }

  /** Runs `body`, then drains the bus: the outcome, the body's own
   * seconds, and its start and end in epoch milliseconds. */
  private def timed[T](sc: SparkContext)(
      body: => T): (Either[Throwable, T], Double, Long, Long) = {
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case t: Throwable => Left(t) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    ListenerDrain.drain(sc)
    (r, seconds, ms0, ms1)
  }

  /** (steal, total) jiffies of the host's CPUs, from `/proc/stat`. */
  private def cpuTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    }.toOption

  private final class Tally {
    var jobs, stages, tasks = 0
    var runMs, cpuNs, gcMs, input, shuffleRead, shuffleWrite, spill = 0L
    def work: Work = Work(jobs, stages, tasks, runMs, cpuNs, gcMs, input,
      shuffleRead, shuffleWrite, spill)
  }

  /** The one listener: scheduler events go to the tally of the phase that
   * is current when they are delivered (the drains make that the phase
   * that caused them); executed queries are kept from the action only. */
  private final class Probe extends SparkListener with QueryExecutionListener {
    private val build, action = new Tally
    private var inAction = false
    private val open = mutable.Map.empty[Int, (String, Long, Int, String)]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val jobTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    private val done = mutable.ArrayBuffer.empty[Job]
    private val trackers = mutable.ArrayBuffer.empty[QueryPlanningTracker]
    private val executionSites = mutable.Map.empty[String, String]

    private def tally = if (inAction) action else build

    def enterAction(): Unit = synchronized { inAction = true }

    /** Build work, action work, the jobs by id, and the seconds of
     * [from, to] (epoch ms) that the action's planning phases cover. */
    def snapshot(from: Long, to: Long): (Work, Work, Seq[Job], Double) = synchronized {
      val spans = trackers.distinct.flatMap(_.phases.values)
        .map(p => (math.max(p.startTimeMs, from), math.min(p.endTimeMs, to)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered, end = 0L
      spans.foreach { case (a, b) =>
        covered += math.max(0L, b - math.max(a, end))
        end = math.max(end, b)
      }
      (build.work, action.work, done.sortBy(_.id).toList, covered / 1e3)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      tally.jobs += 1
      e.stageIds.foreach(stageJob(_) = e.jobId)
      // a query's jobs may be submitted from AQE threads: their site is
      // the query's own; any other job's result stage, created last, is
      // named after the job's call site
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(executionSites.get)
        .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("")(_.name))
      open(e.jobId) = (if (inAction) "action" else "build", e.time,
        e.stageInfos.size, site)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { case (phase, t0, stages, site) =>
        done += Job(e.jobId, phase, (e.time - t0) / 1e3, stages, jobTasks(e.jobId), site)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { tally.stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t = tally
      t.tasks += 1
      stageJob.get(e.stageId).foreach(j => jobTasks(j) += 1)
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.input += m.inputMetrics.bytesRead
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { executionSites(s.executionId.toString) = s.description }
      case _ =>
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = executed(qe)

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = executed(qe)

    private def executed(qe: QueryExecution): Unit =
      synchronized { if (inAction) trackers += qe.tracker }
  }
}
