package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** One traced interval. Times are epoch nanoseconds; `parent` 0 is a root. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/**
 * Spans around the benchmark's calls into each layer (build, action,
 * produce call, trigger), plus job, stage and planning-phase children
 * from Spark's own listeners. Spans stay in memory; the run writes them
 * out at the end. A disabled tracer runs every body untouched.
 */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  @volatile private var sc: Option[SparkContext] = None
  @volatile private var listener: Option[ExecListener] = None
  @volatile var enabled = false

  def nowNs(): Long = epochOffsetNs + System.nanoTime()
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.synchronized { spans += s }
  def all: Seq[Span] = spans.synchronized(spans.toList)
  def exec: Option[ExecListener] = listener

  /** Start tracing: spans from here on, and Spark's jobs, stages and
   * tasks of `ctx` through a listener. */
  def attach(ctx: SparkContext): Unit = {
    val l = new ExecListener(this)
    ctx.addSparkListener(l)
    sc = Some(ctx); listener = Some(l); enabled = true
  }

  /** Stop tracing; what was recorded stays readable. */
  def detach(): Unit = {
    drain()
    for (c <- sc; l <- listener) c.removeSparkListener(l)
    enabled = false
  }

  /** Let the listener bus deliver every event posted so far. */
  def drain(): Unit = sc.foreach(org.apache.spark.BenchBus.drain)

  /** Run `body` as a span of `layer`; Spark jobs it submits from this
   * thread are attributed to the span and its layer. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current.get()
      val props = sc.map(c => (c, c.getLocalProperty(Tracer.LayerKey),
        c.getLocalProperty(Tracer.SpanKey)))
      props.foreach { case (c, _, _) =>
        c.setLocalProperty(Tracer.LayerKey, layer)
        c.setLocalProperty(Tracer.SpanKey, id.toString)
      }
      current.set(id)
      val t0 = nowNs()
      try body
      finally {
        add(Span(id, parent, layer, name, t0, nowNs()))
        current.set(parent)
        props.foreach { case (c, l, s) =>
          c.setLocalProperty(Tracer.LayerKey, l)
          c.setLocalProperty(Tracer.SpanKey, s)
        }
      }
    }

  /** Catalyst phases of an executed DataFrame, as `plan` children of the
   * current span (analysis ran while the query was built). */
  def planPhases(df: DataFrame): Unit = if (enabled) {
    val parent = current.get()
    df.queryExecution.tracker.phases.foreach { case (phase, s) =>
      add(Span(newId(), parent, "plan", phase, s.startTimeMs * 1000000L,
        s.endTimeMs * 1000000L))
    }
  }

  /** Self time per layer: each span's duration minus the part of it that
   * its children cover. */
  def selfTimeS(within: Span => Boolean): Map[String, Double] = {
    val ss = all.filter(within)
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val covered = Tracer.union(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        s.durS - covered / 1e9
      }.sum
    }
  }
}

object Tracer {
  val LayerKey = "perfbench.layer"
  val SpanKey = "perfbench.span"

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** Executor work attributed to one layer. */
final class ExecStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill, waitMs = 0L
  var maxTaskMs, stageTaskMs = 0L
}

/** Job, stage and task metrics by the layer of the span that submitted
 * the job; jobs and stages also become spans. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  private val byLayer = mutable.Map.empty[String, ExecStats]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val stageParent = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageLaunches = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobs = mutable.Map.empty[Int, (Long, Long, Long)]

  private def stats(layer: String) = byLayer.getOrElseUpdate(layer, new ExecStats)

  def snapshot: Map[String, ExecStats] = synchronized(byLayer.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val layer = p.flatMap(x => Option(x.getProperty(Tracer.LayerKey))).getOrElse("other")
    val parent = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
    val id = tracer.newId()
    stats(layer).jobs += 1
    e.stageIds.foreach { s =>
      stageLayer.getOrElseUpdate(s, layer)
      stageParent.getOrElseUpdate(s, id)
    }
    jobs(e.jobId) = (id, parent, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (id, parent, t0) =>
      tracer.add(Span(id, parent, "job", s"job ${e.jobId}", t0 * 1000000L, e.time * 1000000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val s = stats(stageLayer.getOrElse(e.stageId, "other"))
    s.tasks += 1
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stats(stageLayer.getOrElse(info.stageId, "other"))
    s.stages += 1
    // time the stage's tasks waited for a slot: launch minus submission
    val launches = stageLaunches.remove(info.stageId).getOrElse(Nil)
    info.submissionTime.foreach(sub => s.waitMs += launches.map(l => math.max(0L, l - sub)).sum)
    stageTasks.remove(info.stageId).filter(_.size >= 2).foreach { runs =>
      s.maxTaskMs += runs.max
      s.stageTaskMs += runs.sum
    }
    for (sub <- info.submissionTime; end <- info.completionTime)
      tracer.add(Span(tracer.newId(), stageParent.getOrElse(info.stageId, 0L), "stage",
        s"stage ${info.stageId}", sub * 1000000L, end * 1000000L))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageLaunches.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.launchTime
  }
}
