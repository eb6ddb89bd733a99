package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * One benchmark run inside one JVM: set up, run the named workload, and
 * write the run record (`--out`) that `perfbench/run.py` turns into the
 * printed metrics. The record carries every operation's status, the
 * end-to-end metrics, the per-layer metrics of a traced run, the
 * environment, and the outputs still to be checked outside the JVM.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val tracer = new Tracer
    val record = o.workload match {
      case "log_surface" => LogSurface.run(o, tracer)
      case "produce_consume" => ProduceConsume.run(o, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(Paths.get(o.out), Json(record).getBytes(StandardCharsets.UTF_8))
    if (o.trace) {
      val runId = s"${o.workload}-${o.seed}"
      val lines = tracer.all.sortBy(_.startNs).map { s =>
        Json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      }
      Files.write(Paths.get(o.work, "spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    // streaming and cleaner threads must not keep the JVM alive
    System.exit(0)
  }
}

/** Per-layer metric names (all reported by every workload; 0 where a layer
 * does not take part) and the helpers that derive them from the trace. */
object Layers {
  val Families: Seq[String] = Seq("a", "f", "m", "o", "r", "s", "t", "u", "w")
  val SelfLayers: Seq[String] =
    Seq("query", "build", "action", "plan", "job", "stage", "produce", "trigger")

  val names: Seq[String] = Seq(
    "queries.build_s", "queries.build_jobs",
    "plan.analysis_s", "plan.optimize_s", "plan.physical_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_wait_s",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.cores_busy",
    "exec.input_mb", "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.max_task_share") ++
    Families.map(f => s"family.$f.wall_s") ++ Seq(
    "cache.stored_mb_peak", "cache.memo_builds",
    "setup.session_s", "setup.prefault_s", "setup.warmup_s",
    "produce.calls", "produce.append_s",
    "produce.rows_accepted", "produce.accept_ratio", "produce.bytes_written",
    "streaming.batches", "streaming.trigger_p50_ms", "streaming.addBatch_ms",
    "streaming.latestOffset_ms", "streaming.queryPlanning_ms", "streaming.walCommit_ms",
    "streaming.state_rows", "streaming.state_mb",
    "topic.backlog_files_end", "topic.files",
    "bench.steal_frac", "bench.generator_lag_p90_ms", "bench.trace_overhead") ++
    SelfLayers.map(l => s"self.${l}_s")

  /** Every name, with `values` filled in; a value under an unknown name is
   * a programming error. */
  def complete(values: Map[String, Double]): Map[String, Double] = {
    val unknown = values.keySet -- names
    require(unknown.isEmpty, s"unknown per-layer metrics: ${unknown.mkString(", ")}")
    names.map(n => n -> values.getOrElse(n, 0.0)).toMap
  }

  /** Executor work of the traced calls, divided by `per` (passes), with
   * `wallS` the traced wall the cores were available for. */
  def exec(tracer: Tracer, per: Double, wallS: Double, cores: Int): Map[String, Double] = {
    tracer.drain()
    val st = tracer.exec.map(_.snapshot).getOrElse(Map.empty)
    val xs = st.values.toSeq
    def sum(f: ExecStats => Long): Double = xs.map(f).sum.toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "queries.build_jobs" -> st.get("build").map(_.jobs.toDouble).getOrElse(0.0) / per,
      "exec.jobs" -> sum(_.jobs) / per,
      "exec.stages" -> sum(_.stages) / per,
      "exec.tasks" -> sum(_.tasks) / per,
      "exec.task_wait_s" -> sum(_.waitMs) / 1e3 / per,
      "exec.run_s" -> sum(_.runMs) / 1e3 / per,
      "exec.cpu_s" -> sum(_.cpuNs) / 1e9 / per,
      "exec.gc_s" -> sum(_.gcMs) / 1e3 / per,
      "exec.cores_busy" -> (if (wallS > 0) sum(_.runMs) / 1e3 / (wallS * cores) else 0.0),
      "exec.input_mb" -> sum(_.inputBytes) / mb / per,
      "exec.shuffle_read_mb" -> sum(_.shuffleRead) / mb / per,
      "exec.shuffle_write_mb" -> sum(_.shuffleWrite) / mb / per,
      "exec.spill_mb" -> sum(_.spill) / mb / per,
      "exec.max_task_share" ->
        (if (sum(_.stageTaskMs) > 0) sum(_.maxTaskMs) / sum(_.stageTaskMs) else 0.0))
  }

  /** Planning phases and self time per layer of the spans `within`,
   * divided by `per`. */
  def spans(tracer: Tracer, within: Span => Boolean, per: Double): Map[String, Double] = {
    val plan = tracer.all.filter(s => s.layer == "plan" && within(s))
    def phase(n: String) = plan.filter(_.name == n).map(_.durS).sum / per
    val self = tracer.selfTimeS(within)
    Map(
      "plan.analysis_s" -> phase("analysis"),
      "plan.optimize_s" -> phase("optimization"),
      "plan.physical_s" -> phase("planning")) ++
      SelfLayers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / per)
  }
}
