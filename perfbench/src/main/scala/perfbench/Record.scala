package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Minimal JSON writer for the run record (no extra dependency). Doubles
 * print with all their digits. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolation quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/**
 * One timed call into the engine. `status` is `ok` or
 * `failed:<exception class>`; a failed call keeps its name and status but
 * contributes no time to any timing.
 */
final case class OpRecord(name: String, pass: Int, status: String,
    startNs: Long, endNs: Long, buildNs: Long) {
  def ok: Boolean = status == "ok"
  def wallS: Double = (endNs - startNs) / 1e9
  def buildS: Double = buildNs / 1e9
}

object Ops {
  def status(t: Throwable): String = "failed:" + t.getClass.getName

  /** A query's collected output, kept for the untimed output check. */
  final case class Output(schema: StructType, rows: Array[Row])

  /**
   * Time one query: build the DataFrame (the query function, including any
   * eager jobs it runs), then collect it. Collecting evaluates every output
   * column, and the rows are what the output check compares.
   */
  def query(name: String, pass: Int, tracer: Tracer)(
      build: => DataFrame): (OpRecord, Option[Output]) =
    tracer.span("query", name) {
      val t0 = System.nanoTime()
      try {
        val df = tracer.span("build", name)(build)
        val tb = System.nanoTime()
        val rows = tracer.span("action", name)(df.collect())
        val t1 = System.nanoTime()
        tracer.planPhases(df)
        (OpRecord(name, pass, "ok", t0, t1, tb - t0), Some(Output(df.schema, rows)))
      } catch {
        case NonFatal(t) =>
          (OpRecord(name, pass, status(t), t0, System.nanoTime(), 0L), None)
      }
    }
}

/** The closed-loop workloads' view of a run's operations. Failed
 * operations count as attempted and failed, and add no time anywhere. */
final case class BatchSummary(ops: Seq[OpRecord]) {
  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
  def failedFrac: Double = if (ops.isEmpty) 0.0 else failed.toDouble / attempted
  def failedNames: Seq[String] = ops.filterNot(_.ok).map(o => s"${o.name} ${o.status}").distinct
  /** Per pass: the summed wall of its successful operations. */
  def passWalls: Seq[Double] = ops.groupBy(_.pass).toSeq.sortBy(_._1)
    .map { case (_, os) => os.filter(_.ok).map(_.wallS).sum }
  def wallS: Double = Stats.median(passWalls)
  /** Successful query executions (named `_…` operations are shared
   * derivations, charged to the pass but not to any query). */
  def queryWalls: Seq[Double] = ops.filter(o => o.ok && !o.name.startsWith("_")).map(_.wallS)
}
