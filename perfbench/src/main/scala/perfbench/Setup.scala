package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.io.Source
import scala.util.Try

/** Command-line options the runner passes to the JVM. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, work: String, out: String, cores: Int, allQueries: Boolean = false)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("work"), m("out"), m("cores").toInt,
      m.get("queries").contains("all"))
  }
}

/** What `/proc` says about the host and this process (Linux). */
object Host {
  private def lines(path: String): List[String] =
    Try { val s = Source.fromFile(path); try s.getLines().toList finally s.close() }
      .getOrElse(Nil)

  private def kb(path: String, key: String): Double =
    lines(path).collectFirst { case l if l.startsWith(key) =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)

  /** Peak resident set of this process, MB. */
  def peakRssMb(): Double = kb("/proc/self/status", "VmHWM:")

  /** Page-cache level, MB. */
  def cachedMb(): Double = kb("/proc/meminfo", "Cached:")

  /** (steal, total) jiffies of the host's CPUs. */
  def cpuJiffies(): (Long, Long) =
    lines("/proc/stat").headOption.map { l =>
      val f = l.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }.getOrElse((0L, 0L))

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

/**
 * Set-up: JVM start until the first timed call. A run sets up once, cold:
 * class loading, session creation, prefault and the workload's warmup all
 * count, as a user starting the engine would see them.
 */
object Setup {
  final case class Timing(sessionS: Double, prefaultS: Double, warmupS: Double,
      totalS: Double, cachedMbAfterPrefault: Double)

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      // shuffle files and broadcasts of finished queries are reclaimed only
      // after a driver GC; a periodic one keeps late queries from running
      // against a disk full of dead shuffle state
      .config("spark.cleaner.periodicGC.interval", "30s")
      // keep every streaming progress update: delivery times are read from them
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.prepare(spark)
  }

  /** Read every input byte once so timed calls see a warm page cache. */
  def prefault(dir: String): Long = {
    val buf = new Array[Byte](1 << 20)
    var bytes = 0L
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val files = Files.walk(root)
      try files.filter(p => Files.isRegularFile(p)).forEach { (p: Path) =>
        val in = Files.newInputStream(p)
        try { var n = in.read(buf); while (n >= 0) { bytes += n; n = in.read(buf) } }
        finally in.close()
      } finally files.close()
    }
    bytes
  }

  /** A session that is set up but whose set-up clock still runs: the
   * workload calls [[end]] right before its first timed call, so any work
   * it does in between counts as warmup. */
  final class Started(val spark: SparkSession, sessionS: Double, prefaultS: Double,
      startedNs: Long, jvmS: Double, cachedMb: Double) {
    private val warmupNs = System.nanoTime()
    def end(): Timing = {
      val now = System.nanoTime()
      Timing(sessionS, prefaultS, (now - warmupNs) / 1e9, jvmS + (now - startedNs) / 1e9,
        cachedMb)
    }
  }

  def start(o: Opts): Started = {
    val n0 = System.nanoTime()
    // JVM start until here: JVM boot and loading the harness (ms resolution)
    val jvmS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = session(o)
    val n1 = System.nanoTime()
    prefault(o.data)
    val cached = Host.cachedMb()
    val n2 = System.nanoTime()
    new Started(spark, (n1 - n0) / 1e9, (n2 - n1) / 1e9, n0, jvmS, cached)
  }

  def env(o: Opts, spark: SparkSession, setup: Timing): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "cores" -> o.cores,
    "spark" -> spark.version,
    "jvm" -> System.getProperty("java.version"),
    "seed" -> o.seed,
    "cached_mb_after_prefault" -> setup.cachedMbAfterPrefault,
    "setup" -> Map("session_s" -> setup.sessionS, "prefault_s" -> setup.prefaultS,
      "warmup_s" -> setup.warmupS, "total_s" -> setup.totalS))

  def layerMetrics(setup: Timing): Map[String, Double] = Map(
    "setup.session_s" -> setup.sessionS,
    "setup.prefault_s" -> setup.prefaultS,
    "setup.warmup_s" -> setup.warmupS)
}
