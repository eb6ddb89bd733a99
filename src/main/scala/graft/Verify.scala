package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional 3rd arg (local iteration only): comma-separated query names
    val only: Set[String] = if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1) // deterministic order (see Bench)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        finally CacheScope.releaseAll() // free per-query fan-out caches
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // verification environment (one _env.json): when a driver-vs-local
    // hash diverges, the engine-side versions are diagnosable from the
    // artifacts instead of needing a reproduction (the oracle-side duckdb
    // version is the comparer's to record)
    val env = Seq(
      "spark" -> spark.version,
      "java_runtime" -> System.getProperty("java.runtime.version",
        System.getProperty("java.version", "unknown")),
      "java_vendor" -> System.getProperty("java.vendor", "unknown"),
      "scala" -> scala.util.Properties.versionNumberString,
      "os" -> (System.getProperty("os.name", "?") + " " +
        System.getProperty("os.version", "?")),
      "timezone" -> java.util.TimeZone.getDefault.getID,
      "sf_dir" -> sfDir)
    Files.writeString(Paths.get(s"$outDir/_env.json"),
      env.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    CacheScope.releaseRun()
    spark.stop()
  }
}
