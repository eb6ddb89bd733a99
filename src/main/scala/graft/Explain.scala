package graft

/** Plan-audit tool: prints the formatted physical plan of the named
 * queries (all when none given) — used to keep pushdown, broadcast, and
 * partial-aggregation properties under review as the inventory grows. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local(GraftSession.cpus)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===== $n =====")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
