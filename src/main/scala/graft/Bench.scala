package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

object Bench {
  private def fmt(v: Double): String = BigDecimal(v)
    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  /** Runs one bench entry and prints its BENCHQ line: the seconds on
   * success, `FAILED:<exception class>` on a throw. A failure returns
   * Left and is never timed — a query that dies early must not read as
   * a fast success. Per-query fan-out caches are released either way. */
  private[graft] def timeQuery(name: String)(body: => Unit): Either[String, Double] = {
    val t0 = System.nanoTime()
    val failed = try { body; None }
      catch { case t: Throwable => Some(t.getClass.getName) }
      finally CacheScope.releaseAll()
    val r = failed.toLeft((System.nanoTime() - t0) / 1e9)
    println(s"BENCHQ $name ${r.fold("FAILED:" + _, fmt)}")
    r
  }

  /** The totals JSON: `value` sums only the entries that succeeded;
   * `n` counts every entry, `n_failed`/`failed` name the ones that
   * threw. With `perQuery`, also the full per-entry seconds map. */
  private[graft] def summary(results: Seq[(String, Either[String, Double])],
      sfDir: String, perQuery: Boolean): String = {
    val ok = results.collect { case (k, Right(v)) => k -> v }
    val failed = results.collect { case (k, Left(_)) => "\"" + k + "\"" }
    val qs = if (!perQuery) "" else ok.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString(",\"queries\":{", ",", "}")
    s"""{"metric":"total","value":${fmt(ok.map(_._2).sum)},"unit":"sec",""" +
      s""""n":${results.size},"n_failed":${failed.size},""" +
      s""""failed":${failed.mkString("[", ",", "]")}$qs,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    // pre-fault: pull every fixture parquet byte into the OS page cache
    // and log the cache level before/after. This box runs proactive
    // reclaim (kdamond) that pins buff/cache around ~3 GiB, so sweeps
    // late in a session silently re-read parquet COLD and medians
    // inflate 1.13–1.25x with per-sweep-different movers — the r16/r17
    // bench-adjudication class. Faulting the bytes in immediately before
    // the sweep kills the class at its source (sweep-to-sweep medians
    // become comparable) instead of adjudicating it after the fact; the
    // BENCHW line makes a reclaim mid-sweep diagnosable (cachedMB
    // dropping again). Untimed: environment prep, not engine work —
    // every query reads the same warmed cache either way.
    def cachedMb(): Long = try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst { case l if l.startsWith("Cached:") =>
        l.split("\\s+")(1).toLong / 1024 }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }
    locally {
      val t0 = System.nanoTime()
      val before = cachedMb()
      var bytes = 0L
      var failed: Option[Throwable] = None
      val buf = new Array[Byte](1 << 20)
      // only the *.parquet fixtures: the sweep reads nothing else, and a
      // stray non-fixture file under sfDir shouldn't inflate the walk.
      // A failure is PRINTED, not swallowed — a cold sweep caused by a
      // broken prefault must be diagnosable from the BENCHW line alone
      try {
        val stream = Files.walk(Paths.get(sfDir))
        try {
          stream.iterator().forEachRemaining { p =>
            if (Files.isRegularFile(p) &&
                p.getFileName.toString.endsWith(".parquet")) {
              val in = Files.newInputStream(p)
              try {
                var n = in.read(buf)
                while (n >= 0) { bytes += n; n = in.read(buf) }
              } finally in.close()
            }
          }
        } finally stream.close()
      } catch { case t: Throwable => failed = Some(t) }
      println(s"BENCHW prefault ${fmt((System.nanoTime() - t0) / 1e9)} " +
        s"bytes=$bytes cachedMB=$before->${cachedMb()}" +
        failed.map(t => s" FAILED=$t").getOrElse(""))
    }
    // untimed spin-up: JVM/codegen/parquet-footer startup shouldn't be
    // attributed to whichever query happens to run first
    try spark.read.parquet(s"$sfDir/events.parquet").count()
    catch { case t: Throwable => println(s"BENCHW spinup FAILED=$t") }
    // TIMED, NAMED warmup: run-scoped shared derivations (the envelope
    // view ~80 queries start from; the LSH verified-pair relation p15/p18
    // consume). Charging them to an explicit "_warmup_shared" entry —
    // included in the reported total — keeps per-query timings comparable
    // across rounds instead of loading the cost onto whichever consumer
    // sorts first (r5 postmortem: p10/p16 absorbed 4-10x apparent
    // regressions that were really shared-cache population).
    // optional comma-separated name filter for local profiling runs
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    val w0 = System.nanoTime()
    // per-stage diagnostic lines (BENCHW <stage> <sec>) so a warmup
    // regression is attributable to ONE derivation without re-profiling
    def stage(name: String)(body: => Unit): Unit = {
      val t = System.nanoTime()
      // a swallowed failure must not print a normal-looking line: a
      // ~0 s "success" would silently shift the derivation cost onto
      // the first consumer's BENCHQ — the exact misattribution these
      // lines exist to prevent
      val ok = try { body; true } catch { case _: Throwable => false }
      val sec = fmt((System.nanoTime() - t) / 1e9)
      println(s"BENCHW $name $sec${if (ok) "" else " FAILED"}")
    }
    stage("envelope") {
      graft.model.EventLog.topic(spark, sfDir)
        .groupBy("topic").count().collect()
    }
    // the LSH pair derivation only warms when a consumer is selected,
    // so SPARK_GRAFT_ONLY profiling runs of other queries don't pay it
    if (only.forall(n => n("p15_minhash_full") || n("p18_dup_clusters") ||
        n("p51_leakage_free_split") || n("p117_keep_longest")))
      stage("lsh_pairs") {
        graft.queries.PipelineQueries.warmShared(spark, sfDir) }
    // Warmup policy (r12 trim, 27.3 s → <10 s at sf0.1): only the
    // envelope (≈80 consumers) and the LSH pair relation (the single
    // most expensive shared derivation, 4 consumers) pre-materialize
    // here. The other run-scoped memos (lm_scored 4.6 s, bm25 3.8,
    // nb 3.2, knn 2.1, covariance 1.6, dhash 1.5, bpe 1.1 — BENCHW
    // history in PLAN_AUDIT) populate lazily at their FIRST consumer:
    // still derived exactly once per run (CacheScope.memoRun), so the
    // total is unchanged — but the first consumer's bench line absorbs
    // the derivation (p49 +4.6 s, p79 +3.8 s, p85 +3.2 s, p63 +2.1 s,
    // p90 +1.6 s, p58 +1.5 s, p34 +1.1 s; first = sorted name order).
    // Read those lines against PLAN_AUDIT's attribution note, not as
    // per-query regressions.
    val warmupSec = (System.nanoTime() - w0) / 1e9
    println(s"BENCHQ _warmup_shared ${fmt(warmupSec)}")
    // one human/judge-readable line per query as it completes, so the
    // stdout tail is useful even if the final summary line is clipped.
    // Sorted name order: Map iteration order shifts whenever a query is
    // added, silently re-assigning shared-cache population costs and
    // page-cache state to different queries between rounds (r4→r5 saw a
    // 6x swing on one query from ordering alone). Deterministic order
    // makes per-query timings comparable across rounds.
    val perQuery = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // noop sink, NOT count(): count() lets Catalyst prune every column,
      // so a projection-shaped query (regex redaction, quantization
      // arithmetic) would be measured as a row count of its input — the
      // 100x rehearsal caught p22/p27/p29 "scaling" flat because none of
      // their compute survived the count. The noop sink evaluates every
      // output column and discards the rows (the standard Spark
      // benchmarking sink).
      name -> timeQuery(name) {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      }
    }
    val results = ("_warmup_shared" -> Right(warmupSec)) +: perQuery
    // The FULL summary (with the complete per-query map) always lands in
    // a file: at 286 entries the map alone is ~7.9 kB, far past any
    // bounded stdout tail capture.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val p = Paths.get(outPath)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.write(p, (summary(results, sfDir, perQuery = true) + "\n")
        .getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
        StandardOpenOption.WRITE)
    } catch { case t: Throwable => println(s"BENCHW write $outPath FAILED=$t") }
    // The final stdout line is a SHORT totals-only JSON. Rationale (r20
    // verdict item 1): the driver keeps only the last ~2000 chars of
    // stdout, so a final line carrying the full 286-entry map has been
    // truncated mid-map — and therefore unparseable — since round 14
    // (parsed: null in every BENCH_r*.json). A short line parses, and it
    // leaves the tail budget to the per-query BENCHQ lines above, which
    // are the machine-readable per-query record the tail can actually
    // hold. The full map stays durable in target/bench.json (above).
    println(summary(results, sfDir, perQuery = false))
    CacheScope.releaseRun()
    spark.stop()
  }
}
