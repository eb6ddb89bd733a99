package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Scale rehearsal for the STREAMING-STATE half of the scale story —
 * the stateful families' first measured rows (state-store size,
 * per-batch wall) beyond the sf0.001 StreamingSpec gate, the way every
 * batch headliner has 10×/100× rows in PLAN_AUDIT:
 *
 *  - gap sessionizer (StreamingSpec "sessionizer-q34" / q34's twin):
 *    per-key state is 4 longs, so state ROWS track the USER dimension,
 *    not the event stream — the telemetry must show numRowsTotal flat
 *    at |users| while input rows scale 10×/100×.
 *  - crawl-frontier census (StreamingSpec "url-census-stream" / p127's
 *    twin): per-key state is the host's distinct-URL histogram — the
 *    one NON-O(1) per-key family, REFUSE-bounded by maxUrlsPerHost;
 *    telemetry shows state bytes tracking the distinct-URL space.
 *  - LSH ingest (StreamingSpec "minhash-append-index-table-restart"'s
 *    deployed shape): state is the parquet index TABLE, not a state
 *    store — telemetry is per-batch append wall and index growth, plus
 *    the one-shot batch wall for comparison.
 *
 * The streaming legs run REAL streaming queries over a file source
 * (time-range-sliced parquet so the sessionizer's per-user order
 * contract holds across micro-batches; FileStreamSource drains staged
 * files in (timestamp, path) order and the slice files are written in
 * ascending range order), with convergence against the batch twin
 * checked DISTRIBUTED (outer-join mismatch counts — never a corpus
 * collect at rehearsal scale).
 *
 * Bench-grade session, NOT TestSpark's local[4] (the r18 walls-on-
 * local[4] lesson). Run:
 *   sbt 'Test/runMain graft.StreamingStateWalls <scaledDir> [legs]'
 * with legs ⊆ {sess,url,lsh} (default all); corpus from
 *   runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/scaleN N
 */
object StreamingStateWalls {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Per-batch progress rows from a finished query, newest last. */
  private def telemetry(q: org.apache.spark.sql.streaming.StreamingQuery,
      label: String): Unit =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).foreach { p =>
      val so = p.stateOperators.headOption
      println(f"[swalls] $label%-10s batch=${p.batchId}%3d " +
        f"in=${p.numInputRows}%9d " +
        f"stateRows=${so.map(_.numRowsTotal).getOrElse(-1L)}%9d " +
        f"stateMB=${so.map(_.memoryUsedBytes).getOrElse(-1L) / 1e6}%8.1f " +
        f"wall=${p.durationMs.getOrDefault("triggerExecution", -1L) / 1e3}%7.2f s")
    }

  /** Stage df as `slices` ascending-range parquet files and stream them
   * back one file per trigger. Range slicing keeps the global
   * (orderCols) order across micro-batches — the sessionizer's arrival
   * contract; for order-free consumers it is merely a deterministic
   * split. */
  private def fileStream(spark: SparkSession, df: DataFrame,
      slices: Int, orderCols: Seq[String]): (DataFrame, String) = {
    val dir = tmp("graft-swalls-src-")
    df.repartitionByRange(slices, orderCols.map(col): _*)
      .write.mode("overwrite").parquet(dir)
    // FileStreamSource sorts pending files by TIMESTAMP (path is not a
    // tie-break): give the range files strictly ascending mtimes in
    // part-file order, so the drain order IS the range order and the
    // sessionizer's cross-batch arrival contract holds deterministically
    val base = System.currentTimeMillis() - 1000000L
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(base + i * 2000L): Unit
      }
    val src = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    (src, dir)
  }

  /** Distributed MULTISET equality of two relations: each side reduces
   * to (row tuple → multiplicity) first, so duplicate rows on one side
   * can't silently match a single row on the other (both callers today
   * are per-key aggregates, but the helper must not be trust-me on
   * that), then a full-outer join on the tuple compares the counts —
   * never a driver collect. 0 = converged. */
  private def mismatches(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.toSeq
    def counted(df: DataFrame, n: String): DataFrame =
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as(n))
    counted(a, "_na").hint("merge")
      .join(counted(b, "_nb").hint("merge"), cols, "full_outer")
      .filter(col("_na").isNull || col("_nb").isNull ||
        col("_na") =!= col("_nb")).count()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val legs = args.lift(1).map(_.split(',').toSet)
      .getOrElse(Set("sess", "url", "lsh", "txn", "cw", "delay", "kv"))
    val spark = GraftSession.local(GraftSession.cpus)
    import spark.implicits._

    // ----------------- gap sessionizer (sessionizer-q34) ---------------
    if (legs("sess")) {
      val events = graft.model.EventLog.raw(spark, dir)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000000").as("ms"))
      println(s"[swalls] sess corpus=$dir events=${events.count()} " +
        s"users=${events.select(col("user_id")).distinct().count()}")
      val (src, srcDir) = fileStream(spark, events, slices = 10,
        orderCols = Seq("ms", "event_id"))
      val out = tmp("graft-swalls-sess-out-")
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamingOps
        .sessionStream(src.as[graft.streaming.SessEvent], 1800000L)
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", tmp("graft-swalls-sess-ck-"))
        .start()
      q.processAllAvailable(); q.stop()
      telemetry(q, "sess")
      println(f"[swalls] sess stream total ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val streamed = spark.read.parquet(out)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(max(col("n_events")).as("n_events"),
          min(col("start_ms")).as("start_ms"), max(col("end_ms")).as("end_ms"))
      val tb = System.nanoTime()
      val batch = graft.operators.Sessionize.sessions(events, gapMs = 1800000L)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("start_ms"), col("end_ms"))
      val bad = mismatches(streamed, batch)
      println(f"[swalls] sess converged mismatches=$bad " +
        f"batchTwinWall=${(System.nanoTime() - tb) / 1e9}%.1f s")
      require(bad == 0L, s"sessionizer diverged: $bad mismatching rows")
      Scratch.rm(srcDir); Scratch.rm(out)
    }

    // ---------- crawl-frontier census (url-census-stream / p127) -------
    if (legs("url")) {
      val urlBase = graft.pipeline.UrlOps.frontierBase(
          spark.read.parquet(s"$dir/documents.parquet"),
          expr(graft.queries.PipelineQueries.rawUrlSql))
        .select(col("doc_id"), col("host"), col("url"), col("chars"))
      println(s"[swalls] url corpus=$dir rows=${urlBase.count()} " +
        s"hosts=${urlBase.select(col("host")).distinct().count()}")
      val (src, srcDir) = fileStream(spark, urlBase, slices = 10,
        orderCols = Seq("doc_id")) // no order contract — deterministic split
      val out = tmp("graft-swalls-url-out-")
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamingOps
        .urlCensusStream(src.as[graft.streaming.UrlIngest])
        .toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", tmp("graft-swalls-url-ck-"))
        .start()
      q.processAllAvailable(); q.stop()
      telemetry(q, "url")
      println(f"[swalls] url stream total ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val streamed = spark.read.parquet(out)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("host"))
            .orderBy(col("version").desc)))
        .filter(col("rk") === 1)
        .select(col("host"), col("n_docs"), col("n_urls"),
          col("n_dup_docs"), col("max_url_docs"), col("text_chars"))
      val tb = System.nanoTime()
      val batch = graft.pipeline.UrlOps.hostCensus(urlBase)
        .select(col("host"), col("n_docs"), col("n_urls"),
          col("n_dup_docs"), col("max_url_docs"), col("text_chars"))
      val bad = mismatches(streamed, batch)
      println(f"[swalls] url converged mismatches=$bad " +
        f"batchTwinWall=${(System.nanoTime() - tb) / 1e9}%.1f s")
      require(bad == 0L, s"frontier census diverged: $bad mismatching rows")
      Scratch.rm(srcDir); Scratch.rm(out)
    }

    // ---- LSH ingest, deployed table shape (minhash-append-index-table-restart)
    if (legs("lsh")) {
      val allDocs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val isBatch = col("doc_id") % 10 === 5
      println(s"[swalls] lsh corpus=$dir docs=${allDocs.count()} " +
        s"batchDocs=${allDocs.filter(isBatch).count()}")
      val idxDir = tmp("graft-swalls-lsh-idx-")
      val verdictsOut = tmp("graft-swalls-lsh-out-")
      val t0 = System.nanoTime()
      val base = graft.pipeline.DedupOps.lshIndexOf(
        allDocs.filter(!isBatch), "doc_id", "text", isBase = true)
      base.banded.write.mode("overwrite").parquet(s"$idxDir/banded")
      base.sets.write.mode("overwrite").parquet(s"$idxDir/sets")
      graft.CacheScope.releaseAll()
      println(f"[swalls] lsh base index built+written " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s " +
        f"banded=${spark.read.parquet(s"$idxDir/banded").count()} " +
        f"sets=${spark.read.parquet(s"$idxDir/sets").count()}")
      // ordered arrival (the check-30/32 contract): doc_id-range slices
      // via a DISTRIBUTED range repartition (an ntile over a global
      // window would serialize the batch corpus through one task — the
      // class this repo pins; r19 review finding), read back one range
      // file per batch in name order
      val sliceDir = tmp("graft-swalls-lsh-src-")
      allDocs.filter(isBatch)
        .repartitionByRange(5, col("doc_id"))
        .write.mode("overwrite").parquet(sliceDir)
      val sliceFiles = new java.io.File(sliceDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
      sliceFiles.zipWithIndex.foreach { case (sf, i0) =>
        val i = i0 + 1
        val tB = System.nanoTime()
        val b = spark.read.parquet(sf)
          .select(col("doc_id"), col("text"))
        val idx = graft.pipeline.DedupOps.LshIndex(
          spark.read.parquet(s"$idxDir/banded"),
          spark.read.parquet(s"$idxDir/sets"))
        val (verdicts, _) = graft.pipeline.DedupOps
          .minhashAppendStep(idx, b, "doc_id", "text")
        verdicts.write.mode("append").parquet(verdictsOut)
        // append exactly THIS batch's increment rows, re-derived
        // BATCH-scale (lshIndexOf is deterministic — the check-32
        // convention; a left_anti of the grown index against the
        // accumulated table would put O(index) harness work inside the
        // timed per-batch wall, corrupting the very trend this
        // rehearsal measures — r19 review finding)
        val inc = graft.pipeline.DedupOps.lshIndexOf(
          b, "doc_id", "text", isBase = false)
        inc.banded.write.mode("append").parquet(s"$idxDir/banded")
        inc.sets.write.mode("append").parquet(s"$idxDir/sets")
        graft.CacheScope.releaseAll()
        println(f"[swalls] lsh batch=$i in=${b.count()}%8d " +
          f"bandedRows=${spark.read.parquet(s"$idxDir/banded").count()}%10d " +
          f"wall=${(System.nanoTime() - tB) / 1e9}%7.2f s")
      }
      val gotN = spark.read.parquet(verdictsOut).count()
      val tb = System.nanoTime()
      val want = graft.pipeline.DedupOps.minhashAppendVerdicts(
        allDocs, "doc_id", "text", batch = isBatch)
      // coalesce the nullable verdict columns: a full-outer equality
      // join never matches NULL keys, so bare dup_of/max_jaccard would
      // report every non-duplicate row as a mismatch
      def cmpCols(df: DataFrame): DataFrame = df.select(col("doc_id"),
        col("n_base_dups"), col("n_prior_batch_dups"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("max_jaccard"), lit(-1.0)).as("max_jaccard"),
        col("dropped"))
      val bad = mismatches(cmpCols(spark.read.parquet(verdictsOut)),
        cmpCols(want))
      println(f"[swalls] lsh verdicts=$gotN mismatches=$bad " +
        f"oneShotBatchWall=${(System.nanoTime() - tb) / 1e9}%.1f s")
      graft.CacheScope.releaseAll()
      require(bad == 0L, s"lsh ingest diverged: $bad mismatching rows")
      Seq(idxDir, verdictsOut, sliceDir).foreach(Scratch.rm)
    }

    // The remaining stateful families (r19 verdict missing #4): one
    // measured tier each with the per-key bound stated. All four are
    // O(1)-or-contract-bounded per key by construction — these legs
    // convert that claim into telemetry rows, the filing discipline
    // the sess/url/lsh families already have.
    lazy val envelope = graft.model.EventLog.asTopic(
      graft.model.EventLog.raw(spark, dir))

    // ------------- txn buffer (T3 / txn-buffer-restart) ----------------
    // Per-key bound: the OPEN transaction's own backlog — drains to a
    // 3-field tomb at the terminal marker; state ROWS track txn ids.
    // Fixed-size lifecycle fixture: every txn group gets ONE terminal
    // marker after event TXN_E (constant across tiers), so txn SIZE is
    // tier-invariant and the state peak must be FLAT while input rows
    // scale — the honest 100 TB shape (corpora grow; transactions don't).
    if (legs("txn")) {
      val TXN_E = 20000L // events per txn lifecycle, constant across tiers
      val spaced = envelope.withColumn("msg_offset", col("msg_offset") * 32)
      val markers = spaced.filter(col("txn_group").isNotNull)
        .select(col("txn_group")).distinct()
        .select(
          lit("txn-coordinator").as("topic"),
          lit(0).as("partition_id"), lit(0L).as("ledger_id"),
          lit(0L).as("entry_id"), lit(0).as("batch_index"),
          (lit(TXN_E * 32) + col("txn_group") + 1).as("msg_offset"),
          lit("txn-coordinator").as("producer_name"),
          (lit(TXN_E * 32) + col("txn_group") + 1).as("sequence_id"),
          lit(0L).as("publish_ms"), lit(0L).as("event_ms"),
          col("txn_group").cast("string").as("key"),
          lit(0.0).as("value"),
          lit(null).cast("binary").as("value_bin"),
          lit(null).cast("string").as("properties"),
          lit(0L).as("schema_version"), lit(0L).as("deliver_at_ms"),
          // every 4th txn aborts — the fixtureStatus convention
          when(col("txn_group") % 4 === 0,
            lit(graft.operators.Transactions.TxnAbortMarker))
            .otherwise(lit(graft.operators.Transactions.TxnCommitMarker))
            .cast("int").as("marker_type"),
          lit(null).cast("string").as("replicated_from"),
          col("txn_group").as("txn_group"),
          lit(0).as("attempts"), lit(0L).as("uuid_group"),
          lit(0).as("chunk_id"), lit(false).as("tombstone"),
          lit(null).cast("binary").as("ordering_key"),
          concat(lit("txn-"), col("txn_group").cast("string")).as("uuid"),
          lit(1).as("num_chunks"), lit(false).as("compacted_out"))
      val env = spaced.unionByName(markers)
      println(s"[swalls] txn corpus=$dir rows=${env.count()} " +
        s"groups=${markers.count()} lifecycleEvents=$TXN_E")
      val (src, srcDir) = fileStream(spark, env, slices = 10,
        orderCols = Seq("msg_offset")) // offset order = the dispatch contract
      val out = tmp("graft-swalls-txn-out-")
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamingOps
        .txnBufferStream(src.as[graft.model.MessageEnvelope]).toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", tmp("graft-swalls-txn-ck-"))
        .start()
      q.processAllAvailable(); q.stop()
      telemetry(q, "txn")
      println(f"[swalls] txn stream total ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val tb = System.nanoTime()
      val bad = mismatches(
        spark.read.parquet(out).select(col("msg_offset")),
        graft.operators.Transactions.visibleCommitted(env)
          .select(col("msg_offset")))
      println(f"[swalls] txn converged mismatches=$bad " +
        f"batchTwinWall=${(System.nanoTime() - tb) / 1e9}%.1f s")
      require(bad == 0L, s"txn buffer diverged: $bad mismatching rows")
      Scratch.rm(srcDir); Scratch.rm(out)
    }

    // ---------- count windows (W3/W5 / count-window-restart) -----------
    // Per-key bound: one Long window counter + at most n−1 pending
    // values — state ROWS track the KEY dimension (ScaleGen holds users
    // fixed while events scale), state bytes ≤ keys × n.
    if (legs("cw")) {
      val CW_N = 64
      println(s"[swalls] cw corpus=$dir rows=${envelope.count()} " +
        s"keys=${envelope.select(col("key")).distinct().count()} n=$CW_N")
      val (src, srcDir) = fileStream(spark, envelope, slices = 10,
        orderCols = Seq("msg_offset")) // per-key offset order
      val out = tmp("graft-swalls-cw-out-")
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamingOps
        .countWindowStream(src.as[graft.model.MessageEnvelope], CW_N).toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", tmp("graft-swalls-cw-ck-"))
        .start()
      q.processAllAvailable(); q.stop()
      telemetry(q, "cw")
      println(f"[swalls] cw stream total ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val tb = System.nanoTime()
      // batch twin: the W3 operator, complete windows only, the same
      // Exact e2-code sum convention
      val batch = graft.operators.TimeWindows.countTumblingPerKey(envelope, CW_N,
          Seq(count(lit(1)).as("n"),
            (sum(floor(col("value") * 100 + 0.5).cast("long")) / 100.0)
              .as("sum_v")))
        .filter(col("n") === CW_N)
        .select(col("key"), col("window_id"), col("n"), col("sum_v"))
      val bad = mismatches(
        spark.read.parquet(out)
          .select(col("key"), col("window_id"), col("n"), col("sum_v")),
        batch)
      println(f"[swalls] cw converged mismatches=$bad " +
        f"batchTwinWall=${(System.nanoTime() - tb) / 1e9}%.1f s")
      require(bad == 0L, s"count windows diverged: $bad mismatching rows")
      Scratch.rm(srcDir); Scratch.rm(out)
    }

    // ------- delayed delivery (F3/F4 / delayed-delivery-restart) -------
    // Per-key bound: one Long clock + the not-yet-due hold buffer per
    // PARTITION (4 keys); the hold mass is the deliver-ahead horizon
    // (≤ 4 minutes of publish time here), not the corpus.
    if (legs("delay")) {
      println(s"[swalls] delay corpus=$dir rows=${envelope.count()} partitions=4")
      val (src, srcDir) = fileStream(spark, envelope, slices = 10,
        orderCols = Seq("msg_offset"))
      val out = tmp("graft-swalls-delay-out-")
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamingOps
        .delayedDeliveryStream(src.as[graft.model.MessageEnvelope]).toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out)
        .option("checkpointLocation", tmp("graft-swalls-delay-ck-"))
        .start()
      q.processAllAvailable(); q.stop()
      telemetry(q, "delay")
      println(f"[swalls] delay stream total ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val tb = System.nanoTime()
      // batch twin: due = deliver_at within the partition's final clock
      val clocks = envelope.groupBy(col("partition_id"))
        .agg(max(col("publish_ms")).as("clk"))
      val want = envelope.join(broadcast(clocks), Seq("partition_id"))
        .filter(col("deliver_at_ms") <= col("clk")).select(col("msg_offset"))
      val bad = mismatches(
        spark.read.parquet(out).select(col("msg_offset")), want)
      println(f"[swalls] delay converged mismatches=$bad " +
        f"batchTwinWall=${(System.nanoTime() - tb) / 1e9}%.1f s")
      require(bad == 0L, s"delayed delivery diverged: $bad mismatching rows")
      Scratch.rm(srcDir); Scratch.rm(out)
    }

    // -- A6 counters + A7 byte KV state (counters-/byte-state-restart) --
    // Per-key bound: A6 one Long per key (topic), A7 one opaque 8-byte
    // value per key — state ROWS track keys, bytes are constant per key.
    // Update-mode emissions land via foreachBatch appends (file sinks
    // are append-only); both folds are monotone, so the final value per
    // key is the distributed max over all emissions.
    if (legs("kv")) {
      println(s"[swalls] kv corpus=$dir rows=${envelope.count()}")
      def runUpdate(label: String, stream: DataFrame => DataFrame,
          srcDf: DataFrame): (String, org.apache.spark.sql.streaming.StreamingQuery, String) = {
        val (src, srcDir) = fileStream(spark, srcDf, slices = 10,
          orderCols = Seq("msg_offset"))
        val out = tmp(s"graft-swalls-$label-out-")
        val q = stream(src)
          .writeStream.outputMode(OutputMode.Update())
          .option("checkpointLocation", tmp(s"graft-swalls-$label-ck-"))
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(out)
          }
          .start()
        q.processAllAvailable(); q.stop()
        (out, q, srcDir)
      }
      val t0 = System.nanoTime()
      val (ctrOut, ctrQ, ctrSrc) = runUpdate("ctr",
        d => graft.streaming.StreamingOps
          .keyedCounters(d.as[graft.model.MessageEnvelope], _.topic).toDF()
          .toDF("k", "n"),
        envelope)
      telemetry(ctrQ, "ctr")
      val badCtr = mismatches(
        spark.read.parquet(ctrOut).groupBy(col("k"))
          .agg(max(col("n")).as("n")),
        envelope.groupBy(col("topic").as("k"))
          .agg(count(lit(1)).as("n")))
      println(f"[swalls] ctr converged mismatches=$badCtr " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
      require(badCtr == 0L, s"counters diverged: $badCtr mismatching rows")
      val t1 = System.nanoTime()
      def be8(v: Long): Array[Byte] =
        java.nio.ByteBuffer.allocate(8).putLong(v).array()
      val (kvOut, kvQ, kvSrc) = runUpdate("byte",
        d => graft.streaming.StreamingOps
          .byteState(d.as[graft.model.MessageEnvelope], (st, m) => {
            val cur = if (st == null) Long.MinValue
              else java.nio.ByteBuffer.wrap(st).getLong
            be8(math.max(cur, m.sequence_id))
          }).toDF().toDF("k", "st"),
        envelope)
      telemetry(kvQ, "byte")
      // sequence ids are non-negative, so hex(8-byte BE) decodes with conv
      val badKv = mismatches(
        spark.read.parquet(kvOut)
          .select(col("k"), conv(hex(col("st")), 16, 10).cast("long").as("v"))
          .groupBy(col("k")).agg(max(col("v")).as("v")),
        envelope.groupBy(col("key").as("k"))
          .agg(max(col("sequence_id")).as("v")))
      println(f"[swalls] byte converged mismatches=$badKv " +
        f"wall=${(System.nanoTime() - t1) / 1e9}%.1f s")
      require(badKv == 0L, s"byte state diverged: $badKv mismatching rows")
      Seq(ctrOut, ctrSrc, kvOut, kvSrc).foreach(Scratch.rm)
    }

    CacheScope.releaseRun()
    println("[swalls] done")
  }
}
