package perfbench

import graft.CacheScope
import graft.functions.Exact
import graft.model.Envelope
import graft.operators.{Compaction, Produce, TimeWindows}
import graft.streaming.{StreamingOps, TopicStream}
import java.util.concurrent.LinkedBlockingQueue
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * `produce_consume`: the write path beside the streaming read path.
 *
 * Set-up seeds the topic with [[SeedRows]] keyed rows of history (one
 * `Produce.build` and a plain `Produce.append`: `appendDedup` would trip
 * its ledger defect, below), so the catch-up drains a log large enough
 * that its rows, not only its start-up, show in its time. Then a seeded
 * generator thread hands keyed raw batches to one publisher on a
 * fixed schedule (open loop: the schedule does not slow when the system
 * does). The publisher appends each batch with `Produce.build` and
 * `Produce.appendDedup`. Meanwhile a streaming consumer reads the topic
 * directory through `TopicStream.subscribe`: watermarked tumbling-window
 * counts on a processing-time trigger. After the schedule ends, a fresh
 * TableView consumer (the latest value per key, kept by
 * `StreamingOps.compactedTableStream`) replays the whole topic from
 * earliest, [[CatchUps]] times after one untimed warm-up replay (the first
 * replay of a run ran 0.5-2 s slower than the later ones).
 *
 * Sizing, measured on 4 cores: one `appendDedup` call runs 45-79 Spark
 * jobs and takes 5-10 s beside the consumer whatever the batch size
 * (7-12 s on the seeded topic), so the schedule offers one batch every
 * [[IntervalMs]]. The TableView only
 * catches up: running it beside the producer stretched each append to
 * 10-18 s, past any interval a run can hold. It is the storage-backed
 * TableView because `StreamingOps.tableViewStream` fails on a file-source
 * topic (its micro-batch persist ends in "key not found" inside Spark's
 * cache manager). A replay of the whole topic took 4.0 s at 52 thousand
 * rows, 4.5 s at 1 million, 5.9 s at 2 million and 6.4 s at 3 million
 * (where the JVM reached 3.6 GB); the seed is half a million rows (about
 * 4.7 s) because larger ones push the run past its share of the time the
 * benchmark may take.
 *
 * Latencies count from each batch's due time, so a stall also charges the
 * batches queued behind it.
 */
object ProduceConsume {
  // offered load: one batch every IntervalMs of RowsPerBatch fresh rows.
  // A batch stays within one ledger (Produce.build's ledgerSize, 1000
  // entries) per partition: past that, appendDedup drops fresh rows as
  // replays (Dedup.dropReplays orders by msg_offset within per-partition
  // ledger ids), and the accepted-count check fails.
  val IntervalMs = 10000L
  val RowsPerBatch = 1000
  val SeedRows = 500000
  val SeedPartitions = 4
  val Keys = 2000
  val ZipfExponent = 1.1
  /** Every ReplayEvery-th batch also re-sends the first ReplayRows rows of
   * an earlier batch with their original sequence ids. */
  val ReplayEvery = 2
  val ReplayRows = 100
  val TombstoneFrac = 0.03
  val MaxLatenessMs = 5000L
  val WindowMs = 10000L
  val Watermark = "30 seconds"
  val Partitions = 4
  val CatchUps = 2
  val TracedCatchUps = 2
  val Topic = "bench-topic"
  val Producer = "bench-producer"

  private val rawSchema = StructType(Seq(
    StructField("ord", LongType, nullable = false),
    StructField("key", StringType),
    StructField("value", DoubleType),
    StructField("event_ms", LongType, nullable = false)))

  /** A slice of a batch as generated: rows, and the offset and sequence
   * id of its first row. */
  final case class Slice(startOffset: Long, rows: IndexedSeq[Row])
  final case class Batch(index: Int, dueMs: Long, fresh: Slice, replay: Option[Slice])
  final case class Publish(index: Int, dueMs: Long, startMs: Long, ackMs: Long,
      rows: Int, fresh: Int, accepted: Long, status: String)

  /** Seeded batches: Zipf keys, tombstones, out-of-order event times, and
   * replays of earlier (producer, sequence) pairs. */
  final class Generator(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val cdf = {
      val w = (1 to Keys).map(k => 1.0 / math.pow(k, ZipfExponent))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last).toArray
    }
    private val sent = scala.collection.mutable.ArrayBuffer.empty[Slice]

    private def key(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      s"k${if (i >= 0) i else -i - 1}"
    }

    private def rows(n: Int, dueMs: Long): IndexedSeq[Row] = (0 until n).map { i =>
      val v: java.lang.Double =
        if (rng.nextDouble() < TombstoneFrac) null
        else math.round(-math.log(1 - rng.nextDouble()) * 5000.0) / 100.0
      Row(i.toLong, key(), v, dueMs - (rng.nextDouble() * MaxLatenessMs).toLong)
    }

    /** The topic's history, written before the schedule starts: rows drawn
     * as a batch's are, made column-wise by Spark from the seed. */
    def history(spark: SparkSession, dueMs: Long): DataFrame = {
      val c = cdf
      val zipf = udf { (u: Double) =>
        val i = java.util.Arrays.binarySearch(c, u)
        s"k${if (i >= 0) i else -i - 1}"
      }
      spark.range(0, SeedRows, 1, SeedPartitions).select(
        col("id").as("ord"),
        zipf(rand(seed)).as("key"),
        when(rand(seed + 1) < TombstoneFrac, lit(null).cast(DoubleType))
          .otherwise(round(-log1p(-rand(seed + 2)) * 50.0, 2)).as("value"),
        (lit(dueMs) - (rand(seed + 3) * MaxLatenessMs).cast(LongType)).as("event_ms"))
    }

    def batch(index: Int, dueMs: Long): Batch = {
      val fresh = Slice(SeedRows + index.toLong * RowsPerBatch, rows(RowsPerBatch, dueMs))
      val replay =
        if (index % ReplayEvery == ReplayEvery - 1) {
          val old = sent(rng.nextInt(sent.size))
          Some(Slice(old.startOffset, old.rows.take(ReplayRows)))
        } else None
      sent += fresh
      Batch(index, dueMs, fresh, replay)
    }
  }

  private def messages(raw: DataFrame, startOffset: Long, nowMs: Long): DataFrame =
    Produce.build(raw, Topic, Producer, Partitions, "ord", nowMs,
      startOffset = startOffset, startSeq = startOffset, allKeyed = true)
      // a null value is the key's delete marker
      .withColumn("tombstone", col("value").isNull)

  private def publish(spark: SparkSession, b: Batch, topicDir: String, tracer: Tracer): Publish = {
    val startMs = System.currentTimeMillis()
    def msgs(s: Slice): DataFrame =
      messages(spark.createDataFrame(s.rows.asJava, rawSchema), s.startOffset, startMs)
    val rows = b.fresh.rows.size + b.replay.map(_.rows.size).getOrElse(0)
    try {
      val all = b.replay.map(r => msgs(b.fresh).unionByName(msgs(r))).getOrElse(msgs(b.fresh))
      val accepted = tracer.span("produce", s"batch ${b.index}") {
        Produce.appendDedup(spark, all, topicDir)
      }
      Publish(b.index, b.dueMs, startMs, System.currentTimeMillis(), rows,
        b.fresh.rows.size, accepted, "ok")
    } catch {
      case NonFatal(t) => Publish(b.index, b.dueMs, startMs, System.currentTimeMillis(),
        rows, b.fresh.rows.size, 0L, Ops.status(t))
    } finally CacheScope.releaseAll()
  }

  private def stream(spark: SparkSession, topicDir: String): DataFrame =
    TopicStream.subscribe(spark, topicDir, maxFilesPerTrigger = 100000)

  private def windows(env: DataFrame): DataFrame =
    StreamingOps.tumblingCounts(env, WindowMs, Watermark)

  private def windowRows(df: DataFrame): Set[(Long, String, Long, Double)] =
    df.select("window_start_ms", "topic", "n", "sum_v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toSet

  private def viewRows(spark: SparkSession, tableDir: String): Map[String, (Double, Long, Long)] =
    StreamingOps.compactedTable(spark, tableDir)
      .select("key", "value", "publish_ms", "msg_offset").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap

  private def tableView(spark: SparkSession, topicDir: String, dir: String): StreamingQuery =
    StreamingOps.compactedTableStream(stream(spark, topicDir), s"$dir/ckpt", s"$dir/table")

  final case class CatchUp(drainS: Double, view: Map[String, (Double, Long, Long)])

  /** Replay the whole topic from earliest through a fresh TableView: timed
   * from the query's start until it has committed every row. */
  private def catchUp(spark: SparkSession, topicDir: String, dir: String): CatchUp = {
    val t0 = System.nanoTime()
    val q = tableView(spark, topicDir, dir)
    val t1 = try { q.processAllAvailable(); System.nanoTime() } finally q.stop()
    CatchUp((t1 - t0) / 1e9, viewRows(spark, s"$dir/table"))
  }

  /** End of each trigger that read input, with the rows read up to it. */
  private def triggers(q: StreamingQuery): Seq[(Long, Long, StreamingQueryProgress)] = {
    var cum = 0L
    q.recentProgress.toSeq.sortBy(_.batchId).map { p =>
      cum += p.numInputRows
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L).longValue
      (end, cum, p)
    }.filter(_._3.numInputRows > 0)
  }

  private def parquetFiles(topicDir: String): Array[java.io.File] =
    Option(new java.io.File(topicDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  def run(o: Opts, tracer: Tracer): Map[String, Any] = {
    val started = Setup.start(o)
    val spark = started.spark
    val topicDir = s"${o.work}/topic"
    val nBatches = math.max(1, (o.seconds * 1000L / IntervalMs).toInt)
    val gen = new Generator(o.seed)

    // warmup: the topic's history (which also compiles the message builder),
    // and the window consumer up and through it before the first batch is due
    val nowMs = System.currentTimeMillis()
    Produce.append(messages(gen.history(spark, nowMs), 0L, nowMs), topicDir)
    CacheScope.releaseAll()
    val seedFiles = parquetFiles(topicDir).length
    val win = StreamingOps.runToMemoryProcessing(windows(stream(spark, topicDir)),
      "pb_windows", OutputMode.Complete(), s"${o.work}/ckpt-win", intervalMs = 200L)
    win.processAllAvailable()
    val setup = started.end()

    if (o.trace) tracer.attach(spark.sparkContext)
    val phaseStartNs = tracer.nowNs()
    // open loop: the generator queues each batch at its due time whatever
    // the publisher is doing; lag is how late the generator itself ran
    val queue = new LinkedBlockingQueue[Option[Batch]]()
    val lagMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpu0 = Host.cpuJiffies()
    val t0 = System.currentTimeMillis() + 100
    val generator = new Thread(() => {
      (0 until nBatches).foreach { i =>
        val due = t0 + i * IntervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val b = gen.batch(i, due)
        lagMs += (System.currentTimeMillis() - due).toDouble
        queue.put(Some(b))
      }
      queue.put(None)
    }, "perfbench-generator")
    val published = scala.collection.mutable.ArrayBuffer.empty[Publish]
    val filesAfter = scala.collection.mutable.ArrayBuffer.empty[Int]
    val publisher = new Thread(() => {
      var next = queue.take()
      while (next.isDefined) {
        published += publish(spark, next.get, topicDir, tracer)
        filesAfter += parquetFiles(topicDir).length
        next = queue.take()
      }
    }, "perfbench-publisher")
    generator.start(); publisher.start()
    generator.join(); publisher.join()
    val endMs = System.currentTimeMillis()
    val cpu1 = Host.cpuJiffies()
    val acceptedTotal = published.map(_.accepted).sum
    // rows the window consumer had read when the schedule ended, seed included
    val consumedEnd = triggers(win).lastOption.map(_._2).getOrElse(0L)
    val cumAccepted = published.scanLeft(SeedRows.toLong)(_ + _.accepted).tail
    val backlogRowsEnd = SeedRows + acceptedTotal - consumedEnd
    // files written by publishes the consumer had not fully read by then
    val backlogFilesEnd = filesAfter.lastOption.getOrElse(seedFiles) -
      (seedFiles +: cumAccepted.zip(filesAfter).collect { case (c, f) if c <= consumedEnd => f })
        .max
    win.processAllAvailable()
    val drainedNs = tracer.nowNs()
    val trig = triggers(win)
    win.stop()
    val phaseS = (drainedNs - phaseStartNs) / 1e9
    val phaseExec = if (!o.trace) Map.empty[String, Double] else {
      tracer.detach()
      Layers.exec(tracer, 1.0, phaseS, o.cores)
    }

    // delivery: a batch is visible when the first trigger that has read
    // all rows accepted up to it commits
    val deliverMs = for {
      (p, cum) <- published.toSeq.zip(cumAccepted) if p.status == "ok"
      end <- trig.find(_._2 >= cum).map(_._1)
    } yield (end - p.dueMs).toDouble
    val ackMs = published.filter(_.status == "ok").map(p => (p.ackMs - p.dueMs).toDouble).toSeq

    // catch-up replays, untraced; in a traced run, pairs of one more
    // untraced and one traced replay then measure the tracing overhead
    // (paired, because later replays run faster than earlier ones)
    val replays = (0 to CatchUps).map(i => catchUp(spark, topicDir, s"${o.work}/catchup-$i"))
    val catchUps = replays.tail
    val traceOverheadS = if (!o.trace) 0.0 else Stats.median((1 to TracedCatchUps).map { i =>
      val untraced = catchUp(spark, topicDir, s"${o.work}/paired-untraced-$i").drainS
      tracer.attach(spark.sparkContext)
      try catchUp(spark, topicDir, s"${o.work}/paired-traced-$i").drainS - untraced
      finally tracer.detach()
    })
    val catchUpS = Stats.median(catchUps.map(_.drainS))

    // output checks (untimed): every consumer against its batch twin
    val topicDf = spark.read.schema(Envelope.schema).parquet(topicDir)
    val twinView = Compaction.tableView(topicDf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    val twinWindows = windowRows(TimeWindows.tumbling(topicDf, WindowMs,
      Seq(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("sum_v")), Seq(col("topic"))))
    val topicRows = topicDf.count()
    val allRows = SeedRows + acceptedTotal
    val generatedRows = published.map(_.rows).sum
    val replayRows = published.map(p => p.rows - p.fresh).sum
    val checks = Seq(
      "windows_equal_batch_twin" -> (windowRows(spark.table("pb_windows")) == twinWindows),
      "accepted_equals_generated_minus_replays" ->
        (acceptedTotal == generatedRows - replayRows && topicRows == allRows)) ++
      replays.zipWithIndex.map { case (c, i) => s"catchup_${i}_equals_batch_twin" -> (c.view == twinView) }
    val failedOps = published.filter(_.status != "ok").map(p => s"publish ${p.index} ${p.status}")
    val failedChecks = checks.filterNot(_._2).map(c => s"check ${c._1}")

    val files = parquetFiles(topicDir)
    val layers = if (!o.trace) Map.empty[String, Double] else {
      // triggers of the schedule, not the set-up's read of the seed
      val prog = trig.map(_._3).filter(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L >= phaseStartNs)
      def dur(k: String) = Stats.median(prog.map(_.durationMs.getOrDefault(k, 0L).doubleValue))
      val state = Option(win.lastProgress).toSeq.flatMap(_.stateOperators)
      // trigger spans from the consumer's own progress records
      prog.foreach { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        tracer.add(Span(tracer.newId(), 0L, "trigger", s"${p.name} ${p.batchId}", s,
          s + p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L))
      }
      val inPhase = (s: Span) => s.startNs >= phaseStartNs && s.endNs <= drainedNs
      val attemptedRows = published.map(_.rows).sum.toDouble
      phaseExec ++ Layers.spans(tracer, inPhase, 1.0) ++
        Setup.layerMetrics(setup) ++ Map(
          "produce.calls" -> published.size.toDouble,
          "produce.append_s" -> Stats.median(published.map(p => (p.ackMs - p.startMs) / 1e3).toSeq),
          "produce.rows_accepted" -> acceptedTotal.toDouble,
          "produce.accept_ratio" -> acceptedTotal / attemptedRows,
          "produce.bytes_written" -> files.map(_.length).sum.toDouble,
          "streaming.batches" -> prog.size.toDouble,
          "streaming.trigger_p50_ms" -> dur("triggerExecution"),
          "streaming.addBatch_ms" -> dur("addBatch"),
          "streaming.latestOffset_ms" -> dur("latestOffset"),
          "streaming.queryPlanning_ms" -> dur("queryPlanning"),
          "streaming.walCommit_ms" -> dur("walCommit"),
          "streaming.state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
          "streaming.state_mb" -> state.map(_.memoryUsedBytes).sum / (1024.0 * 1024.0),
          "topic.backlog_files_end" -> backlogFilesEnd.toDouble,
          "topic.files" -> files.length.toDouble,
          "bench.steal_frac" -> Host.stealFrac(cpu0, cpu1),
          "bench.generator_lag_p90_ms" -> Stats.quantile(lagMs.toSeq, 0.9),
          "bench.trace_overhead" -> traceOverheadS)
    }

    val attempted = published.size + replays.size + checks.size
    Map(
      "workload" -> o.workload,
      "attempted" -> attempted,
      "failed" -> (failedOps.size + failedChecks.size),
      "failed_names" -> (failedOps ++ failedChecks),
      "end_to_end" -> Map(
        "setup_s" -> setup.totalS,
        "wall_s" -> catchUpS,
        "op_p50_s" -> Stats.median(deliverMs) / 1e3),
      "printed" -> Map(
        "peak_rss_mb" -> Seq(Host.peakRssMb(), "MB"),
        "publish_p50_ms" -> Seq(Stats.median(ackMs), "ms"),
        "publish_p90_ms" -> Seq(Stats.quantile(ackMs, 0.9), "ms"),
        "deliver_p50_ms" -> Seq(Stats.median(deliverMs), "ms"),
        "deliver_p90_ms" -> Seq(Stats.quantile(deliverMs, 0.9), "ms"),
        "deliver_samples" -> Seq(deliverMs.size, "count"),
        "catchup_rows_per_s" -> Seq(allRows / catchUpS, "rows/s"),
        "offered_rows_per_s" -> Seq(RowsPerBatch * 1000.0 / IntervalMs, "rows/s"),
        "schedule_s" -> Seq((endMs - t0) / 1e3, "s"),
        "backlog_rows_end" -> Seq(backlogRowsEnd, "rows"),
        "backlog_files_end" -> Seq(backlogFilesEnd, "count"),
        "failed_frac" -> Seq((failedOps.size + failedChecks.size).toDouble / attempted, "ratio")),
      "per_layer" -> Layers.complete(layers),
      "env" -> (Setup.env(o, spark, setup) ++ Map(
        "steal_frac" -> Host.stealFrac(cpu0, cpu1),
        "generator_lag_p90_ms" -> Stats.quantile(lagMs.toSeq, 0.9),
        "batches" -> nBatches,
        "catchups_s" -> replays.map(_.drainS),
        "publishes" -> published.map(p => Map("batch" -> p.index, "wait_ms" -> (p.startMs - p.dueMs),
          "call_ms" -> (p.ackMs - p.startMs), "rows" -> p.rows, "fresh" -> p.fresh,
          "accepted" -> p.accepted, "status" -> p.status)),
        "seed_rows" -> SeedRows,
        "topic_rows" -> topicRows)),
      "check" -> Map("results" -> "", "checked" -> checks.map(_._1)))
  }
}
