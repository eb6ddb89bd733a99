package graft

import graft.functions.Exact
import graft.model.{EventLog, MessageEnvelope}
import graft.operators.{Compaction, Dedup, TimeWindows}
import graft.streaming.{DocIngest, StreamingOps, TopicStream, UrlIngest}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Streaming operators converge to their batch twins on a replayed log
 * (the M4 contract). The first tests use a hand log; the parity battery
 * after them replays the sf0.001 fixture through deterministic
 * micro-batches and checks every streaming operator against its batch
 * twin on the same data — most of them also across a checkpoint
 * stop/restart. Each parity test is named after the check it runs. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._
  import TestSpark.spark.implicits._
  private implicit lazy val sqlCtx: SQLContext = spark.sqlContext

  // ---------------------------------------------------------- lifecycle
  // Everything the suite leaves behind on the shared session is undone
  // in afterAll: queries still running (a failed assert skips its
  // stop()), memory-sink views, the relations it cached, and its temp
  // dirs. Blocks of localCheckpointed relations fall to ContextCleaner.

  private val dirs = ArrayBuffer.empty[String]
  private val persisted = ArrayBuffer.empty[Dataset[_]]
  private var queriesBefore = Set.empty[java.util.UUID]
  private var viewsBefore = Set.empty[String]

  private def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    dirs += d
    d
  }
  private def ckpt() = tmpDir("graft-test-ckpt-")
  private def cached[T](ds: Dataset[T]): Dataset[T] = {
    persisted += ds
    ds.cache()
  }
  private def tempViews: Set[String] = spark.catalog.listTables().collect()
    .filter(_.isTemporary).map(_.name).toSet

  override def beforeAll(): Unit = {
    super.beforeAll()
    queriesBefore = spark.streams.active.map(_.id).toSet
    viewsBefore = tempViews
  }

  override def afterAll(): Unit =
    try {
      spark.streams.active.filterNot(q => queriesBefore(q.id)).foreach(_.stop())
      (tempViews -- viewsBefore).foreach(spark.catalog.dropTempView)
      persisted.foreach(_.unpersist())
      CacheScope.releaseAll()
      dirs.foreach(Scratch.rm)
    } finally super.afterAll()

  //            off producer seq  key  value  event tomb marker
  private val rows = Seq(
    (0L, "p0", 0L, "a", 1.0, 100L, false, None),
    (1L, "p0", 1L, "b", 2.0, 200L, false, None),
    (2L, "p0", 1L, "a", 3.0, 300L, false, None), // replay seq 1
    (3L, "p0", 3L, "a", 4.0, 400L, false, None),
    (4L, "p1", 0L, "b", 5.0, 500L, true, None),  // tombstone b
    (5L, "p1", 0L, "c", 6.0, 600L, false, None)  // replay seq 0
  )
  private lazy val log = env(rows)

  test("streaming tableView converges to the batch view across batches") {
    val s = MemoryStream[MessageEnvelope]
    val (q, view) = StreamingOps.tableViewStream(s.toDF(), ckpt())
    val envelopes = log.as[MessageEnvelope].collect().sortBy(_.msg_offset)
    envelopes.grouped(2).foreach { c => s.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    val batch = Compaction.tableView(log).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(view.snapshot.view.mapValues(_.value).toMap === batch)
    assert(view.get("b").isEmpty) // tombstoned
  }

  test("streaming keyed-state dedup converges to batch dropReplays") {
    val s = MemoryStream[MessageEnvelope]
    val q = StreamingOps.dropReplaysStream(s.toDS()).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("spec_dedup")
      .option("checkpointLocation", ckpt()).start()
    val envelopes = log.as[MessageEnvelope].collect().sortBy(_.msg_offset)
    envelopes.grouped(2).foreach { c => s.addData(c.toSeq); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("spec_dedup").select("msg_offset")
      .collect().map(_.getLong(0)).sorted.toSeq
    val batch = Dedup.dropReplays(log).select("msg_offset")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed === batch)
  }

  test("tableViewStream REFUSES past the documented key-cardinality ceiling") {
    // the silent-driver-OOM edge fails by NAME: a topic whose key space
    // exceeds maxKeys kills the query with the contract message instead
    // of growing the client map without bound (the scaledPlanes
    // discipline; past the ceiling the operator is compactedTableStream)
    val s = MemoryStream[MessageEnvelope]
    val (q, _) = StreamingOps.tableViewStream(s.toDF(), ckpt(), maxKeys = 4)
    val proto = log.as[MessageEnvelope].head()
    val sixKeys = (0 until 6).map { i =>
      proto.copy(msg_offset = i.toLong, key = s"k$i", tombstone = false)
    }
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      s.addData(sixKeys); q.processAllAvailable()
    }
    q.stop()
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.getMessage != null && c.getMessage.contains("exceeds maxKeys=4")), ex)
  }

  test("urlCensusStream REFUSES past the documented per-host URL ceiling") {
    // the one stateful twin whose PER-KEY state is not O(1) (the host's
    // distinct-URL histogram lives in ONE state-store entry): a host
    // exceeding maxUrlsPerHost kills the query with the contract message
    // instead of growing an executor-resident map without bound — the
    // tableViewStream maxKeys discipline applied to a state store.
    // Repeats of KNOWN urls stay legal at the ceiling (they grow counts,
    // not the histogram).
    val s = MemoryStream[graft.streaming.UrlIngest]
    val q = StreamingOps.urlCensusStream(s.toDS(), maxUrlsPerHost = 2)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("spec_url_census_refuse")
      .option("checkpointLocation", ckpt()).start()
    s.addData(
      graft.streaming.UrlIngest(1L, "h", "http://h/a", 10L),
      graft.streaming.UrlIngest(2L, "h", "http://h/b", 10L),
      graft.streaming.UrlIngest(3L, "h", "http://h/a", 10L)) // repeat: legal
    q.processAllAvailable()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      s.addData(graft.streaming.UrlIngest(4L, "h", "http://h/c", 10L))
      q.processAllAvailable()
    }
    q.stop()
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("exceeds maxUrlsPerHost=2")), ex)
  }

  test("TableView listeners fire on upsert and delete") {
    val view = new graft.streaming.TableView
    var events = List.empty[(String, Boolean)]
    view.forEachAndListen((k, v) => events ::= (k, v.isDefined))
    view.upsert("x", graft.streaming.TableViewEntry(1.0, 0L, 0L))
    view.remove("x")
    assert(events.reverse === List(("x", true), ("x", false)))
  }

  // ------------------------------------------------- fixture parity battery
  // Batch twins shared by a convergence test and its restart twin are
  // lazy, so any single test also runs on its own.

  private val sfDir = "/root/testdata/sf0.001"
  private val H6_MS = 21600000L

  private def documents = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val batchDf = cached(EventLog.topic(spark, sfDir))
  private lazy val envs =
    batchDf.as[MessageEnvelope].collect().sortBy(_.msg_offset)
  private lazy val chunks = envs.grouped(math.max(1, envs.length / 5 + 1)).toSeq

  private lazy val batchView = Compaction.tableView(batchDf).collect()
    .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
  private lazy val batchKept = Dedup.dropReplays(batchDf).select("msg_offset")
    .collect().map(_.getLong(0)).sorted.toSeq
  private lazy val batchWin = TimeWindows.tumbling(batchDf, H6_MS,
      Seq(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("sum_v")),
      Seq(col("topic")))
    .select("window_start_ms", "topic", "n", "sum_v").collect()
    .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
  private def sameWindows(got: scala.collection.Map[(Long, String), (Long, Double)]) =
    got.keySet == batchWin.keySet && got.forall {
      case (k, (n, s)) => batchWin(k)._1 == n && math.abs(batchWin(k)._2 - s) < 1e-6
    }
  private lazy val batchAsm = graft.operators.ChunkBatch.reassembleChunks(batchDf)
    .select("uuid_group", "num_chunks", "assembled", "first_offset").collect()
    .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3))).toMap
  private lazy val batchOrd = graft.functions.PFunctions.keyOrderedProbe(
      batchDf.select(col("key"), col("msg_offset"), col("value"))
        .as[(String, Long, Double)])
    .collect().map { case (k, off, _, seq, _) => (k, off) -> seq }.toMap

  private lazy val docIngest = documents
    .select(col("doc_id"),
      graft.pipeline.TextOps.fingerprint(col("text")).as("fp"))
    .as[DocIngest].collect().sortBy(_.doc_id)
  private lazy val batchSurv = documents
    .groupBy(graft.pipeline.TextOps.fingerprint(col("text")).as("fp"))
    .agg(min(col("doc_id")).as("doc_id"))
    .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  private def funnelTimes(r: org.apache.spark.sql.Row) =
    (Option(r.getAs[java.lang.Long]("t1")).map(_.toLong),
      Option(r.getAs[java.lang.Long]("t2")).map(_.toLong),
      Option(r.getAs[java.lang.Long]("t3")).map(_.toLong),
      Option(r.getAs[java.lang.Long]("t4")).map(_.toLong))
  private lazy val funRows = EventLog.raw(spark, sfDir)
    .select(col("user_id"), col("event_type"),
      expr("ts div 1000000").as("ms"))
    .as[(Long, String, Long)].collect()
    .sortBy(r => (r._3, r._1)) // global event-time order
    .map(r => graft.streaming.FunnelEvent(r._1, r._2, r._3))
  private lazy val batchFun = graft.operators.Funnel.stageTimes(
      EventLog.raw(spark, sfDir)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000000").as("ms")))
    .collect().map(r => r.getAs[Long]("user_id") -> funnelTimes(r))
    .filter(_._2._1.isDefined).toMap // stage-0 users never emit

  private lazy val retRows = EventLog.raw(spark, sfDir)
    .select(col("user_id"), expr("(ts div 1000000) div 86400000").as("day"))
    .as[(Long, Long)].collect()
    .sortBy(r => (r._2, r._1))
    .map(r => graft.streaming.RetEvent(r._1, r._2))
  // the SAME batch relation q30 serves (Retention.cells), so the checks
  // guard the real query, not a private re-derivation
  private lazy val batchRetMap = graft.operators.Retention.cells(
      EventLog.raw(spark, sfDir)
        .select(col("user_id"),
          expr("(ts div 1000000) div 86400000").as("day")))
    .groupBy(col("cohort_week"), col("offset_week"))
    .agg(count(lit(1)).as("n"))
    .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  private lazy val sessRows = EventLog.raw(spark, sfDir)
    .select(col("user_id"), col("event_id"),
      expr("ts div 1000000").as("ms"))
    .as[(Long, Long, Long)].collect()
    .sortBy(r => (r._3, r._2))
    .map(r => graft.streaming.SessEvent(r._1, r._2, r._3))
  private lazy val batchSessions = graft.operators.Sessionize.sessions(
      EventLog.raw(spark, sfDir)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000000").as("ms")), gapMs = 1800000L)
    .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx")) ->
      (r.getAs[Long]("n_events"), r.getAs[Long]("start_ms"),
        r.getAs[Long]("end_ms"))).toMap

  private lazy val trRows = EventLog.raw(spark, sfDir)
    .select(col("user_id"), col("event_id"),
      expr("ts div 1000000").as("ms"), col("event_type"))
    .as[(Long, Long, Long, String)].collect()
    .sortBy(r => (r._3, r._2))
    .map(r => graft.streaming.TypedEvent(r._1, r._2, r._3, r._4))
  private lazy val batchTr = SparkEntry.queries("q36_markov_transitions")(spark, sfDir)
    .collect().map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
      r.getAs[Long]("n")).toMap

  private lazy val sampRows = {
    val w = coalesce(graft.pipeline.TextOps.tokenCount(col("text")), lit(1)) + lit(1)
    documents.select(col("source"), col("doc_id"),
        graft.pipeline.CorpusOps.esKey(col("text"), col("doc_id"), w).as("ky"),
        w.cast("double").as("w"))
      .as[(String, Long, Double, Double)].collect()
      .map(r => graft.streaming.SampleCand(r._1, r._2, r._3, r._4))
  }
  private lazy val batchSamp = SparkEntry.queries("p41_weighted_sample")(spark, sfDir)
    .collect().map(r => r.getAs[String]("stratum") ->
      ((r.getAs[String]("sampled_md5"), r.getAs[Double]("weight_sampled")))).toMap
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private lazy val rsEvents = graft.queries.LogQueries.rsMarkerRows.map {
    case (q, t, m, sid, c, l, en) =>
      graft.streaming.RsMarkerEvent(q, t, m, sid, c, l, en)
  }
  private lazy val batchCensus = {
    val batchSync = graft.operators.ReplicatedSubscription.sync(
      graft.queries.LogQueries.rsMarkerRows
        .toDF("seq", "ts_ms", "mtype", "sid", "cluster", "r_ledger",
          "r_entry"),
      graft.queries.LogQueries.rsAdvanceRows.toDF("adv_seq", "md_entry"),
      Seq("B", "C"), 10000L).collect()
    batchSync.groupBy(_.getString(0)).map {
      case (sid, rows) =>
        val status = rows.head.getString(1)
        val le = if (rows.head.isNullAt(2)) -1L else rows.head.getLong(2)
        val csv = if (status == "completed")
          rows.map(r => (r.getString(4), r.getLong(5))).sortBy(_._1)
            .map { case (c, p) => s"$c:$p" }.mkString(",")
        else ""
        sid -> ((status, le, csv))
    }
  }

  // the MinHash-append battery: base corpus = doc_id % 10 != 5, arriving
  // batch = doc_id % 10 == 5 in doc-id order
  private lazy val allDocs = documents
    .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
  private lazy val appendDocs = allDocs.filter(col("doc_id") % 10 === 5)
    .as[(Long, String)].collect().sortBy(_._1)
  private lazy val appendChunks =
    appendDocs.grouped(math.max(1, appendDocs.length / 5 + 1)).toSeq
  private def verdictRows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0),
      r.getAs[Long]("n_base_dups"), r.getAs[Long]("n_prior_batch_dups"),
      if (r.isNullAt(r.fieldIndex("dup_of"))) None
      else Some(r.getAs[Long]("dup_of")),
      if (r.isNullAt(r.fieldIndex("max_jaccard"))) None
      else Some(r.getAs[Double]("max_jaccard")),
      r.getAs[Boolean]("dropped")))
  private lazy val wantAppend = verdictRows(graft.pipeline.DedupOps
    .minhashAppendVerdicts(allDocs, "doc_id", "text",
      batch = col("doc_id") % 10 === 5)).sortBy(_._1).toSeq

  private lazy val urlBase = graft.pipeline.UrlOps.frontierBase(
      documents, expr(graft.queries.PipelineQueries.rawUrlSql))
    .select(col("doc_id"), col("host"), col("url"), col("chars"))
  private lazy val urlDocs = urlBase.as[UrlIngest].collect().sortBy(_.doc_id)
  private def censusMap(df: DataFrame) =
    df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))).toMap
  private lazy val batchUrlCensus =
    censusMap(graft.pipeline.UrlOps.hostCensus(urlBase))

  /** Feed `rows` to a fresh MemoryStream-backed query in ~`parts` chunks,
   * draining after each, then stop it. */
  private def replay[T: Encoder](rows: Seq[T], parts: Int = 5)(
      start: Dataset[T] => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val s = MemoryStream[T]
    val q = start(s.toDS())
    rows.grouped(math.max(1, rows.length / parts + 1))
      .foreach { c => s.addData(c); q.processAllAvailable() }
    q.stop()
  }

  /** Run `df` into a memory sink named `name` (the view the test reads). */
  private def toMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()) =
    df.writeStream.outputMode(mode).format("memory").queryName(name)
      .option("checkpointLocation", ckpt()).start()

  // Stateful RESTART durability (stop mid-stream, resume a BRAND-NEW
  // query instance from the CHECKPOINT alone, converge to the batch twin
  // across the restart boundary). Each leg writes its input as two
  // parquet appends: pass 1 consumes the first half and STOPS; pass 2 is
  // a fresh query instance on the same checkpoint, so every bit of
  // cross-boundary state must come from the state store, never the
  // query object.
  private def restartLegs[T <: Product, U](rows: Seq[T],
      mode: OutputMode)(
      stream: Dataset[T] => Dataset[U])(
      onBatch: DataFrame => Unit)(
      implicit enc: Encoder[T]): Unit = {
    val srcDir = tmpDir("graft-rst-")
    val ck = ckpt()
    Seq(rows.take(rows.length / 2), rows.drop(rows.length / 2))
      .foreach { part =>
        spark.createDataset(part)(enc).coalesce(1)
          .write.mode("append").parquet(srcDir)
        val q = stream(
            spark.readStream.schema(enc.schema).parquet(srcDir).as[T](enc))
          .toDF()
          .writeStream.outputMode(mode)
          .option("checkpointLocation", ck)
          .foreachBatch { (b: DataFrame, _: Long) =>
            onBatch(b); ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
  }

  private def collectLongs(b: DataFrame, c: String): Seq[Long] =
    b.select(c).collect().map(_.getLong(0)).toSeq

  // upsert-by-monotone-version — ONE definition for every
  // max-version-row-wins accumulator
  private def upsertMax[K, V](acc: TrieMap[K, (Long, V)],
      k: K, ver: Long, v: V): Unit = {
    val cur = acc.get(k)
    if (cur.forall(_._1 < ver)) acc.put(k, (ver, v))
  }

  test("tableview") {
    // A5: update-mode max_by → client map == batch tableView
    val s = MemoryStream[MessageEnvelope]
    val (q, view) = StreamingOps.tableViewStream(s.toDF(), ckpt())
    chunks.foreach { c => s.addData(c); q.processAllAvailable() }
    q.stop()
    val streamView = view.snapshot
      .map { case (k, e) => k -> (e.value, e.publish_ms, e.msg_offset) }
    assert(streamView == batchView,
      s"stream=${streamView.size} keys batch=${batchView.size} keys")
  }

  test("dedup") {
    // F5: keyed-state filter == batch dropReplays
    replay(envs.toSeq)(s => toMemory(
      StreamingOps.dropReplaysStream(s).toDF(), "dedup_out"))
    val streamKept = spark.table("dedup_out").select("msg_offset")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamKept == batchKept,
      s"stream=${streamKept.size} rows batch=${batchKept.size} rows")
  }

  test("window") {
    // W1/W4/W6: watermarked tumbling counts == batch window
    replay(envs.toSeq)(s => toMemory(
      StreamingOps.tumblingCounts(s.toDF(), H6_MS, "10 days"), "win_out",
      OutputMode.Complete()))
    val streamWin = spark.table("win_out")
      .select("window_start_ms", "topic", "n", "sum_v").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(sameWindows(streamWin),
      s"stream=${streamWin.size} windows batch=${batchWin.size}")
  }

  test("subscription") {
    // S3/M4: a checkpointed file-stream consumes the topic exactly once;
    // restarting from the checkpoint re-reads nothing
    val topicDir = tmpDir("graft-topic-")
    // three appends = three "ledgers" on disk
    chunks.grouped(2).foreach { g =>
      g.flatten.toSeq.toDS().write.mode("append").parquet(topicDir)
    }
    val subCkpt = ckpt()
    def consumeOnce(): Long = {
      val counter = new java.util.concurrent.atomic.AtomicLong
      val q = TopicStream.subscribe(spark, topicDir, maxFilesPerTrigger = 1)
        .writeStream.option("checkpointLocation", subCkpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          counter.addAndGet(b.count()); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      counter.get()
    }
    val firstRun = consumeOnce()
    val secondRun = consumeOnce() // same checkpoint: cursor already at head
    assert(firstRun == envs.length && secondRun == 0L,
      s"first=$firstRun (want ${envs.length}) second=$secondRun (want 0)")
  }

  test("processing-time-window") {
    // W2: Trigger.ProcessingTime fires micro-batches on cadence like the
    // reference's TimeTriggerPolicy; the deterministic processing clock is
    // publish_ms, so the converged table equals the batch twin
    replay(envs.toSeq)(s => StreamingOps.runToMemoryProcessing(
      StreamingOps.processingTimeCounts(s.toDF(), H6_MS),
      "proc_win_out", OutputMode.Complete(), ckpt()))
    val streamProc = spark.table("proc_win_out")
      .select("window_start_ms", "n", "sum_v").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batchProc = TimeWindows.processingTumbling(batchDf, H6_MS,
      Seq(count(lit(1)).as("n"), Exact.sumE(col("value"), 2).as("sum_v")))
      .select("window_start_ms", "n", "sum_v").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val procOk = streamProc.keySet == batchProc.keySet && streamProc.forall {
      case (k, (n, s)) => batchProc(k)._1 == n && math.abs(batchProc(k)._2 - s) < 1e-6
    }
    assert(procOk, s"stream=${streamProc.size} windows batch=${batchProc.size}")
  }

  test("replication") {
    // S14: one source, two topic dirs; remote copies carry
    // replicated_from = local cluster; re-consuming the remote
    // replicates NOTHING onward (loop break)
    val localDir = tmpDir("graft-repl-local-")
    val remoteDir = tmpDir("graft-repl-remote-")
    replay(envs.toSeq)(s => graft.streaming.Replication.replicateStream(
      s.toDF(), "east", localDir, remoteDir, ckpt()))
    val localN = spark.read.parquet(localDir).count()
    val remote = cached(spark.read.parquet(remoteDir))
    val expectedOutbound = envs.count(_.replicated_from.isEmpty).toLong
    val remoteStamped = remote.filter(col("replicated_from") === "east").count()
    val loopBroken = graft.streaming.Replication.outbound(remote, "east").count()
    assert(
      localN == envs.length && remote.count() == expectedOutbound &&
        remoteStamped == expectedOutbound && loopBroken == 0L,
      s"local=$localN remote=${remote.count()} " +
        s"stamped=$remoteStamped loop=$loopBroken")
  }

  test("effectively-once") {
    // U5: at-least-once delivery into an idempotent sink — the second,
    // duplicate delivery of every batch must append nothing
    val outDir = tmpDir("graft-sink-")
    val msgs = graft.operators.Produce.build(
      spark.read.parquet(s"$sfDir/events.parquet")
        .filter(col("user_id") < 15)
        .select(col("event_id"), col("user_id").cast("string").as("key"),
          col("value")),
      "once-out", "w0", 4, "event_id", nowMs = 0L, allKeyed = true)
    val firstAppend = graft.operators.Produce.appendDedup(spark, msgs, outDir)
    val dupAppend = graft.operators.Produce.appendDedup(spark, msgs, outDir)
    val finalCount = spark.read.parquet(outDir).count()
    assert(dupAppend == 0L && finalCount == firstAppend,
      s"first=$firstAppend dup=$dupAppend final=$finalCount")
  }

  test("chunk-reassembly") {
    // F13: chunks of a uuid arrive across micro-batches; the assembled
    // payload must match the batch reassembler group-for-group, honoring
    // each group's own declared num_chunks (sizes vary 2..5 in the
    // fixture)
    replay(envs.toSeq)(s => toMemory(
      StreamingOps.reassembleChunksStream(s).toDF(), "chunks_out"))
    val streamAsm = spark.table("chunks_out")
      .select("uuid", "n_chunks", "payload", "first_offset").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    assert(streamAsm == batchAsm,
      s"stream=${streamAsm.size} groups batch=${batchAsm.size}")
  }

  test("late-data-route") {
    // W7: on-time rows land in the main topic, late rows in the -LATE
    // topic; the union is the whole log and the late set matches the
    // batch watermark operator row-for-row
    val lateLag = 5000L // yields a nonempty late set at sf0.001
    val mainDir = tmpDir("graft-late-main-")
    val lateDir = tmpDir("graft-late-side-")
    replay(envs.toSeq)(s => graft.streaming.LateData.routeStream(
      s.toDF(), lateLag, mainDir, lateDir, ckpt())._1)
    val streamLate = spark.read.parquet(lateDir)
      .select("msg_offset").collect().map(_.getLong(0)).toSet
    val streamMainN = spark.read.parquet(mainDir).count()
    val batchLate = TimeWindows.lateData(batchDf, lateLag)
      .select("msg_offset").collect().map(_.getLong(0)).toSet
    assert(
      streamLate == batchLate && streamMainN + streamLate.size == envs.length &&
        streamLate.nonEmpty,
      s"streamLate=${streamLate.size} batchLate=${batchLate.size} " +
        s"main=$streamMainN total=${envs.length}")
  }

  test("compacted-table") {
    // A5 at data-plane scale: the tableview's update-mode delta merged
    // into a bucket-partitioned parquet table (only changed buckets
    // rewrite) converges to the batch view with no driver-side state
    val tableDir = tmpDir("graft-ctable-") + "/t"
    replay(envs.toSeq)(s =>
      StreamingOps.compactedTableStream(s.toDF(), ckpt(), tableDir))
    val tableRows = StreamingOps.compactedTable(spark, tableDir)
      .select("key", "value", "publish_ms", "msg_offset").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    assert(tableRows == batchView,
      s"table=${tableRows.size} keys batch=${batchView.size} keys")
  }

  test("key-ordering") {
    // U6: the stateful instance observes every key in offset order
    // across micro-batches; its (key, offset) → ordinal map must equal
    // the batch keyOrderedProbe and the final violation count must be 0
    replay(envs.toSeq)(s => toMemory(
      StreamingOps.keyOrderedStream(s).toDF(), "keyord_out"))
    val streamOrd = spark.table("keyord_out")
      .select("key", "msg_offset", "obs_seq").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamViol = spark.table("keyord_out").agg(max(col("violations")))
      .head().getLong(0)
    assert(streamOrd == batchOrd && streamViol == 0L,
      s"stream=${streamOrd.size} batch=${batchOrd.size} violations=$streamViol")
  }

  test("corpus-dedup") {
    // documents arrive id-ordered across micro-batches; the stateful
    // first-fingerprint-wins filter must converge to the batch
    // min-id-per-fingerprint rule
    replay(docIngest.toSeq)(s => toMemory(
      StreamingOps.corpusDedupStream(s).toDF(), "corpus_dedup_out"))
    val streamSurv = spark.table("corpus_dedup_out").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamSurv == batchSurv,
      s"stream=${streamSurv.size} survivors batch=${batchSurv.size}")
  }

  test("pattern-discovery") {
    // S8 streaming (PatternMultiTopicsConsumerImpl.recheckTopicsChange):
    // a topic matching the pattern that appears after subscribe must
    // join the union; a non-matching topic must not, even when created
    // late
    val nsRoot = tmpDir("graft-ns-")
    def writeTopic(name: String, rows: Seq[MessageEnvelope]): Unit =
      rows.map(_.copy(topic = name)).toDS()
        .write.mode("append").parquet(s"$nsRoot/$name")
    val half = envs.length / 2
    writeTopic("events-a", envs.take(half).toSeq)
    writeTopic("other-x", envs.take(20).toSeq) // pre-existing non-match
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val q = TopicStream.subscribePattern(spark, nsRoot, "^events-.*")
      .writeStream.option("checkpointLocation", ckpt())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.groupBy("topic").count().collect().foreach { r =>
          seen.merge(r.getString(0), r.getLong(1), (a, bb) => a + bb)
        }; ()
      }.start()
    q.processAllAvailable()
    val seenBeforeLate = seen.getOrDefault("events-a", 0L)
    writeTopic("events-b", envs.drop(half).toSeq) // created mid-stream
    writeTopic("other-y", envs.take(20).toSeq) // late non-match
    q.processAllAvailable()
    q.stop()
    assert(
      seenBeforeLate == half &&
        seen.getOrDefault("events-a", 0L) == half &&
        seen.getOrDefault("events-b", 0L) == (envs.length - half).toLong &&
        !seen.containsKey("other-x") && !seen.containsKey("other-y"),
      s"seen=$seen want events-a=$half events-b=${envs.length - half} no other-*")
  }

  test("hll-registers") {
    // the register relation IS the sketch, and its merge IS the same
    // groupBy-max — so an incremental stream over the gram hashes must
    // land on the identical registers, hence the identical estimate
    val grams = documents.select(col("source"),
      explode(graft.pipeline.TextOps.wordNGrams(col("text"), 3)).as("gram"))
    val gramRows = grams
      .select(col("source"),
        graft.pipeline.Sketches.md5Hash60(col("gram")).as("h"))
      .as[(String, Long)].collect()
    replay(gramRows.toSeq)(s => toMemory(graft.pipeline.Sketches
      .hllRegisters(s.toDF("source", "h"), col("source"), col("h")),
      "hll_regs", OutputMode.Complete()))
    def estKey(df: DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        (r.getAs[Double]("est_distinct"), r.getAs[Int]("zero_registers"))).toMap
    val streamEst = estKey(graft.pipeline.Sketches
      .hllEstimateFromRegisters(spark.table("hll_regs")))
    val batchEst = estKey(graft.pipeline.Sketches.hllDistinct(grams,
      col("source"), graft.pipeline.Sketches.md5Hash60(col("gram"))))
    assert(streamEst == batchEst, s"stream=$streamEst batch=$batchEst")
  }

  private def docWords = documents
    .select(col("source"),
      explode(graft.pipeline.TextOps.words(
        coalesce(col("text"), lit("")))).as("word"))
    .filter(length(col("word")) > 0)

  test("bloom-bits") {
    // the packed bit relation IS the filter, and the merge IS the same
    // groupBy-bit_or — an incremental ingest stream must land on the
    // identical words, hence identical membership
    val wordRows = docWords.as[(String, String)].collect()
    replay(wordRows.toSeq)(s => toMemory(graft.pipeline.Sketches
      .bloomBits(s.toDF("source", "word"),
        col("source"), col("word"), mBits = 4096, k = 4),
      "bloom_bits", OutputMode.Complete()))
    def bitsKey(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val streamBits = bitsKey(spark.table("bloom_bits"))
    val batchBits = bitsKey(graft.pipeline.Sketches.bloomBits(docWords,
      col("source"), col("word"), mBits = 4096, k = 4))
    assert(streamBits == batchBits,
      s"stream words=${streamBits.size} batch words=${batchBits.size}")
  }

  test("cms-counters") {
    // the counter table IS the sketch, and CM merge IS addition — a
    // Complete-mode count over the streamed items must land on the
    // identical d×w table
    val cmWords = docWords.select("word").as[String].collect()
    replay(cmWords.toSeq)(s => toMemory(graft.pipeline.Sketches
      .cmsCounters(s.toDF("word"), col("word"), d = 4, w = 256),
      "cms_counters", OutputMode.Complete()))
    def cmKey(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val streamCm = cmKey(spark.table("cms_counters"))
    val batchCm = cmKey(graft.pipeline.Sketches.cmsCounters(
      docWords.select("word"), col("word"), d = 4, w = 256))
    assert(streamCm == batchCm,
      s"stream slots=${streamCm.size} batch slots=${batchCm.size}")
  }

  test("kmv-sketch") {
    // the typed KMinAggregator is order-insensitive by construction —
    // its streaming state after any chunking must equal the batch
    // buffer, hence the identical kth_min and estimate
    val kmvRows = documents
      .select(col("source"),
        explode(graft.pipeline.TextOps.wordNGrams(col("text"), 3)).as("gram"))
      .select(col("source"),
        graft.pipeline.Sketches.md5Hash32(col("gram")).as("h"))
      .as[(String, Long)].collect()
    replay(kmvRows.toSeq)(s => toMemory(graft.pipeline.Sketches
      .kmvDistinct(s.toDF("source", "h"), col("source"), col("h"), k = 32),
      "kmv_sketch", OutputMode.Complete()))
    def kmvKey(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getAs[Int]("n_kept"),
        r.getAs[Long]("kth_min"), r.getAs[Double]("est_distinct"))).toMap
    val streamKmv = kmvKey(spark.table("kmv_sketch"))
    val batchKmv = kmvKey(graft.pipeline.Sketches.kmvDistinct(
      kmvRows.toSeq.toDF("source", "h"), col("source"), col("h"), k = 32))
    assert(streamKmv == batchKmv, s"stream=$streamKmv batch=$batchKmv")
  }

  test("session-windows") {
    // merging-interval state under incremental arrival: events stream in
    // time order; a far-future sentinel advances the watermark so every
    // real session closes and emits in Append mode — the emitted set
    // must equal the batch session_window result
    val keyTimes = EventLog.topic(spark, sfDir)
      .select(col("key"), col("publish_ms"))
      .as[(String, Long)].collect().sortBy(_._2)
    val sentinelMs = keyTimes.map(_._2).max + 30L * 86400000L
    def sessionize(df: DataFrame) = df
      .select(col("key"), timestamp_millis(col("ms")).as("ts"))
      .withWatermark("ts", "0 seconds")
      .groupBy(col("key"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("key"), unix_millis(col("w.start")).as("s"),
        unix_millis(col("w.end")).as("e"), col("n_events"))
    val s = MemoryStream[(String, Long)]
    val q = toMemory(sessionize(s.toDF().toDF("key", "ms")), "sessions")
    keyTimes.grouped(math.max(1, keyTimes.length / 5 + 1))
      .foreach { c => s.addData(c); q.processAllAvailable() }
    s.addData(("zz-sentinel", sentinelMs)); q.processAllAvailable()
    s.addData(("zz-sentinel", sentinelMs + 1)); q.processAllAvailable()
    q.stop()
    def sessKey(df: DataFrame) = df
      .filter(col("key") =!= "zz-sentinel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val streamSess = sessKey(spark.table("sessions"))
    val batchSess = sessKey(sessionize(keyTimes.toSeq.toDF("key", "ms")))
    assert(streamSess == batchSess && streamSess.nonEmpty,
      s"stream=${streamSess.size} batch=${batchSess.size}")
  }

  test("stream-stream-join") {
    // Two independent streams — clicks and purchases — joined per user
    // under the watermarked time-range condition purchase ∈ (click−6h,
    // click]: the canonical stream-stream join, state bounded by the
    // watermark on BOTH sides. Events arrive time-ordered in chunks; a
    // far-future sentinel flushes remaining state. Append-mode inner
    // join must emit exactly the batch interval join of the same log.
    val ssRows = EventLog.topic(spark, sfDir)
      .filter(col("marker_type").isNull)
      .select(col("key"), col("publish_ms"), col("value"),
        (col("msg_offset") % 2 === 0).as("is_click"))
      .as[(String, Long, Double, Boolean)].collect().sortBy(_._2)
    val ssSentinel = ssRows.map(_._2).max + 30L * 86400000L
    def ssJoin(clicks: DataFrame, purchases: DataFrame) = {
      val c = clicks
        .select(col("key"), timestamp_millis(col("ms")).as("cts"),
          col("v").as("cv"))
        .withWatermark("cts", "0 seconds")
      val p = purchases
        .select(col("key").as("pkey"), timestamp_millis(col("ms")).as("pts"),
          col("v").as("pv"))
        .withWatermark("pts", "0 seconds")
      c.join(p, col("key") === col("pkey") &&
        col("pts") > col("cts") - expr(s"INTERVAL $H6_MS MILLISECONDS") &&
        col("pts") <= col("cts"))
        .select(col("key"), unix_millis(col("cts")).as("cms"),
          unix_millis(col("pts")).as("pms"), col("cv"), col("pv"))
    }
    val sc = MemoryStream[(String, Long, Double)]
    val sp = MemoryStream[(String, Long, Double)]
    val q = toMemory(ssJoin(sc.toDF().toDF("key", "ms", "v"),
      sp.toDF().toDF("key", "ms", "v")), "ss_join")
    ssRows.grouped(math.max(1, ssRows.length / 5 + 1)).foreach { chunk =>
      sc.addData(chunk.filter(_._4).map(r => (r._1, r._2, r._3)))
      sp.addData(chunk.filterNot(_._4).map(r => (r._1, r._2, r._3)))
      q.processAllAvailable()
    }
    for (t <- Seq(ssSentinel, ssSentinel + 1)) {
      sc.addData(("zz-sentinel", t, 0.0))
      sp.addData(("zz-sentinel", t, 0.0))
      q.processAllAvailable()
    }
    q.stop()
    def ssKey(df: DataFrame) = df
      .filter(col("key") =!= "zz-sentinel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val streamSs = ssKey(spark.table("ss_join"))
    val batchSs = ssKey(ssJoin(
      ssRows.toSeq.filter(_._4).map(r => (r._1, r._2, r._3))
        .toDF("key", "ms", "v"),
      ssRows.toSeq.filterNot(_._4).map(r => (r._1, r._2, r._3))
        .toDF("key", "ms", "v")))
    assert(streamSs == batchSs && streamSs.nonEmpty,
      s"stream=${streamSs.size} batch=${batchSs.size}")
  }

  test("ddsketch-buckets") {
    // the bucket relation IS the sketch and DDSketch merge IS count
    // addition — a Complete-mode count over streamed (source, value)
    // rows must land on the identical (source, bucket, n) relation
    val ddRows = documents.select(col("source"), col("n_chars"))
      .as[(String, Long)].collect()
    replay(ddRows.toSeq)(s => toMemory(graft.pipeline.Sketches
      .ddBuckets(s.toDF("source", "n_chars"),
        col("source"), col("n_chars"), alpha = 0.02),
      "dd_buckets", OutputMode.Complete()))
    def ddKey(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamDd = ddKey(spark.table("dd_buckets"))
    val batchDd = ddKey(graft.pipeline.Sketches.ddBuckets(documents,
      col("source"), col("n_chars"), alpha = 0.02))
    assert(streamDd == batchDd && streamDd.nonEmpty,
      s"stream buckets=${streamDd.size} batch buckets=${batchDd.size}")
  }

  test("source-diversity") {
    // the diversity report is one hash aggregate over (source, tokens)
    // plus output-scale share arithmetic — a Complete-mode run over the
    // streamed documents must land on the identical PPM shares and
    // entropy contributions. The streamable half (one hash agg) runs in
    // the stream; the share/entropy arithmetic is applied to the
    // converged counts — the hllRegisters/hllEstimateFromRegisters split
    val divRows = documents
      .select(col("source"), coalesce(col("text"), lit("")).as("text"))
      .as[(String, String)].collect()
    replay(divRows.toSeq)(s => toMemory(graft.pipeline.CorpusOps
      .sourceCounts(s.toDF("source", "text"), "source", "text"),
      "source_counts", OutputMode.Complete()))
    def divKey(df: DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("doc_ppm"),
        r.getAs[Long]("token_ppm"), r.getAs[Double]("entropy_contrib")))
      .toMap
    val streamDiv = divKey(graft.pipeline.CorpusOps
      .diversityFromCounts(spark.table("source_counts"), "source"))
    val batchDiv = divKey(graft.pipeline.CorpusOps.sourceDiversity(
      documents, "source", "text"))
    assert(streamDiv == batchDiv && streamDiv.nonEmpty,
      s"stream=${streamDiv.size} sources batch=${batchDiv.size}")
  }

  test("funnel-state") {
    // per-user 4-long CEP state over time-ordered arrival must lock the
    // identical stage timestamps as the batch chained-minimum relation;
    // the ordering contract is the documented watermark+sort requirement
    replay(funRows.toSeq, parts = 7)(s => toMemory(
      StreamingOps.funnelStream(s).toDF(), "funnel_state"))
    // stage is monotone per user → the max-stage row is the final state
    val streamFun = spark.table("funnel_state")
      .orderBy(col("user_id"), col("stage"))
      .collect().map(r => r.getAs[Long]("user_id") -> funnelTimes(r))
      .toMap // last write per user wins (sorted by stage)
    assert(streamFun == batchFun && streamFun.nonEmpty,
      s"stream=${streamFun.size} users batch=${batchFun.size}")
  }

  test("retention-cells") {
    // each (user, cohort week, offset week) cell emits exactly once on
    // first activity; counting cells reproduces q30's n_active
    replay(retRows.toSeq, parts = 7)(s => toMemory(
      StreamingOps.retentionStream(s).toDF(), "ret_cells"))
    val streamRet = spark.table("ret_cells")
      .groupBy(col("cohort_week"), col("offset_week"))
      .agg(count(lit(1)).as("n_active"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamRet == batchRetMap && streamRet.nonEmpty,
      s"stream=${streamRet.size} cells batch=${batchRetMap.size}")
  }

  test("sessionizer-q34") {
    // upsert-style emission: the max-n_events row per (user, session)
    // equals the batch Sessionize.sessions row — the SAME relation q34
    // serves — open sessions included
    replay(sessRows.toSeq, parts = 7)(s => toMemory(
      StreamingOps.sessionStream(s, 1800000L).toDF(), "sess_rows"))
    val streamSess = spark.table("sess_rows")
      .groupBy(col("user_id"), col("session_idx"))
      .agg(max(col("n_events")).as("n"), min(col("start_ms")).as("s"),
        max(col("end_ms")).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(streamSess == batchSessions && streamSess.nonEmpty,
      s"stream=${streamSess.size} sessions batch=${batchSessions.size}")
  }

  test("markov-census") {
    // one string of state per user; counting emitted transitions equals
    // q36's census, the SAME relation the oracle checks
    replay(trRows.toSeq, parts = 7)(s => toMemory(
      StreamingOps.transitionStream(s).toDF(), "markov_trans"))
    val streamTr = spark.table("markov_trans")
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamTr == batchTr && streamTr.nonEmpty,
      s"stream=${streamTr.size} cells batch=${batchTr.size}")
  }

  test("weighted-sampler") {
    // A-ExpJ reservoir: k triples of state per stratum; the selection is
    // a pure function of the candidate SET — no ordering contract — so
    // the final membership digest equals p41's sampled_md5
    replay(sampRows.toSeq, parts = 7)(s => toMemory(
      StreamingOps.weightedSampleStream(s, 10).toDF(), "ws_sample"))
    val streamSamp = spark.table("ws_sample")
      .groupBy(col("stratum"))
      .agg(max_by(struct(col("member_ids"), col("weight_sampled")),
        col("version")).as("m"))
      .collect().map(r => r.getString(0) -> {
        val m = r.getStruct(1)
        (md5Hex(m.getString(0)), m.getDouble(1))
      }).toMap
    assert(streamSamp == batchSamp && streamSamp.nonEmpty,
      s"stream=${streamSamp.size} strata batch=${batchSamp.size}")
  }

  test("stateful-restart") {
    // the read CURSOR recovering is `subscription`'s; this proves the
    // flatMapGroupsWithState STATE STORE does: sessions spanning the
    // restart boundary keep their index and counts, so the resumed query
    // converges to the same batch relation — a cold restart would
    // restart every open session at idx 1 and diverge
    val sessSrcDir = tmpDir("graft-sess-src-")
    val sessCk = ckpt()
    val accSess = TrieMap.empty[(Long, Long), (Long, Long, Long)]
    def runSessOnce(): Unit = {
      val src = spark.readStream
        .schema(org.apache.spark.sql.Encoders
          .product[graft.streaming.SessEvent].schema)
        .parquet(sessSrcDir)
        .as[graft.streaming.SessEvent]
      val q = StreamingOps.sessionStream(src, 1800000L)
        .writeStream.option("checkpointLocation", sessCk)
        .foreachBatch {
          (b: Dataset[graft.streaming.SessRow], _: Long) =>
            b.collect().foreach { r =>
              val key = (r.user_id, r.session_idx)
              // upsert: n_events is monotone within a session
              val cur = accSess.get(key)
              if (cur.forall(_._1 < r.n_events))
                accSess.put(key, (r.n_events, r.start_ms, r.end_ms))
            }
            ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val (h1, h2) = sessRows.splitAt(sessRows.length / 2)
    h1.toSeq.toDS().coalesce(1).write.mode("append").parquet(sessSrcDir)
    runSessOnce() // first half, then STOP — state checkpointed
    h2.toSeq.toDS().coalesce(1).write.mode("append").parquet(sessSrcDir)
    runSessOnce() // fresh query instance, same checkpoint: state recovers
    assert(accSess.toMap == batchSessions && accSess.nonEmpty,
      s"resumed=${accSess.size} sessions batch=${batchSessions.size}")
  }

  test("repl-sub-census") {
    // S17: snapshot state (request ts, per-cluster response rounds,
    // putIfAbsent stored positions) accumulates across micro-batch
    // boundaries in the state store; the max-version census rows must
    // equal the batch sync relation's per-snapshot census
    val s = MemoryStream[graft.streaming.RsMarkerEvent]
    val q = toMemory(graft.streaming.ReplSubStream
      .censusStream(s.toDS(), Seq("B", "C"), 10000L).toDF(), "rs_census")
    // 5-row chunks deliberately split both response rounds of several
    // snapshots across batch boundaries
    rsEvents.grouped(5).foreach { c => s.addData(c); q.processAllAvailable() }
    q.stop()
    val streamCensus = spark.table("rs_census")
      .groupBy(col("sid"))
      .agg(max_by(struct(col("status"), col("localEntry"),
        col("storedCsv")), col("version")).as("m"))
      .collect().map { r =>
        val m = r.getStruct(1)
        r.getString(0) -> ((m.getString(0), m.getLong(1), m.getString(2)))
      }.toMap
    assert(streamCensus == batchCensus && streamCensus.nonEmpty,
      s"stream=$streamCensus batch=$batchCensus")
  }

  test("warc-incremental-archive") {
    // P125 as a streaming SINK, the shape crawl archivers actually run:
    // documents arrive in micro-batches and each batch appends finished
    // WARC files (one per (bucket, batch) — WARC records are immutable
    // once written, so incremental archiving means MORE files, never
    // edited ones). The per-record census parsed back from every
    // streamed archive must equal the batch census computed straight off
    // the corpus — same ids, declared lengths, and payload digests;
    // offsets differ by construction (batch splits), which is exactly
    // the field the archive name carries.
    // TEST-ONLY shape: the foreachBatch below collect()s each
    // micro-batch to the driver to assemble archives — fine at test SF,
    // but a production archiver writes per partition
    // (b.foreachPartition / a custom FileFormat), one archive per
    // (bucket, partition, batch); do not copy this collect into a
    // production sink.
    val warcDir = tmpDir("graft-warc-")
    val docsForWarc = documents
      .select(col("doc_id"),
        regexp_replace(coalesce(col("text"), lit("")), "[^ -~]", "?")
          .as("px"))
      .as[(Long, String)].collect().sortBy(_._1)
    replay(docsForWarc.toSeq)(s => s.toDF("doc_id", "px")
      .writeStream.option("checkpointLocation", ckpt())
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        b.select(col("doc_id"), col("px")).collect()
          .groupBy(r => r.getLong(0) / 25)
          .foreach { case (bucket, rows) =>
            val recs = rows.sortBy(_.getLong(0)).map { r =>
              val id = r.getLong(0)
              graft.pipeline.WarcCodec.WarcRecord("conversion",
                s"<urn:uuid:doc-$id>", "2022-01-01T00:00:00Z",
                Some(s"https://example.org/doc/$id"),
                r.getString(1).getBytes("US-ASCII"))
            }
            Files.write(java.nio.file.Paths.get(
              s"$warcDir/b$bucket-$batchId.warc.gz"),
              graft.pipeline.WarcCodec.buildGz(recs.toSeq))
          }
        ()
      }.start())
    val streamedRecords = new java.io.File(warcDir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).toSeq
      .flatMap(f => graft.pipeline.WarcCodec.parseGz(
        Files.readAllBytes(f.toPath)))
      .map(r => (r.recordId, r.contentLength, r.payloadMd5)).sorted
    val batchRecords = docsForWarc.toSeq.map { case (id, px) =>
      val bytes = px.getBytes("US-ASCII")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map(b => f"$b%02x").mkString
      (s"<urn:uuid:doc-$id>", bytes.length.toLong, md5)
    }.sorted
    assert(streamedRecords == batchRecords && streamedRecords.nonEmpty,
      s"stream=${streamedRecords.size} batch=${batchRecords.size}")
  }

  test("minhash-append-stream") {
    // The incremental twin of p129_minhash_append: the base corpus's LSH
    // index is FROZEN, and the batch docs (doc_id % 10 == 5) arrive in
    // doc-id-ordered micro-batches. Each micro-batch is deduplicated
    // against base ∪ everything that already arrived (the same
    // copier-pays rule — with ordered arrival, every lower-id batch
    // sibling of a doc has already landed, so the per-micro-batch
    // verdicts are EXACTLY the one-shot batch verdicts restricted to
    // that micro-batch's ids, and the accumulated stream output must
    // equal p129's batch relation row-for-row, not just converge).
    // PRODUCTION shape: the base corpus's band-bucket and shingle-set
    // tables are built ONCE (DedupOps.lshIndexOf) and FROZEN; each
    // micro-batch runs one DedupOps.minhashAppendStep against the index
    // and the index grows by the batch's own increments — no driver-side
    // corpus buffer, no base re-derivation. The index tables
    // localCheckpoint per batch so superstep lineage never compounds
    // (the p83 convention; a deployed pipeline would rewrite its
    // checkpointed index table instead — `minhash-append-index-table-
    // restart`).
    var idx = {
      val i = graft.pipeline.DedupOps.lshIndexOf(
        allDocs.filter(col("doc_id") % 10 =!= 5), "doc_id", "text",
        isBase = true)
      graft.pipeline.DedupOps.LshIndex(
        i.banded.localCheckpoint(), i.sets.localCheckpoint())
    }
    val got = ArrayBuffer.empty[
      (Long, Long, Long, Option[Long], Option[Double], Boolean)]
    replay(appendDocs.toSeq)(s => s.toDF("doc_id", "text")
      .writeStream.option("checkpointLocation", ckpt())
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          val (verdicts, grown) = graft.pipeline.DedupOps
            .minhashAppendStep(idx, b.select(col("doc_id"), col("text")),
              "doc_id", "text")
          got ++= verdictRows(verdicts)
          // truncate the grown index's lineage BEFORE releasing this
          // batch's tracked increments (localCheckpoint is eager)
          idx = graft.pipeline.DedupOps.LshIndex(
            grown.banded.localCheckpoint(), grown.sets.localCheckpoint())
          CacheScope.releaseAll()
        }
        ()
      }.start())
    assert(got.sortBy(_._1).toSeq == wantAppend && wantAppend.nonEmpty,
      s"stream=${got.size} batch=${wantAppend.size}")
  }

  test("url-census-stream") {
    // The incremental twin of p127's host census: canonicalized URLs
    // (the p127 messy-frontier fixture through UrlOps.canonicalizeUrl,
    // percent normalization included) arrive host-keyed in
    // micro-batches; per-host state is the distinct-URL histogram — the
    // frontier table a crawler keeps anyway — each batch upserts a
    // versioned census row, and the max-version row per host must equal
    // the batch two-level aggregation EXACTLY. No ordering contract: the
    // census is a pure function of the arrived multiset.
    replay(urlDocs.toSeq)(s => toMemory(
      StreamingOps.urlCensusStream(s).toDF(), "url_census_out"))
    val streamCensus = censusMap(spark.table("url_census_out")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("host"))
          .orderBy(col("version").desc)))
      .filter(col("rk") === 1)
      .select(col("host"), col("n_docs"), col("n_urls"),
        col("n_dup_docs"), col("max_url_docs"), col("text_chars")))
    assert(streamCensus == batchUrlCensus && streamCensus.nonEmpty,
      s"stream hosts=${streamCensus.size} batch=${batchUrlCensus.size}")
  }

  test("minhash-append-index-table-restart") {
    // The DEPLOYED shape of `minhash-append-stream` (whose grown index
    // lives in localCheckpointed RDDs, gone with the session): the index
    // is an APPEND-ONLY parquet table — base written once, each
    // micro-batch appending its own increments — so the dedup state is
    // the table, not driver variables or RDD lineage. Mid-stream the
    // query is STOPPED and a brand-new query (fresh checkpoint, no
    // carried state) resumes by reloading the table; the accumulated
    // verdicts must still equal the one-shot batch relation row for row
    // — prior-batch duplicates SPANNING the restart boundary included —
    // proving the table alone carries the state.
    val idxRoot = tmpDir("graft-lsh-idx-")
    locally {
      val base = graft.pipeline.DedupOps.lshIndexOf(
        allDocs.filter(col("doc_id") % 10 =!= 5), "doc_id", "text",
        isBase = true)
      base.banded.write.parquet(s"$idxRoot/banded")
      base.sets.write.parquet(s"$idxRoot/sets")
    }
    val got = ArrayBuffer.empty[
      (Long, Long, Long, Option[Long], Option[Double], Boolean)]
    def appendStep(b: DataFrame): Unit =
      if (!b.isEmpty) {
        val idx = graft.pipeline.DedupOps.LshIndex(
          spark.read.parquet(s"$idxRoot/banded"),
          spark.read.parquet(s"$idxRoot/sets"))
        val batch = b.select(col("doc_id"), col("text"))
        val (verdicts, _) = graft.pipeline.DedupOps
          .minhashAppendStep(idx, batch, "doc_id", "text")
        got ++= verdictRows(verdicts)
        // the rewrite step: append exactly THIS batch's increment rows,
        // re-derived batch-scale (lshIndexOf is deterministic, so these
        // are the same rows the step computed) — filtering the GROWN
        // relation would rescan the whole ever-growing table per batch
        val inc = graft.pipeline.DedupOps.lshIndexOf(
          batch, "doc_id", "text", isBase = false)
        inc.banded.write.mode("append").parquet(s"$idxRoot/banded")
        inc.sets.write.mode("append").parquet(s"$idxRoot/sets")
        CacheScope.releaseAll()
      }
    val (before, after) = appendChunks.splitAt((appendChunks.size + 1) / 2)
    // RESTART between the two runs: nothing survives but the index table
    for (part <- Seq(before, after)) {
      val s = MemoryStream[(Long, String)]
      val q = s.toDS().toDF("doc_id", "text")
        .writeStream.option("checkpointLocation", ckpt())
        .foreachBatch { (b: DataFrame, _: Long) => appendStep(b) }
        .start()
      part.foreach { c => s.addData(c); q.processAllAvailable() }
      q.stop()
    }
    assert(got.sortBy(_._1).toSeq == wantAppend &&
        wantAppend.nonEmpty && after.nonEmpty,
      s"stream=${got.size} batch=${wantAppend.size}")
  }

  test("bucketed-index-append-probe") {
    // Bucketed persisted index under APPEND — the deployed write mode
    // `minhash-append-index-table-restart` stops short of: the base band
    // table is written bucketBy(band, band_hash); each micro-batch
    // APPENDS its increment under the SAME bucket spec; the probe
    // against the grown table must still read bucket-locally (ZERO
    // shuffle exchange on the index side — only the batch side exchanges
    // into the index's bucketing) and must see exactly the pairs an
    // unbucketed scan of the same files sees. A mis-bucketed append
    // would not ERROR — it would silently DROP cross-file candidate
    // pairs from the bucket-local join — so the parity leg is the
    // load-bearing half. BucketingSpec proves the one-shot mechanism;
    // this proves appends preserve it, which is what the 100 TB
    // deployment relies on.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // plain physical plan for the structural walk; no broadcast so
    // co-location (not a broadcast) is what removes the shuffle
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val dir = tmpDir("graft-lsh-bucketed-")
    try {
      graft.pipeline.DedupOps.lshIndexOf(
          allDocs.filter(col("doc_id") % 10 =!= 5), "doc_id", "text",
          isBase = true)
        .banded.write.bucketBy(8, "band", "band_hash")
        .sortBy("band", "band_hash")
        .option("path", s"$dir/banded_b").saveAsTable("lsh_banded_33")
      // (no releaseAll needed anywhere in this check: lshIndexOf
      // tracks nothing — "the caller owns persistence" — and every
      // relation here is consumed exactly once by its write/collect)
      appendChunks.foreach { c =>
        graft.pipeline.DedupOps.lshIndexOf(
            c.toSeq.toDF("doc_id", "text"), "doc_id", "text",
            isBase = false)
          .banded.write.mode("append").format("parquet")
          .bucketBy(8, "band", "band_hash").sortBy("band", "band_hash")
          .saveAsTable("lsh_banded_33")
      }
      val probeBatch = graft.pipeline.DedupOps.lshIndexOf(
        allDocs.filter(col("doc_id") % 10 === 5), "doc_id", "text",
        isBase = false).banded
      def probeOf(idx: DataFrame) =
        probeBatch.as("a").join(idx.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("b.doc") =!= col("a.doc"))
          .select(col("a.doc").as("doc_id"), col("b.doc").as("partner"))
          .distinct()
      val probe = probeOf(spark.table("lsh_banded_33"))
      def strip(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => strip(a.executedPlan)
        case o => o
      }
      val smj = strip(probe.queryExecution.executedPlan).collectFirst {
        case j: SortMergeJoinExec => j
      }
      // named legs so a failure message says WHICH broke; the scan
      // marker keeps BucketingSpec's rendering fallback (FileScan
      // metadata strings vary with version/toString truncation)
      val idxNoShuffle = smj.exists(
        _.right.collect { case e: ShuffleExchangeLike => e }.isEmpty)
      val batchShuffles = smj.exists(
        _.left.collect { case e: ShuffleExchangeLike => e }.nonEmpty)
      val bucketedScan = smj.exists(j =>
        j.right.toString.contains("Bucketed: true") ||
          j.right.toString.contains("SelectedBucketsCount"))
      val got = probe.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      // ground truth: the SAME files read without bucketing metadata —
      // a full two-sided shuffle join over every appended row
      val want = probeOf(spark.read.parquet(s"$dir/banded_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(
        idxNoShuffle && batchShuffles && bucketedScan &&
          got.nonEmpty && got == want,
        s"idxNoShuffle=$idxNoShuffle batchShuffles=$batchShuffles " +
          s"bucketedScan=$bucketedScan got=${got.size} want=${want.size}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS lsh_banded_33")
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    }
  }

  // The restart battery below extends `stateful-restart` to the
  // remaining stateful families, each through restartLegs.

  test("counters-restart") {
    // A6: mapGroupsWithState totals are monotone, so the max observed
    // value per key across both passes is the final total
    val acc = TrieMap.empty[String, Long]
    restartLegs(envs.toSeq, OutputMode.Update())(
      ds => StreamingOps.keyedCounters(ds, _.topic)) { b =>
      b.collect().foreach { r =>
        val (k, n) = (r.getString(0), r.getLong(1))
        acc.put(k, math.max(n, acc.getOrElse(k, 0L)))
      }
    }
    val want = envs.groupBy(_.topic).map { case (k, ms) =>
      k -> ms.length.toLong }
    assert(acc.toMap == want && acc.nonEmpty, s"resumed=$acc batch=$want")
  }

  test("dedup-restart") {
    // F5: the per-producer highest-sequence state must survive the
    // restart — a cold restart would re-admit replays whose originals
    // landed before the boundary
    val acc = ArrayBuffer.empty[Long]
    restartLegs(envs.toSeq, OutputMode.Append())(
      StreamingOps.dropReplaysStream) { b =>
      acc ++= collectLongs(b, "msg_offset")
    }
    assert(acc.sorted.toSeq == batchKept,
      s"resumed=${acc.size} rows batch=${batchKept.size}")
  }

  test("count-window-restart") {
    // W3/W5: the pending (not-yet-full) per-key buffer and the
    // emitted-window counter both live in state; the split lands
    // mid-buffer for most keys, so a cold restart would shift every
    // later window's id and membership
    val cwN = 7
    val acc = TrieMap.empty[(String, Long), (Long, Double)]
    restartLegs(envs.toSeq, OutputMode.Append())(
      ds => StreamingOps.countWindowStream(ds, cwN)) { b =>
      b.collect().foreach { r =>
        acc.put((r.getString(0), r.getLong(1)),
          (r.getLong(2), r.getDouble(3)))
      }
    }
    val want = envs.groupBy(_.key).flatMap { case (k, ms) =>
      ms.sortBy(_.msg_offset).map(_.value).grouped(cwN).zipWithIndex
        .filter(_._1.length == cwN)
        .map { case (g, i) => (k, i.toLong) -> ((cwN.toLong,
          g.map(v => math.floor(v * 100.0 + 0.5).toLong).sum.toDouble / 100.0))
        }
    }
    assert(acc.toMap == want && want.nonEmpty,
      s"resumed=${acc.size} windows batch=${want.size}")
  }

  test("funnel-restart") {
    // `funnel-state`'s machine: stage times locked before the boundary
    // must anchor stages that complete after it — stage is monotone per
    // user, so the max-stage row is final
    val acc = TrieMap.empty[Long,
      (Long, (Option[Long], Option[Long], Option[Long], Option[Long]))]
    restartLegs(funRows.toSeq, OutputMode.Append())(
      StreamingOps.funnelStream) { b =>
      b.collect().foreach { r =>
        upsertMax(acc, r.getAs[Long]("user_id"), r.getAs[Long]("stage"),
          funnelTimes(r))
      }
    }
    assert(acc.map { case (u, (_, ts)) => u -> ts }.toMap == batchFun &&
        acc.nonEmpty,
      s"resumed=${acc.size} users batch=${batchFun.size}")
  }

  test("url-census-restart") {
    // `url-census-stream`'s per-host distinct-URL histogram AND its
    // monotone version counter recover from the store — the
    // max-version row per host must equal the batch census
    val acc = TrieMap.empty[String, (Long, (Long, Long, Long, Long, Long))]
    restartLegs(urlDocs.toSeq, OutputMode.Append())(
      ds => StreamingOps.urlCensusStream(ds)) { b =>
      b.collect().foreach { r =>
        upsertMax(acc, r.getAs[String]("host"), r.getAs[Long]("version"),
          (r.getAs[Long]("n_docs"), r.getAs[Long]("n_urls"),
            r.getAs[Long]("n_dup_docs"), r.getAs[Long]("max_url_docs"),
            r.getAs[Long]("text_chars")))
      }
    }
    assert(acc.map { case (h, (_, row)) => h -> row }.toMap ==
        batchUrlCensus && acc.nonEmpty,
      s"resumed hosts=${acc.size} batch=${batchUrlCensus.size}")
  }

  test("hnsw-append-table-restart") {
    // Persisted HNSW graph TABLE + streaming append + restart — the
    // streaming leg of index maintenance (LSH: the minhash-append tests;
    // IVF: p120 batch census; HNSW: batch p128). The graph state is two
    // append-only parquet tables (nodes + distance-tagged edges;
    // Hnsw.scala's table-append block): the base build writes the frozen
    // capped per-level edges ONCE, each micro-batch appends its own node
    // rows and its new→base out-edges + reverses (appendAudit's
    // batch-parallel insert, whose per-node increments are independent
    // of batching because neighbors come from the FROZEN base only), and
    // the Mmax cap is applied at READ time over the accumulated union —
    // an append never rewrites a stored row. Mid-stream the query STOPS
    // and a brand-new instance (fresh checkpoint, no carried state)
    // resumes from the tables alone. After the last batch, the
    // table-backed audit (walk + recall + append census) must equal the
    // one-shot batch p128 relation ROW FOR ROW — and per-batch recall
    // over the growing corpus is logged as the drift series.
    val (m, ef, k, maxL, beam, cadj, hops, qmax) =
      (16, 128, 5, 2, 4, 8, 1, 20L)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("cembedding"))
    val qcents = broadcast(cents.select(col("centroid_id"),
      graft.pipeline.Hnsw.q3Codes(col("cembedding")).as("ccodes")))
    val root = tmpDir("graft-hnsw-idx-")
    graft.pipeline.Hnsw.nodeRows(
        e.filter(col("vec_id") % 10 =!= 5), qcents, maxL, isNew = false)
      .write.parquet(s"$root/nodes")
    graft.pipeline.Hnsw.baseEdgeRows(
        spark.read.parquet(s"$root/nodes"), qcents, maxL, m, cadj)
      .write.parquet(s"$root/edges")
    val drift = ArrayBuffer.empty[(Long, Double)]
    def audit() = graft.pipeline.Hnsw.auditFromTables(
      spark.read.parquet(s"$root/nodes"),
      spark.read.parquet(s"$root/edges"),
      qmax, m, ef, k, maxL, beam, hops)
    def ingest(b: DataFrame): Unit =
      if (!b.isEmpty) {
        val nodesT = spark.read.parquet(s"$root/nodes")
        // batch node rows depend only on the batch + broadcast
        // centroids; the edge increment's lineage scans the node
        // TABLE, so both are materialized (eager localCheckpoint)
        // before appending to the paths they derive from
        val bn = graft.pipeline.Hnsw.nodeRows(
            b.select(col("vec_id"), col("embedding")), qcents,
            maxL, isNew = true)
          .localCheckpoint(true)
        val eInc = graft.pipeline.Hnsw.appendEdgeRows(
            nodesT.filter(!col("is_new")), bn, qcents, maxL, m, cadj)
          .localCheckpoint(true)
        bn.write.mode("append").parquet(s"$root/nodes")
        eInc.write.mode("append").parquet(s"$root/edges")
        val r = audit()
          .agg(count(lit(1)), sum(col("recall_ppm"))).head()
        drift += ((spark.read.parquet(s"$root/nodes").count(),
          r.getLong(1).toDouble / math.max(1L, r.getLong(0)) / 1e6))
        CacheScope.releaseAll()
      }
    val batch = e.filter(col("vec_id") % 10 === 5)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val batchChunks = batch.grouped(math.max(1, batch.length / 5 + 1)).toSeq
    val (before, after) = batchChunks.splitAt((batchChunks.size + 1) / 2)
    // RESTART between the two runs: nothing survives but the two tables
    for (part <- Seq(before, after)) {
      val s = MemoryStream[(Long, Array[Float])]
      val q = s.toDS().toDF("vec_id", "embedding")
        .writeStream.option("checkpointLocation", ckpt())
        .foreachBatch { (b: DataFrame, _: Long) => ingest(b) }
        .start()
      part.foreach { c => s.addData(c.toSeq); q.processAllAvailable() }
      q.stop()
    }
    def auditKey(df: DataFrame) = df.collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Long]("n_hits"), r.getAs[Long]("recall_ppm"),
          r.getAs[Long]("n_new_nodes"), r.getAs[Long]("n_appended_edges"),
          r.getAs[Long]("n_capped_lists")))).toMap
    val got = auditKey(audit())
    CacheScope.releaseAll()
    val want = auditKey(graft.pipeline.Hnsw.appendAudit(
      e, cents, batch = col("vec_id") % 10 === 5, queryMax = qmax,
      m = m, ef = ef, k = k, maxLevel = maxL,
      beamSteps = beam, cellAdj = cadj, hopsPerLevel = hops))
    CacheScope.releaseAll()
    info("hnsw drift (nodes, mean recall): " +
      drift.map { case (n, r) => f"($n, $r%.4f)" }.mkString(" "))
    assert(got == want && got.nonEmpty && after.nonEmpty &&
        drift.length == batchChunks.length,
      s"stream=${got.size} queries batch=${want.size} " +
        s"drift=${drift.size}/${batchChunks.size}")
  }

  // Batch twins of the legs below: chunk-reassembly, retention, markov,
  // weighted-sampler, corpus-dedup and key-ordering reuse the SAME
  // relations their convergence tests derive; txn-buffer's twin is the
  // library relation Transactions.visibleCommitted (the one t1/t3 serve;
  // the dual-marker edge is TxnDualMarkerSpec's); byte-state's is the
  // a7_byte_state QUERY relation (oracle-checked).
  // delayed-delivery's expected set is the one freshly-derived twin here
  // (per-partition clock fold, mirroring WindowSpec's convergence test).

  test("chunk-reassembly-restart") {
    // F13: partial chunk buffers span the split
    val acc = TrieMap.empty[Long, (Long, String, Long)]
    restartLegs(envs.toSeq, OutputMode.Append())(
      StreamingOps.reassembleChunksStream) { b =>
      b.collect().foreach { r =>
        acc.put(r.getAs[Long]("uuid"), (r.getAs[Long]("n_chunks"),
          r.getAs[String]("payload"), r.getAs[Long]("first_offset")))
      }
    }
    assert(acc.toMap == batchAsm && acc.nonEmpty,
      s"resumed=${acc.size} groups batch=${batchAsm.size}")
  }

  test("txn-buffer-restart") {
    // T3: open-transaction buffers and statuses span the split — a cold
    // restart would swallow data rows of a txn whose commit marker lands
    // after the boundary
    val acc = ArrayBuffer.empty[Long]
    restartLegs(envs.toSeq, OutputMode.Append())(
      StreamingOps.txnBufferStream) { b =>
      acc ++= collectLongs(b, "msg_offset")
    }
    val want = graft.operators.Transactions.visibleCommitted(batchDf)
      .select("msg_offset").collect().map(_.getLong(0)).sorted.toSeq
    assert(acc.sorted.toSeq == want && want.nonEmpty,
      s"resumed=${acc.size} rows batch=${want.size}")
  }

  test("delayed-delivery-restart") {
    // F3/F4: the per-partition clock AND the held-message buffer both
    // recover — a cold restart would re-hold nothing and lose pending
    // deliveries
    val acc = ArrayBuffer.empty[Long]
    restartLegs(envs.toSeq, OutputMode.Append())(
      StreamingOps.delayedDeliveryStream) { b =>
      acc ++= collectLongs(b, "msg_offset")
    }
    val partClock = envs.groupBy(_.partition_id)
      .map { case (pid, ms) => pid -> ms.map(_.publish_ms).max }
    val want = envs.filter(m => m.deliver_at_ms <= partClock(m.partition_id))
      .map(_.msg_offset).sorted.toSeq
    assert(acc.sorted.toSeq == want && want.nonEmpty,
      s"resumed=${acc.size} due batch=${want.size}")
  }

  test("retention-restart") {
    // `retention-cells`: the cohort-day lock and the seen-offset-week
    // set recover; each cell still emits exactly once
    val acc = ArrayBuffer.empty[(Long, Long)]
    restartLegs(retRows.toSeq, OutputMode.Append())(
      StreamingOps.retentionStream) { b =>
      acc ++= b.collect().map(r =>
        (r.getAs[Long]("cohort_week"), r.getAs[Long]("offset_week")))
    }
    val accMap = acc.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(accMap == batchRetMap && accMap.nonEmpty,
      s"resumed=${accMap.size} cells batch=${batchRetMap.size}")
  }

  test("markov-restart") {
    // `markov-census`: the last-event-type string recovers, so the
    // transition completed ACROSS the boundary is still emitted
    val acc = ArrayBuffer.empty[(String, String)]
    restartLegs(trRows.toSeq, OutputMode.Append())(
      StreamingOps.transitionStream) { b =>
      acc ++= b.collect().map(r =>
        (r.getAs[String]("from_type"), r.getAs[String]("to_type")))
    }
    val accMap = acc.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(accMap == batchTr && accMap.nonEmpty,
      s"resumed=${accMap.size} cells batch=${batchTr.size}")
  }

  test("weighted-sampler-restart") {
    // `weighted-sampler`: the per-stratum top-k triples and the monotone
    // version both recover; the final membership digest still equals
    // p41's sample
    val acc = TrieMap.empty[String, (Long, (String, Double))]
    restartLegs(sampRows.toSeq, OutputMode.Append())(
      ds => StreamingOps.weightedSampleStream(ds, 10)) { b =>
      b.collect().foreach { r =>
        upsertMax(acc, r.getAs[String]("stratum"),
          r.getAs[Long]("version"),
          (md5Hex(r.getAs[String]("member_ids")),
            r.getAs[Double]("weight_sampled")))
      }
    }
    assert(acc.map { case (st, (_, row)) => st -> row }.toMap == batchSamp &&
        acc.nonEmpty,
      s"resumed=${acc.size} strata batch=${batchSamp.size}")
  }

  test("corpus-dedup-restart") {
    // `corpus-dedup`: the surviving-id-per-fingerprint state recovers —
    // a cold restart would re-admit a duplicate whose original landed
    // before the boundary
    val acc = ArrayBuffer.empty[Long]
    restartLegs(docIngest.toSeq, OutputMode.Append())(
      StreamingOps.corpusDedupStream) { b =>
      acc ++= collectLongs(b, "doc_id")
    }
    assert(acc.sorted.toSeq == batchSurv && acc.nonEmpty,
      s"resumed=${acc.size} survivors batch=${batchSurv.size}")
  }

  test("key-ordering-restart") {
    // U6, `key-ordering`: the last-offset and running-ordinal state
    // recover, so ordinals continue (not restart at 1) and the violation
    // count stays zero across the boundary
    val acc = TrieMap.empty[(String, Long), Long]
    var viol = 0L
    restartLegs(envs.toSeq, OutputMode.Append())(
      StreamingOps.keyOrderedStream) { b =>
      b.collect().foreach { r =>
        acc.put((r.getAs[String]("key"), r.getAs[Long]("msg_offset")),
          r.getAs[Long]("obs_seq"))
        viol = math.max(viol, r.getAs[Long]("violations"))
      }
    }
    assert(acc.toMap == batchOrd && viol == 0L && acc.nonEmpty,
      s"resumed=${acc.size} batch=${batchOrd.size} violations=$viol")
  }

  test("byte-state-restart") {
    // A7: the opaque Array[Byte] per key recovers — the update function
    // is a7's batch twin (8-byte big-endian max sequence id), so the
    // final state per key must equal the batch aggregate byte for byte.
    // mapGroupsWithState → Update mode; state is monotone, so the
    // NUMERIC max across emissions is the final value — the accumulator
    // decodes the 8 bytes back to a Long rather than lexicographically
    // comparing hex strings, which orders correctly only for
    // non-negative sequence ids (negative longs hex-sort above
    // positive; the fixture never generates them, but the helper
    // shouldn't lean on that).
    def be8(v: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(v).array()
    val acc = TrieMap.empty[String, Long]
    restartLegs(envs.toSeq, OutputMode.Update())(
      ds => StreamingOps.byteState(ds, (st, m) => {
        val cur = if (st == null) Long.MinValue
          else java.nio.ByteBuffer.wrap(st).getLong
        be8(math.max(cur, m.sequence_id))
      })) { b =>
      b.collect().foreach { r =>
        val k = r.getString(0)
        val v = java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](1)).getLong
        acc.put(k, acc.get(k).fold(v)(math.max(_, v)))
      }
    }
    // the twin is the a7_byte_state QUERY relation (the same rows the
    // oracle checks), not a private re-derivation
    val want = SparkEntry.queries("a7_byte_state")(spark, sfDir)
      .collect().map(r => r.getAs[String]("key") ->
        r.getAs[String]("state_hex")).toMap
    val got = acc.toMap.map { case (k, v) =>
      k -> be8(v).map(x => f"$x%02x").mkString }
    assert(got == want && got.nonEmpty,
      s"resumed=${got.size} keys batch=${want.size}")
  }

  test("repl-sub-restart") {
    // S17, `repl-sub-census`'s operator (the one custom stateful op
    // OUTSIDE StreamingOps): snapshot state (request ts, response
    // rounds, stored positions) recovers; the max-version census row per
    // snapshot still equals the batch sync
    val acc = TrieMap.empty[String, (Long, (String, Long, String))]
    restartLegs(rsEvents.toSeq, OutputMode.Append())(
      ds => graft.streaming.ReplSubStream
        .censusStream(ds, Seq("B", "C"), 10000L)) { b =>
      b.collect().foreach { r =>
        upsertMax(acc, r.getAs[String]("sid"), r.getAs[Long]("version"),
          (r.getAs[String]("status"), r.getAs[Long]("localEntry"),
            r.getAs[String]("storedCsv")))
      }
    }
    assert(acc.map { case (k, (_, v)) => k -> v }.toMap == batchCensus &&
        acc.nonEmpty,
      s"resumed=${acc.size} snapshots batch=${batchCensus.size}")
  }

  test("tumbling-agg-restart") {
    // BUILT-IN stateful coverage: the watermarked tumbling aggregation
    // (W1/W4) — Spark's own streaming-agg state store, not a
    // *GroupsWithState op — recovers partial window counts across the
    // restart. Complete mode: each micro-batch emits the full table, so
    // the accumulator is replace-not-merge and the LAST emission must
    // equal `window`'s batch relation.
    val acc = TrieMap.empty[(Long, String), (Long, Double)]
    restartLegs(envs.toSeq, OutputMode.Complete())(
      ds => StreamingOps.tumblingCounts(ds.toDF(), H6_MS, "10 days")) { b =>
      val rows = b.select("window_start_ms", "topic", "n", "sum_v").collect()
      acc.clear()
      rows.foreach { r => acc.put((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3))) }
    }
    assert(sameWindows(acc) && acc.nonEmpty,
      s"resumed=${acc.size} windows batch=${batchWin.size}")
  }

  test("watermark-dedup-restart") {
    // built-in dedup state (F5 watermark variant):
    // dropDuplicatesWithinWatermark's seen-keys store recovers — a
    // replay of a (producer, sequence) pair first seen BEFORE the
    // boundary must still drop after it. The comparison is on KEY SETS,
    // not offsets: the operator keeps the first row ENCOUNTERED per
    // pair, and which copy that is depends on partitioning/arrival — an
    // implementation detail, not the semantics. What IS the semantics:
    // exactly one survivor per distinct pair, and the pair set equals
    // the input's. The 3650-day delay makes state expiry unreachable for
    // any fixture span, so the restart leg tests the store, not the TTL.
    val acc = ArrayBuffer.empty[(String, Long)]
    restartLegs(envs.toSeq, OutputMode.Append())(
      ds => StreamingOps.dropExactReplaysStream(ds.toDF(), "3650 days")) { b =>
      acc ++= b.select("producer_name", "sequence_id").collect()
        .map(r => (r.getString(0), r.getLong(1)))
    }
    val wantPairs = envs.map(m => (m.producer_name, m.sequence_id)).toSet
    assert(acc.size == wantPairs.size && acc.toSet == wantPairs && acc.nonEmpty,
      s"resumed=${acc.size} rows (${acc.toSet.size} distinct) " +
        s"batch pairs=${wantPairs.size}")
  }
}
