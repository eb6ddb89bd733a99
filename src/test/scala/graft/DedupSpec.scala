package graft

import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

/**
 * Semantic ports of the reference's producer-dedup scenarios
 * (pulsar-broker/src/test/java/org/apache/pulsar/broker/service/persistent/
 * MessageDuplicationTest.java): a message is rejected unless its sequence id
 * exceeds the highest already persisted for its producer
 * (MessageDeduplication.java:112-123), and the snapshot records the
 * per-producer running max (:266-269).
 */
class DedupSpec extends AnyFunSuite {
  import TestSpark._

  private val log = env(Seq(
    //  off producer seq   key  value event tomb marker
    (0L, "p0", 0L, "k", 1.0, 0L, false, None),
    (1L, "p0", 1L, "k", 1.0, 0L, false, None),
    (2L, "p0", 1L, "k", 1.0, 0L, false, None), // replay of seq 1 → dropped
    (3L, "p0", 5L, "k", 1.0, 0L, false, None),
    (4L, "p0", 3L, "k", 1.0, 0L, false, None), // below running max 5 → dropped
    (5L, "p1", 0L, "k", 1.0, 0L, false, None), // independent producer
    (6L, "p1", 0L, "k", 1.0, 0L, false, None)  // replay → dropped
  ))

  test("replayed and out-of-order sequence ids are rejected per producer") {
    val kept = Dedup.dropReplays(log).select("msg_offset")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(0L, 1L, 3L, 5L))
  }

  test("dedup snapshot records the highest persisted sequence per producer") {
    val snap = Dedup.snapshot(log).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(snap.toSeq === Seq(("p0", 5L, 3L), ("p1", 0L, 1L)))
  }

  test("dedup is idempotent (re-running drops nothing new)") {
    val once = Dedup.dropReplays(log)
    val twice = Dedup.dropReplays(once)
    assert(once.count() === twice.count())
  }

  test("appendDedup keeps every fresh row when a partition rolls ledgers") {
    // 4000 entries in 2 partitions: at least one partition rolls a
    // 1000-entry ledger, so (ledger_id, msg_offset) is not msg_offset order
    val dir = Scratch.freshDir("dedup-ledger-roll")
    try {
      val batch = keyedBatch(4000, 2)
      assert(operators.Produce.appendDedup(spark, batch, dir) === 4000L)
      assert(operators.Produce.appendDedup(spark, batch, dir) === 0L)
    } finally Scratch.rm(dir)
  }

  test("appendDedup finds the high-water of a file:// topic") {
    // whether the topic has data is asked of the path's Hadoop
    // FileSystem: a java.io.File check sees nothing at a URI path, skips
    // the high-water and appends every replay
    val dir = Scratch.freshDir("dedup-file-uri")
    val topic = s"file://$dir"
    try {
      val batch = keyedBatch(100, 2)
      assert(operators.Produce.appendDedup(spark, batch, topic) === 100L)
      assert(operators.Produce.appendDedup(spark, batch, topic) === 0L)
      assert(spark.read.parquet(topic).count() === 100L)
    } finally Scratch.rm(dir)
  }

  test("Manku block index finds exactly the brute-force Hamming pairs") {
    import TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0L until 120L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }.toDF("doc_id", "text")
    val got = graft.pipeline.DedupOps
      .hammingNearDupPairs(docs, "doc_id", "text",
        bits = 28, maxDist = 3, blocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force over the same simhash relation: every pair, no index
    val sims = graft.pipeline.DedupOps.simhashes(docs, "doc_id", "text", 28)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val expected = (for {
      (a, sa) <- sims; (b, sb) <- sims if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(got === expected)
    assert(expected.nonEmpty, "fixture should produce at least one pair")
  }

  test("containment pairs match a driver-side brute force over random docs") {
    import TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0L until 80L).map { id =>
      id -> Seq.fill(4 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val got = graft.pipeline.DedupOps
      .containmentPairs(docs.toDF("doc_id", "text"), "doc_id", "text", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    def sh(t: String): Set[String] =
      t.split(" ").sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      sa = sh(ta); sb = sh(tb)
      inter = (sa & sb).size if inter > 0
      cab = r4(inter.toDouble / sa.size); cba = r4(inter.toDouble / sb.size)
      if cab >= 0.6 || cba >= 0.6
    } yield (a, b) -> ((inter.toLong, sa.size.toLong, sb.size.toLong,
      cab, cba))).toMap
    assert(expected.nonEmpty, "fixture should produce containment pairs")
    assert(got === expected)
  }

  test("leakage-free split: families never straddle splits; singletons spread") {
    import TestSpark.spark
    import spark.implicits._
    // components: {1,2,3} (chain), {10,11}; 1000 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val docs = ((1L to 3L) ++ Seq(10L, 11L) ++ (100L until 1100L))
      .toDF("doc_id")
    val out = graft.pipeline.DedupOps
      .leakageFreeSplit(docs, "doc_id", pairs, trainPct = 80, valPct = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // family members share rep AND split
    assert(Seq(1L, 2L, 3L).map(out).distinct.size === 1)
    assert(out(1L)._1 === 1L)
    assert(Seq(10L, 11L).map(out).distinct.size === 1)
    assert(out(10L)._1 === 10L)
    // singleton mass lands near 80/10/10
    val singles = (100L until 1100L).map(out(_)._2)
    val train = singles.count(_ == "train")
    val value = singles.count(_ == "val")
    assert(train > 700 && train < 900, s"train=$train")
    assert(value > 40 && value < 180, s"val=$value")
    // deterministic: rerun is identical
    val again = graft.pipeline.DedupOps
      .leakageFreeSplit(docs, "doc_id", pairs, trainPct = 80, valPct = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(again === out)
  }
}
