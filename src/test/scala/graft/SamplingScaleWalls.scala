package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measured crossover for p116's two-level vocabulary prefix sum (the
 * r19 verdict's measurement debt #2): the round-19 re-plan deleted a
 * vocabulary-scale global window from `CorpusOps.samplingTable` at a
 * disclosed ~1.5–2× cost at gate scale, with the win ARGUED at
 * design-point vocab scale. This harness converts the argument into
 * numbers: the OLD single-partition plan (reconstructed here, NOT
 * re-landed in main) against the SHIPPED two-level plan, interleaved
 * fresh in both orders per tier, with the vocab ndv filed per tier.
 *
 * Two tier families, because they answer different questions:
 *  - ScaleGen tiers (the gate corpus replicated 10×/100×): the shipped
 *    queries' own shape. HONEST CAVEAT, measured and filed: the
 *    fixture's normalized vocab is 31 types and ScaleGen's last-char
 *    cipher can only mint ≤26 variants per type, so vocab SATURATES
 *    near 31×26 ≈ 800 — these tiers scale the corpus, not the
 *    vocabulary, and mostly measure the shared explode/agg stage.
 *  - Synthetic vocab tiers (one md5-hex word per row + a capped
 *    200-replica head): vocab ndv ≈ rows, the Heaps'-law design-point
 *    shape the re-plan exists for. This is where a single-partition
 *    running sum over the vocabulary actually serializes and the
 *    two-level plan's 256-bucket composition has something to win.
 *
 * Bench-grade session (local[SPARK_GRAFT_CPUS]), never TestSpark's
 * local[4]. Run:
 *   sbt 'Test/runMain graft.SamplingScaleWalls [tier ...]'
 * with tiers of the form `dir:/path/to/corpus` or `synth:N`
 * (default: dir:/root/testdata/sf0.1 synth:1000000 synth:10000000).
 */
object SamplingScaleWalls {

  /** The pre-r19 plan, reconstructed for this A/B only: identical
   * counts/probe stages, but the per-word end_range comes from ONE
   * global running sum — `Window.orderBy(w)` with no partition key, the
   * exact class SurfaceWalk pins (the whole vocabulary sorts through a
   * single task). Output is row-identical to the shipped plan by the
   * prefix-sum composition argument the r19 judge verified. */
  def samplingTableOld(df: DataFrame, textCol: String, cap: Long,
      nProbes: Int): DataFrame = {
    val counts = df
      .select(explode(filter(graft.pipeline.TextOps.words(col(textCol)),
        w => length(w) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("wt", least(col("c"), lit(cap)))
    val ranged = graft.CacheScope.track(counts
      .withColumn("end_range",
        sum(col("wt")).over(Window.orderBy(col("w"))))
      .withColumn("start_range", col("end_range") - col("wt")))
    val total = ranged.agg(max(col("end_range")).as("t"))
    val probes = total.select(col("t"),
        explode(sequence(lit(0), lit(nProbes - 1))).as("probe_id"))
      .withColumn("u",
        conv(substring(md5(concat(lit("probe:"),
          col("probe_id").cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("long") % col("t"))
      .select(col("probe_id").cast("long").as("probe_id"), col("u"))
    ranged.join(broadcast(probes),
        col("start_range") <= col("u") && col("u") < col("end_range"))
      .select(col("probe_id"), col("u"), col("w").as("word"),
        col("c"), col("wt"), col("start_range"), col("end_range"))
      .orderBy(col("probe_id"))
  }

  /** Vocab-scaling synthetic corpus: one md5-hex word per row (32 chars
   * of [0-9a-f] — 16 first-char buckets, stated), plus a 100-word head
   * replicated ×200 so the frequency cap (least(c, cap)) is exercised.
   * vocab ndv ≈ n + 100; every stage of both plans sees real work. */
  def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    val tail = spark.range(n)
      .select(md5(col("id").cast("string")).as("text"))
    val head = spark.range(100)
      .select(concat(lit("head"), col("id").cast("string")).as("h"),
        explode(sequence(lit(0), lit(199))).as("r"))
      .select(col("h").as("text"))
    tail.unionByName(head)
  }

  def main(args: Array[String]): Unit = {
    val tiers = if (args.nonEmpty) args.toSeq
      else Seq("dir:/root/testdata/sf0.1", "synth:1000000", "synth:10000000")
    val spark = GraftSession.local(GraftSession.cpus)

    tiers.foreach { tier =>
      val (label, docs) = tier.split(':') match {
        case Array("dir", d @ _*) =>
          val dir = d.mkString(":")
          (dir, spark.read.parquet(s"$dir/documents.parquet"))
        case Array("synth", n) => (s"synth$n", synthDocs(spark, n.toLong))
        case other => sys.error(s"bad tier spec: ${other.mkString(":")}")
      }
      val vocab = docs
        .select(explode(filter(graft.pipeline.TextOps.words(col("text")),
          w => length(w) > 0)).as("w"))
        .agg(countDistinct(col("w"))).head.getLong(0)
      println(s"[svwalls] tier=$label vocabNdv=$vocab")
      def run(name: String,
          f: => DataFrame): (String, Double, Seq[String]) = {
        val t0 = System.nanoTime()
        val rows = f.collect().map(_.mkString("|")).toSeq
        val wall = (System.nanoTime() - t0) / 1e9
        graft.CacheScope.releaseAll()
        (name, wall, rows)
      }
      // interleaved, both orders (the bench-adjudication convention:
      // the first run of a pair pays a position tax)
      val runs = Seq(
        run("new1", CorpusOps2.shipped(docs)),
        run("old1", samplingTableOld(docs, "text", 64L, 16)),
        run("old2", samplingTableOld(docs, "text", 64L, 16)),
        run("new2", CorpusOps2.shipped(docs)))
      runs.foreach { case (n, w, _) =>
        println(f"[svwalls] tier=$label $n wall=$w%8.2f s")
      }
      val results = runs.map(r => r._3.sorted)
      require(results.distinct.size == 1,
        s"tier $label: plans disagree — " +
          results.map(_.take(2)).distinct.mkString(" vs "))
      println(s"[svwalls] tier=$label plans row-identical " +
        s"(${results.head.size} probe rows)")
    }
    CacheScope.releaseRun()
    println("[svwalls] done")
  }

  /** Alias so the shipped call site reads symmetrically above. */
  private object CorpusOps2 {
    def shipped(docs: DataFrame): DataFrame =
      graft.pipeline.CorpusOps.samplingTable(docs, "text", cap = 64L,
        nProbes = 16)
  }
}
