package graft

import graft.pipeline.CorpusOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-curation operators (p21–p27) against hand fixtures and the
 * sf0.001 tables: the in-row bigram-mode fold must agree with a naive
 * group-count, redaction/quantization invariants must hold row-by-row,
 * and sampling must be deterministic. */
class CorpusSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val embs =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("bigram-mode fold matches a naive driver-side group-count") {
    val sample = docs.filter(col("doc_id") < 50)
    val got = CorpusOps.repetitionStats(sample, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("top_bigram_count"))).toMap
    val naive = sample.select("doc_id", "text").collect().map { r =>
      val ws = r.getString(1).toLowerCase.replaceAll("[^a-z0-9]+", " ")
        .trim.split(" ")
      val grams = ws.sliding(2).map(_.mkString(" ")).toSeq
      r.getLong(0) -> (grams.size.toLong,
        grams.groupBy(identity).values.map(_.size).max.toLong)
    }.toMap
    naive.foreach { case (id, exp) => assert(got(id) === exp, s"doc $id") }
  }

  test("bigram fold edge shapes: all-equal, two-word, and seeded-random docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "ccc", "dd", "e")
    val randomDocs = (10L to 49L).map { id =>
      id -> Seq.fill(2 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val d = (Seq(
      0L -> "same same same same same", // one bigram repeated n-1 times
      1L -> "left right") ++ randomDocs).toDF("doc_id", "text")
    val got = CorpusOps.repetitionStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("top_bigram_count"))).toMap
    assert(got(0L) === ((4L, 4L)))
    assert(got(1L) === ((1L, 1L)))
    randomDocs.foreach { case (id, text) =>
      val grams = text.split(" ").sliding(2).map(_.mkString(" ")).toSeq
      val exp = (grams.size.toLong,
        grams.groupBy(identity).values.map(_.size).max.toLong)
      assert(got(id) === exp, s"doc $id: '$text'")
    }
  }

  test("repetition stats flag a template-spam document") {
    import spark.implicits._
    val d = Seq(
      (0L, "click here click here click here click here click here"),
      (1L, "a genuinely varied sentence with no repeated bigrams at all"))
      .toDF("doc_id", "text")
    val out = CorpusOps.repetitionStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("top_bigram_frac")).toMap
    assert(out(0L) > 0.5, "spam doc should be dominated by one bigram")
    assert(out(1L) < 0.2, "varied doc should not be")
  }

  test("PII redaction counts and replaces every pattern occurrence") {
    import spark.implicits._
    val d = Seq(
      (0L, "mail a@b.io and c.d+x@e.org, host 192.168.0.1, call +1-555-0199"),
      (1L, "no pii here at all"))
      .toDF("doc_id", "payload")
    val out = CorpusOps.piiRedact(d, "doc_id", "payload").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Int]("n_emails") === 2)
    assert(out(0L).getAs[Int]("n_ips") === 1)
    assert(out(0L).getAs[Int]("n_phones") === 1)
    assert(out(1L).getAs[Int]("n_emails") === 0)
    // the redacted text of row 0 must hash like its fully-scrubbed form
    val expected = "mail <EMAIL> and <EMAIL>, host <IP>, call <PHONE>"
    val expMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0L).getAs[String]("redacted_md5") === expMd5)
  }

  test("stratified sample is deterministic and respects per-stratum rates") {
    def run() = CorpusOps.stratifiedSample(docs,
      stratum = col("source"),
      threshold = when(substring(col("source"), 4, 10).cast("int") % 2 === 0,
        lit("19")).otherwise(lit("33")),
      id = col("doc_id"), text = col("text"))
      .orderBy("stratum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val a = run(); val b = run()
    assert(a.toSeq === b.toSeq, "same key, same sample — bit-for-bit")
    // pooled across strata the empirical rate must sit near the blended
    // expectation (26/256 and 52/256); per-stratum counts are too small
    // for a tight bound at sf0.001
    val (n, k) = (a.map(_._2).sum.toDouble, a.map(_._3).sum.toDouble)
    assert(k / n > 0.05 && k / n < 0.30, s"pooled rate ${k / n}")
  }

  test("token-budget mix never exceeds the budget and is ranked by key") {
    val out = CorpusOps.tokenBudgetMix(docs, col("source"), 300L,
      col("doc_id"), col("text")).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("tokens_kept") <= 300L,
        s"stratum ${r.getString(0)} over budget")
    }
    assert(out.map(_.getAs[Long]("n_docs_kept")).sum > 0)
  }

  test("decontamination flags exactly the documents sharing an n-gram") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words alpha beta gamma delta epsilon more tail"), // shares
      (2L, "completely unrelated content with other words entirely"), // clean
      (3L, "alpha beta gamma delta epsilon zeta eta theta"))          // shares
      .toDF("doc_id", "text")
    val got = CorpusOps.decontaminate(corpus, bench, "doc_id", "text", 5)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).toSeq === Seq(1L, 3L))
    // doc 3 contains both benchmark 5-grams; doc 1 only the first
    assert(got.toMap.apply(1L) === 1L)
    assert(got.toMap.apply(3L) === 2L)
  }

  test("chunk dedup counts duplicated chunks with multiplicity") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (0L, "srcA", shared + " " + (21 to 40).map(i => s"a$i").mkString(" ")),
      (1L, "srcA", shared + " " + (21 to 40).map(i => s"b$i").mkString(" ")),
      (2L, "srcB", (1 to 40).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val got = CorpusOps.chunkDupStats(d, "doc_id", "text", "source", 20)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // srcA: 4 chunks, the shared 20-word chunk appears twice (both dup),
    // both docs touched; srcB: 2 chunks, none duplicated
    assert(got.toSeq === Seq(("srcA", 4L, 2L, 2L), ("srcB", 2L, 0L, 0L)))
  }

  test("null and empty text degrade gracefully, never to -1 counts or crashes") {
    import spark.implicits._
    val d = Seq((0L, "srcA", null.asInstanceOf[String]), (1L, "srcA", ""),
      (2L, "srcB", "ok words here more tail")).toDF("doc_id", "source", "text")

    // PII: null payload counts 0 and hashes like ""
    val pii = CorpusOps.piiRedact(
      d.withColumnRenamed("text", "payload"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(pii(0L).getAs[Int]("n_emails") === 0)
    assert(pii(0L).getAs[String]("redacted_md5") ===
      pii(1L).getAs[String]("redacted_md5"))

    // repetition: null/empty docs are filtered (not crashed on)
    val rep = CorpusOps.repetitionStats(d, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(rep === Set(2L))

    // chunk dedup: null text chunks like "" — no phantom [0,-1] chunks
    val ch = CorpusOps.chunkDupStats(d, "doc_id", "text", "source", 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch("srcA") === 2L, "null and empty each yield exactly one chunk")
    assert(ch("srcB") === 1L)

    // sampling + budget mix: null text rows participate deterministically
    val samp = CorpusOps.stratifiedSample(d, col("source"), lit("ff"),
      col("doc_id"), col("text")).collect()
    assert(samp.map(_.getAs[Long]("n_sampled")).sum === 3L,
      "threshold ff keeps every row, including the null-text one")
    val mix = CorpusOps.tokenBudgetMix(d, col("source"), 100L,
      col("doc_id"), col("text")).collect()
    assert(mix.map(_.getAs[Long]("tokens_kept")).forall(_ >= 0L))

    // quantization: null/empty embeddings null-propagate, keep the row
    val e = Seq((0L, null.asInstanceOf[Array[Float]]),
      (1L, Array[Float]()), (2L, Array(1f, 2f, 3f)))
      .toDF("vec_id", "embedding")
    val q = CorpusOps.quantizeStats(e, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(q.size === 3)
    assert(q(0L).isNullAt(q(0L).fieldIndex("q_sum")))
    assert(q(2L).getAs[Long]("q_sum") === (0L + 128L + 255L))
  }

  test("round-5 ops degrade gracefully on null/empty text too") {
    import spark.implicits._
    val d = Seq((0L, "srcA", null.asInstanceOf[String]), (1L, "srcA", ""),
      (2L, "srcB", "the and of to in " + (1 to 45).map(i => s"word$i").mkString(" ")))
      .toDF("doc_id", "source", "text")

    // gopher filter: null/empty text is a (rejected) row, never a crash
    val g = CorpusOps.gopherFilter(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(g === Map(0L -> false, 1L -> false, 2L -> true))

    // tf-idf: wordless docs simply produce no keyword rows
    val tf = CorpusOps.tfidfKeywords(d, "doc_id", "text", 3)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(tf === Set(2L))

    // novelty: wordless docs drop out; the real doc is fully novel
    val nv = CorpusOps.noveltyStats(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("novelty_frac")).toMap
    assert(nv === Map(2L -> 1.0))

    // chunk scrub: null chunks like "" (doc 0 keeps, doc 1's dup dropped)
    val cs = CorpusOps.chunkScrub(d, "doc_id", "text", 20)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_kept")).toMap
    assert(cs(0L) + cs(1L) === 1L && cs(2L) >= 1L)

    // curation pipeline end-to-end with nulls present: the null-text row
    // must still be COUNTED (as rejected), not silently dropped at the
    // fingerprint join
    val cp = CorpusOps.curationPipeline(d, d.limit(0),
      "doc_id", "text", "source", 5).collect()
    assert(cp.map(_.getAs[Long]("n_kept")).sum === 1L)
    assert(cp.map(_.getAs[Long]("n_docs")).sum === 3L)

    // sequence packing: null text packs like one empty token, later
    // docs' offsets stay consistent
    val sp = CorpusOps.sequencePack(d, col("source"), 10L,
      col("doc_id"), col("text"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(sp(0L) === 1L && sp(1L) === 1L && sp(2L) === 50L)

    // BPE: wordless docs tokenize to zero tokens, digest of ""
    val bp = graft.pipeline.BpeTokenizer.tokenize(d, "doc_id", "text", 10)
      .collect().map(b => b.doc_id -> b.n_tokens).toMap
    assert(bp(0L) === 0L && bp(1L) === 0L && bp(2L) > 0L)
  }

  test("quantization bounds: q in [0,255], reconstruction within scale/2") {
    val rows = embs.filter(col("vec_id") < 20)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val got = CorpusOps.quantizeStats(embs.filter(col("vec_id") < 20),
      "vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("q_sum"), r.getAs[Int]("q_first")))
      .toMap
    rows.foreach { case (id, v) =>
      val mn = v.min; val mx = v.max; val scale = (mx - mn) / 255.0
      val q = v.map(x => math.floor((x - mn) / scale + 0.5))
      assert(q.forall(x => x >= 0 && x <= 255), s"vec $id out of int8 range")
      // dequantized values reconstruct within half a quantization step
      v.zip(q).foreach { case (x, qi) =>
        assert(math.abs(mn + qi * scale - x) <= scale / 2 + 1e-12)
      }
      assert(got(id)._1 === q.sum.toLong, s"vec $id q_sum")
      assert(got(id)._2 === q.head.toInt, s"vec $id q_first")
    }
  }

  // ------------------------------------------------------- gopher filter

  /** 50 words, 5 required stopwords, mean word length ≈ 4.7 — passes
   * every Gopher rule. */
  private val goodText: String =
    "the and of to in " + (1 to 45).map(i => s"word$i").mkString(" ")

  test("gopher filter: each rule trips independently") {
    import spark.implicits._
    val d = Seq(
      (0L, goodText), // all rules pass
      (1L, "the and just a few words here"), // < 50 words
      (2L, "aa bb " * 30 + "the and of to in"), // mean word length < 3
      (3L, goodText + " # # # # # #"), // 6 '#' / 50 words = 0.12 > 0.1
      (4L, goodText + " " + (1 to 13).map(i => s"${i}00").mkString(" ")), // digit tokens: alpha 50/63 < 0.8
      (5L, (1 to 50).map(i => s"plain$i").mkString(" ")) // zero stopwords
    ).toDF("doc_id", "text")
    val got = CorpusOps.gopherFilter(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(0L).getAs[Boolean]("keep"))
    assert(!got(1L).getAs[Boolean]("keep") && got(1L).getAs[Long]("n_words") < 50)
    assert(!got(2L).getAs[Boolean]("keep") && got(2L).getAs[Double]("mean_word_len") < 3.0)
    assert(!got(3L).getAs[Boolean]("keep") && got(3L).getAs[Double]("symbol_ratio") > 0.1)
    assert(!got(4L).getAs[Boolean]("keep") && got(4L).getAs[Double]("alpha_frac") < 0.8)
    assert(!got(5L).getAs[Boolean]("keep") && got(5L).getAs[Int]("stop_hits") === 0)
    // the '#' doc still passes the alpha screen (50 lettered / 56 raw)
    assert(got(3L).getAs[Double]("alpha_frac") >= 0.8)
  }

  // ------------------------------------------------------------- tf-idf

  test("tf-idf keywords: scores and rank order match hand computation") {
    import spark.implicits._
    val d = Seq(
      (0L, "apple apple banana"),
      (1L, "banana cherry"),
      (2L, "cherry durian apple")).toDF("doc_id", "text")
    val got = CorpusOps.tfidfKeywords(d, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getDouble(3)))
      .toMap
    def s(tf: Int, df: Int) =
      BigDecimal(tf * math.log(3.0 / df))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // d0: apple tf=2 df=2 → 0.8109 beats banana 0.4055
    assert(got((0L, 1)) === (("apple", s(2, 2))))
    assert(got((0L, 2)) === (("banana", s(1, 2))))
    // d2: durian df=1 → ln 3 wins; apple/cherry tie broken alphabetically
    assert(got((2L, 1)) === (("durian", s(1, 1))))
    assert(got((2L, 2)) === (("apple", s(1, 2))))
    assert(got((2L, 3)) === (("cherry", s(1, 2))))
  }

  // ------------------------------------------------------------ novelty

  test("novelty: first corpus occurrence of each n-gram wins") {
    import spark.implicits._
    val d = Seq(
      (0L, "a b c d"),  // both 3-grams first seen here
      (1L, "a b c d"),  // exact re-crawl: zero novel
      (2L, "b c d e")). // "b c d" seen in doc 0, "c d e" new
      toDF("doc_id", "text")
    val got = CorpusOps.noveltyStats(d, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty_frac"))).toMap
    assert(got(0L) === ((2L, 2L, 1.0)))
    assert(got(1L) === ((2L, 0L, 0.0)))
    assert(got(2L) === ((2L, 1L, 0.5)))
  }

  // --------------------------------------------------- weighted sample

  test("weighted sample is deterministic and biased toward heavy rows") {
    import spark.implicits._
    // one stratum; half the rows carry 50x the weight of the other half
    val d = (0L until 200L).map(i =>
      (i, "s", s"doc $i", if (i < 100) 50.0 else 1.0))
      .toDF("doc_id", "source", "text", "w")
    def run() = CorpusOps.weightedSample(d, col("source"), col("w"),
      k = 20, id = col("doc_id"), text = col("text")).collect().head
    val a = run(); val b = run()
    assert(a.getAs[String]("sampled_md5") === b.getAs[String]("sampled_md5"))
    assert(a.getAs[Long]("n_docs") === 200L)
    // E[heavy fraction] = 50/51 per slot; with k=20 seeing < 13 heavy
    // rows would be a > 5-sigma fluke for this fixed hash sequence
    val heavyWeight = a.getAs[Double]("weight_sampled")
    val heavyCount = ((heavyWeight - 20.0) / 49.0).round // h*50+(20-h)*1
    assert(heavyCount >= 13, s"only $heavyCount of 20 sampled rows are heavy")
  }

  // -------------------------------------------------- incremental dedup

  test("incremental dedup classifies against base and within batch") {
    import spark.implicits._
    val base = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha text"),  // dup of base doc 1
      (11L, "gamma text"),  // fresh
      (12L, "gamma text"),  // dup of doc 11 within the batch
      (13L, "delta text")). // fresh
      toDF("doc_id", "text")
    val got = CorpusOps.incrementalDedup(batch, base, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(10L) === (("dup_of_base", 1L)))
    assert(got(11L) === (("fresh", 11L)))
    assert(got(12L) === (("dup_in_batch", 11L)))
    assert(got(13L) === (("fresh", 13L)))
  }

  // --------------------------------------------------- sequence packing

  test("sequence packing places and spans documents correctly") {
    import spark.implicits._
    def words(k: Int) = (1 to k).map(i => s"t$i").mkString(" ")
    // one stratum, budget 10, token counts 4, 5, 3, 12:
    // excl 0,4,9,12 → first seq 0,0,0,1; doc 2 straddles 0→1, doc 3 spans 2
    val d = Seq(
      (0L, "s", words(4)), (1L, "s", words(5)),
      (2L, "s", words(3)), (3L, "s", words(12))).toDF("doc_id", "source", "text")
    val got = CorpusOps.sequencePack(d, col("source"), 10L,
      col("doc_id"), col("text"))
      .collect().map(r => r.getLong(1) ->
        (r.getInt(3), r.getLong(4), r.getInt(5))).toMap
    assert(got(0L) === ((0, 0L, 1)))
    assert(got(1L) === ((0, 4L, 1)))
    assert(got(2L) === ((0, 9L, 2))) // tokens 9..11 straddle the boundary
    assert(got(3L) === ((1, 2L, 2))) // tokens 12..23 fill seq 1 into seq 2
  }

  // -------------------------------------------------------- chunk scrub

  test("chunk scrub keeps first occurrence and rebuilds the cleaned text") {
    import spark.implicits._
    // 2-word chunks: doc 0 = [a b][c d][a b] (3rd repeats its own 1st);
    // doc 1 = [c d][e f] (1st already seen in doc 0)
    val d = Seq(
      (0L, "a b c d a b"),
      (1L, "c d e f")).toDF("doc_id", "text")
    val got = CorpusOps.chunkScrub(d, "doc_id", "text", chunkWords = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept"),
          r.getAs[String]("cleaned_md5"))).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(0L) === ((3L, 2L, md5("a b c d"))))
    assert(got(1L) === ((2L, 1L, md5("e f"))))
  }

  // -------------------------------------------------- curation pipeline

  test("curation pipeline: quality, dedup, and contamination compose") {
    import spark.implicits._
    val gram = "alpha beta gamma delta epsilon"
    val corpus = Seq(
      (1L, "s", goodText),                       // survives
      (2L, "s", goodText),                       // exact dup of 1 → dropped
      (3L, "s", goodText + " " + gram),          // contaminated → dropped
      (4L, "s", "too short to pass the rules"),  // quality fail → dropped
      (5L, "s", goodText + " extra tail words here")) // survives
      .toDF("doc_id", "source", "text")
    val bench = Seq((100L, "b", s"held out benchmark text containing $gram"))
      .toDF("doc_id", "source", "text")
    val got = CorpusOps.curationPipeline(corpus, bench,
      "doc_id", "text", "source", ngram = 5).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("n_docs") === 5L)
    assert(r.getAs[Long]("n_kept") === 2L) // docs 1 and 5
    // digest is over exactly {1,5}
    val expectedMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("1,5".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getAs[String]("kept_md5") === expectedMd5)
  }

  test("char entropy: zero for constant text, ln(k) for uniform alphabets") {
    import spark.implicits._
    val d = Seq(
      (1L, "aaaaaaaa"),            // one symbol → H = 0
      (2L, "abcdabcdabcd"),        // uniform over 4 → H = ln 4
      (3L, "ab"),                  // uniform over 2 → H = ln 2
      (4L, null.asInstanceOf[String])) // no chars → no row
      .toDF("doc_id", "text")
    val got = CorpusOps.charEntropy(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_chars"), r.getAs[Long]("distinct_chars"),
          r.getAs[Double]("entropy"))).toMap
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(!got.contains(4L))
    assert(got(1L) === ((8L, 1L, 0.0)))
    assert(got(2L) === ((12L, 4L, r4(math.log(4)))))
    assert(got(3L) === ((2L, 2L, r4(math.log(2)))))
  }

  test("exact quantiles match a naive sort-and-select on random groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = for {
      g <- Seq("a", "b", "c")
      n = 1 + rnd.nextInt(200)
      _ <- 1 to n
    } yield (g, rnd.nextInt(50).toLong) // heavy ties on purpose
    val qs = Seq((0, 1), (1, 2), (9, 10), (99, 100), (1, 1))
    val got = CorpusOps.exactQuantiles(rows.toDF("g", "v"), col("g"),
      col("v"), qs).collect()
      .map(r => (r.getString(0), r.getAs[Long]("rank")) ->
        r.getAs[Long]("value")).toMap
    val byG = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).sorted.toIndexedSeq }
    for ((g, sorted) <- byG; (num, den) <- qs) {
      val n = sorted.length.toLong
      val rank = (num * n + den - 1) / den
      val expected = sorted(math.max(rank, 1L).toInt - 1)
      assert(got((g, rank)) === expected,
        s"g=$g q=$num/$den rank=$rank")
    }
    // the measured-size branch: single-level and two-level selection
    // must pick IDENTICAL rows from the same histogram — including
    // values spread across several 2^16 buckets and negative values
    // (arithmetic shift keeps bucket order monotone)
    val wide = (rows.map { case (g, v) => (g, v * 100000L - 1500000L) } ++
      Seq(("a", -3000000L), ("a", 9999999L)))
    val hist = wide.toDF("source", "v").groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("c"))
    val one = CorpusOps.exactQuantilesOver(hist, qs, twoLevel = false)
      .collect().map(_.toSeq).toSet
    val two = CorpusOps.exactQuantilesOver(hist, qs, twoLevel = true)
      .collect().map(_.toSeq).toSet
    assert(one === two, "single-level and two-level selection diverged")
  }

  test("two-level quantiles keep apart rationals that round to one q") {
    // 1/3 and 3333/10000 both round to q = 0.3333, but over n = 10,000
    // their ranks are 3334 and 3333, and both land in value bucket 0:
    // the within-bucket running sum must not mix the two selections
    val hist = spark.range(10000)
      .select(lit("s").as("source"), col("id").as("v"), lit(1L).as("c"))
    val qs = Seq((1, 3), (3333, 10000))
    val one = CorpusOps.exactQuantilesOver(hist, qs, twoLevel = false)
      .collect().map(_.toSeq).toSet
    val two = CorpusOps.exactQuantilesOver(hist, qs, twoLevel = true)
      .collect().map(_.toSeq).toSet
    assert(one.size === 2)
    assert(one === two, "single-level and two-level selection diverged")
  }

  test("LM perplexity: hand-computed bigram scores, OOV and keep flag") {
    import spark.implicits._
    // train: words [a b a b a]; bigrams {a b:2, b a:2}; unigrams a:3 b:2; V=2
    val train = Seq((100L, "a b a b a")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b x"),   // P(b|a)=(2+1)/(3+2)=0.6, P(x|b)=(0+1)/(2+2)=0.25
      (2L, "a b a b"), // fluent: all seen bigrams
      (3L, "x y z"),   // fully OOV: each P=(0+1)/(0+2)=0.5
      (4L, "solo"))    // <2 words: no row
      .toDF("doc_id", "text")
    val got = CorpusOps.lmPerplexity(corpus, train, "doc_id", "text",
      keepBelow = 1.8).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!got.contains(4L))
    def scaled(p: Double): Long =
      BigDecimal(math.log(p) * 10000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def ppl(ps: Seq[Double]): Double = {
      val lp = ps.map(scaled).sum
      BigDecimal(math.exp(-lp.toDouble / (10000.0 * ps.length)))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got(1L).getAs[Long]("oov_bigrams") === 1L)
    assert(got(1L).getAs[Double]("ppl") === ppl(Seq(0.6, 0.25)))
    assert(got(2L).getAs[Long]("oov_bigrams") === 0L)
    // middle bigram is "b a": (2+1)/(c1(b)=2 + V=2) = 0.75
    assert(got(2L).getAs[Double]("ppl") === ppl(Seq(0.6, 0.75, 0.6)))
    assert(got(3L).getAs[Long]("oov_bigrams") === 2L)
    assert(got(3L).getAs[Double]("ppl") === ppl(Seq(0.5, 0.5)))
    // fluent text scores lower perplexity than OOV text, and the
    // threshold separates them
    assert(got(2L).getAs[Double]("ppl") < got(3L).getAs[Double]("ppl"))
    assert(got(2L).getAs[Boolean]("keep") && !got(3L).getAs[Boolean]("keep"))
  }

  test("perplexity buckets: value cutoffs split thirds, ties share a bucket") {
    import spark.implicits._
    val train = Seq((100L, "a b a b a b a b a")).toDF("doc_id", "text")
    // 9 corpus docs per lang: 3 fluent, 3 mixed, 3 OOV — plus a second
    // language whose cutoffs must be computed independently
    val corpus = ((1L to 3L).map(i => (i, "a b a b", "en")) ++
      (4L to 6L).map(i => (i, "a b x y", "en")) ++
      (7L to 9L).map(i => (i, "x y z w", "en")) ++
      (11L to 13L).map(i => (i, "a b a b a b", "fr")) ++
      (14L to 16L).map(i => (i, "q r s t q r", "fr")))
      .toDF("doc_id", "text", "lang")
    val got = CorpusOps.perplexityBuckets(corpus, train,
      "doc_id", "text", "lang").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("bucket"), r.getAs[Double]("ppl"))).toMap
    assert(got.size === 15)
    // en: three distinct ppl levels with 3 docs each → cutoffs land
    // exactly on the tie groups; every tied doc shares its bucket.
    // (Add-one smoothing scores the all-OOV docs 7-9 at P=0.5/bigram —
    // BETTER than the mixed docs 4-6 whose seen-prefix bigrams divide
    // by a large c1+V — so the order is fluent < OOV < mixed.)
    (1L to 3L).foreach(i => assert(got(i)._1 === "head", s"doc $i: ${got(i)}"))
    (7L to 9L).foreach(i => assert(got(i)._1 === "middle", s"doc $i: ${got(i)}"))
    (4L to 6L).foreach(i => assert(got(i)._1 === "tail", s"doc $i: ${got(i)}"))
    // fr: two tie groups over 6 docs — the 3-doc head group fills head
    // exactly (cum 3 ≥ ⌈6/3⌉ = 2), and the whole second group lands in
    // ONE bucket (middle: cum 6 ≥ ⌈12/3⌉ = 4) — a rank-based ntile
    // would have split it
    (11L to 13L).foreach(i => assert(got(i)._1 === "head", s"doc $i: ${got(i)}"))
    (14L to 16L).foreach(i => assert(got(i)._1 === "middle", s"doc $i: ${got(i)}"))
  }

  test("DSIR: target-like docs outrank off-target docs; cutoff keeps ties") {
    import spark.implicits._
    // corpus: 4 docs speak the target's vocabulary, 4 speak another
    val corpus = ((1L to 4L).map(i => (i, "alpha beta gamma alpha beta")) ++
      (5L to 8L).map(i => (i, "omega psi chi omega psi")))
      .toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta alpha gamma beta alpha"))
      .toDF("doc_id", "text")
    val got = CorpusOps.dsirSelect(corpus, target, "doc_id", "text",
      m = 64, topK = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score"), r.getAs[Boolean]("selected"))).toMap
    assert(got.size === 8)
    // every target-speaking doc scores strictly above every off-target doc
    val inScores = (1L to 4L).map(got(_)._1)
    val outScores = (5L to 8L).map(got(_)._1)
    assert(inScores.min > outScores.max, s"in=$inScores out=$outScores")
    // the 4 target-like docs are identical → identical scores → the
    // topK=2 cutoff lands inside the tie group and keeps ALL of it
    assert(inScores.distinct.size === 1)
    (1L to 4L).foreach(i => assert(got(i)._2, s"doc $i should be selected"))
    (5L to 8L).foreach(i => assert(!got(i)._2, s"doc $i should not be selected"))
    // a corpus smaller than topK keeps everything
    val tiny = CorpusOps.dsirSelect(
      Seq((1L, "a b")).toDF("doc_id", "text"), target, "doc_id", "text",
      m = 64, topK = 5).collect()
    assert(tiny.length === 1 && tiny.head.getAs[Boolean]("selected"))
  }

  test("percentile gate: per-source cutoffs independent, boundary kept") {
    import spark.implicits._
    // source A: 10 docs with word counts 10,20,…,100 → scores 1000…10000
    // (stop_ratio 0 — no stopwords); P30 rank=ceil(0.3·10)=3 → cutoff is
    // the 3rd score. source B: uniformly terrible docs — all tie at the
    // cutoff → ALL kept (boundary-keep), proving the gate never turns a
    // tie into a coin flip and A's distribution never leaks into B's bar.
    val a = (1 to 10).map(i => (i.toLong, ("w " * (10 * i)).trim, "A"))
    val b = (11 to 14).map(i => (i.toLong, "x y z", "B"))
    val got = graft.pipeline.CorpusOps.percentileQualityGate(
      (a ++ b).toDF("doc_id", "text", "source"),
      "doc_id", "text", "source", qnum = 30, qden = 100)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("score"), r.getAs[Long]("cutoff"),
          r.getAs[Boolean]("kept")))).toMap
    assert(got.size === 14)
    // A: scores 1000·i capped at 10000; cutoff = 3rd smallest = 3000
    (1 to 10).foreach { i =>
      val sc = math.min(10 * i, 100) * 100L
      assert(got(i.toLong) === ((sc, 3000L, sc >= 3000L)), s"doc $i")
    }
    // B: all four docs identical → every one sits ON the cutoff → kept
    val bScore = got(11L)._1
    (11 to 14).foreach(i => assert(got(i.toLong) === ((bScore, bScore, true)), s"doc $i"))
  }

  test("mixture shard plan: epoch counts, dense positions, determinism") {
    import spark.implicits._
    val df = Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "fr"), (5L, "xx"))
      .toDF("doc_id", "src")
    val w = Map("en" -> 3, "de" -> 2, "fr" -> 1, "xx" -> 0)
    def run() = CorpusOps.mixtureShardPlan(df, "doc_id", "src", w, shards = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("copy"),
        r.getAs[Int]("shard"), r.getAs[Long]("pos"), r.getAs[String]("ord_key")))
    val got = run()
    // weight-0 source dropped; each doc appears exactly `weight` times
    val byDoc = got.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byDoc === Map(1L -> Seq(1, 2, 3), 2L -> Seq(1, 2, 3),
      3L -> Seq(1, 2), 4L -> Seq(1)))
    // shards in range; positions dense 1..n within each shard
    assert(got.forall(t => t._3 >= 0 && t._3 < 4))
    got.groupBy(_._3).foreach { case (sh, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length).toSeq,
        s"shard $sh positions not dense")
    }
    // pure functions of (doc, copy): a rerun is bit-identical
    assert(run().sortBy(t => (t._1, t._2)).toSeq ===
      got.sortBy(t => (t._1, t._2)).toSeq)
    // position order within a shard follows the md5 ord_key
    got.groupBy(_._3).foreach { case (_, rows) =>
      val byPos = rows.sortBy(_._4).map(_._5).toSeq
      assert(byPos === byPos.sorted)
    }
  }

  test("temperature mix: exact sqrt upsampling on a 9:1 fixture") {
    import spark.implicits._
    // 9 tokens vs 1 token → raw shares 0.9/0.1; sqrt masses 3/1 → temp
    // shares 0.75/0.25 — all exactly representable, so the assertion is
    // equality, not tolerance
    val df = Seq(("x", "a b c d e f g h i"), ("y", "z"))
      .toDF("source", "text")
    val got = CorpusOps.temperatureMix(df, col("source"), col("text"),
        budgetTokens = 1000000L)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("share_ppm"),
          r.getAs[Long]("temp_share_ppm"), r.getAs[Long]("budget_tokens"))))
      .toMap
    assert(got === Map(
      "x" -> ((9L, 900000L, 750000L, 750000L)),
      "y" -> ((1L, 100000L, 250000L, 250000L))))
  }

  test("vocab stats: types, hapax, and TTR on a hand fixture") {
    import spark.implicits._
    // s1: tokens a,a,b + b,c → n=5, types {a,b,c}=3, hapax {c}=1
    val df = Seq(("s1", "a a b"), ("s1", "b c"), ("s2", "q q")).toDF("source", "text")
    val got = CorpusOps.vocabStats(df, col("source"), col("text"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"),
          r.getAs[Long]("n_hapax"), r.getAs[Double]("ttr"),
          r.getAs[Double]("hapax_frac")))).toMap
    assert(got("s1") === ((5L, 3L, 1L, 0.6, 0.3333)))
    assert(got("s2") === ((2L, 1L, 0L, 0.5, 0.0)))
  }

  test("MLM mask plan replays a driver-side md5 recomputation exactly") {
    import spark.implicits._
    val df = Seq((7L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val got = CorpusOps.mlmMaskPlan(df, "doc_id", "text", maskPct = 40)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos")) ->
        ((r.getAs[String]("word"), r.getAs[String]("action"),
          r.getAs[String]("replacement")))).toMap
    // independent replay of every hash decision (MessageDigest, not Spark)
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val expect = Seq(
      7L -> "alpha beta gamma delta epsilon zeta eta theta",
      12L -> "one two three four five six seven eight nine ten")
      .flatMap { case (id, text) =>
        val ws = text.split(" ")
        ws.zipWithIndex.flatMap { case (w, i) =>
          val pos = i + 1L
          if (h32(s"$id:$pos") % 100 < 40) {
            val act = h32(s"$id:$pos:a") % 10
            val (action, repl) =
              if (act <= 7) ("mask", "[MASK]")
              else if (act == 8)
                ("random", ws((h32(s"$id:$pos:r") % ws.length).toInt))
              else ("keep", w)
            Some((id, pos) -> ((w, action, repl)))
          } else None
        }
      }.toMap
    assert(expect.nonEmpty && got === expect)
  }

  test("dedup impact: cross-source duplicate charges the copying source") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta", "crawlA"), // representative (global min id)
      (5L, "alpha beta", "crawlB"), // cross-source duplicate → crawlB pays
      (6L, "gamma", "crawlB"))
      .toDF("doc_id", "text", "source")
    val got = CorpusOps.dedupImpact(d, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(got.toSeq === Seq(
      ("crawlA", 1L, 1L, 2L, 2L, 1000000L),
      ("crawlB", 2L, 1L, 3L, 1L, 333333L)))
  }

  test("span corruption replays a driver-side greedy span merge exactly") {
    import spark.implicits._
    val texts = Seq(
      7L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      12L -> "one two three four five six seven eight nine ten eleven twelve")
    val df = texts.toDF("doc_id", "text")
    // high start rate so the tiny fixture provably exercises the merge
    val got = CorpusOps.spanCorruptionPlan(df, "doc_id", "text",
        startPerMil = 400, maxSpan = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("sentinel"),
        r.getAs[Long]("start_pos"), r.getAs[Long]("end_pos"),
        r.getAs[Long]("n_tokens"), r.getAs[String]("span_md5"))).sorted
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val expect = texts.flatMap { case (id, text) =>
      val ws = text.split(" ")
      val covered = ws.indices.flatMap { i =>
        val pos = i + 1L
        if (h32(s"$id:$pos:s") % 1000 < 400) {
          val len = h32(s"$id:$pos:l") % 3 + 1
          (pos to math.min(pos + len - 1, ws.length.toLong))
        } else Nil
      }.distinct.sorted
      // maximal runs of consecutive covered positions
      val runs = covered.foldLeft(List.empty[List[Long]]) {
        case (acc @ (run @ (last :: _)) :: rest, p) if p == last + 1 =>
          (p :: run) :: rest
        case (acc, p) => List(p) :: acc
      }.map(_.reverse).reverse
      runs.zipWithIndex.map { case (run, k) =>
        (id, k.toLong, run.head, run.last, run.size.toLong,
          md5hex(run.map(p => ws((p - 1).toInt)).mkString(" ")))
      }
    }.sorted
    assert(expect.exists(_._5 > 1), "fixture must contain a merged span")
    assert(got.toSeq === expect)
  }

  test("fuzzy decontamination: exact-copy and partial-overlap degrees") {
    import spark.implicits._
    val bench = Seq((100L, "one two three four five")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "one two three four five"),   // exact copy → jaccard 1.0
      (2L, "zero one two three nine"),   // shares 1 of 5 total grams → 0.2
      (3L, "x y z w")                    // no shared gram → absent
    ).toDF("doc_id", "text")
    val got = CorpusOps.jaccardDecontaminate(corpus, bench,
        "doc_id", "text", n = 3, tau = 0.15)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("max_jaccard"), r.getAs[Long]("n_bench_hits"))))
      .toMap
    assert(got === Map(1L -> ((1.0, 1L)), 2L -> ((0.2, 1L))))
  }

  test("length-bucketed batch plan: hand-computed buckets, batches, waste") {
    import spark.implicits._
    def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")
    // 16 docs of 1..16 tokens, 2 buckets, batches of 4. Median (ceil-rank
    // 8) = 8; tokens == cutoff land LOW, so buckets are {1..8} / {9..16}.
    val d16 = (1 to 16).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val got16 = CorpusOps.lengthBucketedBatchPlan(d16, "doc_id", "text",
        nBuckets = 2, batchSize = 4)
      .collect().map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_batches"), r.getAs[Long]("real_tokens"),
        r.getAs[Long]("padded_tokens"), r.getAs[Long]("waste_ppm")))
      .sortBy(_._1)
    // bucket 0: [1,2,3,4] pad 16, [5,6,7,8] pad 32 → real 36, padded 48
    // bucket 1: [9..12] pad 48, [13..16] pad 64 → real 100, padded 112
    assert(got16.toSeq === Seq(
      (0, 8L, 2L, 36L, 48L, 250000L),
      (1, 8L, 2L, 100L, 112L, 107142L)))

    // partial final batch: 5 docs, cutoff (ceil-rank 3) = 3
    val d5 = (1 to 5).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val got5 = CorpusOps.lengthBucketedBatchPlan(d5, "doc_id", "text",
        nBuckets = 2, batchSize = 4)
      .collect().map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_batches"), r.getAs[Long]("real_tokens"),
        r.getAs[Long]("padded_tokens"), r.getAs[Long]("waste_ppm")))
      .sortBy(_._1)
    assert(got5.toSeq === Seq(
      (0, 3L, 1L, 6L, 9L, 333333L),
      (1, 2L, 1L, 9L, 10L, 100000L)))
  }

  test("naive Bayes: distinctive vocab separates, shared vocab ties to prior") {
    import spark.implicits._
    // two classes with disjoint giveaway words plus one shared word;
    // docs 5/6 contain ONLY the shared word, so the prior (b has more
    // docs) plus the shared word's likelihood must decide them
    val docs = Seq(
      (1L, "apfel apfel strasse", "de"),
      (2L, "apfel zug", "de"),
      (3L, "apple street apple", "en"),
      (4L, "apple train", "en"),
      (5L, "water", "en"),
      (6L, "water", "de"),
      (7L, "water apple", "en")
    ).toDF("doc_id", "text", "lang")
    val got = CorpusOps.naiveBayesClassify(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("pred_label"), r.getAs[Boolean]("correct"))).toMap
    assert(got(1L)._1 === "de" && got(2L)._1 === "de")
    assert(got(3L)._1 === "en" && got(4L)._1 === "en")
    // "water": c(en)=2 of tot 8, c(de)=1 of tot 6 → en likelihood and
    // prior both win; doc 6's true label is de so it must be a miss
    assert(got(5L)._1 === "en" && got(5L)._2)
    assert(got(6L)._1 === "en" && !got(6L)._2)
    assert(got(7L)._1 === "en")
  }

  test("naive Bayes: empty doc falls back to the prior argmax") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z", "a"), (2L, "x z", "a"), (3L, "q", "b"),
      (4L, "", "b")
    ).toDF("doc_id", "text", "lang")
    val got = CorpusOps.naiveBayesClassify(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("pred_label")).toMap
    // doc 4 has zero tokens: score(l) = prior(l); "a" has 2 docs vs 2 —
    // tie on prior (2 vs 2) breaks to the smaller label "a"
    assert(got(4L) === "a")
    assert(got.size === 4)
  }

  test("z-order layout: hand-computed Morton keys and zone spans") {
    import spark.implicits._
    def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")
    // chars bucket = nc div 40 clamped to 15, toks bucket = nt div 20
    val docs = Seq(
      (1L, doc(5), 10L),    // bx=0  by=0  → zkey 0   file 0
      (2L, doc(25), 50L),   // bx=1  by=1  → zkey 3   file 0
      (3L, doc(45), 90L),   // bx=2  by=2  → zkey 12  file 0
      (4L, doc(85), 170L),  // bx=4  by=4  → zkey 48  file 3
      (5L, doc(130), 700L)  // bx=15 by=6  → interleave(15,6)=boundary clamp
    ).toDF("doc_id", "text", "n_chars")
    val got = CorpusOps.zorderLayout(docs, "doc_id", "text", "n_chars")
      .collect().map(r => r.getAs[Long]("file_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("chars_span"),
          r.getAs[Long]("toks_span"))).toMap
    // bx=15 (1111), by=6 (0110): interleaved bits = 10 11 11 10 = 190
    // → file 11
    assert(got.keySet === Set(0L, 3L, 11L))
    assert(got(0L) === ((3L, 80L, 40L)))
    assert(got(3L) === ((1L, 0L, 0L)))
    assert(got(11L) === ((1L, 0L, 0L)))
  }

  test("KS audit: full separation gives D=1 at the boundary value") {
    import spark.implicits._
    // a = {1,2} wholly below b = {3,4}: at v=2, ECDF_a=1, ECDF_b=0 → D=1
    val d = Seq((1L, 1L, "a"), (2L, 2L, "a"), (3L, 3L, "b"), (4L, 4L, "b"))
      .toDF("doc_id", "v", "stratum")
    val got = CorpusOps.ksAudit(d, col("stratum"), col("v"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("d_ppm"),
          r.getAs[Long]("d_at_value"))).toMap
    assert(got("a") === ((2L, 1000000L, 2L)))
    assert(got("b") === ((2L, 1000000L, 2L)))
    // identical distributions → D = 0 everywhere, argmax ties to min v
    val same = Seq((1L, 5L, "x"), (2L, 7L, "x"), (3L, 5L, "y"), (4L, 7L, "y"))
      .toDF("doc_id", "v", "stratum")
    val g2 = CorpusOps.ksAudit(same, col("stratum"), col("v"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("d_ppm"), r.getAs[Long]("d_at_value"))).toMap
    assert(g2("x") === ((0L, 5L)) && g2("y") === ((0L, 5L)))
  }

  test("rank-sum audit: separated, interleaved, and dominant strata") {
    import spark.implicits._
    // a = {1,2}, b = {3,4}: a wholly below b → U_a = 0 (ppm 0),
    // U_b = 4 (ppm 10⁶); c interleaves two of each side
    val d = Seq((1L, 1L, "a"), (2L, 2L, "a"), (3L, 3L, "b"), (4L, 4L, "b"))
      .toDF("doc_id", "v", "stratum")
    val got = CorpusOps.rankSumAudit(d, col("stratum"), col("v"),
        col("doc_id"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("u_stat"), r.getAs[Long]("u_max"),
          r.getAs[Long]("u_ppm"))).toMap
    assert(got("a") === ((0L, 4L, 0L)))
    assert(got("b") === ((4L, 4L, 1000000L)))
  }

  test("spearman: hand-computed rho on permuted and reversed ranks") {
    import spark.implicits._
    // x ranks 1,2,3; y ranks 1,3,2 → Σd²=2 → ρ = 1 − 12/24 = 0.5
    val d = Seq((1L, 1L, 10L, "s"), (2L, 2L, 30L, "s"), (3L, 3L, 20L, "s"),
      // reversed: Σd²=8 → ρ = 1 − 48/24 = −1
      (4L, 1L, 3L, "t"), (5L, 2L, 2L, "t"), (6L, 3L, 1L, "t"),
      // singleton stratum must be omitted (n < 2)
      (7L, 1L, 1L, "u"))
      .toDF("doc_id", "x", "y", "stratum")
    val got = CorpusOps.spearman(d, col("stratum"), col("x"), col("y"),
        col("doc_id"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_d2"),
          r.getAs[Long]("rho_e6"))).toMap
    assert(got.keySet === Set("s", "t"))
    assert(got("s") === ((3L, 2L, 500000L)))
    assert(got("t") === ((3L, 8L, -1000000L)))
  }

  test("spearmanAuto: exact path within the bound, hash-sample path " +
      "equals the statistic over the independently-replayed keep set") {
    import spark.implicits._
    val rows = (0L until 50L).map(i => (i, (i * 3) % 17, (i * 7 + 1) % 23,
      "s")) ++ (100L until 110L).map(i => (i, i % 5, (i * 11) % 13, "t"))
    val d = rows.toDF("doc_id", "x", "y", "stratum")
    def run(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_d2"),
          r.getAs[Long]("rho_e6"))).toMap
    val exact = run(CorpusOps.spearman(d, col("stratum"), col("x"),
      col("y"), col("doc_id")))
    // bound not exceeded → bit-identical to the exact path
    val auto = run(CorpusOps.spearmanAuto(d, col("stratum"), col("x"),
      col("y"), col("doc_id"), maxRowsPerStratum = 60))
    assert(auto === exact)
    // bound 10: stratum s (50 rows) samples, stratum t (10 rows) doesn't.
    // Replay the keep rule driver-side: u32(md5(id)) · 50 < 10 · 2³²
    def u32(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)
    val keptIds = (0L until 50L)
      .filter(i => BigInt(u32(i)) * 50 < BigInt(10) * BigInt(2).pow(32))
      .toSet
    assert(keptIds.nonEmpty && keptIds.size < 50, "fixture must sample")
    val replay = run(CorpusOps.spearman(
      d.filter(col("stratum") === "t" || col("doc_id").isin(
        keptIds.toSeq: _*)),
      col("stratum"), col("x"), col("y"), col("doc_id")))
    val sampled = run(CorpusOps.spearmanAuto(d, col("stratum"), col("x"),
      col("y"), col("doc_id"), maxRowsPerStratum = 10))
    assert(sampled === replay)
    assert(sampled("t") === exact("t")) // under-bound stratum untouched
  }

  test("rankSumAuditAuto: histogram path is bit-identical to the window " +
      "path on tie-free data; average-rank U with ties by hand") {
    import spark.implicits._
    // tie-free: force the histogram path (bound 0) and compare columns
    val tf = Seq((1L, 10L, "a"), (2L, 40L, "a"), (3L, 20L, "b"),
      (4L, 30L, "b"), (5L, 50L, "c")).toDF("doc_id", "v", "stratum")
    def run(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("rank_sum"),
          r.getAs[Long]("u_stat"), r.getAs[Long]("u_max"),
          r.getAs[Long]("u_ppm"))).toMap
    val win = run(CorpusOps.rankSumAudit(tf, col("stratum"), col("v"),
      col("doc_id")))
    val hist = run(CorpusOps.rankSumAuditAuto(tf, col("stratum"), col("v"),
      col("doc_id"), maxRowsForWindow = 0))
    assert(hist === win)
    // ties: A = {1, 2, 2}, B = {2, 3}; the three 2s share average rank 3
    // → ΣR_A = 1+3+3 = 7, U_A = 1, ppm 166666; ΣR_B = 3+5 = 8, U_B = 5,
    // ppm 833333 (U_A + U_B = u_max = 6, the Mann–Whitney identity)
    val tie = Seq((1L, 1L, "A"), (2L, 2L, "A"), (3L, 2L, "A"),
      (4L, 2L, "B"), (5L, 3L, "B")).toDF("doc_id", "v", "stratum")
    val got = run(CorpusOps.rankSumAuditAuto(tie, col("stratum"), col("v"),
      col("doc_id"), maxRowsForWindow = 0))
    assert(got("A") === ((3L, 7L, 1L, 6L, 166666L)))
    assert(got("B") === ((2L, 8L, 5L, 6L, 833333L)))
  }

  test("AUC audit: hand-computed tied AUC, perfect separation, and the " +
      "one-class NULL") {
    import spark.implicits._
    // s: pos scores {3, 2}, neg {1, 2} → pairs 3>1, 3>2, 2>1 win, 2=2
    // ties at ½ → U = 3.5/4 → 875000 ppm (average-rank tie handling);
    // t: perfect separation → 10⁶; u: one class → AUC undefined (NULL)
    val d = Seq(
      (1L, 3L, true, "s"), (2L, 2L, true, "s"),
      (3L, 1L, false, "s"), (4L, 2L, false, "s"),
      (5L, 5L, true, "t"), (6L, 6L, true, "t"), (7L, 1L, false, "t"),
      (8L, 9L, true, "u"))
      .toDF("doc_id", "score", "label", "stratum")
    val got = CorpusOps.aucAudit(d, col("stratum"), col("score"),
        col("label"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got("s") === ((2L, 2L, 875000L)))
    assert(got("t") === ((2L, 1L, 1000000L)))
    assert(got("u") === ((1L, 0L, -1L)))
  }

  test("bootstrap CI matches a driver-side MessageDigest replay") {
    import spark.implicits._
    val d = (0L until 40L).map(i => (i, Seq.fill((i % 7 + 1).toInt)("w")
      .mkString(" "))).toDF("doc_id", "text")
    val got = CorpusOps.bootstrapCi(d, "doc_id", "text", replicas = 16)
      .collect().head
    // driver-side replay of the declared hash → weight → mean pipeline
    def u32(id: Long, rep: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$rep".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val toks = (0L until 40L).map(i => i -> (i % 7 + 1)).toMap
    val means = (0 until 16).flatMap { rep =>
      val ws = toks.toSeq.map { case (id, tk) =>
        val u = u32(id, rep)
        (CorpusOps.poissonThresholds32.count(u >= _).toLong, tk.toLong)
      }
      val sw = ws.map(_._1).sum
      if (sw == 0) None
      else Some((ws.map { case (w, tk) => w * tk }.sum * 1000000L) / sw)
    }.sorted
    // replicas=16: lo rank ⌈0.025·16⌉ = 1, hi rank ⌈0.975·16⌉ = 16
    assert(got.getAs[Long]("ci_lo_e6") === means.head)
    assert(got.getAs[Long]("ci_hi_e6") === means.last)
    assert(got.getAs[Long]("mean_e6") ===
      toks.values.map(_.toLong).sum * 1000000L / 40L)
    assert(got.getAs[Long]("ci_lo_e6") <= got.getAs[Long]("mean_e6") &&
      got.getAs[Long]("mean_e6") <= got.getAs[Long]("ci_hi_e6"))
  }

  test("k-anonymity audit: rare quasi-identifier combos flagged") {
    import spark.implicits._
    val d = ((0 until 6).map(i => (i.toLong, "en", "a", 150L)) ++
      Seq((10L, "de", "b", 50L), (11L, "de", "b", 60L)))
      .toDF("doc_id", "lang", "source", "n_chars")
    val got = CorpusOps.kAnonymityAudit(d,
        Seq(col("lang"), col("source")), expr("n_chars div 100"), k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Boolean]("at_risk"))).toMap
    assert(got(("en", "a", 1L)) === ((6L, false)))
    assert(got(("de", "b", 0L)) === ((2L, true)))
  }

  test("zipf fit: exact two-point exponent on a constructed rank curve") {
    import spark.implicits._
    // w01 ×32, w02..w15 ×4, w16 ×2 → c1=32, c(16)=2, s = ln16/ln16 = 1
    val words = Seq.fill(32)("w01") ++
      (2 to 15).flatMap(i => Seq.fill(4)(f"w$i%02d")) ++ Seq("w16", "w16")
    val d = Seq((1L, words.mkString(" "), "s")).toDF("doc_id", "text", "source")
    val rows = CorpusOps.zipfFit(d, col("source"), col("text"), refRank = 16)
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("n_types") === 16L)
    assert(r.getAs[Long]("c1") === 32L && r.getAs[Long]("c_ref") === 2L)
    assert(r.getAs[Double]("zipf_s") === 1.0)
    // fewer types than the reference rank → stratum omitted, not garbage
    val tiny = Seq((2L, "a b c", "t")).toDF("doc_id", "text", "source")
    assert(CorpusOps.zipfFit(tiny, col("source"), col("text"), 16)
      .collect().isEmpty)
  }

  test("chunk overlap plan: hand-computed spans and digests") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e"), (2L, "x")).toDF("doc_id", "text")
    val got = CorpusOps.chunkOverlapPlan(d, "doc_id", "text",
        window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("chunk_idx")) ->
        (r.getAs[Long]("start_tok"), r.getAs[Long]("chunk_len"),
          r.getAs[String]("chunk_md5"))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1 (5 tokens): starts 0 and 3; doc 2 (1 token): one chunk
    assert(got.keySet === Set((1L, 0L), (1L, 1L), (2L, 0L)))
    assert(got((1L, 0L)) === ((0L, 4L, md5hex("a b c d"))))
    assert(got((1L, 1L)) === ((3L, 2L, md5hex("d e"))))
    assert(got((2L, 0L)) === ((0L, 1L, md5hex("x"))))
  }

  test("readability: hand-computed integer Flesch score") {
    import spark.implicits._
    val d = Seq((1L, "Hello world. How are you?"), (2L, ""))
      .toDF("doc_id", "text")
    val got = CorpusOps.readability(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_sentences"),
          r.getAs[Long]("n_syllables"), r.getAs[Long]("flesch_e3"))).toMap
    // 5 words, 2 sentences, vowel runs: he-llo(2) w-o-rld(1) h-o-w(1)
    // a-r-e(2) you(1) = 7 → 206835 − ⌊5075/2⌋ − ⌊592200/5⌋ = 85858
    assert(got(1L) === ((5L, 2L, 7L, 85858L)))
    // empty text: 1 pseudo-token, 1 sentence floor, 1 syllable floor
    assert(got(2L) === ((1L, 1L, 1L, 121220L)))
  }

  test("source diversity: hand-computed shares and entropy contributions") {
    import spark.implicits._
    // a: 2 docs, 3 tokens each (6); b: 1 doc, 2 tokens (2) — total 3/8
    val d = Seq(
      (1L, "one two three", "a"),
      (2L, "four five six", "a"),
      (3L, "seven eight", "b")).toDF("doc_id", "text", "source")
    val got = CorpusOps.sourceDiversity(d, "source", "text")
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("doc_ppm"), r.getAs[Long]("token_ppm"),
          r.getAs[Double]("entropy_contrib"))).toMap
    assert(got("a") === ((2L, 6L, 666666L, 750000L,
      math.rint(-0.75 * math.log(0.75) * 1e4) / 1e4)))
    assert(got("b") === ((1L, 2L, 333333L, 250000L,
      math.rint(-0.25 * math.log(0.25) * 1e4) / 1e4)))
  }

  test("source overlap matrix: shared bigrams and containment ppm") {
    import spark.implicits._
    // a: {x y, y z}; b: {x y, y q}; c: {p q} — only (a,b) share a gram
    val d = Seq(
      (1L, "x y z", "a"),
      (2L, "x y q", "b"),
      (3L, "p q", "c")).toDF("doc_id", "text", "source")
    val rows = CorpusOps.sourceGramOverlap(d, "source", "text", n = 2)
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[String]("source_a") === "a")
    assert(r.getAs[String]("source_b") === "b")
    assert(r.getAs[Long]("shared_grams") === 1L)
    assert(r.getAs[Long]("grams_a") === 2L && r.getAs[Long]("grams_b") === 2L)
    assert(r.getAs[Long]("contain_a_ppm") === 500000L)
    assert(r.getAs[Long]("contain_b_ppm") === 500000L)
  }

  test("sampling buckets: ascii-by-construction words, codepoint order") {
    import spark.implicits._
    // samplingTable's two-level prefix sum assumes its bucket key
    // ascii(first char) is the first CODEPOINT and that bucket order
    // equals binary w-order. Both hold because the words it buckets
    // are TextOps.words output — [a-z0-9]+ by construction, so the
    // first byte IS the codepoint. Pin both halves so a drift (a wider
    // word source, or an ascii() semantics change) fails by name.
    val adversarial = Seq("Füße Abc", "naïve £5 — ¡hola! ZZ",
      "éclair 中文 mixed42").toDF("text")
    val ws = adversarial
      .select(explode(graft.pipeline.TextOps.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0).as[String].collect()
    assert(ws.nonEmpty)
    ws.foreach(w => assert(w.matches("[a-z0-9]+"),
      s"non-ascii word reached the bucket key: '$w'"))
    // ascii() = codePointAt(0) on this Spark for every reachable first
    // char, and the bucket key preserves binary string order
    val alphabet = (('0' to '9') ++ ('a' to 'z')).map(_.toString)
    val got = alphabet.toDF("w")
      .select(col("w"), ascii(substring(col("w"), 1, 1)).as("bk"))
      .as[(String, Int)].collect().toMap
    alphabet.foreach(c => assert(got(c) === c.codePointAt(0), s"char $c"))
    val sorted = alphabet.sorted
    assert(sorted.map(got) === sorted.map(got).sorted,
      "bucket keys must be monotone in binary word order")
  }
}
