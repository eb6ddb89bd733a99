package graft.pipeline

import graft.functions.Exact
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-curation operators for large-scale training-data pipelines —
 * the filtering / sampling / decontamination stages that sit between raw
 * crawl ingest and tokenization. Everything here is designed for the
 * 100 TB shape first:
 *
 *  - repetition stats and PII redaction are pure column expressions
 *    (zero shuffle, embarrassingly parallel over document partitions);
 *  - hash sampling and the token-budget mix shuffle once on the stratum
 *    key only;
 *  - decontamination broadcasts the (small) benchmark n-gram set so the
 *    corpus side never shuffles;
 *  - chunk-level dedup shuffles the corpus exactly once, on the chunk
 *    hash — the same linear-shuffle discipline as [[DedupOps]].
 */
object CorpusOps {

  // ------------------------------------------- retrieval chunking plan

  /**
   * RAG-style sliding-window chunk plan: overlapping token windows of
   * `window` tokens every `stride` tokens (window−stride tokens of
   * overlap), with per-chunk token spans and content digests — the
   * retrieval-index twin of [[sequencePack]] (which concatenates for
   * training; this splits for search). Chunk starts are 0, stride,
   * 2·stride, …, the last multiple of stride below the token count, so
   * every token is covered and the plan is a pure function of the text.
   *
   * Shape at 100 TB: zero shuffle — the whole plan is an in-row
   * sequence-explode + slice projection over the scan; ~n/stride output
   * rows per document, each carrying only its digest and span (never
   * the chunk text itself unless the caller asks).
   */
  def chunkOverlapPlan(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    docs
      .select(col(idCol), TextOps.words(coalesce(col(textCol), lit("")))
        .as("ws"))
      .withColumn("n_tok", size(col("ws")).cast("long"))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), expr(s"(n_tok - 1) div $stride"))))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("chunk_len",
        least(lit(window.toLong), col("n_tok") - col("start_tok")))
      .withColumn("chunk_md5",
        md5(concat_ws(" ",
          slice(col("ws"), (col("start_tok") + 1).cast("int"), lit(window)))
          .cast("binary")))
      .select(col(idCol), col("chunk_idx"), col("start_tok"),
        col("chunk_len"), col("chunk_md5"))
  }

  // ------------------------------------------------- readability scores

  /**
   * Flesch-style readability as exact integer arithmetic: sentence count
   * from terminal-punctuation runs in the RAW text, word count from the
   * normalized token stream, syllable estimate = the DOCUMENT's total
   * vowel-group runs floored at the word count (≥1 syllable per word on
   * average — a doc-level floor, deliberately cheaper than the per-word
   * max(1, runs) a dictionary syllabifier would take), and reading ease
   * ×10³ via integer divisions only — 206.835 − 1.015·(words/sentences)
   * − 84.6·(syllables/words) with every quotient floored, so two
   * engines can never disagree on a score (no libm, no float division).
   *
   * Shape at 100 TB: pure codegen'd projection over the scan — zero
   * shuffle, embarrassingly parallel; the same family as the Gopher rule
   * battery it complements (that one gates, this one scores).
   */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val raw = coalesce(col(textCol), lit(""))
    docs.select(col(idCol),
        size(TextOps.words(raw)).cast("long").as("n_words"),
        greatest(lit(1L),
          size(regexp_extract_all(raw, lit("[.!?]+"), lit(0))).cast("long"))
          .as("n_sentences"),
        size(regexp_extract_all(TextOps.normalized(raw),
          lit("[aeiouy]+"), lit(0))).cast("long").as("vowel_runs"))
      .withColumn("n_syllables", greatest(col("n_words"), col("vowel_runs")))
      .withColumn("flesch_e3",
        expr("206835 - (1015 * n_words) div n_sentences" +
          " - (84600 * n_syllables) div n_words"))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("flesch_e3"))
  }

  // ------------------------------------------- Spearman rank correlation

  /**
   * Exact Spearman rank correlation per stratum between two integer
   * columns, with a DECLARED total tie-break (value, then id) so both
   * ranks are permutations and ρ = 1 − 6·Σd²/(n(n²−1)) is a pure
   * rational of integers — ×10⁶ as one integer division, no float sums.
   * (Textbook average-rank tie handling would introduce .5 fractions;
   * the id tie-break instead randomizes ties deterministically, which
   * is the standard large-sample shortcut and keeps the statistic
   * bit-exact across engines.) Strata with n < 2 are omitted.
   *
   * Shape at 100 TB: two rank windows over ONE stratum-key exchange
   * plus a per-stratum aggregate. All products (d², Σd², 6·Σd²·10⁶,
   * n(n²−1)) accumulate in DECIMAL(38,0) — the p110/q38 convention — so
   * the rational never wraps at any stratum size the rank window itself
   * can survive; only the DISPLAY column `sum_d2` casts back to BIGINT
   * (exact to ~3×10⁶ rows per stratum; `rho_e6` stays exact past it).
   */
  def spearman(df: DataFrame, stratumCol: Column, xCol: Column,
      yCol: Column, idCol: Column): DataFrame = {
    val rx = row_number().over(Window.partitionBy(col("stratum"))
      .orderBy(col("x"), col("id")))
    val ry = row_number().over(Window.partitionBy(col("stratum"))
      .orderBy(col("y"), col("id")))
    df.select(stratumCol.as("stratum"), xCol.cast("long").as("x"),
        yCol.cast("long").as("y"), idCol.as("id"))
      .withColumn("rx", rx.cast("long"))
      .withColumn("ry", ry.cast("long"))
      .withColumn("d", col("rx") - col("ry"))
      .withColumn("d2", col("d").cast("decimal(38,0)") * col("d"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("sum_d2_dec"))
      .filter(col("n") >= 2)
      .withColumn("rho_e6", expr(
        "1000000 - (6 * sum_d2_dec * 1000000) div " +
          "(CAST(n AS DECIMAL(38,0)) * (n - 1) * (n + 1))"))
      .select(col("stratum"), col("n"),
        col("sum_d2_dec").cast("long").as("sum_d2"), col("rho_e6"))
  }

  // ------------------------------------------- KS distribution audit

  /**
   * Exact two-sample Kolmogorov–Smirnov statistic, one stratum vs the
   * rest: D = max over values of |ECDF_s − ECDF_rest|, computed as an
   * integer cross-multiplication |cum_s·n_rest − cum_rest·n_s| over the
   * value HISTOGRAM (the ECDF only changes at observed values, so the
   * grid of strata × distinct values is where the max lives). Reported
   * ×10⁶ by one integer division, with the value achieving the max
   * (ties → smallest value). No normal approximation, no float.
   * Complements [[rankSumAudit]]: U sees location shift, D sees ANY
   * distribution difference.
   *
   * Shape at 100 TB: the corpus collapses to the (stratum, value)
   * histogram in one hash aggregate; the strata × values grid and its
   * cumulative windows are histogram-scale, never row-scale. The
   * cross-products (cum·n and the ×10⁶ scaling) run in DECIMAL(38,0) —
   * the p110/q38 convention — so D stays exact at any corpus size the
   * histogram itself fits.
   */
  def ksAudit(df: DataFrame, stratumCol: Column, valueCol: Column)
      : DataFrame = {
    val hist = df.select(stratumCol.as("stratum"), valueCol.cast("long").as("v"))
      .groupBy(col("stratum"), col("v")).agg(count(lit(1)).as("c"))
    val totals = hist.groupBy(col("stratum")).agg(sum(col("c")).as("n_s"))
    val nAll = hist.agg(sum(col("c")).as("n_all"))
    val values = hist.select(col("v")).distinct()
    val cumAll = hist.groupBy(col("v")).agg(sum(col("c")).as("g"))
      .withColumn("cum_all", sum(col("g")).over(Window.orderBy(col("v"))))
      .select(col("v"), col("cum_all"))
    val grid = totals.select(col("stratum"), col("n_s")).crossJoin(values)
      .join(hist, Seq("stratum", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum_s", sum(col("c")).over(
        Window.partitionBy(col("stratum")).orderBy(col("v"))))
      .join(broadcast(cumAll), Seq("v"))
      .crossJoin(broadcast(nAll))
      .withColumn("cum_rest", col("cum_all") - col("cum_s"))
      .withColumn("n_rest", col("n_all") - col("n_s"))
      .withColumn("diff_num",
        abs(col("cum_s").cast("decimal(38,0)") * col("n_rest") -
          col("cum_rest").cast("decimal(38,0)") * col("n_s")))
    grid.groupBy(col("stratum"))
      .agg(first(col("n_s")).as("n"),
        max(col("diff_num")).as("max_num"),
        first(col("n_s").cast("decimal(38,0)") * col("n_rest")).as("denom"),
        max_by(col("v"), struct(col("diff_num"), -col("v"))).as("d_at_value"))
      .filter(col("denom") > 0)
      .withColumn("d_ppm", expr("(max_num * 1000000) div denom"))
      .select(col("stratum"), col("n"), col("d_ppm"), col("d_at_value"))
  }

  // ------------------------------------------- rank-sum distribution audit

  /**
   * Mann–Whitney-style rank-sum audit, one stratum vs the rest: from
   * ONE global ranking of the value column (declared (value, id)
   * tie-break, the [[spearman]] convention), each stratum's
   * U = R − n(n+1)/2 against its maximum n·(N−n), as exact integer PPM.
   * u_ppm ≈ 500000 means the stratum's values interleave with the rest
   * (same distribution); near 0 / 10⁶ means it sits wholly below/above
   * — the "is this crawl's length profile an outlier" screen, with no
   * normal approximation and no float anywhere.
   *
   * Shape: one global rank — by design a total order, so the window
   * keeps the declared tie-break exact. Everything after is
   * |strata|-row arithmetic, all of it in DECIMAL(38,0) (the p110/q38
   * convention) via the doubled form 2U = 2·ΣR − n(n+1), so neither the
   * rank sum nor the ×10⁶ PPM scaling can wrap; only the DISPLAY columns
   * (rank_sum, u_stat, u_max) cast back to BIGINT, exact to ~4×10⁹
   * total rows — past which the row-scale rank window is the binding
   * constraint anyway.
   */
  def rankSumAudit(df: DataFrame, stratumCol: Column, valueCol: Column,
      idCol: Column): DataFrame = {
    val ranked = df.select(stratumCol.as("stratum"),
        valueCol.cast("long").as("v"), idCol.as("id"))
      .withColumn("r", row_number().over(
        Window.orderBy(col("v"), col("id"))).cast("long"))
    val doubled = ranked.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"),
        expr("2 * sum(CAST(r AS DECIMAL(38,0)))").as("rank_sum2"))
    val totals = doubled.agg(sum(col("n")).as("n_all"))
    doubled
      .crossJoin(broadcast(totals))
      .withColumn("u2",
        expr("rank_sum2 - CAST(n AS DECIMAL(38,0)) * (n + 1)"))
      .withColumn("u_max_dec",
        expr("CAST(n AS DECIMAL(38,0)) * (n_all - n)"))
      .withColumn("u_ppm",
        expr("CASE WHEN u_max_dec > 0 THEN (u2 * 500000) div u_max_dec" +
          " ELSE 500000 END"))
      .select(col("stratum"), col("n"),
        expr("rank_sum2 div 2").as("rank_sum"),
        expr("u2 div 2").as("u_stat"),
        col("u_max_dec").cast("long").as("u_max"), col("u_ppm"))
  }

  // ------------------------------------------- exact AUC audit

  /**
   * EXACT ROC-AUC of an integer score against a binary label, per
   * stratum — the threshold-free discrimination audit a model-based
   * quality filter ships with. Computed by the Mann–Whitney identity
   * AUC = U/(n⁺·n⁻) with the statistically-correct AVERAGE rank for
   * tied scores, over the (stratum, score) HISTOGRAM — never a
   * row-scale sort (the doubled rank 2·cum_before + c + 1 keeps
   * half-ranks integral, all products in DECIMAL(38,0)). auc_ppm is one
   * integer division; NULL when a stratum has no positives or no
   * negatives (AUC undefined).
   *
   * Shape at 100 TB: one (stratum, score) hash aggregate with map-side
   * partials, a cumulative window over DISTINCT scores, a |strata|-row
   * aggregate. Bounded score domains (a PPM score has ≤10⁶+1 values)
   * keep the window histogram-scale at any corpus size.
   */
  def aucAudit(df: DataFrame, stratumCol: Column, scoreCol: Column,
      labelCol: Column): DataFrame = {
    val base = df.select(stratumCol.as("g"), scoreCol.cast("long").as("s"),
      labelCol.cast("boolean").as("pos"))
    val hist = base.groupBy(col("g"), col("s"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("p"))
    val cum = hist.withColumn("cum_before",
      sum(col("c")).over(Window.partitionBy(col("g")).orderBy(col("s")))
        - col("c"))
    cum.groupBy(col("g"))
      .agg(sum(col("p")).as("n_pos"),
        sum(col("c") - col("p")).as("n_neg"),
        sum(expr("CAST(p AS DECIMAL(38,0)) * (2 * cum_before + c + 1)"))
          .as("r2pos"))
      .withColumn("auc_ppm", expr(
        "CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
          "((r2pos - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 500000)" +
          " div (CAST(n_pos AS DECIMAL(38,0)) * n_neg) END"))
      .select(col("g").as("stratum"), col("n_pos"), col("n_neg"),
        col("auc_ppm"))
  }

  // ------------------------------------------- Poisson bootstrap CI

  /** Poisson(1) CDF thresholds scaled to 2³² (floored) — the
   * inverse-CDF lookup that turns a uniform 32-bit hash into a
   * deterministic Poisson(1) bootstrap weight. Shared verbatim with the
   * oracle SQL so both engines draw identical weights. */
  val poissonThresholds32: Seq[Long] = {
    val pmf = Iterator.iterate((math.exp(-1.0), 0)) { case (p, k) =>
      (p / (k + 1), k + 1)
    }.map(_._1).take(10).toSeq
    pmf.scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(c * 4294967296.0).toLong)
  }

  /**
   * Distributed bootstrap confidence interval for the mean token count,
   * by the POISSON bootstrap (Chamandy 2012, "Estimating uncertainty
   * for massive data streams"): true resampling-with-replacement needs
   * global coordination, but each replica's multiplicity per row is
   * asymptotically Poisson(1) — so every row draws `replicas`
   * independent deterministic Poisson weights from its hash, and each
   * replica's weighted mean is one bootstrap estimate. The 95% CI is
   * the exact order statistic of the replica means (⌈0.025m⌉-th and
   * ⌈0.975m⌉-th over the m SURVIVING replicas — a replica whose every
   * weight drew 0 is a missing draw, and `n_replicas` reports m).
   * Every number is an integer (scaled ×10⁶ means, hash-derived
   * weights), so the oracle replays it bit for bit.
   *
   * Shape at 100 TB: one explode (×R) + ONE replica-key hash aggregate
   * with map-side partials; everything after is R-row arithmetic. This
   * is the standard shape for uncertainty on massive data — no
   * row-level resampling state, no second pass.
   */
  def bootstrapCi(docs: DataFrame, idCol: String, textCol: String,
      replicas: Int = 64): DataFrame = {
    require(replicas >= 4, s"need >= 4 replicas, got $replicas")
    val base = docs.select(col(idCol).as("id"),
      TextOps.tokenCount(coalesce(col(textCol), lit(""))).cast("long").as("tok"))
    val rep = base
      .withColumn("rep", explode(sequence(lit(0), lit(replicas - 1))))
      .withColumn("u32", conv(substring(
        md5(concat(col("id").cast("string"), lit(":"), col("rep").cast("string"))
          .cast("binary")), 1, 8), 16, 10).cast("long"))
      .withColumn("w", poissonThresholds32.foldLeft(lit(0L)) {
        (acc, t) => acc + when(col("u32") >= t, 1L).otherwise(0L)
      })
    val means = rep.groupBy(col("rep"))
      .agg(sum(col("w") * col("tok")).as("swt"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
      .select(col("rep"), expr("(swt * 1000000) div sw").as("mean_e6"))
    // ranks over SURVIVING replicas (an all-zero-weight replica — real
    // on tiny corpora, P = e^-N per replica — is a missing draw, not a
    // hole in the rank sequence; with fixed ranks the CI row would
    // silently vanish the first time one dropped)
    val ranked = means
      .withColumn("rk", row_number().over(
        Window.orderBy(col("mean_e6"), col("rep"))))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val full = base.agg(count(lit(1)).as("n_docs"),
      expr("(sum(tok) * 1000000) div count(1)").as("mean_e6"))
    full.crossJoin(broadcast(
        ranked.filter(col("rk") === expr("(m * 25 + 999) div 1000"))
          .select(col("mean_e6").as("ci_lo_e6"), col("m").as("n_replicas"))))
      .crossJoin(broadcast(
        ranked.filter(col("rk") === expr("(m * 975 + 999) div 1000"))
          .select(col("mean_e6").as("ci_hi_e6"))))
      .select(col("n_docs"), col("n_replicas"),
        col("mean_e6"), col("ci_lo_e6"), col("ci_hi_e6"))
  }

  // ------------------------------------------------- k-anonymity audit

  /**
   * k-anonymity audit over quasi-identifier combinations: how many
   * documents share each (lang, source, size-bucket) tuple, flagging
   * combinations rarer than `k` — the re-identification screen run
   * before releasing per-document metadata alongside a scrubbed corpus
   * (complements [[piiRedact]], which scrubs content; this audits
   * attributes). Pure hash aggregate to combination grain.
   */
  def kAnonymityAudit(docs: DataFrame, cols: Seq[Column], bucket: Column,
      k: Int): DataFrame =
    docs.groupBy((cols :+ bucket.as("bucket")): _*)
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("at_risk", col("n_docs") < k)

  // ------------------------------------------------- Zipf two-point fit

  /**
   * Per-stratum Zipf exponent by two-point fit: s from
   * c(1)/c(r) = r^s at the reference rank `refRank` (rank by count
   * descending, word tie-break, so the reference count is
   * deterministic). The natural-log quotient on exact integer counts is
   * rounded to 4 dp — the [[vocabStats]] heaps_beta convention. Strata
   * with fewer than `refRank` word types are omitted (no reference
   * point). A flat template corpus shows s ≈ 0; natural text ≈ 1.
   *
   * Shape at 100 TB: word counts are one (stratum, word) hash aggregate
   * with map-side partials; the rank window runs over vocabulary-scale
   * rows, never corpus rows.
   */
  def zipfFit(df: DataFrame, stratumCol: Column, textCol: Column,
      refRank: Int = 16): DataFrame = {
    require(refRank > 1, s"need refRank > 1, got $refRank")
    val perWord = df
      .select(stratumCol.as("stratum"), explode(TextOps.words(textCol)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("stratum"), col("w")).agg(count(lit(1)).as("c"))
    val stats = perWord.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_types"), max(col("c")).as("c1"))
    val ref = perWord
      .withColumn("rk", row_number().over(Window.partitionBy(col("stratum"))
        .orderBy(col("c").desc, col("w"))))
      .filter(col("rk") === refRank)
      .select(col("stratum"), col("c").as("c_ref"))
    stats.join(ref, Seq("stratum"))
      .select(col("stratum"), col("n_types"), col("c1"), col("c_ref"),
        Exact.rRow(log(col("c1") / col("c_ref").cast("double")) /
          math.log(refRank), 4).as("zipf_s"))
  }

  // ------------------------------------------------------------ repetition

  /**
   * Gopher-style repetition statistics (Rae et al. 2021, "Scaling Language
   * Models", §A1.1): the fraction of duplicate words and the fraction of
   * bigrams claimed by the single most frequent bigram. High values mark
   * boilerplate / template spam that survives exact dedup.
   *
   * Shape: ZERO shuffle. The per-document bigram mode is computed by
   * sorting the bigram array in-row and folding a longest-equal-run scan
   * over it — O(n log n) per document — instead of the explode →
   * groupBy(doc, gram) → groupBy(doc) formulation, which would shuffle
   * every bigram of the corpus twice. At 100 TB the exploded bigram
   * relation is corpus-sized; the in-row fold never materializes it.
   */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = TextOps.words(col(textCol))
    // conditional gate-scale spread (Spread.ifNarrow): the in-row
    // sort+fold below is the heavy per-row compute, and a one-row-group
    // fixture scan would run all of it in a single task
    val base = Spread.ifNarrow(df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), ws.as("ws"))
      .where(size(col("ws")) >= 2)
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_distinct_words", size(array_distinct(col("ws"))).cast("long"))
      // sorted bigram array: equal bigrams become adjacent, so the mode
      // count is the longest run of equal neighbors
      .withColumn("gs", array_sort(expr(
        "transform(sequence(1, size(ws) - 1)," +
          " i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))")))
    base
      .withColumn("n_bigrams", size(col("gs")).cast("long"))
      .withColumn("top_bigram_count", expr(
        """aggregate(gs,
          |  named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
          |  (acc, g) -> named_struct(
          |    'prev', g,
          |    'run',  if(acc.prev <=> g, acc.run + 1L, 1L),
          |    'best', greatest(acc.best, if(acc.prev <=> g, acc.run + 1L, 1L))),
          |  acc -> acc.best)""".stripMargin))
      .select(col(idCol),
        col("n_words"), col("n_distinct_words"),
        Exact.rRow(lit(1.0) - col("n_distinct_words") / col("n_words"), 4)
          .as("dup_word_frac"),
        col("n_bigrams"), col("top_bigram_count"),
        Exact.rRow(col("top_bigram_count") / col("n_bigrams"), 4)
          .as("top_bigram_frac"))
  }

  // ------------------------------------------------------------------ PII

  /** Detection patterns shared by the engine and the oracle. RE2-safe
   * (no lookaround/backrefs) so the same text works in both dialects. */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\+1-\\d{3}-\\d{4}"

  /**
   * PII scrubbing: count and redact email addresses, IPv4 literals, and
   * phone numbers. Replacement order is fixed (email → ip → phone) so the
   * redacted text is deterministic. Pure column expressions — codegen'd
   * regex over each row, no shuffle, no UDF.
   */
  def piiRedact(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    // null-safe: a null payload must count 0 and hash like the empty
    // string, not propagate size(null) = -1 into the counts
    val p = coalesce(col(payloadCol), lit(""))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(p, emailRe, "<EMAIL>"),
          ipv4Re, "<IP>"),
        phoneRe, "<PHONE>")
    df.select(col(idCol),
      size(regexp_extract_all(p, lit(emailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(p, lit(ipv4Re), lit(0))).as("n_ips"),
      size(regexp_extract_all(p, lit(phoneRe), lit(0))).as("n_phones"),
      md5(redacted.cast("binary")).as("redacted_md5"))
  }

  // ------------------------------------------------------------- sampling

  /** Deterministic per-row sampling key: uniform over hex strings, stable
   * across engines and runs (md5, not a seeded RNG — reproducible sampling
   * is a hard requirement for training-data lineage). */
  def sampleKey(text: Column, id: Column): Column =
    md5(concat(coalesce(text, lit("")), lit(":"), id.cast("string"))
      .cast("binary"))

  /**
   * Stratified deterministic Bernoulli sample: each stratum keeps rows
   * whose sample-key prefix falls below the stratum's threshold (2 hex
   * chars ⇒ rate = (threshold+1)/256). One hash + one string compare per
   * row, then a single aggregation shuffle on the stratum key — the whole
   * corpus is never re-partitioned. The kept-id digest makes the *exact
   * membership* of the sample checkable, not just its size.
   */
  def stratifiedSample(df: DataFrame, stratum: Column, threshold: Column,
      id: Column, text: Column): DataFrame = {
    val keep = substring(sampleKey(text, id), 1, 2) <= threshold
    df.groupBy(stratum.as("stratum"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(keep, 1L).otherwise(0L)).as("n_sampled"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(when(keep, id))),
            x => x.cast("string"))).cast("binary")).as("sampled_md5"))
  }

  /**
   * Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006,
   * "Weighted random sampling with a reservoir"): each row draws
   * u ∈ (0,1) from its deterministic hash and ranks by key = u^(1/w);
   * the top-k keys per stratum are a weighted-without-replacement sample
   * — how a curation mix over-samples high-quality or long documents
   * reproducibly. The key is rounded to 9 dp before ranking so JVM-vs-
   * libm `pow` last-ulp differences can never flip an order (ties break
   * on the id).
   *
   * Shape: one hash + one pow per row, a single stratum-key shuffle for
   * the rank window; at 100 TB per-stratum top-k switches to the bounded
   * [[graft.functions.MinKPairs]] shape (k rows per stratum shuffled,
   * not the corpus).
   */
  /** The Efraimidis–Spirakis rounded selection key [[weightedSample]]
   * ranks on — public so the streaming twin scores rows identically. */
  def esKey(text: Column, id: Column, weight: Column): Column = {
    val u = (conv(substring(sampleKey(text, id), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    Exact.rRow(pow(u, lit(1.0) / weight.cast("double")), 9)
  }

  def weightedSample(df: DataFrame, stratum: Column, weight: Column,
      k: Int, id: Column, text: Column): DataFrame = {
    val key = esKey(text, id, weight)
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("ky").desc, col("id"))
    df.select(stratum.as("stratum"), id.as("id"), key.as("ky"),
        weight.cast("double").as("w"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= k, col("w")).otherwise(0.0)).as("weight_sampled"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(when(col("rn") <= k, col("id")))),
            x => x.cast("string"))).cast("binary")).as("sampled_md5"))
  }

  /**
   * Token-budget mixing: within each stratum, rank documents by the
   * deterministic sample key and keep the prefix whose cumulative token
   * count stays within the budget — how a training mix hits "N tokens of
   * source X" reproducibly. One shuffle (on the stratum key); the running
   * sum is an in-partition window. At 100 TB strata outgrow one task —
   * then the two-level cum-sum pattern of [[graft.operators.LogOps]]
   * (`retainBySize`) applies unchanged; fixture strata are single-task.
   */
  def tokenBudgetMix(df: DataFrame, stratum: Column, budget: Long,
      id: Column, text: Column): DataFrame = {
    val w = Window.partitionBy("stratum").orderBy(col("rk"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(stratum.as("stratum"), id.as("id"), text.as("text"))
      .withColumn("rk", sampleKey(col("text"), col("id")))
      .withColumn("n_tok", TextOps.tokenCount(col("text")).cast("long"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .where(col("cum_tok") <= budget)
      .groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("n_docs_kept"),
        sum(col("n_tok")).as("tokens_kept"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(col("id"))), x => x.cast("string")))
          .cast("binary")).as("kept_md5"))
  }

  // ------------------------------------------------------ decontamination

  /**
   * Benchmark decontamination (GPT-3 appendix C / PaLM §8 style): flag
   * corpus documents sharing any word n-gram with a held-out benchmark
   * set. The benchmark side is tiny by construction, so its distinct
   * n-gram set is BROADCAST and the corpus side joins map-side — the
   * corpus is never shuffled, which is the only shape that survives
   * "check 100 TB against a 100 MB eval suite".
   */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    // conditional spread before the gram explode ([[Spread.ifNarrow]]):
    // a few-split gate-scale scan would otherwise run the compute-heavy
    // n-gram construction on that handful of input splits; a splittable
    // production source already parallelizes and skips the exchange
    def grams(df: DataFrame): DataFrame = Spread.ifNarrow(df, col(idCol))
      // single-pass codegen'd kernel; < n words ⇒ empty ⇒ explodes to no
      // rows, same as the old size(ws) >= n filter
      .select(col(idCol),
        explode(TextOps.wordNGrams(col(textCol), n)).as("gram"))
    val benchGrams = grams(benchmark).select(col("gram")).distinct()
    grams(corpus)
      .join(broadcast(benchGrams), Seq("gram"), "inner")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared")) // grams are distinct per doc
  }

  // ---------------------------------------------------------- chunk dedup

  /**
   * Sub-document (chunk-level) exact dedup, RefinedWeb/MassiveText style:
   * split each document into consecutive `chunkWords`-word chunks, hash
   * them, and measure how much of each source is duplicated text at chunk
   * granularity — catches page templates that whole-document dedup misses.
   *
   * Shape: the corpus shuffles exactly once, on the chunk hash (count per
   * hash with map-side partials), then the per-hash counts join back and
   * aggregate per source. Chunk hashes are near-unique, so the join is
   * skew-free by construction.
   */
  def chunkDupStats(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, chunkWords: Int): DataFrame = {
    // null-safe: null text chunks like the empty string; without the
    // coalesce, size(null) = -1 turns the chunk-index sequence into
    // sequence(0, -1) = [0, -1] and emits two phantom null chunks
    val chunks = df
      .select(col(idCol), col(sourceCol),
        TextOps.words(coalesce(col(textCol), lit(""))).as("ws"))
      .select(col(idCol), col(sourceCol), explode(expr(
        s"""transform(sequence(0, cast(ceil(size(ws) / ${chunkWords}.0) as int) - 1),
           |  i -> concat_ws(' ', slice(ws, i * $chunkWords + 1, $chunkWords)))"""
          .stripMargin)).as("chunk"))
      .select(col(idCol), col(sourceCol), md5(col("chunk").cast("binary")).as("h"))
    val byHash = chunks.groupBy(col("h")).agg(count(lit(1)).as("c"))
    chunks.join(byHash, Seq("h"))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        countDistinct(when(col("c") > 1, col(idCol))).as("n_docs_with_dup"))
  }

  /**
   * Sub-document dedup WITH RECONSTRUCTION (RefinedWeb §3.3 exact-substring
   * removal, at chunk granularity): every chunk keeps only its FIRST
   * corpus occurrence — ordered by (doc id, position) — and each document
   * is rebuilt from its surviving chunks. [[chunkDupStats]] measures the
   * duplication; this operator actually removes it and emits the cleaned
   * text (as an exact-membership digest, so the oracle check is
   * byte-for-byte).
   *
   * Shape: two linear shuffles — a row_number window partitioned on the
   * chunk hash (near-unique ⇒ skew-free) decides first occurrence in one
   * pass with no join-back, then one aggregation on the doc id rebuilds
   * documents. The corpus is never joined against itself.
   */
  def chunkScrub(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int): DataFrame = {
    val chunks = df
      .select(col(idCol),
        TextOps.words(coalesce(col(textCol), lit(""))).as("ws"))
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(ws) / ${chunkWords}.0) as int) - 1),
           |  i -> concat_ws(' ', slice(ws, i * $chunkWords + 1, $chunkWords)))"""
          .stripMargin)).as(Seq("idx", "chunk")))
      .withColumn("h", md5(col("chunk").cast("binary")))
    val firstWin = Window.partitionBy(col("h"))
      .orderBy(col(idCol), col("idx"))
    chunks
      .withColumn("rn", row_number().over(firstWin))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("idx"), col("chunk"))))),
            s => s.getField("chunk"))).cast("binary")).as("cleaned_md5"))
  }

  /**
   * Repeated-SPAN scrub (Lee et al. 2021, "Deduplicating Training Data
   * Makes Language Models Better", arXiv:2107.06499 — exact-substring
   * removal, here at word-n-gram granularity): any word n-gram occurring
   * at least `minCount` times across the corpus marks every position it
   * covers, and each document drops its covered words. Unlike
   * [[chunkScrub]]'s aligned-chunk rule, spans OVERLAP — a word is
   * removed when ANY covering n-gram is corpus-frequent, which is the
   * boilerplate/template-removal semantics.
   *
   * Shape: one in-row gram construction (no corpus self-join), one
   * vocabulary-scale frequency aggregation on the gram, a gram-keyed
   * join-back that touches only frequent-gram OCCURRENCES (dup mass, not
   * corpus mass), and one per-doc rebuild aggregation. All joins are on
   * near-unique or frequency-pruned keys; at 100 TB the frequent-gram
   * table is the broadcast side.
   */
  def repeatedSpanScrub(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minCount: Int = 3): DataFrame = {
    // conditional gate-scale spread before tokenization: toks is cached
    // and fans out to three passes, so its (possibly single-split) scan
    // partitioning would otherwise serialize every downstream explode
    val toks = graft.CacheScope.track(Spread.ifNarrow(df, col(idCol))
      .select(col(idCol).as("doc_id"),
        filter(TextOps.words(coalesce(col(textCol), lit(""))),
          w => length(w) > 0).as("ws")))
    // guard short docs: sequence(0, size-n) with size < n would count DOWN
    val grams = toks
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("ws")) - n),
        i => struct(i.as("pos"),
          concat_ws(" ", slice(col("ws"), i + 1, lit(n))).as("gram")))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))
    val freq = grams.groupBy(col("gram")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select(col("gram"))
    val covered = grams.join(freq.hint("merge"), Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("cpos"))
      .distinct()
    val words = toks.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("pos", "word")))
    val kept = words.join(
      covered.select(col("doc_id").as("_cd"), col("cpos")),
      col("doc_id") === col("_cd") && col("pos") === col("cpos"), "left_anti")
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("word")))),
            s => s.getField("word"))).cast("binary")).as("kept_md5"))
    toks.select(col("doc_id"), size(col("ws")).cast("long").as("n_words"))
      .join(keptAgg.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        // a fully-scrubbed doc digests the empty string (md5("") constant)
        coalesce(col("kept_md5"),
          lit("d41d8cd98f00b204e9800998ecf8427e")).as("kept_md5"))
  }

  // --------------------------------------------------------- quantization

  /**
   * Per-vector int8 scalar quantization (the standard ANN-index
   * compression: 4 bytes/dim → 1): q_i = ⌊(x_i − min)/scale + ½⌋ with
   * scale = (max − min)/255. Emits integer invariants of the quantized
   * vector (sum, first element) plus the scale in integer ppm, so the
   * oracle check is exact — no float-tolerance holes. Pure column
   * expressions, zero shuffle; every op is deterministic IEEE double math
   * so engine and oracle agree bit-for-bit.
   */
  def quantizeStats(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = transform(col(vecCol), x => x.cast("double"))
    // min/max/scale hoisted to per-row COLUMNS before the quantize
    // lambda: array HOFs evaluate their lambda interpreted per element,
    // so an array_min nested inside the transform re-scans the vector
    // for every element — O(dim²)/row (measured 5x on the sf0.1 bench
    // once the noop sink stopped count() pruning the whole projection)
    val q = transform(col("_e"), x =>
      when(col("_scale") === 0.0, lit(0L))
        .otherwise(floor((x - col("_mn")) / col("_scale") + lit(0.5))))
    df.withColumn("_e", e)
      .withColumn("_mn", array_min(col("_e")))
      .withColumn("_scale", (array_max(col("_e")) - col("_mn")) / lit(255.0))
      .withColumn("_q", q)
      .select(col(idCol),
        floor(col("_scale") * lit(1000000.0)).cast("long").as("scale_ppm"),
        aggregate(col("_q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        // try_: an empty (zero-dim) vector yields NULL, not a thrown
        // INVALID_ARRAY_INDEX from deep inside a 100 TB scan
        try_element_at(col("_q"), lit(1)).cast("int").as("q_first"),
        size(col("_e")).as("dim"))
  }

  // ------------------------------------------------- incremental dedup

  /**
   * Cross-snapshot incremental dedup — the daily-crawl-increment story:
   * classify every NEW document against the EXISTING corpus and its own
   * batch. Verdicts: `dup_of_base` (fingerprint already in the base
   * corpus, representative = base minimum id), `dup_in_batch` (first
   * seen earlier in this batch), `fresh` (novel — its own
   * representative). The batch twin of [[graft.streaming.StreamingOps
   * .corpusDedupStream]], with provenance.
   *
   * Shape: the base side reduces to a (fingerprint → min id) table —
   * one hash agg — and both joins are on the near-unique fingerprint
   * (skew-free); the base corpus is NEVER rescanned per new doc. At
   * 100 TB the fp→rep table is what a production system would maintain
   * as a bucketed/sorted table (s16) keyed by fingerprint.
   */
  def incrementalDedup(newDocs: DataFrame, base: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val fp = TextOps.fingerprint(coalesce(col(textCol), lit("")))
    val baseRep = base.select(fp.as("fp"), col(idCol))
      .groupBy(col("fp")).agg(min(col(idCol)).as("base_rep"))
    // one fingerprint pass over the batch, persisted: it fans out into
    // the batch-rep aggregation AND the final classification join, and
    // the two consumers' plans differ enough that exchange reuse is not
    // guaranteed to dedupe the normalize+md5 scan
    val batchFp = graft.CacheScope.track(
      newDocs.select(col(idCol), fp.as("fp")))
    val batchRep = batchFp
      .groupBy(col("fp")).agg(min(col(idCol)).as("batch_rep"))
    // fp-keyed relations are corpus-scale — merge-hinted (the round-15
    // static-broadcast-misestimate class)
    batchFp
      .join(baseRep.hint("merge"), Seq("fp"), "left")
      .join(batchRep.hint("merge"), Seq("fp"))
      .select(col(idCol),
        when(col("base_rep").isNotNull, lit("dup_of_base"))
          .when(col("batch_rep") < col(idCol), lit("dup_in_batch"))
          .otherwise(lit("fresh")).as("verdict"),
        coalesce(col("base_rep"), col("batch_rep")).as("rep_id"))
  }

  // ----------------------------------------------------- sequence packing

  /**
   * Training-sequence packing: documents are concatenated in a
   * deterministic order (ascending id within stratum — crawl order) and
   * the token stream is split into fixed-`budget` sequences, the way
   * pretraining batches are actually formed. Emits each document's
   * placement: its first sequence, offset within it, and how many
   * sequences it spans — the lineage a trainer needs to map a sequence
   * back to its source documents.
   *
   * Shape: one shuffle on the stratum key; the running sum is an
   * in-partition window (strata larger than a task ⇒ the two-level
   * cum-sum pattern of `LogOps.retainBySize`, unchanged).
   */
  def sequencePack(df: DataFrame, stratum: Column, budget: Long,
      id: Column, text: Column): DataFrame = {
    val w = Window.partitionBy(col("stratum")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(stratum.as("stratum"), id.as("id"),
        // null text packs like "" (one empty token) — without the
        // coalesce, size(null) = -1 corrupts every later doc's offset
        TextOps.tokenCount(coalesce(text, lit(""))).cast("long").as("n_tok"))
      .withColumn("excl", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("stratum"), col("id").as("doc_id"), col("n_tok"),
        floor(col("excl") / lit(budget.toDouble)).cast("int").as("seq_first"),
        (col("excl") % budget).as("offset_in_seq"),
        (floor((col("excl") + col("n_tok") - 1) / lit(budget.toDouble))
          .cast("int")
          - floor(col("excl") / lit(budget.toDouble)).cast("int") + 1)
          .as("n_seqs_spanned"))
  }

  // -------------------------------------------------- heuristic filtering

  /** Stopwords whose presence the Gopher rules require (Rae et al. 2021
   * §A1.1 uses {the, be, to, of, and, that, have, with}; restricted here
   * to the engine's lexicon so filter and language-ID share one list). */
  val requiredStopwords: Seq[String] =
    Seq("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")

  /**
   * Gopher-style document quality filter (Rae et al. 2021 §A1.1, the
   * MassiveText rule battery; C4 — Raffel et al. 2020 §2.2 — contributes
   * the symbol screens): word-count bounds, mean-word-length band,
   * symbol-to-word ratio, alphabetic-word fraction, and a required-
   * stopword floor. Emits every feature plus per-rule verdicts, not just
   * the final bit, because at 100 TB the *rule mix* is what gets tuned —
   * re-running the whole scan per threshold change is the anti-pattern.
   *
   * Shape: pure column expressions over each document — zero shuffle,
   * embarrassingly parallel, whole-stage codegen.
   */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val ws = TextOps.words(text)
    // raw whitespace tokens (pre-normalization): the alpha screen must see
    // the symbols that normalization strips
    val raw = split(text, "\\s+")
    val base = df.select(col(idCol),
      size(ws).cast("long").as("n_words"),
      (length(regexp_replace(TextOps.normalized(text), " ", ""))
        / size(ws).cast("double")).as("mwl_raw"),
      (size(regexp_extract_all(text, lit("\\.\\.\\.|#"), lit(0)))
        / size(ws).cast("double")).as("sym_raw"),
      (size(filter(raw, w => w.rlike("[a-zA-Z]")))
        / size(raw).cast("double")).as("alpha_raw"),
      size(array_intersect(array_distinct(ws),
        array(requiredStopwords.map(lit): _*))).as("stop_hits"))
    base.select(col(idCol), col("n_words"),
      Exact.rRow(col("mwl_raw"), 4).as("mean_word_len"),
      Exact.rRow(col("sym_raw"), 4).as("symbol_ratio"),
      Exact.rRow(col("alpha_raw"), 4).as("alpha_frac"),
      col("stop_hits"),
      (col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mwl_raw") >= 3.0 && col("mwl_raw") <= 10.0 &&
        col("sym_raw") <= 0.1 &&
        col("alpha_raw") >= 0.8 &&
        col("stop_hits") >= 2).as("keep"))
  }

  // ----------------------------------------------------- tf-idf keywords

  /**
   * Per-document top-k keywords by TF-IDF — the classic relevance
   * signal, used in curation for topic balancing and per-domain term
   * drift monitoring. score = tf · ln(N / df).
   *
   * Shape: the token explode is corpus-sized but linear; tf is one hash
   * agg on (doc, word); df reduces the ALREADY per-doc-distinct tf
   * relation on word (vocabulary-sized, Zipf-skewed — map-side partials
   * absorb the hot head since a combine input is one row per doc); the
   * per-doc top-k window partitions on doc_id (high cardinality, no
   * skew). N comes in via a 1-row cross join — never a driver action.
   */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = Spread.ifNarrow(df, col(idCol))
      .select(col(idCol), explode(TextOps.words(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
    val tf = toks.groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nDocs = tf.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("word"))
      .crossJoin(nDocs)
      .withColumn("score",
        Exact.rRow(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("word"))))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank").cast("int").as("rank"),
        col("word"), col("score"))
  }

  // ------------------------------------------------------------- novelty

  /**
   * Document novelty: the fraction of a document's distinct word n-grams
   * whose FIRST corpus occurrence (minimum doc id over all documents
   * containing the gram) is this document — a cheap proxy for "how much
   * genuinely new text does this doc add", used to rank crawl snapshots
   * and prune stale re-crawls.
   *
   * Shape: the inverted (gram, doc) relation is corpus-sized but linear;
   * first-occurrence is one hash agg on the gram (map-side partials), and
   * the join back is co-partitioned on the same key, so the corpus
   * shuffles twice on gram and never all-pairs.
   */
  def noveltyStats(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val grams = Spread.ifNarrow(df, col(idCol))
      .select(col(idCol),
        explode(TextOps.wordNGrams(col(textCol), n)).as("gram"))
    val first = grams.groupBy(col("gram"))
      .agg(min(col(idCol)).as("first_doc"))
    // vocabulary-scale first-occurrence table — merge-hinted (the
    // round-15 static-broadcast-misestimate class)
    grams.join(first.hint("merge"), Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), // grams are distinct per doc
        sum(when(col("first_doc") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_frac", Exact.ratioCol("n_novel", "n_grams", 4))
  }

  // ------------------------------------------------- end-to-end curation

  /**
   * The whole curation stage as ONE composed plan — quality filter
   * ([[gopherFilter]]), exact dedup (first normalized-fingerprint
   * occurrence wins), and benchmark decontamination
   * ([[decontaminate]]) — reduced to per-source survivor statistics with
   * an exact-membership digest. This is the query a data-curation team
   * actually ships: every stage above is a column on the same corpus
   * scan or a linear-shuffle side table, so Catalyst fuses the rule
   * evaluation into the scan and the whole thing remains three linear
   * shuffles (fingerprint agg, benchmark-gram join, final source agg) at
   * any corpus size.
   */
  def curationPipeline(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, sourceCol: String,
      ngram: Int): DataFrame = {
    val quality = gopherFilter(corpus, idCol, textCol)
      .select(col(idCol), col("n_words"), col("keep"))
    // null text fingerprints like "" — a null fp would silently DROP the
    // row at the inner fp join below, undercounting n_docs
    val fp = TextOps.fingerprint(coalesce(col(textCol), lit("")))
    // first occurrence per normalized fingerprint wins (ids are stable,
    // so "lowest id" is the deterministic representative rule)
    val keeper = corpus
      .select(col(idCol), fp.as("fp"))
      .groupBy(col("fp")).agg(min(col(idCol)).as("rep"))
    val contaminated = decontaminate(corpus, benchmark, idCol, textCol, ngram)
      .select(col(idCol))
    // every joined side is corpus-scale (doc- or fingerprint-keyed) —
    // merge hints so a static size misestimate can never broadcast one
    // (the round-15 100× static-plan census caught all three here)
    corpus
      .select(col(idCol), col(sourceCol).as("source"), fp.as("fp"))
      .join(quality.hint("merge"), Seq(idCol))
      .join(keeper.hint("merge"), Seq("fp"))
      .join(contaminated.withColumn("contaminated", lit(true))
        .hint("merge"), Seq(idCol), "left")
      .withColumn("survives",
        col("keep") && col(idCol) === col("rep") &&
          coalesce(!col("contaminated"), lit(true)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("survives"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("survives"), col("n_words")).otherwise(0L))
          .as("tokens_kept"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(when(col("survives"),
            col(idCol)))), x => x.cast("string"))).cast("binary"))
          .as("kept_md5"))
  }

  // ------------------------------------------------------ exact quantiles

  /**
   * EXACT per-group quantiles by order-statistic selection over a value
   * HISTOGRAM — never a global sort. Quantiles are given as exact
   * rationals (num, den); the selected value is the smallest v whose
   * cumulative count reaches rank = ceil(q·n), computed in pure integer
   * arithmetic ((num·n + den − 1) div den) so no float ceil can disagree
   * across engines.
   *
   * Shape: the corpus collapses to (group, value, count) in one hash
   * aggregate with map-side partials, and ONE running-count window over
   * that histogram selects every requested rank: two histogram passes
   * in one plan (the per-group totals and the running count), no driver
   * action. The window sorts each group's distinct values in one task,
   * so a group's ndv, not its row count, bounds that task.
   * Contrast with sort-based quantiles (a full shuffle-sort of every
   * row) or approx_percentile (no exactness guarantee).
   */
  def exactQuantiles(df: DataFrame, group: Column, value: Column,
      quantiles: Seq[(Int, Int)]): DataFrame = {
    require(quantiles.nonEmpty &&
      quantiles.forall { case (n, d) => n >= 0 && n <= d && d > 0 },
      s"quantiles must be rationals in [0,1], got $quantiles")
    // one corpus scan: the plan reads the histogram twice (the per-group
    // totals and the running count), so it is tracked and both reads
    // share one cached build.
    // NULL values are excluded EXPLICITLY: Spark windows order NULLS
    // FIRST, DuckDB NULLS LAST, so a null value would silently shift
    // every rank between engines — the quantile domain is non-null.
    val hist = graft.CacheScope.track(df
      .select(group.cast("string").as("source"), value.cast("long").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("c")))
    val totals = hist.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val qdf = totals
      .select(col("source"), col("n"), explode(array(quantiles.map {
        case (num, den) => struct(lit(num.toLong).as("qnum"),
          lit(den.toLong).as("qden"))
      }: _*)).as("qq"))
      .select(col("source"), col("n"),
        Exact.rRow(col("qq.qnum") / col("qq.qden"), 4).as("q"),
        expr("(qq.qnum * n + qq.qden - 1) div qq.qden").as("rank"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col("source")).orderBy(col("v"))))
    qdf.join(cum, Seq("source"))
      .where(col("cum") >= col("rank"))
      .groupBy(col("source"), col("q"), col("n"), col("rank"))
      .agg(min(col("v")).as("value"))
      .select(col("source"), col("q"), col("n"), col("rank"), col("value"))
  }

  // ------------------------------------------------- character entropy

  /**
   * Per-document Shannon entropy of the normalized character
   * distribution — the classic gibberish/boilerplate signal (random
   * bytes → high entropy, "aaaa…" spam → near zero; natural language
   * sits in a stable band). Complements the word-level Gopher rules
   * (p29) at the sub-token level.
   *
   * Shape: explode to (doc, char) — alphabet ≤ 37 symbols after
   * normalization — one (doc, char) count aggregate with map-side
   * partials, one join-back on the doc id for totals. Each element's
   * p·ln p (a deterministic scalar over exact rationals) e6-quantizes
   * BEFORE the sum; the per-doc total is an exact integer sum and the
   * 4 dp entropy one exact-integer rounding + ONE final IEEE division.
   */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df
      .select(col(idCol),
        explode(split(TextOps.normalized(coalesce(col(textCol), lit(""))),
          "")).as("ch"))
      .where(length(col("ch")) > 0)
      .groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col(idCol))
      .agg(sum(col("c")).as("n_chars"),
        count(lit(1)).as("distinct_chars"))
    // per-element e6 quantization BEFORE the sum (floor(x·10⁶ + 0.5) on
    // a deterministic scalar), INTEGER sum, exact-integer final rounding
    // — round() of a float SUM is order-dependent across partial
    // aggregation (the p54/p79 gate-failure class this convention
    // retired); the ≤ 5e-7·|alphabet| quantization shift is far under
    // the 4 dp display granularity and identical in both engines
    counts.join(totals.hint("merge"), Seq(idCol))
      .withColumn("plogp_e6",
        floor((col("c") / col("n_chars")) * log(col("c") / col("n_chars"))
          * 1000000.0 + 0.5).cast("long"))
      .groupBy(col(idCol))
      .agg(first(col("n_chars")).as("n_chars"),
        first(col("distinct_chars")).as("distinct_chars"),
        sum(col("plogp_e6")).as("_e6"))
      .withColumn("entropy",
        expr("(-_e6 + 50) div 100").cast("double") / 10000)
      .drop("_e6")
  }

  // ------------------------------------------------- n-gram overlap report

  /**
   * Train→test n-gram overlap measurement (the GPT-3 appendix-C style
   * contamination REPORT — [[decontaminate]] is the removal twin): for
   * every test document, the fraction of its distinct word n-grams that
   * occur anywhere in the train slice. High-overlap test docs are the
   * ones whose eval scores are suspect.
   *
   * Shape: one distinct-gram relation per slice, joined on the gram key
   * (co-partitioned, linear) and re-aggregated per test doc — the same
   * two-shuffle discipline as [[noveltyStats]]; nothing is ever
   * all-pairs and the train side collapses to DISTINCT grams before the
   * join.
   */
  def ngramOverlap(corpus: DataFrame, idCol: String, textCol: String,
      isTrain: Column, n: Int): DataFrame = {
    val grams = corpus
      .select(col(idCol), isTrain.as("is_train"),
        explode(TextOps.wordNGrams(col(textCol), n)).as("gram"))
    val trainGrams = grams.where(col("is_train"))
      .select(col("gram")).distinct().withColumn("seen", lit(true))
    grams.where(!col("is_train"))
      .join(trainGrams.hint("merge"), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen"), 1L).otherwise(0L)).as("n_overlap"))
      .withColumn("overlap_frac", Exact.ratioCol("n_overlap", "n_grams", 4))
  }

  // ------------------------------------------------ LM perplexity filter

  /**
   * CCNet-style language-model quality filter (Wenzek et al. 2019,
   * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
   * Data"): train an add-one-smoothed bigram LM on a trusted slice,
   * score every document by perplexity, keep the low-perplexity (i.e.
   * target-language, fluent) ones. P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V).
   *
   * Engine-parity design: per-bigram log-probabilities are rounded to
   * 4 dp and summed as SCALED LONGS (×10⁴), so the document score is an
   * integer — exact under any partial-aggregation order, reproducible
   * by any engine — and only the final exp() back to perplexity is
   * float (rounded 2 dp, the repo convention).
   *
   * Shape: the LM tables are vocabulary-scale hash aggregates over the
   * train slice; scoring is two linear joins of the corpus bigram
   * relation against them on the gram/word keys (co-partitioned, never
   * all-pairs), then one per-doc hash aggregate. V rides a 1-row cross
   * join. At 100 TB the bigram table is the only super-vocabulary
   * relation, and it is |corpus|-linear.
   */
  def lmPerplexity(corpus: DataFrame, train: DataFrame, idCol: String,
      textCol: String, keepBelow: Double = 1500.0): DataFrame = {
    // (w1, gram) pairs from a pre-tokenized `ws` array column
    def bigrams(df: DataFrame, extra: Seq[Column]): DataFrame = df
      .select(extra :+ explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> named_struct('w1', element_at(ws, i),
          |                    'g', concat_ws(' ', element_at(ws, i),
          |                                   element_at(ws, i + 1))))"""
          .stripMargin)).as("b"): _*)
      .select(extra :+ col("b.w1").as("w1") :+ col("b.g").as("g"): _*)
    // conditional gate-scale spread before tokenization (both sides
    // carry idCol, so the spread key is always available)
    def tokenized(df: DataFrame, extra: Seq[Column]): DataFrame =
      Spread.ifNarrow(df, col(idCol))
        .select(extra :+ TextOps.words(col(textCol)).as("ws"): _*)
        .where(size(col("ws")) >= 2)
    // one train scan: the tokenized arrays feed bigram counts, unigram
    // counts, and the vocabulary size
    val tws = graft.CacheScope.track(tokenized(train, Nil))
    val cb = bigrams(tws, Nil).groupBy(col("g")).agg(count(lit(1)).as("cb"))
    // unigram counts and vocabulary over the SAME bigram-eligible docs
    val tw = tws.select(explode(col("ws")).as("w"))
    val c1 = tw.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
    val vocab = tw.agg(countDistinct(col("w")).as("vsz"))
    // bigram/unigram count tables are vocabulary-scale (corpus-bound) —
    // merge-hinted like the other round-15 census hits
    val scored = bigrams(tokenized(corpus, Seq(col(idCol))), Seq(col(idCol)))
      .join(cb.hint("merge"), Seq("g"), "left")
      .join(c1.hint("merge"), Seq("w1"), "left")
      .crossJoin(vocab)
      .withColumn("lp", Exact.eRow(log((coalesce(col("cb"), lit(0L)) + lit(1.0)) /
        (coalesce(col("c1"), lit(0L)) + col("vsz"))), 4))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cb").isNull, 1L).otherwise(0L)).as("oov_bigrams"),
        sum(col("lp")).as("lp_sum"))
    scored
      .withColumn("ppl", Exact.rRow(exp(-col("lp_sum") /
        (lit(10000.0) * col("n_bigrams"))), 2))
      .select(col(idCol), col("n_bigrams"), col("oov_bigrams"), col("ppl"),
        (col("ppl") <= keepBelow).as("keep"))
  }

  /**
   * CCNet-style per-language perplexity bucketing (Wenzek et al. 2019,
   * §4.4): split each language slice into head/middle/tail thirds by LM
   * perplexity — the standard "keep the head, maybe the middle, drop the
   * tail" curation knob. Buckets come from per-language VALUE CUTOFFS
   * (the smallest ppl whose cumulative count reaches ⌈n/3⌉ and ⌈2n/3⌉),
   * not a per-doc rank: tied perplexities land in the same bucket, and —
   * the 100 TB point — no language-wide sort of the corpus ever runs.
   * The cutoff selection is the same order-statistic-over-histogram
   * trick as [[exactQuantiles]]: one (lang, ppl) count aggregation
   * (histogram-scale, ppl is rounded to 2 dp), a histogram-scale window
   * for the cumulative counts, and a broadcast join back. The corpus
   * shuffles only for its per-doc LM scoring.
   */
  def perplexityBuckets(corpus: DataFrame, train: DataFrame, idCol: String,
      textCol: String, langCol: String): DataFrame =
    perplexityBucketsScored(
      graft.CacheScope.track(
        lmPerplexity(corpus, train, idCol, textCol)
          .join(corpus.select(col(idCol), col(langCol)), Seq(idCol))),
      idCol, langCol)

  /** The bucketing half over an already-scored (and ideally persisted)
   * relation carrying `ppl` — the scoring is the expensive stage, and a
   * harness that also runs the p49 filter shares it run-scoped. */
  def perplexityBucketsScored(scored: DataFrame, idCol: String,
      langCol: String): DataFrame = {
    val hist = scored.groupBy(col(langCol), col("ppl"))
      .agg(count(lit(1)).as("hn"))
    val cum = hist
      .withColumn("cum",
        sum(col("hn")).over(Window.partitionBy(col(langCol)).orderBy(col("ppl"))))
      .withColumn("n", sum(col("hn")).over(Window.partitionBy(col(langCol))))
    val cuts = cum.groupBy(col(langCol)).agg(
      min(when(col("cum") >= expr("(n + 2) div 3"), col("ppl"))).as("t1"),
      min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("ppl"))).as("t2"))
    scored.join(broadcast(cuts), Seq(langCol))
      .withColumn("bucket",
        when(col("ppl") <= col("t1"), "head")
          .when(col("ppl") <= col("t2"), "middle")
          .otherwise("tail"))
      .select(col(idCol), col(langCol), col("ppl"), col("t1"), col("t2"),
        col("bucket"))
  }

  /**
   * DSIR — data selection via importance resampling (Xie et al. 2023,
   * arXiv:2302.03169): score every corpus doc by the log likelihood
   * ratio of a TARGET bag-of-hashed-ngrams model over the RAW corpus
   * model, then keep the top-k. Features are unigrams + bigrams hashed
   * into m buckets (§3.2 of the paper); both models are add-one-smoothed
   * bucket frequencies.
   *
   * Determinism: per-bucket log ratios are scaled integers
   * (round(ln·10⁴), the p49 convention) so partial-aggregation order
   * can never move a doc's score, and selection uses a VALUE cutoff (the
   * k-th highest score via the order-statistic-over-histogram trick of
   * [[exactQuantiles]]/[[perplexityBuckets]]) — boundary ties all keep,
   * so the answer is a pure function of the data.
   *
   * Shape at 100 TB: the bucket models are m rows (broadcast); the
   * corpus explodes once to its features and aggregates back to one
   * score row per doc — two linear shuffles, no corpus-wide sort; the
   * cutoff window runs over the score histogram, not the corpus.
   */
  def dsirSelect(corpus: DataFrame, target: DataFrame, idCol: String,
      textCol: String, m: Int = 1024, topK: Int = 100): DataFrame = {
    require(m > 0 && topK > 0, s"need m > 0, topK > 0; got m=$m topK=$topK")
    def feats(df: DataFrame, extra: Seq[Column]): DataFrame = {
      val bigrams = when(size(col("ws")) >= 2, expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"""
          .stripMargin))
        .otherwise(expr("array()").cast("array<string>"))
      // conditional gate-scale spread before the feature explode
      Spread.ifNarrow(df, col(idCol))
        .select(extra :+ TextOps.words(col(textCol)).as("ws"): _*)
        .select(extra :+ explode(concat(col("ws"), bigrams)).as("g"): _*)
        .filter(length(col("g")) > 0)
        .withColumn("b", Sketches.md5Hash32(col("g")) % m)
    }
    val corpusFeats = graft.CacheScope.track(
      feats(corpus, Seq(col(idCol))))
    val rawModel = corpusFeats.groupBy(col("b")).agg(count(lit(1)).as("qn"))
    val rawTotal = rawModel.agg(sum(col("qn")).as("qtot"))
    val targetModel = feats(target, Nil).groupBy(col("b"))
      .agg(count(lit(1)).as("tn"))
    val targetTotal = targetModel.agg(sum(col("tn")).as("ttot"))
    // per-bucket scaled-integer log ratio: the products stay < 2^53 so
    // both engines' double arithmetic is exact up to the final ln
    val li = rawModel
      .join(targetModel, Seq("b"), "left")
      .crossJoin(rawTotal).crossJoin(targetTotal)
      .withColumn("li", Exact.eRow(
        log(((coalesce(col("tn"), lit(0L)) + lit(1.0)) *
          (col("qtot") + lit(m.toDouble))) /
          ((col("qn") + lit(1.0)) * (col("ttot") + lit(m.toDouble)))), 4))
      .select(col("b"), col("li"))
    val scores = corpusFeats.join(broadcast(li), Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("li")).as("score"))
    // k-th-highest-score cutoff = min over the top-K rows by score desc
    // (TakeOrdered: per-partition top-K, K-row merge — no single-
    // partition pass anywhere). Identical to the previous histogram
    // cum-sum form: the top-K score MULTISET is deterministic whatever
    // tie rows the limit picks, and its min IS max{s : |{score ≥ s}| ≥
    // K}. The histogram shape was grouped BY the score value, whose ndv
    // approaches the doc count at scale (e4-quantized log sums rarely
    // collide) — a corpus-scaling global window at 100 TB.
    val cut = scores.orderBy(col("score").desc).limit(topK)
      .agg(min(col("score")).as("cutoff"))
    // a corpus smaller than topK keeps everything (min ≤ every score;
    // the empty corpus yields a NULL cutoff, same as before)
    scores.crossJoin(broadcast(cut))
      .select(col(idCol), col("n_feats"), col("score"),
        (col("cutoff").isNull || col("score") >= col("cutoff"))
          .as("selected"))
  }

  /**
   * Epoch-weighted mixture expansion + deterministic shard plan — the
   * writer stage at the end of a curation pipeline. Mixture weights
   * (GPT-3 §2.2 / Llama-style source upsampling) repeat each source's
   * docs `weight` times; every copy then gets a shard and a
   * pseudo-random within-shard position, ALL pure md5 functions of
   * (doc, copy) — so the training order is reproducible, resumable, and
   * independent of partitioning or engine.
   *
   * Shape at 100 TB: the explode multiplies rows by each source's small
   * integer weight (map-side, no shuffle); shard assignment is a hash
   * projection; the within-shard position window is partitioned by
   * shard — exactly the per-output-file sort a sharded writer performs
   * anyway, corpus/shards rows per partition, never a global sort.
   */
  /**
   * Per-source percentile quality gate (the FineWeb/RefinedWeb recipe:
   * score every document, then keep each source's top (1−q) mass by
   * VALUE cutoff rather than a global threshold — a fixed global bar
   * over-prunes clean-but-different sources and under-prunes noisy
   * ones). Score = the composite [[TextOps.qualityFeatures]] signal,
   * scaled to an exact integer (×10⁴) so the cutoff arithmetic is
   * engine-independent; the per-source cutoff is the q-quantile of the
   * score distribution via [[exactQuantiles]]' order-statistic-over-
   * histogram selection. Boundary docs (score == cutoff) are KEPT.
   *
   * Shape at 100 TB: scoring is a zero-shuffle projection; the cutoff
   * derivation collapses the corpus to a (source, score, count)
   * histogram in one map-side-partial agg; the cutoffs relation is
   * source-count rows and broadcasts back — the corpus is never sorted
   * and never shuffles on anything but the histogram keys.
   */
  def percentileQualityGate(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, qnum: Int, qden: Int): DataFrame = {
    val scored = graft.CacheScope.track(
      TextOps.qualityFeatures(df, col(textCol))
        .where(col("n_words") > 0)
        .select(col(idCol), col(sourceCol).cast("string").as("source"),
          col("quality_e4").as("score")))
    val cuts = exactQuantiles(scored, col("source"), col("score"),
        Seq((qnum, qden)))
      .select(col("source"), col("value").as("cutoff"))
    scored.join(broadcast(cuts), Seq("source"))
      .select(col(idCol), col("source"), col("score"), col("cutoff"),
        (col("score") >= col("cutoff")).as("kept"))
  }

  def mixtureShardPlan(df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Int], shards: Int): DataFrame = {
    require(shards > 0 && weights.values.forall(_ >= 0),
      s"need shards > 0 and non-negative weights")
    val wcol = weights.foldLeft(lit(1): Column) { case (acc, (s, w)) =>
      when(col(sourceCol) === s, lit(w)).otherwise(acc)
    }
    val keyed = df
      .withColumn("epochs", wcol)
      .filter(col("epochs") >= 1)
      .withColumn("copy", explode(sequence(lit(1), col("epochs"))))
      .withColumn("ord_key",
        md5(concat(col(idCol).cast("string"), lit(":"),
          col("copy").cast("string"))))
      .withColumn("shard",
        (Sketches.md5Hash32(concat(col(idCol).cast("string"), lit("#"),
          col("copy").cast("string"))) % shards).cast("int"))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("ord_key"), col(idCol), col("copy"))).cast("long"))
      .select(col(idCol), col(sourceCol), col("epochs"), col("copy"),
        col("shard"), col("pos"), col("ord_key"))
  }

  /**
   * Temperature-scaled mixture weights (the multilingual-LM sampling
   * recipe of mBERT / XLM-R, Conneau & Lample 2019 §3.1: sample group g
   * with probability ∝ p_g^α, α<1, so low-resource groups are upsampled
   * relative to their raw token share). α is fixed at 1/2 because IEEE
   * sqrt is correctly rounded on every engine — the weights are then a
   * pure function of the token counts, with no libm-pow variance.
   *
   * Output per group: raw token mass, raw share (ppm), temperature share
   * (ppm), and the expected token budget allocation under `budgetTokens`.
   *
   * Shape at 100 TB: one map-side-partial hash agg collapses the corpus
   * to group-count rows; everything after (sqrt, normalize) runs on a
   * relation the size of the group count. The corpus is scanned once and
   * never shuffles more than its group key.
   */
  def temperatureMix(df: DataFrame, groupCol: Column, textCol: Column,
      budgetTokens: Long): DataFrame = {
    // per-GROUP sqrt quantized to an exact e6 integer BEFORE the global
    // sum: sum(sqrt(n_tokens)) as a float SUM is order-dependent across
    // partial aggregation (the p54/p79 class) and fed two quantized
    // oracle columns; the integer sum is exact in any order (group count
    // × sqrt(tokens)·1e6 stays far under 2⁶³ at 100 TB — Cauchy-Schwarz
    // bounds Σ√nᵢ by √(G·Σnᵢ) ≈ 5e9 for a million groups over 2.6e13
    // tokens), and every ratio below is one deterministic long/long
    // IEEE division
    val mass = df.groupBy(groupCol.as("grp"))
      .agg(coalesce(sum(TextOps.tokenCount(textCol)), lit(0L)).as("n_tokens"))
      .withColumn("sq_e6", Exact.eRow(sqrt(col("n_tokens")), 6))
    val tot = mass.agg(sum(col("n_tokens")).as("tot"),
      sum(col("sq_e6")).as("stot_e6"))
    mass.crossJoin(broadcast(tot))
      .select(col("grp"), col("n_tokens"),
        Exact.eRow(col("n_tokens") / col("tot"), 6).as("share_ppm"),
        Exact.eRow(col("sq_e6") / col("stot_e6"), 6)
          .as("temp_share_ppm"),
        Exact.eRow(col("sq_e6") / col("stot_e6") * budgetTokens, 0)
          .as("budget_tokens"))
  }

  /**
   * Per-stratum vocabulary statistics — the Heaps'-law / type-token
   * profile (types, hapax mass, TTR) a corpus report card carries per
   * source: a collapsing TTR or hapax share flags template spam and
   * boilerplate the per-doc filters (p21/p29) can miss, because it is a
   * CROSS-document signal.
   *
   * Shape at 100 TB: one explode to (stratum, word) then two hash aggs
   * with map-side partials — the corpus shuffles only its distinct
   * (stratum, word) mass, the same discipline as [[tfidfKeywords]]'s df
   * side. No sorts, no self-joins.
   */
  def vocabStats(df: DataFrame, stratumCol: Column, textCol: Column)
      : DataFrame = {
    val words = df
      .select(stratumCol.as("stratum"), explode(TextOps.words(textCol)).as("w"))
      .filter(length(col("w")) > 0)
    val perWord = words.groupBy(col("stratum"), col("w"))
      .agg(count(lit(1)).as("c"))
    perWord.groupBy(col("stratum"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("stratum"), col("n_tokens"), col("n_types"), col("n_hapax"),
        Exact.rRow(col("n_types") / col("n_tokens").cast("double"), 4)
          .as("ttr"),
        Exact.rRow(col("n_hapax") / col("n_types").cast("double"), 4)
          .as("hapax_frac"),
        // Heaps' exponent beta from V = n^beta (single-point fit):
        // ln on exact integers, deterministic to 4 dp
        Exact.rRow(log(col("n_types")) / log(col("n_tokens")), 4)
          .as("heaps_beta"))
  }

  /**
   * Fuzzy benchmark decontamination by exact n-gram Jaccard (the
   * Llama-2 §A.6 / GPT-4-style "dirty if similarity ≥ τ" policy —
   * stricter than [[decontaminate]]'s any-overlap flag, which both
   * over-fires on one shared common phrase and says nothing about HOW
   * contaminated a doc is). For every (corpus doc, benchmark doc) pair
   * sharing at least one `n`-gram, the EXACT Jaccard of their distinct
   * gram sets is computed; a corpus doc is dirty when any benchmark
   * pairing reaches `tau`.
   *
   * Exact, not MinHash: the benchmark side is tiny (eval sets are
   * thousands of docs), so candidate generation by inverted gram join
   * against a broadcast benchmark index is linear in the corpus's gram
   * mass, and the exact Jaccard needs only the shared-gram count plus
   * the two set sizes — no approximation to tune, nothing the oracle
   * can't replay.
   *
   * Shape at 100 TB: corpus grams explode once (map-side); the join
   * against the benchmark gram index is a broadcast hash join (benchmark
   * gram set ≪ executor memory); the per-pair shared-gram count is one
   * hash agg keyed by (doc, bench) candidate pairs — bounded by
   * benchmark gram mass × corpus hit rate, not |corpus|×|bench|.
   */
  def jaccardDecontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int, tau: Double): DataFrame = {
    require(n > 0 && tau > 0 && tau <= 1, s"need n > 0, 0 < tau <= 1")
    // wordNGrams is already the DISTINCT gram set per doc — exploding it
    // gives unique (doc, gram) rows with no dedup shuffle needed
    def grams(df: DataFrame, as: String): DataFrame = df
      .select(col(idCol).as(as),
        explode(TextOps.wordNGrams(col(textCol), n)).as("g"))
    val cg = graft.CacheScope.track(grams(corpus, "doc_id_c"))
    val bg = graft.CacheScope.track(grams(bench, "bench_id"))
    val csize = cg.groupBy(col("doc_id_c")).agg(count(lit(1)).as("ca"))
    val bsize = bg.groupBy(col("bench_id")).agg(count(lit(1)).as("cb"))
    val shared = cg.join(broadcast(bg), Seq("g"))
      .filter(col("doc_id_c") =!= col("bench_id"))
      .groupBy(col("doc_id_c"), col("bench_id"))
      .agg(count(lit(1)).as("inter"))
    shared
      .join(csize, Seq("doc_id_c"))
      .join(broadcast(bsize), Seq("bench_id"))
      .withColumn("jac", Exact.rRow(
        col("inter") / (col("ca") + col("cb") - col("inter")).cast("double"),
        4))
      .filter(col("jac") >= tau)
      .groupBy(col("doc_id_c"))
      .agg(max(col("jac")).as("max_jaccard"),
        count(lit(1)).as("n_bench_hits"))
      .withColumnRenamed("doc_id_c", idCol)
  }

  /**
   * Dedup impact report — the before/after accounting a curation run
   * logs per source after exact (normalized-fingerprint) dedup: doc and
   * token counts, kept counts, and the kept-token fraction in exact ppm
   * (integer division — no float ratio to drift). The representative is
   * the GLOBAL minimum doc id per fingerprint, so a cross-source
   * duplicate charges every source except the representative's — the
   * number that tells you which upstream feed is re-crawling another's
   * pages.
   * Shape at scale: one fingerprint hash-agg (map-side partials), one
   * fp-co-keyed join back, one source-key roll-up.
   */
  def dedupImpact(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val fp = df.select(col(sourceCol).as("source"), col(idCol).as("id"),
      TextOps.fingerprint(col(textCol)).as("fp"),
      TextOps.tokenCount(coalesce(col(textCol), lit("")))
        .cast("long").as("n_tok"))
    val reps = fp.groupBy(col("fp")).agg(min(col("id")).as("rep"))
    fp.join(reps.hint("merge"), Seq("fp"))
      .withColumn("kept", col("id") === col("rep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("docs_kept"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("tokens_kept"))
      .withColumn("kept_ppm",
        expr("tokens_kept * 1000000 div tokens_total"))
  }

  /**
   * T5-style deterministic span-corruption plan (Raffel et al. 2020
   * §3.1.4): span STARTS are drawn per position by hash
   * (startPerMil/1000 probability), each start covers a hashed length of
   * 1..maxSpan tokens (clamped to the document end), and overlapping or
   * adjacent draws merge into one maximal masked run — each run becomes
   * one sentinel span, numbered in document order, exactly the greedy
   * span merge of the reference implementation. Defaults (5% starts,
   * mean length 3) corrupt ≈15% of positions, the T5 recipe. Every
   * decision is an md5 hash of (doc, pos) — bit-reproducible on any
   * engine, no RNG state; the span digest is the md5 of the masked words
   * in position order, so a rebuild can be verified without shipping
   * the text.
   *
   * Shape at scale: posexplode + hash projections for the draws; the
   * covered-position explode is bounded by maxSpan× the start rows
   * (≈5% of tokens); the islands pass is one per-doc window over MASKED
   * positions only. The only shuffle key is the doc id.
   */
  def spanCorruptionPlan(df: DataFrame, idCol: String, textCol: String,
      startPerMil: Int = 50, maxSpan: Int = 5): DataFrame = {
    require(startPerMil > 0 && startPerMil <= 1000, s"bad startPerMil $startPerMil")
    require(maxSpan > 0, s"bad maxSpan $maxSpan")
    def h(pos: Column, salt: String): Column = Sketches.md5Hash32(
      concat(col(idCol).cast("string"), lit(":"), pos.cast("string"),
        lit(":" + salt)))
    // conditional gate-scale spread before the word posexplode (posRel
    // is cached and fans out to the draw + islands + digest passes)
    val posRel = graft.CacheScope.track(Spread.ifNarrow(
        df.filter(TextOps.normalized(col(textCol)) =!= "")
          .select(col(idCol), TextOps.words(col(textCol)).as("ws")),
        col(idCol))
      .select(col(idCol), size(col("ws")).cast("long").as("n_words"),
        posexplode(col("ws")).as(Seq("p0", "word")))
      .withColumn("pos", (col("p0") + 1).cast("long"))
      .select(col(idCol), col("n_words"), col("pos"), col("word")))
    val covered = posRel
      .filter(h(col("pos"), "s") % 1000 < startPerMil)
      .withColumn("span_len", h(col("pos"), "l") % maxSpan + 1L)
      .select(col(idCol), explode(sequence(col("pos"),
        least(col("pos") + col("span_len") - 1, col("n_words")))).as("pos"))
      .distinct()
    // gaps-and-islands: consecutive masked positions share (pos - rank)
    val isl = covered.withColumn("grp", col("pos") -
      row_number().over(Window.partitionBy(col(idCol)).orderBy(col("pos"))))
    val spans = isl
      .join(posRel.select(col(idCol), col("pos"), col("word"))
        .hint("merge"), Seq(idCol, "pos"))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("start_pos"), max(col("pos")).as("end_pos"),
        count(lit(1)).as("n_tokens"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")))).as("span_md5"))
    spans
      .withColumn("sentinel", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("start_pos")))
        .cast("long") - 1)
      .select(col(idCol), col("sentinel"), col("start_pos"),
        col("end_pos"), col("n_tokens"), col("span_md5"))
  }

  /**
   * Deterministic BERT-style MLM masking plan (Devlin et al. 2018 §3.1:
   * select 15% of positions; of those 80% → [MASK], 10% → a random
   * token, 10% → keep). Every "random" draw is an md5 hash of
   * (doc, position), so the plan is a pure function of the data —
   * reproducible across runs, engines, and partitionings, and the
   * random-replacement token is drawn from the doc's own token list by
   * hashed index (no global vocab broadcast needed for the plan).
   *
   * Returns one row per MASKED position: (id, pos, word, action,
   * replacement). pos is 1-based.
   *
   * Shape at 100 TB: posexplode + hash projections — zero shuffle, no
   * state; exactly the map-side pass a tokenizer-side masker runs.
   */
  def mlmMaskPlan(df: DataFrame, idCol: String, textCol: String,
      maskPct: Int = 15): DataFrame = {
    require(maskPct > 0 && maskPct <= 100, s"bad maskPct $maskPct")
    val ws = TextOps.words(col(textCol))
    df.select(col(idCol), ws.as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col(idCol), col("ws"),
        posexplode(col("ws")).as(Seq("p0", "word")))
      .withColumn("pos", (col("p0") + 1).cast("long"))
      .filter(length(col("word")) > 0)
      .filter(Sketches.md5Hash32(
        concat(col(idCol).cast("string"), lit(":"),
          col("pos").cast("string"))) % 100 < maskPct)
      .withColumn("act", Sketches.md5Hash32(
        concat(col(idCol).cast("string"), lit(":"),
          col("pos").cast("string"), lit(":a"))) % 10)
      .withColumn("action",
        when(col("act") <= 7, "mask")
          .when(col("act") === 8, "random")
          .otherwise("keep"))
      .withColumn("replacement",
        when(col("action") === "mask", lit("[MASK]"))
          .when(col("action") === "keep", col("word"))
          .otherwise(element_at(col("ws"),
            (Sketches.md5Hash32(concat(col(idCol).cast("string"), lit(":"),
              col("pos").cast("string"), lit(":r")))
              % size(col("ws"))).cast("int") + 1)))
      .select(col(idCol), col("pos"), col("word"), col("action"),
        col("replacement"))
  }

  // ---------------------------------------------- length-bucketed batching

  /**
   * Length-bucketed batching plan — the dynamic-batching prep step that
   * minimizes padding waste when fixed-size batches are padded to their
   * longest member: route each document into a token-length quantile
   * bucket, sort within the bucket, cut batches of `batchSize`, and
   * report the padding bill per bucket (padded = Σ batch_max·batch_size
   * vs real = Σ tokens). The same plan UNbucketed is the worst case —
   * the per-bucket waste_ppm quantifies what bucketing saves.
   *
   * Determinism: bucket cutoffs are the exact ceil-rank order statistics
   * of [[exactQuantiles]] (pure integer arithmetic over the length
   * histogram); a doc equal to a cutoff lands in the LOWER bucket; the
   * in-bucket order is (tokens, doc id) so batch membership is total.
   * waste_ppm is integer math end to end.
   *
   * Shape at 100 TB: scoring is zero-shuffle; the cutoff derivation is
   * histogram-scale (distinct lengths, not rows) and broadcasts back;
   * the only corpus exchange is the per-bucket partition for the rank
   * window — exactly the sort a sharded sequence-writer pays anyway
   * (the p62 argument), with |buckets| ≫ 1 keeping partitions balanced.
   */
  def lengthBucketedBatchPlan(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int, batchSize: Int): DataFrame = {
    require(nBuckets >= 2 && batchSize >= 1)
    val toks = df.select(col(idCol).as("did"),
      TextOps.tokenCount(col(textCol)).cast("long").as("tokens"))
    val cuts = exactQuantiles(toks, lit("all"), col("tokens"),
        (1 until nBuckets).map(i => (i, nBuckets)))
      .select(col("value").as("cut"))
    // bucket = number of cutoffs strictly below the doc's token count
    val bucketed = toks.crossJoin(broadcast(cuts))
      .groupBy(col("did"), col("tokens"))
      .agg(sum(when(col("tokens") > col("cut"), 1L).otherwise(0L))
        .as("bucket"))
    val rank = row_number().over(Window.partitionBy(col("bucket"))
      .orderBy(col("tokens"), col("did")))
    val batches = bucketed
      .withColumn("rk", rank)
      // integer div — Column./ would be double division
      .withColumn("batch", expr(s"(rk - 1) div $batchSize"))
      .groupBy(col("bucket"), col("batch"))
      .agg(count(lit(1)).as("bn"), max(col("tokens")).as("mx"),
        sum(col("tokens")).as("real"))
    batches.groupBy(col("bucket"))
      .agg(sum(col("bn")).as("n_docs"), count(lit(1)).as("n_batches"),
        sum(col("real")).as("real_tokens"),
        sum(col("mx") * col("bn")).as("padded_tokens"))
      .withColumn("waste_ppm",
        expr("(padded_tokens - real_tokens) * 1000000 div padded_tokens"))
      .select(col("bucket").cast("int").as("bucket"), col("n_docs"),
        col("n_batches"), col("real_tokens"), col("padded_tokens"),
        col("waste_ppm"))
  }

  /**
   * Z-order (Morton-curve) layout plan for a two-dimension scan-pruning
   * clustering of the corpus — the data-layout move that makes BOTH
   * `WHERE n_chars BETWEEN …` and `WHERE n_tokens BETWEEN …` scans
   * prune files at 100 TB, where a single-column sort only serves one
   * predicate. Each doc gets a 4-bit value bucket per dimension
   * (fixed-width, clamped to 15), the buckets bit-interleave into an
   * 8-bit Morton key, and files are the 16 equal key ranges (zkey div
   * 16 — a pure projection: no global sort and no sampling pass; a
   * production writer would repartitionByRange on the same key). The
   * report prices the layout: per file, doc count and the min/max ZONE
   * MAP each dimension would carry, whose spans show every file
   * covering only a narrow slab of both dimensions at once.
   *
   * Shape at 100 TB: the key is a zero-shuffle codegen'd projection;
   * the report is a 256-value-scale aggregation with map-side partials.
   * The write itself would be the one range exchange any sorted layout
   * pays.
   */
  def zorderLayout(df: DataFrame, idCol: String, textCol: String,
      charsCol: String, charsPerBucket: Int = 40,
      toksPerBucket: Int = 20): DataFrame = {
    val dims = df.select(col(idCol),
      col(charsCol).cast("long").as("nc"),
      size(filter(TextOps.words(col(textCol)), w => length(w) > 0))
        .cast("long").as("nt"))
      .withColumn("bx",
        least(lit(15L), greatest(lit(0L), expr(s"nc div $charsPerBucket"))))
      .withColumn("by",
        least(lit(15L), greatest(lit(0L), expr(s"nt div $toksPerBucket"))))
    val interleave = (0 until 4).map(i =>
      s"(((bx >> $i) & 1) << ${2 * i + 1}) + (((by >> $i) & 1) << ${2 * i})")
      .mkString(" + ")
    dims.withColumn("zkey", expr(interleave))
      .withColumn("file_id", expr("zkey div 16"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("zkey")).as("n_zkeys"),
        min(col("nc")).as("chars_min"), max(col("nc")).as("chars_max"),
        min(col("nt")).as("toks_min"), max(col("nt")).as("toks_max"))
      .withColumn("chars_span", col("chars_max") - col("chars_min"))
      .withColumn("toks_span", col("toks_max") - col("toks_min"))
      .orderBy(col("file_id"))
  }

  /**
   * Multinomial Naive Bayes text classifier (add-one smoothing, the
   * McCallum & Nigam 1998 event model), trained and applied in one plan
   * — the classic lightweight language-/domain-ID pass a curation
   * pipeline runs when the lexicon heuristic ([[TextOps]] language ID)
   * needs a trained replacement. Per-token log-likelihoods are rounded
   * to ×10⁴ integers BEFORE the per-(doc, label) sum (the p49
   * convention), so partial-aggregation order can never move a score,
   * and the absent-word case is algebra, not a materialized grid:
   * score(d, l) = prior(l) + n_tokens(d)·lp₀(l) + Σ_present (lp(w,l) −
   * lp₀(l)) where lp₀ is the unseen-word log-likelihood — only combos
   * with a positive count ever exist as rows. Prediction ties break to
   * the lexicographically smaller label.
   *
   * Shape at 100 TB: training is one token explode feeding two hash
   * aggs (label totals, (label, word) counts — vocab-scale output with
   * map-side partials); scoring joins the exploded corpus against the
   * vocab-scale model on the word key (broadcast when it fits, shuffle
   * join co-keyed on the word otherwise) and re-aggregates on the doc
   * key; the label dimension (|labels| rows) broadcasts. The corpus is
   * never shuffled wide, and nothing is driver-side.
   */
  /** The per-(doc, label) integer NB score relation behind
   * [[naiveBayesClassify]] and [[nbMarginCalibrationFrom]] — public so the
   * query layer can memoize ONE scoring pass run-scoped for both
   * consumers (the p15/p18 shared-derivation pattern). */
  def nbScores(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = {
    // ONE normalization pass over the corpus: every later relation —
    // label totals, vocabulary, model counts, per-doc token counts —
    // reads the persisted token stream, never the raw text again
    val toks = graft.CacheScope.track(
      df.select(col(idCol).as("did"), col(labelCol).as("actual"),
        explode(filter(TextOps.words(col(textCol)), w => length(w) > 0))
          .as("w")))
    val docsDim = df.select(col(idCol).as("did"), col(labelCol).as("actual"))
    val nDocs = docsDim.groupBy(col("actual").as("lab"))
      .agg(count(lit(1)).as("n_docs"))
    val nTotal = docsDim.agg(count(lit(1)).as("n_total"))
    val tots = toks.groupBy(col("actual").as("lab"))
      .agg(count(lit(1)).as("tot"))
    val vocab = toks.agg(countDistinct(col("w")).as("vsz"))
    // |labels|-row dimension: doc prior + unseen-word log-likelihood
    val lab = nDocs.join(tots, Seq("lab"))
      .crossJoin(nTotal).crossJoin(vocab)
      .select(col("lab"), col("tot"),
        Exact.eRow(log(col("n_docs").cast("double") / col("n_total")), 4)
          .as("prior_lp"),
        Exact.eRow(log(lit(1.0) / (col("tot") + col("vsz"))), 4)
          .as("slp0"))
    // present (label, word) combos only, as deltas vs the unseen case
    val model = toks.groupBy(col("actual").as("lab"), col("w"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(lab.select(col("lab"), col("tot"), col("slp0"))),
        Seq("lab"))
      .crossJoin(vocab)
      .select(col("lab"), col("w"),
        (Exact.eRow(log((col("c") + lit(1.0)) / (col("tot") + col("vsz"))),
          4) - col("slp0")).as("dlp"))
    val deltas = toks.join(model, Seq("w"))
      .groupBy(col("did"), col("lab"))
      .agg(sum(col("dlp")).as("d"))
    // token counts from the cached token stream (empty docs fill 0 via
    // the left join), not a second normalization pass over the text
    val nTok = toks.groupBy(col("did")).agg(count(lit(1)).as("n_tok"))
    docsDim
      .join(nTok, Seq("did"), "left")
      .withColumn("n_tok", coalesce(col("n_tok"), lit(0L)))
      .crossJoin(broadcast(lab.select(col("lab"), col("prior_lp"),
        col("slp0"))))
      .join(deltas, Seq("did", "lab"), "left")
      .select(col("did"), col("actual"), col("lab"),
        (col("prior_lp") + col("n_tok") * col("slp0") +
          coalesce(col("d"), lit(0L))).as("score"))
  }

  def naiveBayesClassify(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame =
    naiveBayesClassifyFrom(nbScores(df, idCol, textCol, labelCol),
      idCol, labelCol)

  /** [[naiveBayesClassify]] over a pre-built (possibly shared) score
   * relation. */
  def naiveBayesClassifyFrom(scored: DataFrame, idCol: String,
      labelCol: String): DataFrame = {
    val rn = row_number().over(Window.partitionBy(col("did"))
      .orderBy(col("score").desc, col("lab")))
    scored
      .withColumn("rn", rn).where(col("rn") === 1)
      .select(col("did").as(idCol), col("actual").as(labelCol),
        col("lab").as("pred_label"), col("score"),
        (col("lab") === col("actual")).as("correct"))
  }

  /**
   * Margin-calibration audit over the NB classifier: confidence proxy =
   * the INTEGER score margin between the best and second-best label
   * (×10⁴ log units — no exp/softmax, whose libm rounding differs
   * between engines), bucketed at `bucketWidth` with a cap at
   * `maxBucket`; per bucket, document count and empirical accuracy in
   * exact PPM. A well-behaved classifier shows accuracy rising with
   * margin — the audit a margin-gated curation stage needs before its
   * confidence threshold gates data. Single-label corpora have no
   * second-best score; those docs are excluded (both engines inner-join
   * rank 2).
   *
   * Shape at 100 TB: one doc-key window pass over the scored relation
   * (rank ≤ 2 kept), one per-doc pivot agg, one ≤(maxBucket+1)-row
   * census — nothing after scoring exceeds bucket scale.
   */
  def nbMarginCalibrationFrom(scored: DataFrame, bucketWidth: Long,
      maxBucket: Long): DataFrame = {
    val rn = row_number().over(Window.partitionBy(col("did"))
      .orderBy(col("score").desc, col("lab")))
    val top2 = scored
      .withColumn("rn", rn).where(col("rn") <= 2)
      .groupBy(col("did"))
      .agg(max(when(col("rn") === 1,
          struct(col("score"), col("lab"), col("actual")))).as("b"),
        max(when(col("rn") === 2, col("score"))).as("s2"))
      .filter(col("s2").isNotNull)
      .select(col("did"),
        (col("b.lab") === col("b.actual")).as("ok"),
        (col("b.score") - col("s2")).as("margin"))
      // exact integer div (margin ≥ 0 by the rank order), capped
      .withColumn("margin_bucket",
        expr(s"least(margin div $bucketWidth, $maxBucket)"))
    top2.groupBy(col("margin_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy_ppm", expr("(n_correct * 1000000) div n_docs"))
      .orderBy(col("margin_bucket"))
  }

  // ------------------------------------------- mixture diversity report

  /**
   * Source-mixture diversity report: per-source document and token mass
   * with exact-integer PPM shares, plus each source's Shannon-entropy
   * contribution −p·ln p over the token distribution (the number whose
   * sum says how concentrated the training mix is — a mix collapsing
   * onto one crawl shows up here before it shows up in eval loss).
   * Shares are integer divisions of exact counts; the entropy
   * contribution is the library's one sanctioned libm use, rounded to
   * 4 dp per the charEntropy precedent.
   *
   * Shape at 100 TB: one map-side-partial hash aggregate to source
   * grain; the totals are a 1-row cross join; everything after the scan
   * is |sources|-scale.
   */
  def sourceDiversity(docs: DataFrame, sourceCol: String,
      textCol: String): DataFrame =
    diversityFromCounts(sourceCounts(docs, sourceCol, textCol), sourceCol)

  /** The streamable half of [[sourceDiversity]]: per-source doc/token
   * mass as ONE hash aggregate (count and sum merge by addition, so a
   * Complete-mode stream lands on the identical relation — the counts
   * ARE the state, the p43–p56 sketch discipline). */
  def sourceCounts(docs: DataFrame, sourceCol: String,
      textCol: String): DataFrame =
    docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(coalesce(col(textCol), lit(""))).cast("long"))
          .as("n_tokens"))

  /** The report half: PPM shares + entropy contributions from the
   * |sources|-row counts relation — output-scale arithmetic only. */
  def diversityFromCounts(counts: DataFrame, sourceCol: String): DataFrame = {
    val totals = counts.agg(sum(col("n_docs")).as("t_docs"),
      sum(col("n_tokens")).as("t_tokens"))
    counts.crossJoin(broadcast(totals))
      .withColumn("doc_ppm", expr("(n_docs * 1000000) div t_docs"))
      .withColumn("token_ppm", expr("(n_tokens * 1000000) div t_tokens"))
      .withColumn("p", col("n_tokens").cast("double") / col("t_tokens"))
      .withColumn("entropy_contrib", Exact.rRow(-col("p") * log(col("p")), 4))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        col("doc_ppm"), col("token_ppm"), col("entropy_contrib"))
  }

  // ---------------------------------------- cross-source n-gram overlap

  /**
   * Cross-source content-overlap matrix: for every source pair, the
   * number of distinct word n-grams they share, plus both asymmetric
   * containment ratios (shared/|A|, shared/|B|) in integer PPM — the
   * "which crawls are re-crawling each other" report that decides
   * whether two sources should be deduplicated jointly or are genuinely
   * disjoint (the p78 impact report's pairwise refinement).
   *
   * Shape at 100 TB: the corpus reduces to the distinct (gram, source)
   * relation — one hash aggregate on the gram key; the pair expansion is
   * a self-join co-partitioned on that key whose per-gram work is
   * bounded by |sources|² (dozens, not corpus-scale); the matrix itself
   * is |sources|²-row. No document ever pairs with another document.
   */
  def sourceGramOverlap(docs: DataFrame, sourceCol: String,
      textCol: String, n: Int): DataFrame = {
    val grams = docs
      .select(col(sourceCol).as("src"),
        explode(TextOps.wordNGrams(col(textCol), n)).as("gram"))
      .select(col("gram"), col("src")).distinct()
    val sizes = grams.groupBy(col("src")).agg(count(lit(1)).as("sz"))
    grams.as("a").join(grams.hint("merge").as("b"),
        col("a.gram") === col("b.gram") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(sizes.select(col("src").as("source_a"),
        col("sz").as("grams_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("src").as("source_b"),
        col("sz").as("grams_b"))), Seq("source_b"))
      .withColumn("contain_a_ppm",
        expr("(shared_grams * 1000000) div grams_a"))
      .withColumn("contain_b_ppm",
        expr("(shared_grams * 1000000) div grams_b"))
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        col("grams_a"), col("grams_b"),
        col("contain_a_ppm"), col("contain_b_ppm"))
  }

  /**
   * Association rules over doc-level word co-occurrence — the
   * market-basket shape (Agrawal et al. 1993) with words as items and
   * documents as baskets: frequent items (doc support · supDivisor ≥ N),
   * frequent pairs (support · pairDivisor ≥ N), confidence in both
   * directions and lift, all in exact integer PPM, top-k by (lift,
   * pair). PMI (p110) scores ADJACENT tokens; this scores co-presence
   * anywhere in the document — the topical-association signal.
   *
   * Shape at 100 TB: the apriori prune is the scale story — the per-doc
   * self-join runs over FREQUENT items only (support ≥ N/supDivisor
   * caps the item count at supDivisor/1 per basket on average), so pair
   * fan-out is bounded by the frequent-item count, never the
   * vocabulary. One distinct (doc, word) relation, one vocab-scale
   * support agg, one doc-key pair join, one pair-scale agg; N rides a
   * 1-row broadcast.
   */
  /**
   * Negative-sampling table construction (the word2vec shape — Mikolov
   * et al. 2013 §2.2): every vocabulary word gets a contiguous integer
   * range proportional to its (capped) corpus frequency, and drawing a
   * uniform integer in [0, total) samples a word by range lookup. The
   * cap is the integer-exact stand-in for the f^0.75 smoothing (both
   * damp head words; the power variant needs float weights — the
   * rounded-pow convention of [[weightedSample]] would apply).
   * `nProbes` deterministic md5-derived draws are resolved against the
   * table so the LOOKUP mechanics are oracle-checked, not just the
   * ranges.
   *
   * Shape at 100 TB: one token hash agg; the vocabulary-wide prefix sum
   * runs TWO-LEVEL — first-character codepoint buckets (clamped to
   * [0, 255]; UTF-8 byte order equals codepoint order, so buckets are
   * contiguous prefixes of the w-order and per-bucket sums compose),
   * a ≤256-row bucket-offset cumsum, then per-BUCKET windows — so the
   * vocabulary (which grows with the corpus, Heaps' law) never crosses
   * a single partition; only the 256-row bucket table does. Head-letter
   * skew caps per-task work at the largest letter's vocab share; a
   * two-character key (65536 buckets) is the next rung if that binds.
   * Probe resolution joins a k-bounded probe side against the range
   * table. Training-time sampling uses the same table via per-partition
   * binary search — the table IS the artifact.
   */
  def samplingTable(df: DataFrame, textCol: String, cap: Long,
      nProbes: Int): DataFrame = {
    val counts = df
      .select(explode(filter(TextOps.words(col(textCol)),
        w => length(w) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("wt", least(col("c"), lit(cap)))
    // `bucketed` feeds BOTH the offsets aggregate and the main range
    // path as the SAME subtree (one DataFrame, one set of exprIds), so
    // the corpus token explode's shuffle is exchange-reused rather than
    // recomputed — measured A/B: caching it here changes nothing.
    // Bucket contiguity preconditions (spec-pinned: CorpusSpec
    // "sampling buckets: ascii-by-construction words, codepoint order"):
    // (1) every `w` here is TextOps.words output, i.e. matches
    // [a-z0-9]+ — first codepoint ALWAYS single-byte ASCII, so
    // ascii(first char) = codePointAt(0) needs no multibyte/invalid-
    // UTF-8 story (a malformed byte would decode to U+FFFD and break
    // the byte-order=bucket-order argument — it cannot reach here);
    // (2) on this Spark (4.1.2) ascii() returns the first CODEPOINT
    // for the BMP, which for ASCII equals the UTF-8 lead byte, so
    // binary w-order groups buckets contiguously and per-bucket sums
    // compose into exact prefix sums. Widening the word source past
    // ASCII means revisiting the bucket key (first codepoint clamped,
    // or a byte-slice key), and the spec fails by name if that drifts.
    val bucketed = counts.withColumn("bk",
      least(greatest(ascii(substring(col("w"), 1, 1)), lit(0)), lit(255)))
    val offsets = bucketed.groupBy(col("bk")).agg(sum(col("wt")).as("bt"))
      .withColumn("offset",
        sum(col("bt")).over(Window.orderBy(col("bk"))) - col("bt"))
      .select(col("bk"), col("offset"))
    val ranged = graft.CacheScope.track(bucketed
      .join(broadcast(offsets), Seq("bk"))
      .withColumn("end_range", col("offset") + sum(col("wt")).over(
        Window.partitionBy(col("bk")).orderBy(col("w"))))
      .withColumn("start_range", col("end_range") - col("wt"))
      .drop("bk", "offset"))
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

  /**
   * Robust outlier audit by Median Absolute Deviation: per stratum, the
   * exact (lower) median of the value, the exact median of absolute
   * deviations from it, and the count of values deviating more than
   * k·MAD — the robust-dispersion screen a mean/σ rule can't give on
   * heavy-tailed corpus lengths (one 10⁶-token document drags a σ rule,
   * not a MAD rule). All integer arithmetic; both medians ride
   * [[exactQuantiles]]'s histogram order-statistic path, so there is no
   * stratum-wide sort anywhere. When MAD = 0 (a majority-constant
   * stratum) every deviating value flags — the honest MAD semantics.
   *
   * Shape at 100 TB: two histogram-scale median selections plus two
   * co-partitioned stratum-key joins; the histogram is distinct-values
   * sized, not row sized.
   */
  def madOutliers(df: DataFrame, sourceCol: String, value: Column,
      k: Long): DataFrame = {
    val base = graft.CacheScope.track(df
      .select(col(sourceCol).cast("string").as("source"),
        value.cast("long").as("tc")))
    val med = exactQuantiles(base, col("source"), col("tc"), Seq((1, 2)))
      .select(col("source"), col("value").as("med"))
    val dev = graft.CacheScope.track(base.join(med, Seq("source"))
      .withColumn("absdev", abs(col("tc") - col("med"))))
    val mad = exactQuantiles(dev, col("source"), col("absdev"), Seq((1, 2)))
      .select(col("source"), col("value").as("mad"))
    dev.join(mad, Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        first(col("med")).as("median_v"), first(col("mad")).as("mad_v"),
        sum(when(col("absdev") > col("mad") * k, 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_ppm", expr("(n_outliers * 1000000) div n_docs"))
      .orderBy(col("source"))
  }

  def associationRules(df: DataFrame, idCol: String, textCol: String,
      supDivisor: Long, pairDivisor: Long, k: Int): DataFrame = {
    val dw = graft.CacheScope.track(df
      .select(col(idCol).as("doc"),
        explode(filter(TextOps.words(col(textCol)), w => length(w) > 0)).as("w"))
      .distinct())
    val nDocs = df.agg(countDistinct(col(idCol)).as("n"))
    // the frequent-item dimension fans out three ways (prune join +
    // both support lookups): persist it, it's vocabulary-scale
    val items = graft.CacheScope.track(
      dw.groupBy(col("w")).agg(count(lit(1)).as("sup"))
        .crossJoin(broadcast(nDocs))
        .filter(col("sup") * supDivisor >= col("n"))
        .select(col("w"), col("sup"), col("n")))
    val fdw = dw.join(broadcast(items.select(col("w"))), Seq("w"))
    val pairs = fdw.as("a").join(fdw.as("b"),
        col("a.doc") === col("b.doc") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("word_a"), col("b.w").as("word_b"))
      .agg(count(lit(1)).as("sup_ab"))
    pairs
      .join(broadcast(items.select(col("w").as("word_a"),
        col("sup").as("sup_a"), col("n"))), Seq("word_a"))
      .join(broadcast(items.select(col("w").as("word_b"),
        col("sup").as("sup_b"))), Seq("word_b"))
      .filter(col("sup_ab") * pairDivisor >= col("n"))
      .select(col("word_a"), col("word_b"), col("sup_ab"),
        col("sup_a"), col("sup_b"),
        expr("(sup_ab * 1000000) div sup_a").as("conf_ab_ppm"),
        expr("(sup_ab * 1000000) div sup_b").as("conf_ba_ppm"),
        expr("(sup_ab * n * 1000000) div (sup_a * sup_b)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("word_a"), col("word_b"))
      .limit(k)
  }

  /**
   * PMI collocation extraction (Church & Hanks 1990): pointwise mutual
   * information of adjacent word pairs,
   * PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) from the bigram
   * token counts (total N_b) and p(x) from the unigram token counts
   * (total N_w), a count floor against low-frequency noise, and the
   * global top-k by (PMI, pair) — the classic multi-word-expression
   * miner for tokenizer vocabulary planning.
   *
   * Determinism: the quotient is formed as EXACT DECIMAL(38,0) integer
   * products (c_xy·N_w·N_w and N_b·c_x·c_y — no silent long wrap at any
   * corpus size; DuckDB's HUGEINT products match) before ONE double
   * division of the two rounded-to-nearest doubles; PMI is rounded 4 dp
   * (the charEntropy/zipfFit ln convention). Ties at the top-k boundary
   * break on the words.
   *
   * Shape at 100 TB: two token-level hash aggs (unigrams, bigrams —
   * both vocabulary-scale with map-side partials), 1-row totals
   * broadcast, two vocab-key joins of the bigram relation to the
   * unigram counts, and a k-bounded TakeOrdered. No corpus-wide sort,
   * no window.
   */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame = {
    val ws = graft.CacheScope.track(df
      .select(filter(TextOps.words(col(textCol)), w => length(w) > 0).as("ws"))
      .filter(size(col("ws")) >= 1))
    // both count relations fan out (two joins + the totals row): persist
    // the vocab-scale aggregates, not just the token arrays, so neither
    // explode+agg re-runs per consumer
    val uni = graft.CacheScope.track(ws.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val bi = graft.CacheScope.track(ws.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS a, ws[i + 1] AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab")))
    val totals = uni.agg(sum(col("c")).as("nw")).crossJoin(
      bi.agg(sum(col("cab")).as("nb")))
    bi.filter(col("cab") >= minCount)
      .join(uni.select(col("w").as("a"), col("c").as("ca")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c").as("cb")), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("a").as("word_a"), col("b").as("word_b"),
        col("cab").as("n_ab"), col("ca").as("n_a"), col("cb").as("n_b"),
        // DECIMAL(38,0) products: a web-scale N_w would wrap a long
        // product silently while the DuckDB oracle's HUGEINT stays
        // exact; decimal keeps both engines exact, and each side's
        // round-to-nearest double conversion is the identical value
        Exact.rRow(log((col("cab").cast("decimal(38,0)") * col("nw") * col("nw"))
            .cast("double") /
          (col("nb").cast("decimal(38,0)") * col("ca") * col("cb"))
            .cast("double")), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("word_a"), col("word_b"))
      .limit(k)
  }

  /**
   * Cross-document EXACT-substring dedup census (Lee et al. 2022,
   * "Deduplicating Training Data Makes Language Models Better" —
   * ExactSubstr): for every document pair sharing a verbatim run of
   * ≥ k normalized tokens, the MAXIMAL shared spans and their token
   * bill. The paper finds spans with a corpus suffix array; the
   * relational equivalent: every k-token shingle is fingerprinted
   * (md5 of the joined tokens, computed once per position), equal
   * fingerprints across two documents mark matched positions (ia, ib),
   * and a shared run of length L ≥ k appears as L−k+1 consecutive
   * matches on one DIAGONAL (ib − ia constant) — so maximal spans are
   * exactly the gaps-and-islands of `ia` within each (pair, diagonal)
   * group (the p76 pattern), with span length = island size + k − 1.
   *
   * Fingerprints occurring more than `fpCap` times in the corpus are
   * dropped before pairing — boilerplate that frequent (licenses,
   * headers) would otherwise produce a quadratic pair blow-up; the
   * paper handles these separately, and a capped candidate set is the
   * standard production guard (same reasoning as the p109 prefix
   * filter). The cap is part of the declared semantics and the oracle
   * replays it.
   *
   * Returns one row per document pair (doc_a < doc_b): span count,
   * longest span, the per-span token sum (overlapping spans on
   * different diagonals each billed), and the DISTINCT covered token
   * count in doc_a (the dedup bill the paper's span-removal step
   * actually pays).
   *
   * Shape at 100 TB: shingling is an in-row array op (zero shuffle);
   * one shuffle on the fingerprint (frequency cap + the equi-join —
   * never all-pairs: only documents sharing an exact rare k-gram ever
   * meet); the islands pass windows by (pair, diagonal) — match-scale,
   * ≪ corpus-scale. The only quadratic surface is within a fingerprint
   * bucket, and fpCap bounds it.
   */
  def crossDocSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, fpCap: Int = 64,
      preSpans: Option[DataFrame] = None): DataFrame = {
    val spans = preSpans.getOrElse(
      crossDocSpanRel(df, idCol, textCol, k, fpCap))
    val covered = spans
      .select(col("doc_a"), col("doc_b"), explode(sequence(col("start_a"),
        col("start_a") + col("span_tokens") - 1)).as("pa"))
      .distinct()
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("dup_tokens_a"))
    spans.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_spans"),
        max(col("span_tokens")).as("max_span"),
        sum(col("span_tokens")).as("span_tokens_sum"))
      .join(covered, Seq("doc_a", "doc_b"))
  }

  /** The shared maximal-span relation beneath [[crossDocSpans]] and
   * [[crossDocScrub]]: one row per maximal shared run — (doc_a < doc_b,
   * diag = ib − ia, start_a, span_tokens). The doc_b-side start is
   * start_a + diag. Cached: both consumers aggregate it twice. A pure
   * function of (df, idCol, textCol, k, fpCap), so a harness running
   * BOTH consumers over the same corpus can memoize it run-scoped and
   * hand it in via their `preSpans` hook (the hnswAssignedShared /
   * corpusShingleShared reclaim pattern) — pass `persist = false` there
   * so the per-query releaseAll cannot uncache the run-scoped entry.
   * Oracles stay independent full replays. */
  def crossDocSpanRel(df: DataFrame, idCol: String, textCol: String,
      k: Int, fpCap: Int, persist: Boolean = true): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    require(fpCap >= 2, s"need fpCap >= 2, got $fpCap")
    // conditional spread BEFORE the fingerprint explode
    // ([[Spread.ifNarrow]]): the md5-per-position construction is the
    // heavy per-row compute here, and a single-row-group gate fixture
    // would otherwise run it in ONE task (measured at sf0.1: a 46 s
    // single-task stage; 32-way it is ~1.5 s). A splittable production
    // source already parallelizes the scan and skips the corpus-scale
    // text exchange.
    val ws = Spread.ifNarrow(
      df.filter(TextOps.normalized(col(textCol)) =!= "")
        .select(col(idCol).as("id"), TextOps.words(col(textCol)).as("ws"))
        .filter(size(col("ws")) >= k),
      col("id"))
    val sh = ws.select(col("id"),
        posexplode(transform(sequence(lit(1), size(col("ws")) - (k - 1)),
          i => md5(concat_ws(" ", slice(col("ws"), i, lit(k))))))
          .as(Seq("p0", "fp")))
      .select(col("id"), (col("p0") + 1).cast("long").as("i"), col("fp"))
    val rare = sh.groupBy(col("fp")).agg(count(lit(1)).as("c"))
      .filter(col("c") <= fpCap).select(col("fp"))
    val kept = sh.join(rare, Seq("fp"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        col("a.i").as("ia"), (col("b.i") - col("a.i")).as("diag"))
    val wIsl = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("ia"))
    val rel = pairs
      .withColumn("grp", col("ia") - row_number().over(wIsl))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("ia")).as("start_a"),
        (count(lit(1)) + (k - 1)).as("span_tokens"))
    if (persist) graft.CacheScope.track(rel) else rel
  }

  /**
   * The SECOND half of Lee et al. 2022's ExactSubstr dedup — the step
   * that actually edits the corpus: every token position covered by a
   * span shared with a LOWER-id document is removed (the copier pays;
   * the p78 first-occurrence billing convention), and the scrubbed
   * document is REBUILT from the surviving tokens in position order —
   * the p33 scrub-and-rebuild shape at cross-document granularity.
   * Returns one row per ≥k-token document: original/removed/kept token
   * counts and the md5 digest of the rebuilt text (so a rebuild is
   * verifiable without shipping it, the p76 convention).
   *
   * Shape at 100 TB: the span relation is [[crossDocSpanRel]] (one
   * fingerprint shuffle, never all-pairs); covered positions explode
   * span-scale rows; the anti-join and rebuild shuffle on the doc id
   * only.
   */
  def crossDocScrub(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, fpCap: Int = 64,
      preSpans: Option[DataFrame] = None): DataFrame = {
    val spans = preSpans.getOrElse(
      crossDocSpanRel(df, idCol, textCol, k, fpCap))
    val covered = spans
      .select(col("doc_b").as("id"),
        explode(sequence(col("start_a") + col("diag"),
          col("start_a") + col("diag") + col("span_tokens") - 1)).as("pos"))
      .distinct()
    // same conditional spread-before-explode as crossDocSpanRel: the
    // word explode + rebuild below otherwise runs inside the single
    // scan task of a one-row-group fixture (measured 4.3 s single-task
    // at sf0.1)
    val posRel = Spread.ifNarrow(
        df.filter(TextOps.normalized(col(textCol)) =!= "")
          .select(col(idCol).as("id"), TextOps.words(col(textCol)).as("ws"))
          .filter(size(col("ws")) >= k),
        col("id"))
      .select(col("id"), size(col("ws")).cast("long").as("n_tokens"),
        posexplode(col("ws")).as(Seq("p0", "word")))
      .select(col("id"), col("n_tokens"),
        (col("p0") + 1).cast("long").as("pos"), col("word"))
    posRel.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id").as("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")))).as("scrub_md5"))
      .withColumn("n_removed", col("n_tokens") - col("n_kept"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("n_kept"), col("scrub_md5"))
  }
}
