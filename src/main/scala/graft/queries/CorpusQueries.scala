package graft.queries

import graft.functions.Exact
import graft.pipeline.{CorpusOps, Retrieval}
import graft.sources.GraftIO.fixture
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Corpus-curation stage queries (p21–p27): repetition filtering, PII
 * redaction, reproducible sampling, token-budget mixing, benchmark
 * decontamination, chunk-level dedup, and embedding quantization — the
 * operators between raw crawl and tokenizer in a training-data pipeline.
 * Every query has a full DuckDB oracle; outputs are integers, md5
 * digests, or 4-decimal rounds of deterministic doubles, so the driver's
 * hash compare is exact (no float-tolerance holes).
 */
object CorpusQueries extends QueryGroup {

  import PipelineQueries.{NORM, WORDS}

  // ------------------------------------------------- p21 repetition stats

  private val p21 = QueryDef(
    // Engine computes the bigram mode with an in-row sorted-run fold
    // (zero shuffle); the oracle re-derives it the heavyweight way —
    // unnest + group-count + max — so parity checks the algorithm, not a
    // shared formulation.
    (s, d) => CorpusOps.repetitionStats(fixture(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents),
      |f AS (
      |  SELECT doc_id, ws, len(ws) AS n_words,
      |         len(list_distinct(ws)) AS n_distinct_words
      |  FROM w WHERE len(ws) >= 2),
      |g AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(ws)),
      |           i -> ws[i] || ' ' || ws[i+1])) AS gram
      |  FROM f),
      |cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
      |top AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |         CAST(max(c) AS BIGINT) AS top_bigram_count
      |  FROM cnt GROUP BY 1)
      |SELECT f.doc_id, n_words, n_distinct_words,
      |       (CAST(floor((1.0 - CAST(n_distinct_words AS DOUBLE) / n_words) * 1e4 + 0.5) AS BIGINT) / 1e4)
      |         AS dup_word_frac,
      |       n_bigrams, top_bigram_count,
      |       (CAST(floor((CAST(top_bigram_count AS DOUBLE) / n_bigrams) * 1e4 + 0.5) AS BIGINT) / 1e4)
      |         AS top_bigram_frac
      |FROM f JOIN top ON f.doc_id = top.doc_id
      |ORDER BY f.doc_id""".stripMargin))

  // --------------------------------------------------- p22 PII redaction

  /** Deterministic PII injection so the fixture actually contains emails /
   * IPs / phones with data-dependent presence (documents are word salad). */
  private def piiPayload(s: SparkSession, dir: String): DataFrame =
    fixture(s, dir, "documents").withColumn("payload", concat(
      col("text"),
      when(col("doc_id") % 3 =!= 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com"))).otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        concat(lit(" from 10."), (col("doc_id") % 200).cast("string"),
          lit(".0.7"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 1,
        concat(lit(" call +1-555-"),
          ((col("doc_id") % 9000) + 1000).cast("string"))).otherwise(lit(""))))

  // single line: a leading "||" would be eaten by the enclosing query's
  // stripMargin when this fragment is interpolated into it
  private val piiPayloadSql: String =
    "text || CASE WHEN doc_id % 3 <> 0 THEN ' contact user' || doc_id || " +
      "'@mail.example.com' ELSE '' END || CASE WHEN doc_id % 2 = 0 THEN " +
      "' from 10.' || (doc_id % 200) || '.0.7' ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 1 THEN ' call +1-555-' || " +
      "(doc_id % 9000 + 1000) ELSE '' END"

  private val p22 = QueryDef(
    (s, d) => CorpusOps.piiRedact(piiPayload(s, d), "doc_id", "payload")
      .orderBy(col("doc_id")),
    Some(s"""WITH p AS (SELECT doc_id, $piiPayloadSql AS payload FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(payload, '${CorpusOps.emailRe}')) AS n_emails,
      |  len(regexp_extract_all(payload, '${CorpusOps.ipv4Re}')) AS n_ips,
      |  len(regexp_extract_all(payload, '${CorpusOps.phoneRe}')) AS n_phones,
      |  md5(regexp_replace(regexp_replace(regexp_replace(payload,
      |        '${CorpusOps.emailRe}', '<EMAIL>', 'g'),
      |        '${CorpusOps.ipv4Re}', '<IP>', 'g'),
      |        '${CorpusOps.phoneRe}', '<PHONE>', 'g')) AS redacted_md5
      |FROM p ORDER BY doc_id""".stripMargin))

  // ------------------------------------------- p23 stratified hash sample

  /** Per-stratum threshold on the first 2 hex chars of the sample key:
   * even-numbered sources keep ≤'19' (rate 26/256 ≈ 10%), odd ≤'33'
   * (52/256 ≈ 20%). */
  private val thrSql =
    "CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN '19' ELSE '33' END"

  private val p23 = QueryDef(
    (s, d) => CorpusOps.stratifiedSample(fixture(s, d, "documents"),
      stratum = col("source"),
      threshold = when(substring(col("source"), 4, 10).cast("int") % 2 === 0,
        lit("19")).otherwise(lit("33")),
      id = col("doc_id"), text = col("text"))
      .orderBy(col("stratum")),
    Some(s"""WITH k AS (
      |  SELECT source, doc_id,
      |         substr(md5(text || ':' || doc_id), 1, 2) <= ($thrSql) AS keep
      |  FROM documents)
      |SELECT source AS stratum, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |       md5(coalesce(string_agg(
      |         CASE WHEN keep THEN CAST(doc_id AS VARCHAR) END,
      |         ',' ORDER BY doc_id), '')) AS sampled_md5
      |FROM k GROUP BY source ORDER BY stratum""".stripMargin))

  // --------------------------------------------- p24 token-budget mixing

  private val mixBudget = 1500L

  private val p24 = QueryDef(
    (s, d) => CorpusOps.tokenBudgetMix(fixture(s, d, "documents"),
      stratum = col("source"), budget = mixBudget,
      id = col("doc_id"), text = col("text"))
      .orderBy(col("stratum")),
    Some(s"""WITH t AS (
      |  SELECT source, doc_id, md5(text || ':' || doc_id) AS rk,
      |         len($WORDS) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT *, sum(n_tok) OVER (PARTITION BY source
      |    ORDER BY rk, doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT source AS stratum, count(*) AS n_docs_kept,
      |       CAST(sum(n_tok) AS BIGINT) AS tokens_kept,
      |       md5(coalesce(string_agg(CAST(doc_id AS VARCHAR), ','
      |         ORDER BY doc_id), '')) AS kept_md5
      |FROM c WHERE cum <= $mixBudget
      |GROUP BY source ORDER BY stratum""".stripMargin))

  // --------------------------------------------- p25 decontamination

  /** Held-out "benchmark" slice: every 50th document. */
  private val p25 = QueryDef(
    (s, d) => {
      val all = fixture(s, d, "documents")
      CorpusOps.decontaminate(
        corpus = all.filter(col("doc_id") % 50 =!= 0),
        benchmark = all.filter(col("doc_id") % 50 === 0),
        idCol = "doc_id", textCol = "text", n = 5)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(ws) - 3),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
      |                || ws[i+3] || ' ' || ws[i+4])) AS gs
      |  FROM w WHERE len(ws) >= 5),
      |inv AS (SELECT doc_id, unnest(gs) AS gram FROM g),
      |bench AS (SELECT DISTINCT gram FROM inv WHERE doc_id % 50 = 0)
      |SELECT i.doc_id, count(*) AS n_shared
      |FROM inv i JOIN bench b ON i.gram = b.gram
      |WHERE i.doc_id % 50 <> 0
      |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin))

  // --------------------------------------------------- p26 chunk dedup

  private val chunkWords = 20

  private val p26 = QueryDef(
    (s, d) => CorpusOps.chunkDupStats(fixture(s, d, "documents"), "doc_id", "text",
      "source", chunkWords).orderBy(col("source")),
    Some(s"""WITH w AS (SELECT doc_id, source, $WORDS AS ws FROM documents),
      |c AS (
      |  SELECT doc_id, source,
      |         unnest(list_transform(
      |           range(0, CAST(ceil(len(ws) / $chunkWords.0) AS INT)),
      |           i -> array_to_string(
      |             ws[i * $chunkWords + 1 : i * $chunkWords + $chunkWords],
      |             ' '))) AS chunk
      |  FROM w),
      |h AS (SELECT doc_id, source, md5(chunk) AS h FROM c),
      |cnt AS (SELECT h, count(*) AS c FROM h GROUP BY 1)
      |SELECT source, count(*) AS n_chunks,
      |       CAST(sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_dup_chunks,
      |       count(DISTINCT CASE WHEN cnt.c > 1 THEN doc_id END)
      |         AS n_docs_with_dup
      |FROM h JOIN cnt USING (h)
      |GROUP BY source ORDER BY source""".stripMargin))

  // -------------------------------------- p27 embedding quantization

  private val p27 = QueryDef(
    (s, d) => CorpusOps.quantizeStats(fixture(s, d, "embeddings"), "vec_id", "embedding")
      .orderBy(col("vec_id")),
    Some("""WITH q AS (
      |  SELECT vec_id,
      |         CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
      |         CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx,
      |         len(embedding) AS dim
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, mn, (mx - mn) / CAST(255 AS DOUBLE) AS scale, dim
      |  FROM q)
      |SELECT s.vec_id,
      |       CAST(floor(scale * 1000000.0) AS BIGINT) AS scale_ppm,
      |       CAST(list_aggregate(list_transform(e.embedding,
      |         x -> floor((CAST(x AS DOUBLE) - mn) / scale + 0.5)), 'sum')
      |         AS BIGINT) AS q_sum,
      |       CAST(floor((CAST(e.embedding[1] AS DOUBLE) - mn) / scale + 0.5)
      |         AS INT) AS q_first,
      |       CAST(dim AS INT) AS dim
      |FROM s JOIN embeddings e ON s.vec_id = e.vec_id
      |ORDER BY s.vec_id""".stripMargin))

  // ------------------------------------------------ p29 Gopher filtering

  private val stopsSql: String =
    CorpusOps.requiredStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Shared rule-feature CTE body (doc_id, n_words, mwl, sym, alpha,
   * stop_hits) over a relation `f(doc_id, text, ws, norm, raw)`. */
  private val ruleFeatures: String =
    """SELECT doc_id,
      |    len(ws) AS n_words,
      |    length(replace(norm, ' ', ''))::DOUBLE / len(ws) AS mwl,
      |    len(regexp_extract_all(coalesce(text, ''), '\.\.\.|#'))::DOUBLE
      |      / len(ws) AS sym,
      |    len(list_filter(raw, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
      |      / len(raw) AS alpha,""".stripMargin

  private val keepSql: String =
    "(n_words >= 50 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0" +
      " AND sym <= 0.1 AND alpha >= 0.8 AND stop_hits >= 2)"

  private val p29 = QueryDef(
    (s, d) => CorpusOps.gopherFilter(fixture(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""WITH f AS (
      |  SELECT doc_id, text, $WORDS AS ws, $NORM AS norm,
      |         regexp_split_to_array(coalesce(text, ''), '\\s+') AS raw
      |  FROM documents),
      |g AS (
      |  $ruleFeatures
      |    len(list_intersect(list_distinct(ws), $stopsSql)) AS stop_hits
      |  FROM f)
      |SELECT doc_id, n_words, (CAST(floor((mwl) * 1e4 + 0.5) AS BIGINT) / 1e4) AS mean_word_len,
      |       (CAST(floor((sym) * 1e4 + 0.5) AS BIGINT) / 1e4) AS symbol_ratio,
      |       (CAST(floor((alpha) * 1e4 + 0.5) AS BIGINT) / 1e4) AS alpha_frac,
      |       stop_hits, $keepSql AS keep
      |FROM g ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------- p30 tf-idf keywords

  private val p30 = QueryDef(
    (s, d) => CorpusOps.tfidfKeywords(fixture(s, d, "documents"), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank")),
    Some(s"""WITH t AS (
      |  SELECT doc_id, unnest(list_filter($WORDS, w -> length(w) > 0)) AS word
      |  FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM t GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      |sc AS (
      |  SELECT doc_id, word,
      |         (CAST(floor((tf * ln(n_docs::DOUBLE / df)) * 1e4 + 0.5) AS BIGINT) / 1e4) AS score
      |  FROM tf JOIN df USING (word) CROSS JOIN n),
      |r AS (SELECT doc_id, word, score,
      |             row_number() OVER (PARTITION BY doc_id
      |               ORDER BY score DESC, word) AS rn
      |      FROM sc)
      |SELECT doc_id, CAST(rn AS INT) AS rank, word, score
      |FROM r WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin))

  // ------------------------------------------------------- p31 novelty

  private val p31 = QueryDef(
    (s, d) => CorpusOps.noveltyStats(fixture(s, d, "documents"), "doc_id", "text", n = 3)
      .orderBy(col("doc_id")),
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
      |  FROM w WHERE len(ws) >= 3),
      |inv AS (SELECT doc_id, unnest(gs) AS gram FROM g),
      |fo AS (SELECT gram, min(doc_id) AS first_doc FROM inv GROUP BY 1),
      |agg AS (
      |  SELECT i.doc_id, count(*) AS n_grams,
      |         CAST(sum(CASE WHEN f.first_doc = i.doc_id THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_novel
      |  FROM inv i JOIN fo f USING (gram)
      |  GROUP BY i.doc_id)
      |SELECT doc_id, n_grams, n_novel,
      |       ${Exact.duckRatio("n_novel", "n_grams", 4)}
      |         AS novelty_frac
      |FROM agg ORDER BY doc_id""".stripMargin))

  // -------------------------------------- p32 end-to-end curation stage

  private val p32 = QueryDef(
    // The whole curation stage in one composed plan: Gopher quality
    // rules + exact dedup (first fingerprint occurrence wins) + 5-gram
    // benchmark decontamination (held-out slice = every 50th doc),
    // reduced to per-source survivor stats with an exact-membership
    // digest. The oracle recomposes all three stages in SQL.
    (s, d) => {
      val all = fixture(s, d, "documents")
      CorpusOps.curationPipeline(
        corpus = all.filter(col("doc_id") % 50 =!= 0),
        benchmark = all.filter(col("doc_id") % 50 === 0),
        idCol = "doc_id", textCol = "text", sourceCol = "source",
        ngram = 5)
        .orderBy(col("source"))
    },
    Some(s"""WITH f AS (
      |  SELECT doc_id, source, text, $WORDS AS ws, $NORM AS norm,
      |         regexp_split_to_array(coalesce(text, ''), '\\s+') AS raw
      |  FROM documents WHERE doc_id % 50 <> 0),
      |q AS (
      |  $ruleFeatures
      |    len(list_intersect(list_distinct(ws), $stopsSql)) AS stop_hits
      |  FROM f),
      |k AS (SELECT doc_id, n_words, $keepSql AS keep FROM q),
      |fp AS (SELECT doc_id, md5(coalesce(norm, '')) AS fp FROM f),
      |rep AS (SELECT fp, min(doc_id) AS rep FROM fp GROUP BY fp),
      |w5 AS (SELECT doc_id, $WORDS AS ws FROM documents),
      |g5 AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(ws) - 3),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
      |                || ws[i+3] || ' ' || ws[i+4])) AS gs
      |  FROM w5 WHERE len(ws) >= 5),
      |inv AS (SELECT doc_id, unnest(gs) AS gram FROM g5),
      |bench AS (SELECT DISTINCT gram FROM inv WHERE doc_id % 50 = 0),
      |cont AS (SELECT DISTINCT i.doc_id FROM inv i JOIN bench b
      |         ON i.gram = b.gram WHERE i.doc_id % 50 <> 0),
      |s AS (
      |  SELECT f.doc_id, f.source, k.n_words,
      |         (k.keep AND f.doc_id = r.rep AND c.doc_id IS NULL) AS survives
      |  FROM f
      |  JOIN k ON f.doc_id = k.doc_id
      |  JOIN fp ON f.doc_id = fp.doc_id
      |  JOIN rep r ON fp.fp = r.fp
      |  LEFT JOIN cont c ON f.doc_id = c.doc_id)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN survives THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_kept,
      |       CAST(sum(CASE WHEN survives THEN n_words ELSE 0 END) AS BIGINT)
      |         AS tokens_kept,
      |       md5(coalesce(string_agg(
      |         CASE WHEN survives THEN CAST(doc_id AS VARCHAR) END,
      |         ',' ORDER BY doc_id), '')) AS kept_md5
      |FROM s GROUP BY source ORDER BY source""".stripMargin))

  // ------------------------------------------- p33 chunk scrub (rebuild)

  private val p33 = QueryDef(
    // Sub-document dedup with reconstruction: every 20-word chunk keeps
    // only its first corpus occurrence (by doc id, then position) and
    // each document is rebuilt from its survivors. The digest prices the
    // rebuilt text byte-for-byte.
    (s, d) => CorpusOps.chunkScrub(fixture(s, d, "documents"), "doc_id", "text", chunkWords)
      .orderBy(col("doc_id")),
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents),
      |c AS (
      |  SELECT doc_id,
      |         unnest(list_transform(
      |           range(0, CAST(ceil(len(ws) / $chunkWords.0) AS INT)),
      |           i -> struct_pack(idx := i,
      |             chunk := array_to_string(
      |               ws[i * $chunkWords + 1 : i * $chunkWords + $chunkWords],
      |               ' ')))) AS s
      |  FROM w),
      |f AS (SELECT doc_id, s.idx AS idx, s.chunk AS chunk,
      |             md5(s.chunk) AS h FROM c),
      |r AS (SELECT *, row_number() OVER (PARTITION BY h
      |        ORDER BY doc_id, idx) AS rn FROM f)
      |SELECT doc_id, count(*) AS n_chunks,
      |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_kept,
      |       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END,
      |         ' ' ORDER BY idx), '')) AS cleaned_md5
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ------------------------------------------ p41 weighted sampling

  private val p41 = QueryDef(
    // Efraimidis–Spirakis weighted sample: 10 docs per source, weighted
    // by token count + 1 — longer docs proportionally likelier. The
    // membership digest makes the exact sample checkable. NULL text is
    // coalesced on BOTH sides (key hash and weight) so a NULL-text doc
    // gets the same key and weight in Spark and DuckDB.
    (s, d) => CorpusOps.weightedSample(fixture(s, d, "documents"), col("source"),
      weight = coalesce(graft.pipeline.TextOps.tokenCount(col("text")),
        lit(1)) + lit(1),
      k = 10, id = col("doc_id"), text = col("text"))
      .orderBy(col("stratum")),
    Some(s"""WITH t AS (
      |  SELECT source, doc_id,
      |         CAST(coalesce(len($WORDS), 1) + 1 AS DOUBLE) AS w,
      |         (CAST(('0x' || substr(md5(coalesce(text, '') || ':' || doc_id),
      |            1, 8)) AS UBIGINT) + 0.5) / 4294967296.0 AS u
      |  FROM documents),
      |s AS (SELECT *, (CAST(floor((pow(u, 1.0 / w)) * 1e9 + 0.5) AS BIGINT) / 1e9) AS ky FROM t),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source
      |        ORDER BY ky DESC, doc_id) AS rn FROM s)
      |SELECT source AS stratum, count(*) AS n_docs,
      |       sum(CASE WHEN rn <= 10 THEN w ELSE 0 END) AS weight_sampled,
      |       md5(coalesce(string_agg(
      |         CASE WHEN rn <= 10 THEN CAST(doc_id AS VARCHAR) END,
      |         ',' ORDER BY doc_id), '')) AS sampled_md5
      |FROM r GROUP BY source ORDER BY stratum""".stripMargin))

  // ------------------------------------------------ p40 KMV cardinality

  private val kmvK = 32

  private val p40 = QueryDef(
    // Distinct 3-gram cardinality per source: KMV sketch (k smallest
    // md5-prefix hashes) vs the exact count. The estimator is a pure
    // function of the deterministic hash set, so the oracle reproduces
    // it exactly — no approximation tolerance needed.
    (s, d) => {
      val grams = fixture(s, d, "documents").select(col("source"),
        explode(graft.pipeline.TextOps.wordNGrams(col("text"), 3)).as("gram"))
      graft.pipeline.Sketches.kmvDistinctVerified(grams, col("source"),
        graft.pipeline.Sketches.md5Hash32(col("gram")), kmvK)
        .orderBy(col("source"))
    },
    Some(s"""WITH w AS (SELECT source, doc_id, $WORDS AS ws FROM documents),
      |g AS (
      |  SELECT source, doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gram
      |  FROM w WHERE len(ws) >= 3),
      |h AS (SELECT DISTINCT source,
      |        CAST(('0x' || substr(md5(gram), 1, 8)) AS UBIGINT) AS hv
      |      FROM g),
      |r AS (SELECT source, hv, row_number() OVER (PARTITION BY source
      |        ORDER BY hv) AS rn FROM h),
      |kset AS (SELECT source, count(*) AS n_kept, max(hv) AS kth
      |         FROM r WHERE rn <= $kmvK GROUP BY source),
      |ex AS (SELECT source, count(*) AS exact_distinct FROM h GROUP BY source)
      |SELECT k.source, CAST(n_kept AS INT) AS n_kept,
      |       CAST(kth AS BIGINT) AS kth_min,
      |       CASE WHEN n_kept < $kmvK THEN CAST(n_kept AS DOUBLE)
      |            ELSE ${Exact.sqlRRow(s"${kmvK - 1} * 4294967296.0 / kth", 2)} END
      |         AS est_distinct,
      |       CAST(exact_distinct AS BIGINT) AS exact_distinct
      |FROM kset k JOIN ex USING (source) ORDER BY source""".stripMargin))

  // ---------------------------------------------- p43 HLL cardinality

  private val p43 = QueryDef(
    // HyperLogLog distinct 3-grams per source (b=6, 64 registers) vs the
    // exact count — the constant-memory sibling of p40's KMV. ρ comes
    // from the binary-string length of the md5-prefix hash, so the
    // register table — and therefore the estimate — is reproduced
    // bit-for-bit by the oracle; the float estimate rounds to 2 dp.
    (s, d) => {
      val grams = graft.CacheScope.track(fixture(s, d, "documents").select(col("source"),
        explode(graft.pipeline.TextOps.wordNGrams(col("text"), 3)).as("gram")))
      val est = graft.pipeline.Sketches.hllDistinct(grams, col("source"),
        graft.pipeline.Sketches.md5Hash60(col("gram")))
      val exact = grams.groupBy(col("source").cast("string").as("source"))
        .agg(countDistinct(col("gram")).as("exact_distinct"))
      est.join(exact, Seq("source")).orderBy(col("source"))
    },
    Some(s"""WITH w AS (SELECT source, doc_id, $WORDS AS ws FROM documents),
      |g AS (
      |  SELECT source, doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gram
      |  FROM w WHERE len(ws) >= 3),
      |hh AS (SELECT source, gram,
      |         CAST(('0x' || substr(md5(gram), 1, 15)) AS UBIGINT) AS hv
      |       FROM g),
      |reg AS (SELECT source, CAST(hv // 18014398509481984 AS INT) AS idx,
      |          max(CASE WHEN hv % 18014398509481984 = 0 THEN 55
      |               ELSE 55 - length(bin(hv % 18014398509481984)) END) AS r
      |        FROM hh GROUP BY source, idx),
      |e AS (SELECT source,
      |        sum(CAST(1 AS BIGINT) << (55 - r)) AS inv_e,
      |        count(*) AS present
      |      FROM reg GROUP BY source),
      |f AS (SELECT source, 64 - present AS zeros,
      |             0.709 * 64 * 64 /
      |               (CAST(inv_e AS DOUBLE) / 36028797018963968.0
      |                + (64 - present)) AS raw
      |      FROM e),
      |ex AS (SELECT source, count(DISTINCT gram) AS exact_distinct
      |       FROM g GROUP BY source)
      |SELECT f.source,
      |       (CAST(floor((CASE WHEN raw <= 160.0 AND zeros > 0
      |                  THEN 64.0 * ln(64.0 / zeros) ELSE raw END) * 1e2 + 0.5) AS BIGINT) / 1e2)
      |         AS est_distinct,
      |       CAST(zeros AS INT) AS zero_registers,
      |       CAST(exact_distinct AS BIGINT) AS exact_distinct
      |FROM f JOIN ex ON f.source = ex.source ORDER BY f.source""".stripMargin))

  // ------------------------------------------ p44 CM heavy hitters

  private val p44 = QueryDef(
    // Count-Min heavy hitters: global top-20 words by CM point estimate
    // (d=4 rows × w=256 counters) with the exact count beside — the
    // overcount column IS the sketch's collision mass, non-negative by
    // construction. Counters and estimates are integer-exact functions
    // of md5-prefix hashes, so the oracle rebuilds the identical sketch.
    (s, d) => {
      // conditional gate-scale spread before the word explode — the
      // cached word relation fans out to the sketch and the exact side
      val words = graft.CacheScope.track(
        graft.pipeline.Spread.ifNarrow(fixture(s, d, "documents"), col("doc_id"))
        .select(explode(graft.pipeline.TextOps.words(
          coalesce(col("text"), lit("")))).as("word"))
        .filter(length(col("word")) > 0))
      val counters = graft.pipeline.Sketches.cmsCounters(
        words, col("word"), d = 4, w = 256)
      val exact = words.groupBy(col("word").as("item"))
        .agg(count(lit(1)).as("exact_count"))
      graft.pipeline.Sketches.cmsEstimates(counters, words, col("word"), 4, 256)
        .join(exact, Seq("item"))
        .withColumn("overcount", col("est_count") - col("exact_count"))
        .orderBy(col("est_count").desc, col("item")).limit(20)
    },
    Some(s"""WITH ww AS (
      |  SELECT unnest($WORDS) AS word FROM documents),
      |wd AS (SELECT word FROM ww WHERE len(word) > 0),
      |k AS (SELECT word, i,
      |        CAST(('0x' || substr(md5(word || '#' || CAST(i AS VARCHAR)),
      |          1, 8)) AS UBIGINT) % 256 AS slot
      |      FROM wd CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
      |c AS (SELECT i, slot, count(*) AS cnt FROM k GROUP BY i, slot),
      |ck AS (SELECT DISTINCT word, i, slot FROM k),
      |est AS (SELECT word AS item, min(cnt) AS est_count
      |        FROM ck JOIN c USING (i, slot) GROUP BY word),
      |ex AS (SELECT word AS item, count(*) AS exact_count
      |       FROM wd GROUP BY word)
      |SELECT est.item, CAST(est_count AS BIGINT) AS est_count,
      |       CAST(exact_count AS BIGINT) AS exact_count,
      |       CAST(est_count - exact_count AS BIGINT) AS overcount
      |FROM est JOIN ex ON est.item = ex.item
      |ORDER BY est_count DESC, est.item LIMIT 20""".stripMargin))

  // --------------------------------------- p46 repeated-span scrub

  private val p46 = QueryDef(
    // Exact-substring removal at word-5-gram granularity (Lee et al.
    // 2021): every 5-gram occurring ≥3 times corpus-wide marks the
    // positions it covers; documents drop covered words and the rebuild
    // digest pins the exact surviving text. Spans overlap — the
    // template/boilerplate-removal semantics aligned chunks (p33) can't
    // express. Per-source rollup keeps the output compact while the
    // per-doc digests stay inside the aggregation.
    (s, d) => graft.pipeline.CorpusOps
      .repeatedSpanScrub(fixture(s, d, "documents"), "doc_id", "text", n = 5, minCount = 3)
      .join(fixture(s, d, "documents").select(col("doc_id"), col("source"))
        .hint("merge"), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_kept")).as("n_kept"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(struct(col("doc_id"), col("kept_md5")))),
            x => x.getField("kept_md5"))).cast("binary")).as("scrub_md5"))
      .orderBy(col("source")),
    Some(s"""WITH w AS (
      |  SELECT doc_id, source,
      |         list_filter($WORDS, x -> len(x) > 0) AS ws
      |  FROM documents),
      |t AS (SELECT doc_id, CAST(pos - 1 AS INT) AS pos, ws[CAST(pos AS INT)] AS word
      |      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM w)),
      |g AS (SELECT doc_id, CAST(pos - 1 AS INT) AS pos,
      |        ws[CAST(pos AS INT)] || ' ' || ws[CAST(pos+1 AS INT)] || ' ' ||
      |        ws[CAST(pos+2 AS INT)] || ' ' || ws[CAST(pos+3 AS INT)] || ' ' ||
      |        ws[CAST(pos+4 AS INT)] AS gram
      |      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS pos
      |            FROM w WHERE len(ws) >= 5)),
      |fq AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 3),
      |cov AS (SELECT DISTINCT g.doc_id, g.pos + k.k AS cpos
      |        FROM g JOIN fq USING (gram)
      |        CROSS JOIN (SELECT unnest(range(0, 5)) AS k) k),
      |kept AS (SELECT t.doc_id, t.pos, t.word FROM t
      |         LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.cpos = t.pos
      |         WHERE cov.doc_id IS NULL),
      |kd AS (SELECT doc_id, count(*) AS n_kept,
      |         md5(string_agg(word, ' ' ORDER BY pos)) AS kept_md5
      |       FROM kept GROUP BY doc_id),
      |per AS (SELECT w.doc_id, w.source, len(w.ws) AS n_words,
      |          coalesce(kd.n_kept, 0) AS n_kept,
      |          coalesce(kd.kept_md5, md5('')) AS kept_md5
      |        FROM w LEFT JOIN kd ON kd.doc_id = w.doc_id)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_words) AS BIGINT) AS n_words,
      |       CAST(sum(n_kept) AS BIGINT) AS n_kept,
      |       md5(string_agg(kept_md5, ',' ORDER BY doc_id)) AS scrub_md5
      |FROM per GROUP BY source ORDER BY source""".stripMargin))

  // --------------------------------------------- p38 incremental dedup

  private val p38 = QueryDef(
    // Daily-crawl increment: docs with id % 10 == 0 are "today's batch",
    // the rest the existing corpus; classify each new doc as
    // dup_of_base / dup_in_batch / fresh with its representative.
    (s, d) => {
      val all = fixture(s, d, "documents")
      CorpusOps.incrementalDedup(
        newDocs = all.filter(col("doc_id") % 10 === 0),
        base = all.filter(col("doc_id") % 10 =!= 0),
        idCol = "doc_id", textCol = "text")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH fp AS (
      |  SELECT doc_id, md5(coalesce($NORM, '')) AS fp FROM documents),
      |base AS (SELECT fp, min(doc_id) AS base_rep FROM fp
      |         WHERE doc_id % 10 <> 0 GROUP BY 1),
      |batch AS (SELECT fp, min(doc_id) AS batch_rep FROM fp
      |          WHERE doc_id % 10 = 0 GROUP BY 1)
      |SELECT f.doc_id,
      |       CASE WHEN b.base_rep IS NOT NULL THEN 'dup_of_base'
      |            WHEN t.batch_rep < f.doc_id THEN 'dup_in_batch'
      |            ELSE 'fresh' END AS verdict,
      |       coalesce(b.base_rep, t.batch_rep) AS rep_id
      |FROM fp f
      |LEFT JOIN base b ON f.fp = b.fp
      |JOIN batch t ON f.fp = t.fp
      |WHERE f.doc_id % 10 = 0
      |ORDER BY f.doc_id""".stripMargin))

  // ----------------------------------------------- p36 sequence packing

  private val packBudget = 512L

  private val p36 = QueryDef(
    // Training-sequence packing: concatenate per source in id order,
    // split at fixed token budgets, emit each doc's placement lineage.
    (s, d) => CorpusOps.sequencePack(fixture(s, d, "documents"), col("source"), packBudget,
      col("doc_id"), col("text"))
      .orderBy(col("stratum"), col("doc_id")),
    Some(s"""WITH t AS (
      |  SELECT source, doc_id,
      |         coalesce(CAST(len($WORDS) AS BIGINT), 1) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY source
      |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) AS excl
      |  FROM t)
      |SELECT source AS stratum, doc_id, n_tok,
      |       CAST(floor(excl / $packBudget.0) AS INT) AS seq_first,
      |       CAST(excl % $packBudget AS BIGINT) AS offset_in_seq,
      |       CAST(CAST(floor((excl + n_tok - 1) / $packBudget.0) AS INT)
      |         - CAST(floor(excl / $packBudget.0) AS INT) + 1 AS INT)
      |         AS n_seqs_spanned
      |FROM c ORDER BY stratum, doc_id""".stripMargin))

  // --------------------------------------------- p34 real BPE tokenizer

  /** Expected (tag, doc_id, n_tokens, tokens_md5) rows for p34, computed
   * by an INDEPENDENT Python implementation of the same public algorithm
   * (tools/gen_bpe_fixture.py — rerun it to regenerate) on the sf0.001,
   * sf0.01, AND sf0.1 fixture corpora (the sf0.1 rows close the gap a
   * bench-scale correctness sweep found: the fixture only covered the
   * driver's two gate SFs, so p34/p70 were unverifiable at sf0.1). Embedded as a VALUES table in the oracle
   * SQL: BPE training is iterative and not ANSI-SQL-expressible, so the
   * oracle's token counts/digests come from the second implementation
   * rather than a SQL derivation — two from-scratch implementations of
   * Sennrich BPE agreeing bit-for-bit. */
  private lazy val bpeExpectedValues: String = {
    def rows(tag: String): List[String] = {
      val in = getClass.getResourceAsStream(s"/graft/bpe_expected_$tag.csv")
      require(in != null, s"missing BPE fixture resource for $tag")
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().map { ln =>
        val Array(id, nt, md) = ln.split(',')
        s"('$tag',$id,$nt,'$md')"
      }.toList
      finally in.close()
    }
    (rows("sf0.001") ++ rows("sf0.01") ++ rows("sf0.1")).mkString(",\n")
  }

  /** The real BPE tokenizer's per-doc output, run-scoped (p34 checks it;
   * p70 rolls it up per source). Same pattern as [[lmScored]]: the
   * tokenize pass is the expensive stage of both queries, the first of
   * them in a run builds it, and a production pipeline would
   * checkpoint the token relation between "tokenize" and downstream
   * stages. */
  private def bpeTokens(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:bpe-tokens:$d") {
      // minCount = 2 is part of the QUERY CONTRACT (the standard BPE
      // frequency floor): merges are learned from word types occurring
      // at least twice, pruned DISTRIBUTED before the driver collect,
      // and the independent Python fixture (tools/gen_bpe_fixture.py,
      // MIN_COUNT = 2) replays the same floor — hapax types are still
      // tokenized, they just earn no merges of their own
      graft.pipeline.BpeTokenizer
        .tokenize(fixture(s, d, "documents"), "doc_id", "text", numMerges = 50,
          minCount = 2L).toDF()
    }

  private val p34 = QueryDef(
    // Real byte-pair encoding: merges learned from THIS corpus's word
    // frequencies (one corpus shuffle; the merge loop runs on the
    // vocabulary-sized count table), then applied by rank per partition.
    // Checked two ways: n_tokens/tokens_md5 against the independent
    // Python implementation's fixture (see bpeExpectedValues), and
    // n_words/detok_md5 against a pure SQL derivation (detokenized BPE
    // output must equal the normalized source text — the roundtrip
    // invariant, which DuckDB recomputes without running BPE). The
    // fixture rows are keyed by corpus (text-length-sum discriminator)
    // so the oracle holds at both verification scales.
    (s, d) => bpeTokens(s, d).orderBy(col("doc_id")),
    Some(s"""WITH exp(tag, doc_id, n_tokens, tokens_md5) AS (VALUES
      |$bpeExpectedValues),
      |sel AS (SELECT CASE WHEN sum(len(coalesce(text, ''))) = 153156
      |            THEN 'sf0.001'
      |          WHEN sum(len(coalesce(text, ''))) = 149174
      |            THEN 'sf0.01' ELSE 'sf0.1' END AS tag FROM documents),
      |base AS (SELECT doc_id,
      |    CAST(len(list_filter($WORDS, x -> x <> '')) AS BIGINT) AS n_words,
      |    md5($NORM) AS detok_md5
      |  FROM documents)
      |SELECT b.doc_id, b.n_words, CAST(e.n_tokens AS BIGINT) AS n_tokens,
      |       e.tokens_md5, b.detok_md5
      |FROM base b JOIN exp e
      |  ON e.doc_id = b.doc_id AND e.tag = (SELECT tag FROM sel)
      |ORDER BY b.doc_id""".stripMargin))

  // ------------------------------------------ p47 exact quantiles

  private val p47 = QueryDef(
    // Exact per-source doc-length quantiles by order-statistic selection
    // over the (source, n_chars) histogram — no global sort, ranks in
    // pure integer arithmetic (num·n + den − 1) div den. The oracle
    // takes the OPPOSITE route (full sort + row_number) so parity checks
    // the selection algorithm, not a shared formulation.
    (s, d) => CorpusOps.exactQuantiles(fixture(s, d, "documents"), col("source"),
      col("n_chars"), Seq((1, 2), (9, 10), (99, 100)))
      .orderBy(col("source"), col("q")),
    Some("""WITH q(qnum, qden) AS (VALUES (1, 2), (9, 10), (99, 100)),
      |n AS (SELECT source, count(*) AS n FROM documents
      |      WHERE n_chars IS NOT NULL GROUP BY 1),
      |r AS (SELECT source, n_chars AS v,
      |        row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn
      |      FROM documents WHERE n_chars IS NOT NULL)
      |SELECT r.source, (CAST(floor((CAST(qnum AS DOUBLE) / qden) * 1e4 + 0.5) AS BIGINT) / 1e4) AS q,
      |       n.n AS n,
      |       CAST((qnum * n.n + qden - 1) // qden AS BIGINT) AS rank,
      |       min(r.v) AS value
      |FROM r JOIN n USING (source) CROSS JOIN q
      |WHERE rn >= (qnum * n.n + qden - 1) // qden
      |GROUP BY 1, 2, 3, 4
      |ORDER BY 1, 2""".stripMargin))

  // ------------------------------------------ p48 Bloom membership

  private val p48 = QueryDef(
    // Per-source Bloom filter (m=16384 bits, k=4 double-hashed md5
    // positions) over the source's distinct words, probed with every
    // distinct word of the zh slice against EVERY source's filter:
    // exact membership sits beside the filter verdict, so the oracle
    // proves both the packed bit relation (bit-for-bit) and the
    // no-false-negative invariant (false_negatives must be 0 on every
    // row; false_positives is the filter's honest error mass).
    (s, d) => {
      val m = 16384; val k = 4
      val words = graft.CacheScope.track(fixture(s, d, "documents")
        .select(col("source"),
          explode(graft.pipeline.TextOps.words(
            coalesce(col("text"), lit("")))).as("word"))
        .filter(length(col("word")) > 0).distinct())
      val bits = graft.pipeline.Sketches.bloomBits(
        words, col("source"), col("word"), m, k)
      val zh = fixture(s, d, "documents").where(col("lang") === "zh")
        .select(explode(graft.pipeline.TextOps.words(
          coalesce(col("text"), lit("")))).as("item"))
        .filter(length(col("item")) > 0).distinct()
      val probes = words.select(col("source")).distinct().crossJoin(zh)
      val verdicts = graft.pipeline.Sketches.bloomProbe(
        bits, probes, col("source"), col("item"), m, k)
      val per = verdicts
        .join(words.withColumnRenamed("word", "item")
          .withColumn("present", lit(true)), Seq("source", "item"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("present"), 1L).otherwise(0L)).as("exact_present"),
          sum(when(col("bloom_positive"), 1L).otherwise(0L))
            .as("bloom_positive"),
          sum(when(col("bloom_positive") &&
            !coalesce(col("present"), lit(false)), 1L).otherwise(0L))
            .as("false_positives"),
          sum(when(coalesce(col("present"), lit(false)) &&
            !col("bloom_positive"), 1L).otherwise(0L)).as("false_negatives"))
      val nItems = words.groupBy(col("source"))
        .agg(count(lit(1)).as("n_items"))
      val bitsSet = bits.groupBy(col("source"))
        .agg(sum(bit_count(col("bits"))).cast("long").as("bits_set"))
      per.join(nItems, Seq("source")).join(bitsSet, Seq("source"))
        .orderBy(col("source"))
    },
    Some(s"""WITH dw AS (
      |  SELECT DISTINCT source, w AS word
      |  FROM (SELECT source, unnest($WORDS) AS w FROM documents)
      |  WHERE w <> ''),
      |hh AS (SELECT source, word,
      |         CAST(('0x' || substr(md5(word), 1, 8)) AS UBIGINT) AS h1,
      |         CAST(('0x' || substr(md5(word), 9, 8)) AS UBIGINT) AS h2
      |       FROM dw),
      |pos AS (SELECT source, word,
      |          unnest([(h1 + 0*h2) % 16384, (h1 + 1*h2) % 16384,
      |                  (h1 + 2*h2) % 16384, (h1 + 3*h2) % 16384]) AS pos
      |        FROM hh),
      |bits AS (SELECT source, CAST(pos // 32 AS INT) AS widx,
      |           bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
      |         FROM pos GROUP BY 1, 2),
      |nb AS (SELECT source, count(*) AS n_items FROM dw GROUP BY 1),
      |bs AS (SELECT source, CAST(sum(bit_count(bits)) AS BIGINT) AS bits_set
      |       FROM bits GROUP BY 1),
      |zw AS (SELECT DISTINCT w AS item
      |       FROM (SELECT unnest($WORDS) AS w FROM documents
      |             WHERE lang = 'zh')
      |       WHERE w <> ''),
      |pr AS (SELECT s.source, z.item
      |       FROM (SELECT DISTINCT source FROM dw) s CROSS JOIN zw z),
      |ph AS (SELECT source, item, pos,
      |         CAST(pos // 32 AS INT) AS widx,
      |         CAST(1 AS BIGINT) << CAST(pos % 32 AS INT) AS mask
      |       FROM (SELECT source, item,
      |               unnest([(h1 + 0*h2) % 16384, (h1 + 1*h2) % 16384,
      |                       (h1 + 2*h2) % 16384, (h1 + 3*h2) % 16384]) AS pos
      |             FROM (SELECT source, item,
      |                     CAST(('0x' || substr(md5(item), 1, 8)) AS UBIGINT) AS h1,
      |                     CAST(('0x' || substr(md5(item), 9, 8)) AS UBIGINT) AS h2
      |                   FROM pr))),
      |pj AS (SELECT ph.source, ph.item,
      |         min(CASE WHEN (coalesce(b.bits, 0) & ph.mask) <> 0
      |              THEN 1 ELSE 0 END) AS hit
      |       FROM ph LEFT JOIN bits b
      |         ON b.source = ph.source AND b.widx = ph.widx
      |       GROUP BY 1, 2),
      |ex AS (SELECT source, word AS item, true AS present FROM dw),
      |per AS (
      |  SELECT pj.source,
      |         count(*) AS n_probes,
      |         CAST(sum(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT)
      |           AS exact_present,
      |         CAST(sum(hit) AS BIGINT) AS bloom_positive,
      |         CAST(sum(CASE WHEN hit = 1 AND present IS NULL
      |              THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
      |         CAST(sum(CASE WHEN coalesce(present, false) AND hit = 0
      |              THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives
      |  FROM pj LEFT JOIN ex ON ex.source = pj.source AND ex.item = pj.item
      |  GROUP BY 1)
      |SELECT per.*, nb.n_items, bs.bits_set
      |FROM per JOIN nb ON nb.source = per.source
      |         JOIN bs ON bs.source = per.source
      |ORDER BY per.source""".stripMargin))

  // ------------------------------------------ p49 LM perplexity filter

  private val p49 = QueryDef(
    // CCNet-style bigram-LM quality filter: train add-one-smoothed
    // bigram counts on the English slice, score every doc by perplexity
    // (scaled-integer log-prob sums, so partial-aggregation order can
    // never move the answer), keep the fluent-English tail. Non-English
    // docs surface as high-OOV / high-perplexity — the lang column sits
    // beside the verdict to make that visible.
    (s, d) => lmScored(s, d)
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("oov_bigrams"), col("ppl"), col("keep"))
      .orderBy(col("doc_id")),
    Some(s"""$lmScoreCte
      |SELECT doc_id, lang, n_bigrams, oov_bigrams, ppl,
      |       ppl <= 1500.0 AS keep
      |FROM scored ORDER BY doc_id""".stripMargin))

  /** p49/p57 shared bigram-LM scoring, memoized RUN-scoped: the LM
   * training + per-doc scoring is the expensive stage of both queries
   * (the bucketing half is histogram-scale). Same pattern as the LSH
   * verified-pair relation — the first of them in a run builds it, and
   * a production pipeline would checkpoint the scored relation between
   * its "score" and "route" stages. */
  private def lmScored(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:lm-scored:$d") {
      CorpusOps.lmPerplexity(fixture(s, d, "documents"),
          fixture(s, d, "documents").where(col("lang") === "en"), "doc_id", "text")
        .join(fixture(s, d, "documents").select(col("doc_id"), col("lang"))
          .hint("merge"), Seq("doc_id"))
    }

  /** The p49 bigram-LM scoring pipeline as a reusable oracle CTE ending
   * in `scored(doc_id, lang, n_bigrams, oov_bigrams, ppl)` — shared by
   * p49 (the filter) and p57 (the CCNet bucketing). */
  private lazy val lmScoreCte: String =
    s"""WITH tw AS (SELECT $WORDS AS ws FROM documents
      |         WHERE lang = 'en' AND len($WORDS) >= 2),
      |tu AS (SELECT unnest(ws) AS w FROM tw),
      |c1 AS (SELECT w AS w1, count(*) AS c1 FROM tu GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS vsz FROM tu),
      |tb AS (SELECT unnest(list_transform(range(1, len(ws)),
      |         i -> ws[i] || ' ' || ws[i+1])) AS g FROM tw),
      |cb AS (SELECT g, count(*) AS cb FROM tb GROUP BY 1),
      |dw AS (SELECT doc_id, lang, $WORDS AS ws FROM documents),
      |db AS (SELECT doc_id, lang,
      |         unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
      |         unnest(list_transform(range(1, len(ws)),
      |           i -> ws[i] || ' ' || ws[i+1])) AS g
      |       FROM dw WHERE len(ws) >= 2),
      |sc AS (SELECT doc_id, any_value(lang) AS lang,
      |         count(*) AS n_bigrams,
      |         CAST(sum(CASE WHEN cb.cb IS NULL THEN 1 ELSE 0 END)
      |           AS BIGINT) AS oov_bigrams,
      |         sum(CAST(floor(ln((coalesce(cb.cb, 0) + 1.0) /
      |               (coalesce(c1.c1, 0) + v.vsz)) * 10000.0 + 0.5)
      |             AS BIGINT)) AS lp
      |       FROM db LEFT JOIN cb USING (g) LEFT JOIN c1 USING (w1)
      |       CROSS JOIN v
      |       GROUP BY doc_id),
      |scored AS (SELECT doc_id, lang, n_bigrams, oov_bigrams,
      |         (CAST(floor((exp(-CAST(lp AS DOUBLE) / (10000.0 * n_bigrams))) * 1e2 + 0.5) AS BIGINT) / 1e2)
      |           AS ppl
      |       FROM sc)""".stripMargin

  // ------------------------------------------ p57 CCNet ppl buckets

  private val p57 = QueryDef(
    // CCNet head/middle/tail bucketing (Wenzek 2019 §4.4) on p49's LM
    // scores: per-language VALUE cutoffs at ⌈n/3⌉/⌈2n/3⌉ cumulative
    // ranks over the (lang, ppl) histogram — tied perplexities share a
    // bucket, and no language-wide sort of the corpus runs (the same
    // order-statistic-over-histogram selection as p47). Pure integer
    // rank arithmetic over 2-dp ppl values; the oracle replays it.
    (s, d) => CorpusOps.perplexityBucketsScored(lmScored(s, d),
        "doc_id", "lang")
      .orderBy(col("doc_id")),
    Some(s"""$lmScoreCte,
      |h AS (SELECT lang, ppl, count(*) AS hn FROM scored GROUP BY 1, 2),
      |c AS (SELECT lang, ppl, hn,
      |        sum(hn) OVER (PARTITION BY lang ORDER BY ppl) AS cum,
      |        sum(hn) OVER (PARTITION BY lang) AS n
      |      FROM h),
      |cuts AS (SELECT lang,
      |           min(CASE WHEN cum >= (n + 2) // 3 THEN ppl END) AS t1,
      |           min(CASE WHEN cum >= (2 * n + 2) // 3 THEN ppl END) AS t2
      |         FROM c GROUP BY 1)
      |SELECT s.doc_id, s.lang, s.ppl, cuts.t1, cuts.t2,
      |       CASE WHEN s.ppl <= cuts.t1 THEN 'head'
      |            WHEN s.ppl <= cuts.t2 THEN 'middle'
      |            ELSE 'tail' END AS bucket
      |FROM scored s JOIN cuts USING (lang)
      |ORDER BY s.doc_id""".stripMargin))

  // ------------------------------------------ p53 n-gram overlap report

  private val p53 = QueryDef(
    // Train→test contamination MEASUREMENT (p25 is the removal twin):
    // per test doc (doc_id%10 ≥ 8), the fraction of its distinct
    // 3-grams seen anywhere in the train slice. Integer counts + one
    // 4-dp ratio; the oracle recomputes both gram relations from
    // scratch.
    (s, d) => CorpusOps.ngramOverlap(fixture(s, d, "documents"), "doc_id", "text",
        isTrain = col("doc_id") % 10 < 8, n = 3)
      .orderBy(col("doc_id")),
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents),
      |g AS (SELECT doc_id,
      |        unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gram
      |      FROM w WHERE len(ws) >= 3),
      |tg AS (SELECT DISTINCT gram, true AS seen FROM g WHERE doc_id % 10 < 8),
      |agg AS (
      |  SELECT g.doc_id, count(*) AS n_grams,
      |         CAST(sum(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_overlap
      |  FROM g LEFT JOIN tg USING (gram)
      |  WHERE g.doc_id % 10 >= 8
      |  GROUP BY 1)
      |SELECT doc_id, n_grams, n_overlap,
      |       ${Exact.duckRatio("n_overlap", "n_grams", 4)}
      |         AS overlap_frac
      |FROM agg ORDER BY doc_id""".stripMargin))

  // ------------------------------------------ p55 character entropy

  private val p55 = QueryDef(
    // Shannon entropy of each doc's normalized character distribution —
    // the sub-token gibberish/boilerplate signal beside p29's word
    // rules. Per-element p·ln p e6-quantized before the INTEGER sum
    // (a rounded float sum is partial-aggregation-order-dependent —
    // the p54/p79 class), 4 dp via exact-integer rounding.
    (s, d) => CorpusOps.charEntropy(fixture(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""WITH ch AS (
      |  SELECT doc_id, c FROM (
      |    SELECT doc_id, unnest(string_split($NORM, '')) AS c
      |    FROM documents) t
      |  WHERE c <> ''),
      |cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
      |tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars,
      |          count(*) AS distinct_chars
      |        FROM cnt GROUP BY 1)
      |SELECT cnt.doc_id, any_value(n_chars) AS n_chars,
      |       any_value(distinct_chars) AS distinct_chars,
      |       ((-CAST(sum(CAST(floor((n::DOUBLE / n_chars)
      |           * ln(n::DOUBLE / n_chars) * 1000000.0 + 0.5) AS BIGINT))
      |         AS BIGINT) + 50) // 100)::DOUBLE / 10000 AS entropy
      |FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
      |GROUP BY cnt.doc_id ORDER BY cnt.doc_id""".stripMargin))

  // ------------------------------------------ p56 DDSketch quantiles

  private val ddAlpha = 0.02
  private val ddLnGamma = graft.pipeline.Sketches.lnGammaOf(ddAlpha)
  private val ddGamma = graft.pipeline.Sketches.gammaOf(ddAlpha)

  private val p56 = QueryDef(
    // DDSketch (Masson 2019) relative-error quantiles over the SAME
    // per-source doc-length domain as p47's exact selection — the
    // sketch-vs-exact split of the quantile family (as p40/p43 are for
    // cardinality). Buckets are ⌈ln(x)/lnγ⌉ with both constants embedded
    // as identical double literals on both sides and the ratio rounded
    // to 9 dp, so the oracle rebuilds the bucket relation bit-for-bit;
    // estimates round to 4 dp (the α=2% guarantee is asserted against
    // exact quantiles in SketchSpec).
    (s, d) => {
      val b = graft.pipeline.Sketches.ddBuckets(
        fixture(s, d, "documents"), col("source"), col("n_chars"), ddAlpha)
      graft.pipeline.Sketches.ddQuantiles(b, Seq(0.5, 0.9, 0.99), ddAlpha)
        .orderBy(col("source"), col("q"))
    },
    Some(s"""WITH v AS (
      |  SELECT source, n_chars FROM documents
      |  WHERE n_chars IS NOT NULL AND n_chars > 0),
      |b AS (SELECT source,
      |        CAST(ceil(${Exact.sqlRRow(s"ln(CAST(n_chars AS DOUBLE)) / $ddLnGamma", 9)})
      |          AS BIGINT) AS bucket,
      |        count(*) AS n
      |      FROM v GROUP BY 1, 2),
      |c AS (SELECT source, bucket, n,
      |        sum(n) OVER (PARTITION BY source ORDER BY bucket) AS cum,
      |        sum(n) OVER (PARTITION BY source) AS total
      |      FROM b),
      |qs AS (SELECT unnest([0.5e0, 0.9e0, 0.99e0]) AS q),
      |sel AS (SELECT source, q, min(bucket) AS bucket,
      |          CAST(max(total) AS BIGINT) AS n_values
      |        FROM c CROSS JOIN qs
      |        WHERE cum > floor(q * (total - 1))
      |        GROUP BY source, q)
      |SELECT source, q, bucket,
      |       ${Exact.sqlRRow(s"2.0 * power($ddGamma, bucket) / ${ddGamma + 1}", 4)} AS est,
      |       n_values
      |FROM sel ORDER BY source, q""".stripMargin))

  // ------------------------------------------ p60 DSIR selection

  private val p60 = QueryDef(
    // DSIR (Xie 2023): importance-resampling selection toward the
    // English slice as the target distribution — hashed unigram+bigram
    // bucket models, add-one smoothing, scaled-integer log ratios, and
    // a value cutoff at the 100th-highest score (boundary ties keep).
    // The oracle rebuilds both bucket models, every per-doc score, and
    // the cutoff from scratch.
    (s, d) => CorpusOps.dsirSelect(fixture(s, d, "documents"),
        fixture(s, d, "documents").where(col("lang") === "en"), "doc_id", "text",
        m = 1024, topK = 100)
      .orderBy(col("doc_id")),
    Some(s"""WITH cw AS (SELECT doc_id, lang, $WORDS AS ws FROM documents),
      |cf AS (
      |  SELECT doc_id, lang,
      |         CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) % 1024 AS b
      |  FROM (SELECT doc_id, lang,
      |          unnest(list_concat(ws, list_transform(range(1, len(ws)),
      |            i -> ws[i] || ' ' || ws[i+1]))) AS g
      |        FROM cw) t
      |  WHERE len(g) > 0),
      |q AS (SELECT b, count(*) AS qn FROM cf GROUP BY 1),
      |qt AS (SELECT sum(qn) AS qtot FROM q),
      |t AS (SELECT b, count(*) AS tn FROM cf WHERE lang = 'en' GROUP BY 1),
      |tt AS (SELECT sum(tn) AS ttot FROM t),
      |li AS (SELECT q.b,
      |         CAST(floor(ln(((coalesce(t.tn, 0) + 1.0) * (qt.qtot + 1024)) /
      |           ((q.qn + 1.0) * (tt.ttot + 1024))) * 10000 + 0.5) AS BIGINT)
      |           AS li
      |       FROM q LEFT JOIN t USING (b) CROSS JOIN qt CROSS JOIN tt),
      |sc AS (SELECT doc_id, count(*) AS n_feats, sum(li.li) AS score
      |       FROM cf JOIN li USING (b) GROUP BY 1),
      |h AS (SELECT score, count(*) AS hn FROM sc GROUP BY 1),
      |c AS (SELECT score, sum(hn) OVER (ORDER BY score DESC) AS cum FROM h),
      |cut AS (SELECT max(CASE WHEN cum >= 100 THEN score END) AS cutoff
      |        FROM c)
      |SELECT sc.doc_id, sc.n_feats, CAST(score AS BIGINT) AS score,
      |       (cutoff IS NULL OR score >= cutoff) AS selected
      |FROM sc CROSS JOIN cut ORDER BY sc.doc_id""".stripMargin))

  // ------------------------------------------ p65 percentile quality gate

  private val p65stop: String =
    graft.pipeline.TextOps.stopwordsEn.map(w => s"'$w'").mkString("[", ", ", "]")

  private val p65 = QueryDef(
    // FineWeb-style per-source quality gate: integer-scaled composite
    // quality score, per-source P30 VALUE cutoff by order-statistic
    // selection over the score histogram, keep score ≥ cutoff. The
    // oracle rebuilds the score from the raw text and derives the cutoff
    // by the opposite algorithm (full sort + row_number), so parity
    // checks both the scoring arithmetic and the selection.
    (s, d) => CorpusOps.percentileQualityGate(
        fixture(s, d, "documents").withColumn("text", coalesce(col("text"), lit(""))),
        "doc_id", "text", "source", qnum = 30, qden = 100)
      .orderBy(col("doc_id")),
    Some(s"""WITH f AS (
      |  SELECT doc_id, source, $WORDS AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, source, len(ws) AS n_words,
      |         len(list_filter(ws, x -> list_contains($p65stop, x))) AS stops
      |  FROM f WHERE len(ws) > 0),
      |sc AS (
      |  SELECT doc_id, source,
      |         CAST((2 * (least(n_words, 100) *
      |                (10000 - (2 * stops * 10000 + n_words) // (2 * n_words)))
      |              + 100) // 200 AS BIGINT) AS score
      |  FROM g),
      |n AS (SELECT source, count(*) AS n FROM sc GROUP BY 1),
      |r AS (SELECT source, score,
      |        row_number() OVER (PARTITION BY source ORDER BY score) AS rn
      |      FROM sc),
      |cut AS (SELECT r.source, min(r.score) AS cutoff
      |        FROM r JOIN n USING (source)
      |        WHERE rn >= (30 * n.n + 100 - 1) // 100 GROUP BY 1)
      |SELECT sc.doc_id, sc.source, sc.score, cut.cutoff,
      |       sc.score >= cut.cutoff AS kept
      |FROM sc JOIN cut USING (source) ORDER BY sc.doc_id""".stripMargin))

  // ------------------------------------------ p62 mixture shard plan

  private val p62 = QueryDef(
    // Epoch-weighted mixture + shard plan: en docs ×3, de ×2, everything
    // else ×1, 16 shards, positions from pure md5 order keys — the
    // reproducible "write the training set" stage. The oracle replays
    // every hash and the per-shard position window.
    (s, d) => CorpusOps.mixtureShardPlan(
        fixture(s, d, "documents").withColumn("mix",
          when(col("lang") === "en", "en").when(col("lang") === "de", "de")
            .otherwise("rest")),
        "doc_id", "mix", Map("en" -> 3, "de" -> 2, "rest" -> 1), shards = 16)
      .orderBy(col("shard"), col("pos")),
    Some("""WITH w AS (
      |  SELECT doc_id,
      |         CASE WHEN lang = 'en' THEN 'en'
      |              WHEN lang = 'de' THEN 'de' ELSE 'rest' END AS mix,
      |         CASE WHEN lang = 'en' THEN 3
      |              WHEN lang = 'de' THEN 2 ELSE 1 END AS epochs
      |  FROM documents),
      |x AS (
      |  SELECT doc_id, mix, epochs,
      |         CAST(unnest(range(1, epochs + 1)) AS INT) AS copy
      |  FROM w),
      |k AS (
      |  SELECT doc_id, mix, epochs, copy,
      |         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR))
      |           AS ord_key,
      |         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
      |           CAST(copy AS VARCHAR)), 1, 8)) AS UBIGINT) % 16 AS INT)
      |           AS shard
      |  FROM x)
      |SELECT doc_id, mix, epochs, copy, shard,
      |       CAST(row_number() OVER (
      |         PARTITION BY shard ORDER BY ord_key, doc_id, copy) AS BIGINT)
      |         AS pos,
      |       ord_key
      |FROM k ORDER BY shard, pos""".stripMargin))

  // ------------------------------------------ p66 temperature mixture

  private val p66 = QueryDef(
    // Temperature-scaled mixture weights (mBERT/XLM-R α-sampling with
    // α=1/2 so the weights ride IEEE sqrt, which is correctly rounded on
    // every engine — no libm-pow variance): per-source token mass → raw
    // share vs temperature share (ppm) and the expected slice of a 1M
    // token budget. The oracle replays the arithmetic from the raw text.
    (s, d) => CorpusOps.temperatureMix(fixture(s, d, "documents"), col("source"),
        col("text"), budgetTokens = 1000000L)
      .orderBy(col("grp")),
    Some(s"""WITH m AS (
      |  SELECT source AS grp,
      |         CAST(coalesce(sum(len($WORDS)), 0) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |m2 AS (SELECT grp, n_tokens,
      |         CAST(floor(sqrt(n_tokens) * 1e6 + 0.5) AS BIGINT) AS sq_e6
      |       FROM m),
      |t AS (SELECT sum(n_tokens) AS tot, sum(sq_e6) AS stot_e6 FROM m2)
      |SELECT grp, n_tokens,
      |       CAST(floor(n_tokens / tot * 1e6 + 0.5) AS BIGINT) AS share_ppm,
      |       CAST(floor(sq_e6 / stot_e6 * 1e6 + 0.5) AS BIGINT)
      |         AS temp_share_ppm,
      |       CAST(floor(sq_e6 / stot_e6 * 1000000 + 0.5) AS BIGINT)
      |         AS budget_tokens
      |FROM m2, t ORDER BY grp""".stripMargin))

  // ------------------------------------------ p67 vocabulary stats

  private val p67 = QueryDef(
    // Per-source type/token profile (Heaps'-law report card): types,
    // hapax mass, TTR, and the single-point Heaps exponent — cross-doc
    // template-spam signals the per-doc filters can't see. The oracle
    // rebuilds the (source, word) relation and every ratio from raw text.
    (s, d) => CorpusOps.vocabStats(fixture(s, d, "documents"), col("source"), col("text"))
      .orderBy(col("stratum")),
    Some(s"""WITH w AS (
      |  SELECT source AS stratum,
      |         unnest(list_filter($WORDS, x -> length(x) > 0)) AS w
      |  FROM documents),
      |pw AS (SELECT stratum, w, count(*) AS c FROM w GROUP BY 1, 2),
      |ag AS (
      |  SELECT stratum, CAST(sum(c) AS BIGINT) AS n_tokens,
      |         CAST(count(*) AS BIGINT) AS n_types,
      |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_hapax
      |  FROM pw GROUP BY 1)
      |SELECT stratum, n_tokens, n_types, n_hapax,
      |       (CAST(floor((n_types / CAST(n_tokens AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) / 1e4) AS ttr,
      |       (CAST(floor((n_hapax / CAST(n_types AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) / 1e4) AS hapax_frac,
      |       (CAST(floor((ln(n_types) / ln(n_tokens)) * 1e4 + 0.5) AS BIGINT) / 1e4) AS heaps_beta
      |FROM ag ORDER BY stratum""".stripMargin))

  // ------------------------------------------ p69 fuzzy decontamination

  private val p69 = QueryDef(
    // Llama-2-style fuzzy decontamination: corpus docs whose exact
    // 3-gram Jaccard against ANY benchmark doc (the doc_id % 50 slice,
    // as p25) reaches τ=0.02 — with the contamination DEGREE (max
    // Jaccard, hit count), not p25's binary any-overlap flag. The
    // oracle brute-forces every candidate pair's exact Jaccard.
    (s, d) => {
      val all = fixture(s, d, "documents")
      CorpusOps.jaccardDecontaminate(
        corpus = all.filter(col("doc_id") % 50 =!= 0),
        bench = all.filter(col("doc_id") % 50 === 0),
        idCol = "doc_id", textCol = "text", n = 3, tau = 0.02)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |  FROM w WHERE len(ws) >= 3),
      |ca AS (SELECT doc_id, count(*) AS ca FROM g WHERE doc_id % 50 <> 0 GROUP BY 1),
      |cb AS (SELECT doc_id, count(*) AS cb FROM g WHERE doc_id % 50 = 0 GROUP BY 1),
      |sh AS (
      |  SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS inter
      |  FROM g c JOIN g b ON c.g = b.g
      |   AND c.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT sh.doc_id,
      |         (CAST(floor((inter / CAST(ca.ca + cb.cb - inter AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) / 1e4) AS jac
      |  FROM sh JOIN ca ON ca.doc_id = sh.doc_id
      |          JOIN cb ON cb.doc_id = sh.bench_id)
      |SELECT doc_id, max(jac) AS max_jaccard,
      |       CAST(count(*) AS BIGINT) AS n_bench_hits
      |FROM j WHERE jac >= 0.02 GROUP BY 1 ORDER BY 1""".stripMargin))

  // ------------------------------------------ p70 tokenizer fertility

  private val p70 = QueryDef(
    // Tokenizer fertility report: per-source chars-per-BPE-token and
    // BPE-tokens-per-word from the REAL p34 tokenizer — the
    // tokenizer-efficiency metric multilingual pipelines track per
    // slice (a high-fertility source wastes context length). Token
    // counts on the oracle side come from the INDEPENDENT Python BPE
    // fixture, so the per-source roll-up is checked against a second
    // implementation of the tokenizer, not against the engine itself.
    (s, d) => {
      val tok = bpeTokens(s, d)
        .select(col("doc_id"), col("n_words"), col("n_tokens"))
      fixture(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars"))
        .join(tok.hint("merge"), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_words")).as("sum_words"),
          sum(col("n_tokens")).as("sum_tokens"))
        .select(col("source"), col("n_docs"), col("sum_chars"),
          col("sum_words"), col("sum_tokens"),
          // corpus-scale sums: the overflow-safe split rounding (the
          // naive 2·num·10⁴ form overflows past num ≈ 4.6e14 tokens)
          Exact.ratioCol("sum_chars", "sum_tokens", 4).as("chars_per_token"),
          Exact.ratioCol("sum_tokens", "sum_words", 4).as("tokens_per_word"))
        .orderBy(col("source"))
    },
    Some(s"""WITH exp(tag, doc_id, n_tokens, tokens_md5) AS (VALUES
      |$bpeExpectedValues),
      |sel AS (SELECT CASE WHEN sum(len(coalesce(text, ''))) = 153156
      |            THEN 'sf0.001'
      |          WHEN sum(len(coalesce(text, ''))) = 149174
      |            THEN 'sf0.01' ELSE 'sf0.1' END AS tag FROM documents),
      |base AS (SELECT doc_id, source, n_chars,
      |    CAST(len(list_filter($WORDS, x -> x <> '')) AS BIGINT) AS n_words
      |  FROM documents),
      |j AS (SELECT b.source, b.n_chars, b.n_words, e.n_tokens
      |      FROM base b JOIN exp e
      |        ON e.doc_id = b.doc_id AND e.tag = (SELECT tag FROM sel)),
      |agg AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |         CAST(sum(n_words) AS BIGINT) AS sum_words,
      |         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |  FROM j GROUP BY source)
      |SELECT source, n_docs, sum_chars, sum_words, sum_tokens,
      |       ${Exact.duckRatio("sum_chars", "sum_tokens", 4)}
      |         AS chars_per_token,
      |       ${Exact.duckRatio("sum_tokens", "sum_words", 4)}
      |         AS tokens_per_word
      |FROM agg ORDER BY source""".stripMargin))

  // ------------------------------------------ p72 KMV set operations

  private val p72 = QueryDef(
    // KMV sketch set algebra (Beyer 2007): cross-language distinct
    // 3-gram overlap — |en|, |de|, |en∪de|, Jaccard, |en∩de| — from the
    // two k-min sketches alone. Deterministic md5 hashes make the
    // estimates pure functions of the data, so the oracle rebuilds the
    // sketches and every estimate bit-for-bit; accuracy vs exact is a
    // SketchSpec property.
    (s, d) => graft.pipeline.Sketches.kmvSetOps(
      fixture(s, d, "documents").select(col("lang"),
        explode(graft.pipeline.TextOps.wordNGrams(col("text"), 3)).as("g")),
      col("lang"), col("g"), k = 256, grpA = "en", grpB = "de"),
    Some(s"""WITH w AS (SELECT lang AS g0, $WORDS AS ws FROM documents
      |         WHERE lang IN ('en', 'de')),
      |it AS (
      |  SELECT g0, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS g
      |  FROM w WHERE len(ws) >= 3),
      |h AS (SELECT DISTINCT g0,
      |        CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) AS hv FROM it),
      |r AS (SELECT g0, hv, row_number() OVER (PARTITION BY g0
      |        ORDER BY hv) AS rn FROM h),
      |s AS (SELECT g0, hv FROM r WHERE rn <= 256),
      |agg AS (SELECT g0, count(*) AS n, max(hv) AS kth FROM s GROUP BY g0),
      |u0 AS (SELECT DISTINCT hv FROM s),
      |u AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
      |        FROM u0) WHERE rn <= 256),
      |uk AS (SELECT count(*) AS n_u, max(hv) AS kth_u FROM u),
      |nb AS (SELECT count(*) AS n_both FROM u
      |       WHERE EXISTS (SELECT 1 FROM s WHERE s.g0 = 'en' AND s.hv = u.hv)
      |         AND EXISTS (SELECT 1 FROM s WHERE s.g0 = 'de' AND s.hv = u.hv)),
      |ea AS (SELECT CAST(n AS BIGINT) AS n_a,
      |         CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
      |              ELSE (CAST(floor((255 * 4294967296.0 / kth) * 1e2 + 0.5) AS BIGINT) / 1e2) END AS est_a
      |       FROM agg WHERE g0 = 'en'),
      |eb AS (SELECT CAST(n AS BIGINT) AS n_b,
      |         CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
      |              ELSE (CAST(floor((255 * 4294967296.0 / kth) * 1e2 + 0.5) AS BIGINT) / 1e2) END AS est_b
      |       FROM agg WHERE g0 = 'de'),
      |eu AS (SELECT n_u, CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
      |              ELSE (CAST(floor((255 * 4294967296.0 / kth_u) * 1e2 + 0.5) AS BIGINT) / 1e2) END AS est_union
      |       FROM uk)
      |SELECT 'en' AS grp_a, 'de' AS grp_b, CAST(256 AS INT) AS k,
      |       n_a, n_b, est_a, est_b, est_union,
      |       (CAST(floor((n_both / CAST(n_u AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) / 1e4) AS jaccard_est,
      |       (CAST(floor(((CAST(floor((n_both / CAST(n_u AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) / 1e4) * est_union) * 1e2 + 0.5) AS BIGINT) / 1e2)
      |         AS est_intersection
      |FROM ea, eb, eu, nb""".stripMargin))

  // ------------------------------------------ p73 MLM masking plan

  private val p73 = QueryDef(
    // Deterministic BERT MLM masking plan (15% of positions; 80/10/10
    // [MASK]/random/keep) over the doc_id % 10 slice: every draw is an
    // md5 hash of (doc, pos), the random replacement comes from the
    // doc's own token list by hashed index. The oracle replays every
    // hash decision and the replacement lookup.
    (s, d) => CorpusOps.mlmMaskPlan(
        fixture(s, d, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", maskPct = 15)
      .orderBy(col("doc_id"), col("pos")),
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents
      |         WHERE doc_id % 10 = 0 AND len($WORDS) > 0),
      |p AS (SELECT doc_id, ws,
      |        unnest(list_transform(range(1, len(ws) + 1),
      |          i -> {'pos': i, 'word': ws[i]})) AS pw
      |      FROM w),
      |m AS (SELECT doc_id, ws, CAST(pw.pos AS BIGINT) AS pos,
      |             pw.word AS word
      |      FROM p
      |      WHERE length(pw.word) > 0
      |        AND CAST(('0x' || substr(md5(doc_id::VARCHAR || ':' ||
      |              pw.pos::VARCHAR), 1, 8)) AS UBIGINT) % 100 < 15),
      |a AS (SELECT *, CAST(('0x' || substr(md5(doc_id::VARCHAR || ':' ||
      |              pos::VARCHAR || ':a'), 1, 8)) AS UBIGINT) % 10 AS act
      |      FROM m)
      |SELECT doc_id, pos, word,
      |       CASE WHEN act <= 7 THEN 'mask'
      |            WHEN act = 8 THEN 'random' ELSE 'keep' END AS action,
      |       CASE WHEN act <= 7 THEN '[MASK]'
      |            WHEN act = 9 THEN word
      |            ELSE ws[CAST(CAST(('0x' || substr(md5(doc_id::VARCHAR ||
      |              ':' || pos::VARCHAR || ':r'), 1, 8)) AS UBIGINT)
      |              % len(ws) AS INT) + 1] END AS replacement
      |FROM a ORDER BY doc_id, pos""".stripMargin))

  // ------------------------------------------ p76 span-corruption plan

  private val p76 = QueryDef(
    // T5-style span corruption (CorpusOps.spanCorruptionPlan): hashed
    // span starts + hashed lengths, overlapping draws merged into
    // maximal sentinel spans. The oracle replays every hash draw, takes
    // the inequality-join route for span coverage (vs the engine's
    // explode+equi-join), and rebuilds each span digest with ordered
    // string_agg.
    (s, d) => CorpusOps.spanCorruptionPlan(
        fixture(s, d, "documents"), "doc_id", "text", startPerMil = 50, maxSpan = 5)
      .orderBy(col("doc_id"), col("sentinel")),
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents
      |         WHERE $NORM <> ''),
      |p AS (SELECT doc_id, len(ws) AS n_words,
      |        unnest(list_transform(range(1, len(ws) + 1),
      |          i -> {'pos': i, 'word': ws[i]})) AS pw
      |      FROM w),
      |t AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |             CAST(pw.pos AS BIGINT) AS pos, pw.word AS word
      |      FROM p),
      |st AS (SELECT doc_id, pos, n_words,
      |         1 + CAST(CAST(('0x' || substr(md5(doc_id::VARCHAR || ':' ||
      |               pos::VARCHAR || ':l'), 1, 8)) AS UBIGINT) % 5
      |             AS BIGINT) AS span_len
      |       FROM t
      |       WHERE CAST(('0x' || substr(md5(doc_id::VARCHAR || ':' ||
      |               pos::VARCHAR || ':s'), 1, 8)) AS UBIGINT)
      |             % 1000 < 50),
      |cov AS (SELECT DISTINCT t.doc_id, t.pos
      |        FROM st JOIN t ON t.doc_id = st.doc_id
      |          AND t.pos BETWEEN st.pos
      |              AND least(st.pos + st.span_len - 1, st.n_words)),
      |isl AS (SELECT doc_id, pos,
      |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
      |            AS grp
      |        FROM cov),
      |sp AS (SELECT i.doc_id, i.grp, min(i.pos) AS start_pos,
      |              max(i.pos) AS end_pos, count(*) AS n_tokens,
      |              md5(string_agg(t.word, ' ' ORDER BY i.pos)) AS span_md5
      |       FROM isl i JOIN t ON t.doc_id = i.doc_id AND t.pos = i.pos
      |       GROUP BY 1, 2)
      |SELECT doc_id,
      |       CAST(row_number() OVER (PARTITION BY doc_id
      |         ORDER BY start_pos) - 1 AS BIGINT) AS sentinel,
      |       start_pos, end_pos, n_tokens, span_md5
      |FROM sp ORDER BY doc_id, sentinel""".stripMargin))

  // ------------------------------------------ p78 dedup impact report

  private val p78 = QueryDef(
    // Per-source before/after accounting of exact fingerprint dedup
    // (CorpusOps.dedupImpact): cross-source duplicates charge every
    // source except the global-min-id representative's. kept_ppm is
    // integer division — the oracle replays it with DuckDB's `//`.
    (s, d) => CorpusOps.dedupImpact(fixture(s, d, "documents"), "doc_id", "text", "source")
      .orderBy(col("source")),
    Some(s"""WITH f AS (
      |  SELECT source, doc_id, md5($NORM) AS fp,
      |         CAST(len($WORDS) AS BIGINT) AS n_tok
      |  FROM documents),
      |reps AS (SELECT fp, min(doc_id) AS rep FROM f GROUP BY fp)
      |SELECT source, count(*) AS docs_total,
      |       CAST(sum(CASE WHEN doc_id = rep THEN 1 ELSE 0 END) AS BIGINT)
      |         AS docs_kept,
      |       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
      |       CAST(sum(CASE WHEN doc_id = rep THEN n_tok ELSE 0 END)
      |         AS BIGINT) AS tokens_kept,
      |       CAST(sum(CASE WHEN doc_id = rep THEN n_tok ELSE 0 END)
      |         AS BIGINT) * 1000000
      |         // CAST(sum(n_tok) AS BIGINT) AS kept_ppm
      |FROM f JOIN reps USING (fp)
      |GROUP BY source ORDER BY source""".stripMargin))

  // ------------------------------------------------ p79 BM25 retrieval

  /** BM25 oracle pipeline ending in `r(qid, did, score_e4, rank)` —
   * shared by p79 (the ranking itself) and p82 (the hybrid fusion). */
  private val bm25RankedCte: String =
    s"""tok AS (
      |  SELECT doc_id AS did, unnest($WORDS) AS word FROM documents),
      |tf AS (SELECT did, word, count(*) AS tf FROM tok
      |       WHERE len(word) > 0 GROUP BY 1, 2),
      |dl AS (SELECT did, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
      |                 (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS total_len),
      |qt AS (SELECT doc_id AS qid, unnest(list_distinct($WORDS)) AS word
      |       FROM documents WHERE doc_id < 5),
      |qterms AS (SELECT qid, word FROM qt WHERE len(word) > 0),
      |dfq AS (SELECT word, count(*) AS df FROM tf
      |        WHERE word IN (SELECT DISTINCT word FROM qterms) GROUP BY 1),
      |idfq AS (SELECT word, df,
      |           CAST(floor(ln((2 * s.n_docs + 2) /
      |             CAST(2 * df + 1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      |             AS idf_e6
      |         FROM dfq, stats s),
      |scored AS (
      |  SELECT qid, did, CAST(sum(c_e4) AS BIGINT) AS score_e4
      |  FROM (
      |    SELECT q.qid, t.did,
      |      (2 * (CAST(f.idf_e6 AS HUGEINT) * t.tf * 220 * s.total_len)
      |         + ((t.tf * 10000 + 3000) * CAST(s.total_len AS HUGEINT)
      |            + 9000 * CAST(d.dl AS HUGEINT) * s.n_docs))
      |      // (2 * ((t.tf * 10000 + 3000) * CAST(s.total_len AS HUGEINT)
      |            + 9000 * CAST(d.dl AS HUGEINT) * s.n_docs)) AS c_e4
      |    FROM tf t JOIN qterms q USING (word)
      |         JOIN dl d ON d.did = t.did
      |         JOIN idfq f ON f.word = t.word
      |         CROSS JOIN stats s
      |    WHERE t.did <> q.qid)
      |  GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid
      |        ORDER BY score_e4 DESC, did) AS rank FROM scored)""".stripMargin

  private val p79 = QueryDef(
    // Okapi BM25 top-10 retrieval: docs 0-4 play the query set, the
    // whole corpus is the index. Engine-independent scoring (the
    // exact-integer convention): idf_e6 is the only libm value —
    // materialized once per query-vocab term from one exact integer
    // ratio, quantized 1e-6 — and each per-term contribution is a pure
    // HUGEINT/DECIMAL(38,0) cross-multiplication with explicit
    // (2·num+den) div (2·den) round-half-up, summed as BIGINTs; ties
    // rank by doc id. The oracle rebuilds tf/df/dl and replays the
    // identical integer arithmetic.
    (s, d) => bm25Shared(s, d).orderBy(col("query_id"), col("rank")),
    Some(s"""WITH $bm25RankedCte
      |SELECT qid AS query_id, CAST(rank AS INT) AS rank,
      |       did AS doc_id, score_e4
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))

  /** The BM25 top-10 ranking shared by p79 (the ranking) and p82 (the
   * hybrid fusion), memoized RUN-scoped — the tf/df/dl derivation is the
   * expensive stage of both; a production search stack materializes its
   * index once per corpus snapshot. */
  private def bm25Shared(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:bm25-top10:$d") {
      Retrieval.bm25TopK(fixture(s, d, "documents"),
        fixture(s, d, "documents").filter(col("doc_id") < 5), "doc_id", "text", k = 10)
    }

  // --------------------------------------------- p82 hybrid rank fusion

  private val p82 = QueryDef(
    // Hybrid search: reciprocal-rank fusion (Cormack 2009, c=60) of the
    // BM25 top-10 (lexical) and the brute-force cosine top-10 over the
    // aligned embeddings (semantic) for the same five query docs. Every
    // contribution is the exact integer 10⁹ div (60 + rank), so fusion
    // totals and tie behavior are engine-independent; n_lists exposes
    // whether a hit came from one retriever or both. The oracle replays
    // both rankings AND the fusion arithmetic from scratch — the cosine
    // side on the same e3 integer kernel as the migrated bruteForceTopK
    // (quantize-once codes, sim_e3 DESC / id ranking, NULL zero-norm
    // pairs excluded).
    (s, d) => {
      val bm = bm25Shared(s, d)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val e = fixture(s, d, "embeddings")
      val cos = graft.pipeline.Similarity
        .bruteForceTopK(e.filter(col("vec_id") < 5), e, k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          (col("rank") + 1).as("rank")) // 0-based → 1-based
      Retrieval.rrfFuse(Seq(bm, cos), k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH $bm25RankedCte,
      |cq3 AS (
      |  SELECT vec_id, codes,
      |         CAST(list_sum(list_transform(range(1, 65),
      |           i -> codes[i] * codes[i])) AS BIGINT) AS nsq
      |  FROM (SELECT vec_id, list_transform(embedding,
      |          x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT))
      |          AS codes
      |        FROM embeddings)),
      |qq AS (SELECT vec_id, codes, nsq FROM cq3 WHERE vec_id < 5),
      |cscored AS (
      |  SELECT qq.vec_id AS query_id, c.vec_id AS id,
      |         CASE WHEN qq.nsq = 0 OR c.nsq = 0 THEN NULL ELSE
      |           CAST(floor(CAST(list_sum(list_transform(range(1, 65),
      |             i -> qq.codes[i] * c.codes[i])) AS BIGINT)::DOUBLE
      |             / sqrt(qq.nsq::DOUBLE * c.nsq::DOUBLE) * 1000.0 + 0.5)
      |             AS BIGINT) END AS sim_e3
      |  FROM cq3 c, qq WHERE qq.vec_id <> c.vec_id),
      |cr AS (SELECT query_id, id, row_number() OVER (PARTITION BY query_id
      |         ORDER BY sim_e3 DESC, id) AS rn FROM cscored
      |       WHERE sim_e3 IS NOT NULL),
      |u AS (
      |  SELECT qid AS query_id, did AS doc_id, rank FROM r WHERE rank <= 10
      |  UNION ALL
      |  SELECT query_id, id AS doc_id, rn AS rank FROM cr WHERE rn <= 10),
      |f AS (SELECT query_id, doc_id,
      |        CAST(sum(1000000000 // (60 + rank)) AS BIGINT) AS rrf_e9,
      |        count(*) AS n_lists
      |      FROM u GROUP BY 1, 2),
      |fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |         ORDER BY rrf_e9 DESC, doc_id) AS rank FROM f)
      |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf_e9, n_lists
      |FROM fr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))

  // ------------------------------------- p81 length-bucketed batching

  private val p81 = QueryDef(
    // Dynamic-batching prep: quartile length buckets, batches of 8 cut
    // in (tokens, doc_id) order, per-bucket padding bill in integer
    // ppm. The engine derives the quartile cutoffs by order-statistic
    // selection over the length histogram (p47's machinery); the oracle
    // takes the opposite route — full sort + row_number — then replays
    // the bucket routing, batch cuts, and the padding arithmetic.
    (s, d) => CorpusOps.lengthBucketedBatchPlan(fixture(s, d, "documents"), "doc_id",
      "text", nBuckets = 4, batchSize = 8).orderBy(col("bucket")),
    Some(s"""WITH t AS (SELECT doc_id AS did,
      |           CAST(len($WORDS) AS BIGINT) AS tokens FROM documents),
      |n AS (SELECT count(*) AS n FROM t),
      |r AS (SELECT tokens, row_number() OVER (ORDER BY tokens) AS rn FROM t),
      |q(i) AS (VALUES (1), (2), (3)),
      |cuts AS (
      |  SELECT i, min(tokens) AS cut
      |  FROM r CROSS JOIN n JOIN q ON rn >= (i * n.n + 3) // 4
      |  GROUP BY i),
      |b AS (SELECT did, tokens,
      |        (SELECT count(*) FROM cuts WHERE t2.tokens > cut) AS bucket
      |      FROM t t2),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY bucket
      |         ORDER BY tokens, did) AS rk FROM b),
      |bt AS (SELECT bucket, (rk - 1) // 8 AS batch, count(*) AS bn,
      |         max(tokens) AS mx, sum(tokens) AS rt
      |       FROM rk GROUP BY 1, 2)
      |SELECT CAST(bucket AS INT) AS bucket,
      |       CAST(sum(bn) AS BIGINT) AS n_docs,
      |       count(*) AS n_batches,
      |       CAST(sum(rt) AS BIGINT) AS real_tokens,
      |       CAST(sum(mx * bn) AS BIGINT) AS padded_tokens,
      |       CAST((sum(mx * bn) - sum(rt)) * 1000000 // sum(mx * bn)
      |         AS BIGINT) AS waste_ppm
      |FROM bt GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The NB score relation p85 and p114 share, memoized RUN-scoped (the
   * lmScored pattern): one scoring pass — the expensive stage of both —
   * per run. */
  private def nbScoredShared(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:nb-scored:$d") {
      CorpusOps.nbScores(fixture(s, d, "documents"), "doc_id", "text", "lang")
    }

  /** Shared NB oracle CTEs (through `score`): materializes the same
   * ×10⁴-integer log-likelihood relation the engine's nbScored builds by
   * algebra — used by p85 (argmax) and p114 (margin calibration). Lazy
   * for the same init-order reason as langCase. */
  private lazy val nbScoreCtes: String =
    s"""tok AS (
      |  SELECT doc_id, lang,
      |         unnest(list_filter($WORDS, w -> length(w) > 0)) AS w
      |  FROM documents),
      |nd AS (SELECT lang AS lab, count(*) AS n_docs FROM documents
      |       GROUP BY 1),
      |ntot AS (SELECT count(*) AS n_total FROM documents),
      |tots AS (SELECT lang AS lab, count(*) AS tot FROM tok GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS vsz FROM tok),
      |lab AS (
      |  SELECT nd.lab, tots.tot,
      |         CAST(floor(ln(nd.n_docs * 1.0 / ntot.n_total) * 10000 + 0.5)
      |           AS BIGINT) AS prior_lp,
      |         CAST(floor(ln(1.0 / (tots.tot + v.vsz)) * 10000 + 0.5)
      |           AS BIGINT) AS slp0
      |  FROM nd, tots, ntot, v WHERE tots.lab = nd.lab),
      |wl AS (SELECT lang AS lab, w, count(*) AS c FROM tok GROUP BY 1, 2),
      |model AS (
      |  SELECT wl.lab, wl.w,
      |         CAST(floor(ln((wl.c + 1.0) / (lab.tot + v.vsz)) * 10000 + 0.5)
      |           AS BIGINT) - lab.slp0 AS dlp
      |  FROM wl, lab, v WHERE wl.lab = lab.lab),
      |ntok AS (
      |  SELECT doc_id, lang AS actual,
      |         len(list_filter($WORDS, w -> length(w) > 0)) AS n_tok
      |  FROM documents),
      |delta AS (
      |  SELECT t.doc_id, m.lab, CAST(sum(m.dlp) AS BIGINT) AS d
      |  FROM tok t JOIN model m ON m.w = t.w GROUP BY 1, 2),
      |score AS (
      |  SELECT nt.doc_id, nt.actual, l.lab,
      |         l.prior_lp + nt.n_tok * l.slp0 + coalesce(d.d, 0) AS sc
      |  FROM ntok nt CROSS JOIN lab l
      |  LEFT JOIN delta d ON d.doc_id = nt.doc_id AND d.lab = l.lab)""".stripMargin

  private val p85 = QueryDef(
    // Multinomial Naive Bayes language classifier, trained on the
    // corpus's own lang labels and applied back to every document
    // (add-one smoothing; ×10⁴-integer log-likelihoods summed per
    // (doc, label); ties to the smaller label). The engine computes
    // absent-word mass by algebra (n_tok·lp₀ + present deltas); the
    // oracle materializes the same scores from the raw (label, word)
    // counts with the identical rounding — two independent routes to
    // the same integer argmax.
    (s, d) => CorpusOps.naiveBayesClassifyFrom(nbScoredShared(s, d),
      "doc_id", "lang").orderBy(col("doc_id")),
    Some(s"""WITH $nbScoreCtes,
      |rk AS (SELECT *, row_number() OVER (
      |         PARTITION BY doc_id ORDER BY sc DESC, lab) AS rn
      |       FROM score)
      |SELECT doc_id, actual AS lang, lab AS pred_label,
      |       CAST(sc AS BIGINT) AS score, (lab = actual) AS correct
      |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  /** P114 — NB margin-calibration audit: confidence proxy = the integer
   * score margin between the best and second-best label (no exp/softmax
   * — libm exp rounding differs between engines), bucketed at 2.0-nat
   * width (20000 e4-log units) capped at bucket 10; per bucket, doc
   * count and exact-PPM accuracy. The audit a margin-gated curation
   * stage needs before a confidence threshold gates data. */
  private val p114 = QueryDef(
    (s, d) => CorpusOps.nbMarginCalibrationFrom(nbScoredShared(s, d),
      bucketWidth = 20000L, maxBucket = 10L),
    Some(s"""WITH $nbScoreCtes,
      |rk AS (SELECT *, row_number() OVER (
      |         PARTITION BY doc_id ORDER BY sc DESC, lab) AS rn
      |       FROM score),
      |top2 AS (
      |  SELECT a.doc_id, (a.lab = a.actual) AS ok, a.sc - b.sc AS margin
      |  FROM rk a JOIN rk b ON a.doc_id = b.doc_id
      |    AND a.rn = 1 AND b.rn = 2),
      |bkt AS (SELECT doc_id, ok,
      |          least(margin // 20000, 10) AS margin_bucket
      |        FROM top2)
      |SELECT CAST(margin_bucket AS BIGINT) AS margin_bucket,
      |       count(*) AS n_docs,
      |       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_correct,
      |       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) * 1000000 //
      |            count(*) AS BIGINT) AS accuracy_ppm
      |FROM bkt GROUP BY margin_bucket
      |ORDER BY margin_bucket""".stripMargin))

  private val p88 = QueryDef(
    // Z-order layout plan: 4-bit value buckets per dimension (chars,
    // tokens) bit-interleaved into a Morton key, files = 16 key ranges,
    // per-file zone-map report. The oracle replays the bucket clamp,
    // the bit interleave, and the per-file min/max spans with DuckDB's
    // own bit operators.
    (s, d) => CorpusOps.zorderLayout(fixture(s, d, "documents"), "doc_id", "text",
      "n_chars"),
    Some(s"""WITH dims AS (
      |  SELECT doc_id, CAST(n_chars AS BIGINT) AS nc,
      |         CAST(len(list_filter($WORDS, w -> length(w) > 0))
      |           AS BIGINT) AS nt
      |  FROM documents),
      |bk AS (
      |  SELECT doc_id, nc, nt,
      |         least(15, greatest(0, nc // 40)) AS bx,
      |         least(15, greatest(0, nt // 20)) AS by
      |  FROM dims),
      |z AS (
      |  SELECT doc_id, nc, nt,
      |         (((bx >> 0) & 1) << 1) + (((by >> 0) & 1) << 0) +
      |         (((bx >> 1) & 1) << 3) + (((by >> 1) & 1) << 2) +
      |         (((bx >> 2) & 1) << 5) + (((by >> 2) & 1) << 4) +
      |         (((bx >> 3) & 1) << 7) + (((by >> 3) & 1) << 6) AS zkey
      |  FROM bk)
      |SELECT zkey // 16 AS file_id, count(*) AS n_docs,
      |       count(DISTINCT zkey) AS n_zkeys,
      |       min(nc) AS chars_min, max(nc) AS chars_max,
      |       min(nt) AS toks_min, max(nt) AS toks_max,
      |       max(nc) - min(nc) AS chars_span,
      |       max(nt) - min(nt) AS toks_span
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin))

  private val p93 = QueryDef(
    // Source-mixture diversity report: doc/token mass per source in
    // exact integer PPM plus the per-source Shannon contribution
    // −p·ln p (4-dp round — the charEntropy precedent for the one libm
    // call). The oracle rebuilds token counts from raw text and replays
    // the share arithmetic.
    (s, d) => CorpusOps.sourceDiversity(fixture(s, d, "documents"), "source", "text")
      .orderBy(col("source")),
    Some(s"""WITH ps AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(len($WORDS)) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
      |               CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM ps)
      |SELECT source, n_docs, n_tokens,
      |       CAST(n_docs * 1000000 // t_docs AS BIGINT) AS doc_ppm,
      |       CAST(n_tokens * 1000000 // t_tokens AS BIGINT) AS token_ppm,
      |       (CAST(floor((-(n_tokens::DOUBLE / t_tokens) *
      |         ln(n_tokens::DOUBLE / t_tokens)) * 1e4 + 0.5) AS BIGINT) / 1e4) AS entropy_contrib
      |FROM ps, tot ORDER BY source""".stripMargin))

  private val p94 = QueryDef(
    // Cross-source 5-gram overlap matrix: distinct shared grams per
    // source pair + both asymmetric containment PPMs — which crawls are
    // re-crawling each other. The oracle rebuilds the distinct
    // (gram, source) relation and brute-counts every pair.
    (s, d) => CorpusOps.sourceGramOverlap(fixture(s, d, "documents"), "source", "text", n = 5)
      .orderBy(col("source_a"), col("source_b")),
    Some(s"""WITH w AS (SELECT doc_id, source, $WORDS AS ws FROM documents),
      |g AS (
      |  SELECT source,
      |         unnest(list_distinct(list_transform(range(1, len(ws) - 3),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
      |                || ws[i+3] || ' ' || ws[i+4]))) AS gram
      |  FROM w WHERE len(ws) >= 5),
      |gs AS (SELECT DISTINCT source, gram FROM g),
      |sz AS (SELECT source, count(*) AS sz FROM gs GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         count(*) AS shared_grams
      |  FROM gs a JOIN gs b ON a.gram = b.gram AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, shared_grams,
      |       sa.sz AS grams_a, sb.sz AS grams_b,
      |       CAST(shared_grams * 1000000 // sa.sz AS BIGINT) AS contain_a_ppm,
      |       CAST(shared_grams * 1000000 // sb.sz AS BIGINT) AS contain_b_ppm
      |FROM pairs
      |JOIN sz sa ON pairs.source_a = sa.source
      |JOIN sz sb ON pairs.source_b = sb.source
      |ORDER BY source_a, source_b""".stripMargin))

  private val p96 = QueryDef(
    // RAG sliding-window chunk plan: 32-token windows every 24 tokens
    // (8-token overlap), per-chunk spans + md5 digests. Zero-shuffle
    // in-row explode; the oracle replays the slice arithmetic with
    // DuckDB's inclusive-bound list_slice.
    (s, d) => CorpusOps.chunkOverlapPlan(fixture(s, d, "documents"), "doc_id", "text",
        window = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents),
      |n AS (SELECT doc_id, ws, len(ws) AS n_tok FROM w),
      |c AS (SELECT doc_id, ws, n_tok,
      |             unnest(range(0, (n_tok - 1) // 24 + 1)) AS chunk_idx
      |      FROM n)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |       CAST(chunk_idx * 24 AS BIGINT) AS start_tok,
      |       CAST(least(32, n_tok - chunk_idx * 24) AS BIGINT) AS chunk_len,
      |       md5(array_to_string(list_slice(ws, chunk_idx * 24 + 1,
      |         least(chunk_idx * 24 + 32, n_tok)), ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin))

  private val p97 = QueryDef(
    // Integer Flesch readability: sentences from terminal-punctuation
    // runs in the raw text, syllables = the doc's total vowel-group
    // runs floored at the word count (doc-level floor), reading ease
    // ×10³ via floored integer divisions only. The oracle recomputes
    // every count and quotient from the raw text.
    (s, d) => CorpusOps.readability(fixture(s, d, "documents"), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some(s"""WITH b AS (
      |  SELECT doc_id,
      |         CAST(len($WORDS) AS BIGINT) AS n_words,
      |         greatest(1, CAST(len(regexp_extract_all(coalesce(text, ''),
      |           '[.!?]+')) AS BIGINT)) AS n_sentences,
      |         CAST(len(regexp_extract_all($NORM, '[aeiouy]+'))
      |           AS BIGINT) AS vowel_runs
      |  FROM documents),
      |s AS (SELECT doc_id, n_words, n_sentences,
      |             greatest(n_words, vowel_runs) AS n_syllables
      |      FROM b)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |       CAST(206835 - (1015 * n_words) // n_sentences
      |         - (84600 * n_syllables) // n_words AS BIGINT) AS flesch_e3
      |FROM s ORDER BY doc_id""".stripMargin))

  private val p101 = QueryDef(
    // k-anonymity audit over (lang, source, 100-char size bucket):
    // combination counts + at-risk flag (k=5). Pure hash aggregate; the
    // oracle is the literal SQL.
    (s, d) => CorpusOps.kAnonymityAudit(fixture(s, d, "documents"),
        Seq(col("lang"), col("source")), expr("n_chars div 100"), k = 5)
      .orderBy(col("lang"), col("source"), col("bucket")),
    Some("""SELECT lang, source, n_chars // 100 AS bucket,
      |       count(*) AS n_docs, count(*) < 5 AS at_risk
      |FROM documents GROUP BY 1, 2, 3
      |ORDER BY lang, source, bucket""".stripMargin))

  private val p102 = QueryDef(
    // Per-source Zipf exponent by two-point fit at reference rank 16
    // (rank by count desc, word tie-break); ln quotient rounded 4 dp
    // (the p67 heaps_beta convention). The oracle re-derives the rank
    // with its own window.
    (s, d) => CorpusOps.zipfFit(fixture(s, d, "documents"), col("source"), col("text"),
        refRank = 16)
      .select(col("stratum").as("source"), col("n_types"), col("c1"),
        col("c_ref"), col("zipf_s"))
      .orderBy(col("source")),
    Some(s"""WITH w AS (
      |  SELECT source, unnest($WORDS) AS w FROM documents),
      |pw AS (SELECT source, w, count(*) AS c FROM w
      |       WHERE length(w) > 0 GROUP BY source, w),
      |st AS (SELECT source, count(*) AS n_types, max(c) AS c1
      |       FROM pw GROUP BY source),
      |rk AS (SELECT source, c,
      |              row_number() OVER (PARTITION BY source
      |                ORDER BY c DESC, w) AS rk
      |       FROM pw)
      |SELECT st.source, CAST(n_types AS BIGINT) AS n_types,
      |       CAST(c1 AS BIGINT) AS c1, CAST(rk.c AS BIGINT) AS c_ref,
      |       (CAST(floor((ln(c1 / (rk.c)::DOUBLE) / ln(16)) * 1e4 + 0.5) AS BIGINT) / 1e4) AS zipf_s
      |FROM st JOIN rk ON st.source = rk.source AND rk.rk = 16
      |ORDER BY st.source""".stripMargin))

  private val p103 = QueryDef(
    // Poisson-bootstrap 95% CI for the mean token count (Chamandy
    // 2012): 64 deterministic hash-derived Poisson(1) weights per doc,
    // replica means as exact ×10⁶ integers, CI = order statistics of
    // the replica means. The oracle redraws every weight from the SAME
    // scaled-integer CDF thresholds and replays the ranks.
    (s, d) => CorpusOps.bootstrapCi(fixture(s, d, "documents"), "doc_id", "text",
      replicas = 64),
    Some {
      val ths = CorpusOps.poissonThresholds32
      val wExpr = ths.map(t => s"CASE WHEN u32 >= $t THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH base AS (
        |  SELECT doc_id AS id, CAST(len($WORDS) AS BIGINT) AS tok
        |  FROM documents),
        |rep AS (
        |  SELECT id, tok, unnest(range(0, 64)) AS rep FROM base),
        |u AS (SELECT id, tok, rep,
        |             CAST(CAST(('0x' || substr(md5(id::VARCHAR || ':' || rep::VARCHAR),
        |               1, 8)) AS UBIGINT) AS BIGINT) AS u32
        |      FROM rep),
        |wts AS (SELECT id, tok, rep, CAST($wExpr AS BIGINT) AS w FROM u),
        |mn AS (SELECT rep,
        |              CAST(sum(w * tok) * 1000000 // sum(w) AS BIGINT) AS mean_e6
        |       FROM wts GROUP BY rep HAVING sum(w) > 0),
        |rk AS (SELECT mean_e6,
        |              row_number() OVER (ORDER BY mean_e6, rep) AS rk,
        |              count(*) OVER () AS m
        |       FROM mn),
        |tot AS (SELECT count(*) AS n_docs,
        |                CAST(sum(tok) * 1000000 // count(*) AS BIGINT) AS mean_e6
        |         FROM base)
        |SELECT tot.n_docs, CAST(lo.m AS BIGINT) AS n_replicas, tot.mean_e6,
        |       lo.mean_e6 AS ci_lo_e6, hi.mean_e6 AS ci_hi_e6
        |FROM tot
        |CROSS JOIN (SELECT mean_e6, m FROM rk
        |            WHERE rk = (m * 25 + 999) // 1000) lo
        |CROSS JOIN (SELECT mean_e6 FROM rk
        |            WHERE rk = (m * 975 + 999) // 1000) hi""".stripMargin
    })

  private val p104 = QueryDef(
    // Exact Spearman ρ per source between document length (chars) and
    // token count — declared (value, doc_id) tie-break makes both rank
    // sequences permutations, so ρ×10⁶ is one integer division. The
    // oracle replays both rank windows and the rational.
    (s, d) => CorpusOps.spearman(fixture(s, d, "documents"), col("source"),
        col("n_chars"),
        graft.pipeline.TextOps.tokenCount(coalesce(col("text"), lit(""))),
        col("doc_id"))
      .select(col("stratum").as("source"), col("n"), col("sum_d2"),
        col("rho_e6"))
      .orderBy(col("source")),
    Some(s"""WITH b AS (
      |  SELECT source, n_chars AS x, CAST(len($WORDS) AS BIGINT) AS y,
      |         doc_id AS id
      |  FROM documents),
      |r AS (SELECT source,
      |             CAST(row_number() OVER (PARTITION BY source
      |               ORDER BY x, id) AS BIGINT) AS rx,
      |             CAST(row_number() OVER (PARTITION BY source
      |               ORDER BY y, id) AS BIGINT) AS ry
      |      FROM b),
      |a AS (SELECT source, count(*) AS n,
      |             CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
      |      FROM r GROUP BY source)
      |SELECT source, n, sum_d2,
      |       CAST(1000000 - 6 * sum_d2 * 1000000 // (n * (n * n - 1))
      |         AS BIGINT) AS rho_e6
      |FROM a WHERE n >= 2 ORDER BY source""".stripMargin))

  private val p105 = QueryDef(
    // Rank-sum (Mann–Whitney one-vs-rest) audit of each source's doc
    // length profile: exact integer U from one global (n_chars, doc_id)
    // ranking, normalized to PPM of its max. Oracle replays the rank
    // window and the arithmetic.
    (s, d) => CorpusOps.rankSumAudit(fixture(s, d, "documents"), col("source"),
        col("n_chars"), col("doc_id"))
      .select(col("stratum").as("source"), col("n"), col("rank_sum"),
        col("u_stat"), col("u_max"), col("u_ppm"))
      .orderBy(col("source")),
    Some("""WITH r0 AS (SELECT source, n_chars, doc_id FROM documents),
      |wr AS (SELECT source,
      |              CAST(row_number() OVER (ORDER BY n_chars, doc_id)
      |                AS BIGINT) AS r
      |       FROM r0),
      |u AS (SELECT source, count(*) AS n,
      |             2 * CAST(sum(r) AS HUGEINT) AS rank_sum2
      |      FROM wr GROUP BY source),
      |t2 AS (SELECT sum(n) AS n_all FROM u),
      |fin AS (SELECT source, n, rank_sum2,
      |               rank_sum2 - CAST(n AS HUGEINT) * (n + 1) AS u2,
      |               CAST(n AS HUGEINT) * (n_all - n) AS u_max_dec
      |        FROM u, t2)
      |SELECT source, n,
      |       CAST(rank_sum2 // 2 AS BIGINT) AS rank_sum,
      |       CAST(u2 // 2 AS BIGINT) AS u_stat,
      |       CAST(u_max_dec AS BIGINT) AS u_max,
      |       CAST(CASE WHEN u_max_dec > 0
      |                 THEN (u2 * 500000) // u_max_dec
      |                 ELSE 500000 END AS BIGINT) AS u_ppm
      |FROM fin ORDER BY source""".stripMargin))

  private val p121 = QueryDef(
    // Exact per-source ROC-AUC of the en-stopword-density score (hits
    // per token, integer PPM) against the corpus's own lang == 'en'
    // label — the threshold-free audit of the p10/p113 language
    // classifier family, by the Mann–Whitney identity with average-rank
    // ties over the score histogram (no row-scale sort). The oracle
    // rebuilds score, label, histogram, and the doubled-rank arithmetic
    // from the raw text.
    (s, d) => {
      val ws = graft.pipeline.TextOps.words(coalesce(col("text"), lit("")))
      val hits = size(filter(ws,
        w => w.isin(graft.pipeline.TextOps.stopwordsEn.map(lit): _*)))
      CorpusOps.aucAudit(
        fixture(s, d, "documents")
          .withColumn("hits_c", hits)
          .withColumn("ntok_c", size(ws))
          .withColumn("score", expr(
            "(CAST(hits_c AS BIGINT) * 1000000) div (ntok_c + 1)")),
        col("source"), col("score"), col("lang") === "en")
        .select(col("stratum").as("source"), col("n_pos"), col("n_neg"),
          col("auc_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""WITH b AS (
      |  SELECT source, lang = 'en' AS pos,
      |         CAST(len(list_filter($WORDS,
      |           w -> list_contains($p65stop, w))) AS BIGINT) AS hits,
      |         CAST(len($WORDS) AS BIGINT) AS ntok
      |  FROM documents),
      |s AS (SELECT source AS g, pos,
      |             (hits * 1000000) // (ntok + 1) AS sc FROM b),
      |h AS (SELECT g, sc, count(*) AS c,
      |             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
      |               AS p
      |      FROM s GROUP BY 1, 2),
      |cu AS (SELECT g, sc, c, p,
      |              sum(c) OVER (PARTITION BY g ORDER BY sc) - c
      |                AS cum_before
      |       FROM h),
      |a AS (SELECT g, CAST(sum(p) AS BIGINT) AS n_pos,
      |             CAST(sum(c - p) AS BIGINT) AS n_neg,
      |             CAST(sum(CAST(p AS HUGEINT) * (2 * cum_before + c + 1))
      |               AS HUGEINT) AS r2
      |      FROM cu GROUP BY g)
      |SELECT g AS source, n_pos, n_neg,
      |       CAST(CASE WHEN n_pos > 0 AND n_neg > 0
      |            THEN ((r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1))
      |                  * 500000)
      |                 // (CAST(n_pos AS HUGEINT) * n_neg) END
      |         AS BIGINT) AS auc_ppm
      |FROM a ORDER BY source""".stripMargin))

  private val p106 = QueryDef(
    // Exact two-sample KS statistic per source (vs the rest of the
    // corpus) over the n_chars histogram: D×10⁶ by integer
    // cross-multiplication, plus the value where the max gap sits
    // (ties → smallest value). Oracle rebuilds the grid and both
    // cumulative ECDFs.
    (s, d) => CorpusOps.ksAudit(fixture(s, d, "documents"), col("source"), col("n_chars"))
      .select(col("stratum").as("source"), col("n"), col("d_ppm"),
        col("d_at_value"))
      .orderBy(col("source")),
    Some("""WITH h AS (
      |  SELECT source AS s, n_chars AS v, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |tt AS (SELECT s, sum(c) AS n_s FROM h GROUP BY s),
      |na AS (SELECT sum(c) AS n_all FROM h),
      |vals AS (SELECT DISTINCT v FROM h),
      |ca AS (SELECT v, sum(g) OVER (ORDER BY v) AS cum_all
      |       FROM (SELECT v, sum(c) AS g FROM h GROUP BY v)),
      |grid AS (
      |  SELECT tt.s, tt.n_s, vals.v, coalesce(h.c, 0) AS c
      |  FROM tt CROSS JOIN vals
      |  LEFT JOIN h ON h.s = tt.s AND h.v = vals.v),
      |cs AS (SELECT s, n_s, v,
      |              sum(c) OVER (PARTITION BY s ORDER BY v) AS cum_s
      |       FROM grid),
      |dd AS (SELECT cs.s, cs.n_s, cs.v,
      |              abs(cs.cum_s * (na.n_all - cs.n_s)
      |                - (ca.cum_all - cs.cum_s) * cs.n_s) AS diff_num,
      |              cs.n_s * (na.n_all - cs.n_s) AS denom
      |       FROM cs JOIN ca ON cs.v = ca.v CROSS JOIN na),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY s
      |                 ORDER BY diff_num DESC, v) AS rn
      |       FROM dd)
      |SELECT s AS source, CAST(n_s AS BIGINT) AS n,
      |       CAST(diff_num * 1000000 // denom AS BIGINT) AS d_ppm,
      |       CAST(v AS BIGINT) AS d_at_value
      |FROM rk WHERE rn = 1 AND denom > 0 ORDER BY source""".stripMargin))

  private val p107 = QueryDef(
    // One-row corpus data card (the Datasheets-for-Datasets summary a
    // release ships): volume, composition, duplication, central
    // tendency — every number an exact integer, the median via the
    // order-statistic histogram (oracle: full sort, the opposite
    // algorithm).
    (s, d) => {
      val doc = fixture(s, d, "documents")
      val base = doc.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(graft.pipeline.TextOps.tokenCount(coalesce(col("text"), lit("")))
          .cast("long")).as("n_tokens"),
        (count(lit(1)) - countDistinct(md5(col("text").cast("binary"))))
          .as("dup_docs"))
        .withColumn("mean_tokens_e6",
          expr("(n_tokens * 1000000) div n_docs"))
      val med = graft.pipeline.CorpusOps.exactQuantiles(doc, lit("all"),
          col("n_chars"), Seq((1, 2)))
        .select(col("value").as("median_chars"))
      base.crossJoin(broadcast(med))
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("n_tokens"), col("dup_docs"), col("mean_tokens_e6"),
          col("median_chars"))
    },
    Some(s"""WITH b AS (
      |  SELECT count(*) AS n_docs,
      |         count(DISTINCT source) AS n_sources,
      |         count(DISTINCT lang) AS n_langs,
      |         CAST(sum(len($WORDS)) AS BIGINT) AS n_tokens,
      |         count(*) - count(DISTINCT md5(text)) AS dup_docs
      |  FROM documents),
      |m AS (SELECT v AS median_chars FROM (
      |        SELECT n_chars AS v,
      |               row_number() OVER (ORDER BY n_chars) AS rn,
      |               count(*) OVER () AS n
      |        FROM documents) t
      |      WHERE rn = (n + 1) // 2 LIMIT 1)
      |SELECT n_docs, n_sources, n_langs, n_tokens, dup_docs,
      |       CAST(n_tokens * 1000000 // n_docs AS BIGINT) AS mean_tokens_e6,
      |       median_chars
      |FROM b, m""".stripMargin))

  private val p116 = QueryDef(
    // Negative-sampling table (word2vec shape): per-word integer ranges
    // proportional to capped frequency (cap 64 — the integer-exact
    // smoothing stand-in), 16 deterministic md5-derived probes resolved
    // by range lookup. The oracle rebuilds the ranges with its own
    // window and replays every probe, so both the table AND the lookup
    // mechanics are checked.
    (s, d) => CorpusOps.samplingTable(fixture(s, d, "documents"), "text", cap = 64L,
      nProbes = 16),
    Some(s"""WITH u AS (
      |  SELECT unnest(list_filter($WORDS, x -> length(x) > 0)) AS w
      |  FROM documents),
      |c AS (SELECT w, count(*) AS c, least(count(*), 64) AS wt
      |      FROM u GROUP BY w),
      |r AS (SELECT w, c, wt,
      |             CAST(sum(wt) OVER (ORDER BY w
      |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_range
      |      FROM c),
      |rr AS (SELECT w, c, wt, end_range,
      |              end_range - wt AS start_range FROM r),
      |t AS (SELECT max(end_range) AS t FROM rr),
      |p AS (SELECT i AS probe_id,
      |        CAST(CAST(('0x' || substr(md5('probe:' || CAST(i AS VARCHAR)),
      |          1, 8)) AS UBIGINT) % t AS BIGINT) AS u
      |      FROM range(0, 16) s(i), t)
      |SELECT p.probe_id, p.u, rr.w AS word, CAST(rr.c AS BIGINT) AS c,
      |       CAST(rr.wt AS BIGINT) AS wt, rr.start_range, rr.end_range
      |FROM p JOIN rr ON rr.start_range <= p.u AND p.u < rr.end_range
      |ORDER BY p.probe_id""".stripMargin))

  private val p115 = QueryDef(
    // MAD robust outlier audit over per-doc token counts, per source:
    // exact lower medians via the histogram order-statistic path (p47's
    // machinery, applied twice), outliers beyond 3·MAD. The oracle takes
    // the opposite algorithm — full sort + row_number — for BOTH
    // medians, so parity checks the selection, not a shared formulation.
    // text coalesced so a NULL-text doc counts 1 pseudo-token like the
    // oracle's $WORDS (a null would silently DROP the doc from the
    // quantile domain — the p23/p41 latent-divergence pattern)
    (s, d) => CorpusOps.madOutliers(fixture(s, d, "documents"), "source",
      graft.pipeline.TextOps.tokenCount(coalesce(col("text"), lit("")))
        .cast("long"), k = 3L),
    Some(s"""WITH b AS (
      |  SELECT source, doc_id, len($WORDS) AS tc FROM documents),
      |m AS (SELECT source, tc AS med FROM (
      |    SELECT source, tc,
      |           row_number() OVER (PARTITION BY source ORDER BY tc) AS rn,
      |           count(*) OVER (PARTITION BY source) AS n
      |    FROM b) WHERE rn = (n + 1) // 2),
      |d AS (SELECT b.source, b.doc_id, abs(b.tc - m.med) AS ad, m.med
      |      FROM b JOIN m USING (source)),
      |md AS (SELECT source, ad AS mad FROM (
      |    SELECT source, ad,
      |           row_number() OVER (PARTITION BY source ORDER BY ad) AS rn,
      |           count(*) OVER (PARTITION BY source) AS n
      |    FROM d) WHERE rn = (n + 1) // 2)
      |SELECT d.source, count(*) AS n_docs,
      |       CAST(min(d.med) AS BIGINT) AS median_v,
      |       CAST(min(md.mad) AS BIGINT) AS mad_v,
      |       CAST(sum(CASE WHEN d.ad > md.mad * 3 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_outliers,
      |       CAST(sum(CASE WHEN d.ad > md.mad * 3 THEN 1 ELSE 0 END)
      |         * 1000000 // count(*) AS BIGINT) AS outlier_ppm
      |FROM d JOIN md USING (source)
      |GROUP BY d.source ORDER BY d.source""".stripMargin))

  private val p112 = QueryDef(
    // Association rules over doc-level word co-occurrence (Agrawal 1993
    // market-basket shape): items = words with doc-support ≥ N/5 (the
    // apriori prune — only frequent items can form frequent pairs, so
    // the per-doc pair fan-out is bounded by the frequent-item count,
    // never the vocabulary), pairs kept at support ≥ N/10; confidence
    // both directions and lift in exact integer PPM; top-30 by
    // (lift, pair). Oracle replays the full derivation.
    (s, d) => CorpusOps.associationRules(fixture(s, d, "documents"), "doc_id", "text",
      supDivisor = 5L, pairDivisor = 10L, k = 30)
      .orderBy(col("lift_ppm").desc, col("word_a"), col("word_b")),
    Some(s"""WITH dw AS (
      |  SELECT DISTINCT doc_id, unnest(list_filter($WORDS,
      |    x -> length(x) > 0)) AS w
      |  FROM documents),
      |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
      |items AS (
      |  SELECT w, count(*) AS sup FROM dw GROUP BY w
      |  HAVING count(*) * 5 >= (SELECT n FROM nd)),
      |pairs AS (
      |  SELECT a.w AS word_a, b.w AS word_b, count(*) AS sup_ab
      |  FROM dw a JOIN items ia ON a.w = ia.w
      |  JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
      |  JOIN items ib ON b.w = ib.w
      |  GROUP BY 1, 2
      |  HAVING count(*) * 10 >= (SELECT n FROM nd))
      |SELECT word_a, word_b, CAST(sup_ab AS BIGINT) AS sup_ab,
      |       CAST(ia.sup AS BIGINT) AS sup_a, CAST(ib.sup AS BIGINT) AS sup_b,
      |       CAST(sup_ab * 1000000 // ia.sup AS BIGINT) AS conf_ab_ppm,
      |       CAST(sup_ab * 1000000 // ib.sup AS BIGINT) AS conf_ba_ppm,
      |       CAST(sup_ab * (SELECT n FROM nd) * 1000000 //
      |            (ia.sup * ib.sup) AS BIGINT) AS lift_ppm
      |FROM pairs JOIN items ia ON word_a = ia.w JOIN items ib ON word_b = ib.w
      |ORDER BY lift_ppm DESC, word_a, word_b LIMIT 30""".stripMargin))

  private val p110 = QueryDef(
    // PMI collocations (Church & Hanks 1990): top-20 adjacent word
    // pairs by pointwise mutual information with a count floor of 5 —
    // the multi-word-expression miner. Exact integer products feed ONE
    // double division; PMI rounds 4 dp (the zipfFit ln convention).
    // The oracle rebuilds both count relations and replays the
    // identical quotient.
    (s, d) => CorpusOps.pmiCollocations(fixture(s, d, "documents"), "text",
      minCount = 5L, k = 20),
    Some(s"""WITH w AS (
      |  SELECT list_filter($WORDS, x -> length(x) > 0) AS ws
      |  FROM documents WHERE len(list_filter($WORDS, x -> length(x) > 0)) >= 1),
      |u AS (SELECT unnest(ws) AS w FROM w),
      |uni AS (SELECT w, count(*) AS c FROM u GROUP BY w),
      |bp AS (SELECT unnest(list_transform(range(1, len(ws)),
      |         i -> ws[i] || ' ' || ws[i + 1])) AS g
      |       FROM w WHERE len(ws) >= 2),
      |bi AS (SELECT split_part(g, ' ', 1) AS a, split_part(g, ' ', 2) AS b,
      |              count(*) AS cab
      |       FROM bp GROUP BY 1, 2),
      |tot AS (SELECT (SELECT sum(c) FROM uni) AS nw,
      |               (SELECT sum(cab) FROM bi) AS nb)
      |SELECT a AS word_a, b AS word_b, CAST(cab AS BIGINT) AS n_ab,
      |       CAST(ca AS BIGINT) AS n_a, CAST(cb AS BIGINT) AS n_b,
      |       (CAST(floor((ln(CAST(cab * nw * nw AS DOUBLE) /
      |                CAST(nb * ca * cb AS DOUBLE))) * 1e4 + 0.5) AS BIGINT) / 1e4) AS pmi
      |FROM (SELECT bi.a, bi.b, bi.cab, x.c AS ca, y.c AS cb
      |      FROM bi JOIN uni x ON bi.a = x.w JOIN uni y ON bi.b = y.w
      |      WHERE bi.cab >= 5), tot
      |ORDER BY pmi DESC, word_a, word_b LIMIT 20""".stripMargin))

  private val p108 = QueryDef(
    // Vocabulary coverage curve: the fraction of total token MASS the
    // top-k word types cover, at k ∈ {4, 8, 16} — the truncation
    // planner for a capped vocabulary (what OOV rate would a k-type
    // vocab buy). Rank by (count desc, word); coverage in exact integer
    // PPM. The oracle re-derives the rank with its own window.
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = fixture(s, d, "documents")
        .select(explode(graft.pipeline.TextOps.words(
          coalesce(col("text"), lit("")))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      // only the top-16 rows can reach the k ∈ {4,8,16} report, and the
      // top-16 multiset by (c desc, w) is deterministic — so take them
      // with orderBy+limit (TakeOrdered: per-partition top-16, k-row
      // merge) and run the rank/cum windows over 16 ROWS. The previous
      // shape ran both global windows over the whole vocabulary — a
      // corpus-scaling (Heaps-law) single-partition pass at 100 TB
      val ranked = counts
        .orderBy(col("c").desc, col("w")).limit(16)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("c").desc, col("w"))).cast("long"))
        .withColumn("cum", sum(col("c")).over(
          Window.orderBy(col("c").desc, col("w"))))
      val tot = counts.agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"))
      ranked.filter(col("rk").isin(4L, 8L, 16L))
        .crossJoin(broadcast(tot))
        .select(col("rk").as("top_k"), col("cum").as("covered_tokens"),
          col("n_tokens"), col("n_types"),
          expr("(cum * 1000000) div n_tokens").as("covered_ppm"))
        .orderBy(col("top_k"))
    },
    Some(s"""WITH w AS (
      |  SELECT unnest($WORDS) AS w FROM documents),
      |c AS (SELECT w, count(*) AS c FROM w
      |      WHERE length(w) > 0 GROUP BY w),
      |r AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w)
      |               AS BIGINT) AS rk,
      |             sum(c) OVER (ORDER BY c DESC, w) AS cum
      |      FROM c),
      |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
      |             count(*) AS n_types FROM c)
      |SELECT rk AS top_k, CAST(cum AS BIGINT) AS covered_tokens,
      |       n_tokens, n_types,
      |       CAST(cum * 1000000 // n_tokens AS BIGINT) AS covered_ppm
      |FROM r, t WHERE rk IN (4, 8, 16)
      |ORDER BY top_k""".stripMargin))

  /** The maximal-span relation shared by p124 (census) and p126
   * (scrub), RUN-scoped: a pure function of (documents, k=8, fpCap=64),
   * so one fingerprint self-join + islands pass serves both audits per
   * harness run — the r16 audit-family reclaim pattern
   * (hnswAssignedShared / corpusShingleShared). Oracles stay
   * independent full replays. */
  private def crossDocSpanShared(s: SparkSession, d: String): DataFrame =
    // k/fpCap are part of the memo key: a future caller diverging on
    // those params must force a rebuild, not silently reuse this one
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:crossdoc-spans:$d:k8:fp64") {
      CorpusOps.crossDocSpanRel(fixture(s, d, "documents"), "doc_id", "text",
        k = 8, fpCap = 64, persist = false)
    }

  private val p124 = QueryDef(
    // Cross-document exact-substring dedup (Lee et al. 2022 ExactSubstr,
    // at 8-token granularity): shingle fingerprints join across docs,
    // maximal shared spans fall out as gaps-and-islands per (pair,
    // diagonal), fingerprints above the 64-occurrence cap are dropped
    // (the boilerplate guard — declared semantics, replayed by the
    // oracle). Bills per pair: span count, longest span, per-span token
    // sum, and the DISTINCT covered positions in doc_a.
    (s, d) => CorpusOps.crossDocSpans(fixture(s, d, "documents"), "doc_id", "text",
        k = 8, fpCap = 64, preSpans = Some(crossDocSpanShared(s, d)))
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents),
      |wk AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 8),
      |sh AS (
      |  SELECT doc_id, i,
      |         md5(array_to_string(ws[i:i+7], ' ')) AS fp
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
      |        FROM wk) t),
      |rare AS (SELECT fp FROM sh GROUP BY fp HAVING count(*) <= 64),
      |kept AS (SELECT sh.* FROM sh JOIN rare USING (fp)),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia,
      |         b.i - a.i AS diag
      |  FROM kept a JOIN kept b
      |    ON a.fp = b.fp AND a.doc_id < b.doc_id),
      |isl AS (
      |  SELECT *, ia - row_number() OVER (
      |    PARTITION BY doc_a, doc_b, diag ORDER BY ia) AS grp FROM p),
      |sp AS (
      |  SELECT doc_a, doc_b, diag, grp, min(ia) AS start_a,
      |         count(*) + 7 AS span_tokens
      |  FROM isl GROUP BY 1, 2, 3, 4),
      |cov AS (
      |  SELECT doc_a, doc_b,
      |         CAST(count(DISTINCT pa) AS BIGINT) AS dup_tokens_a
      |  FROM (SELECT doc_a, doc_b,
      |          unnest(range(start_a, start_a + span_tokens)) AS pa
      |        FROM sp) t
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_spans,
      |         CAST(max(span_tokens) AS BIGINT) AS max_span,
      |         CAST(sum(span_tokens) AS BIGINT) AS span_tokens_sum
      |  FROM sp GROUP BY 1, 2)
      |SELECT agg.doc_a, agg.doc_b, agg.n_spans, agg.max_span,
      |       agg.span_tokens_sum, cov.dup_tokens_a
      |FROM agg JOIN cov ON agg.doc_a = cov.doc_a AND agg.doc_b = cov.doc_b
      |ORDER BY agg.doc_a, agg.doc_b""".stripMargin))

  private val p126 = QueryDef(
    // ExactSubstr's second half (Lee et al. 2022): REMOVE every token
    // position covered by a span shared with a lower-id document (the
    // copier pays) and rebuild the scrubbed text, billed per document
    // with the rebuilt digest. Fully-covered documents drop out (their
    // rebuild is empty). Shares p124's span relation.
    (s, d) => CorpusOps.crossDocScrub(fixture(s, d, "documents"), "doc_id", "text",
        k = 8, fpCap = 64, preSpans = Some(crossDocSpanShared(s, d)))
      .orderBy(col("doc_id")),
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents),
      |wk AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 8),
      |sh AS (
      |  SELECT doc_id, i,
      |         md5(array_to_string(ws[i:i+7], ' ')) AS fp
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 6)) AS i
      |        FROM wk) t),
      |rare AS (SELECT fp FROM sh GROUP BY fp HAVING count(*) <= 64),
      |kept AS (SELECT sh.* FROM sh JOIN rare USING (fp)),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia,
      |         b.i - a.i AS diag
      |  FROM kept a JOIN kept b
      |    ON a.fp = b.fp AND a.doc_id < b.doc_id),
      |isl AS (
      |  SELECT *, ia - row_number() OVER (
      |    PARTITION BY doc_a, doc_b, diag ORDER BY ia) AS grp FROM p),
      |sp AS (
      |  SELECT doc_a, doc_b, diag, grp, min(ia) AS start_a,
      |         count(*) + 7 AS span_tokens
      |  FROM isl GROUP BY 1, 2, 3, 4),
      |cov AS (
      |  SELECT DISTINCT doc_b AS doc_id,
      |         unnest(range(start_a + diag,
      |           start_a + diag + span_tokens)) AS pos
      |  FROM sp),
      |posr AS (
      |  SELECT doc_id, len(ws) AS n_tokens, i AS pos, ws[i] AS word
      |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
      |        FROM wk) t),
      |keep AS (
      |  SELECT * FROM posr p WHERE NOT EXISTS (
      |    SELECT 1 FROM cov c
      |    WHERE c.doc_id = p.doc_id AND c.pos = p.pos))
      |SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
      |       CAST(max(n_tokens) - count(*) AS BIGINT) AS n_removed,
      |       CAST(count(*) AS BIGINT) AS n_kept,
      |       md5(string_agg(word, ' ' ORDER BY pos)) AS scrub_md5
      |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  override val defs: Map[String, QueryDef] = Map(
    "p124_crossdoc_spans" -> p124,
    "p126_crossdoc_scrub" -> p126,
    "p108_vocab_coverage" -> p108,
    "p110_pmi_collocations" -> p110,
    "p112_association_rules" -> p112,
    "p115_mad_outliers" -> p115,
    "p116_sampling_table" -> p116,
    "p107_data_card" -> p107,
    "p106_ks_test" -> p106,
    "p121_auc_audit" -> p121,
    "p105_rank_sum" -> p105,
    "p104_spearman" -> p104,
    "p103_bootstrap_ci" -> p103,
    "p101_k_anonymity" -> p101,
    "p102_zipf_fit" -> p102,
    "p93_source_diversity" -> p93,
    "p94_source_overlap" -> p94,
    "p96_chunk_overlap_plan" -> p96,
    "p97_readability" -> p97,
    "p21_repetition_stats" -> p21,
    "p22_pii_redaction" -> p22,
    "p23_stratified_sample" -> p23,
    "p24_token_budget_mix" -> p24,
    "p25_decontaminate" -> p25,
    "p26_chunk_dedup" -> p26,
    "p27_embed_quantize" -> p27,
    "p29_gopher_filter" -> p29,
    "p30_tfidf_keywords" -> p30,
    "p31_novelty_stats" -> p31,
    "p32_curation_pipeline" -> p32,
    "p33_chunk_scrub" -> p33,
    "p34_bpe_tokenize" -> p34,
    "p36_sequence_pack" -> p36,
    "p38_incremental_dedup" -> p38,
    "p40_kmv_distinct" -> p40,
    "p41_weighted_sample" -> p41,
    "p43_hll_distinct" -> p43,
    "p44_cms_heavy_hitters" -> p44,
    "p46_repeated_span_scrub" -> p46,
    "p47_exact_quantiles" -> p47,
    "p48_bloom_membership" -> p48,
    "p49_lm_perplexity" -> p49,
    "p53_ngram_overlap" -> p53,
    "p55_char_entropy" -> p55,
    "p56_ddsketch_quantiles" -> p56,
    "p57_ppl_buckets" -> p57,
    "p60_dsir_select" -> p60,
    "p62_mixture_shards" -> p62,
    "p65_quality_gate" -> p65,
    "p66_temperature_mix" -> p66,
    "p67_vocab_stats" -> p67,
    "p69_fuzzy_decontaminate" -> p69,
    "p70_bpe_fertility" -> p70,
    "p72_kmv_setops" -> p72,
    "p73_mlm_mask_plan" -> p73,
    "p76_span_corruption" -> p76,
    "p78_dedup_impact" -> p78,
    "p79_bm25_topk" -> p79,
    "p81_length_batch_plan" -> p81,
    "p82_hybrid_rrf" -> p82,
    "p85_nb_classify" -> p85,
    "p114_margin_calibration" -> p114,
    "p88_zorder_layout" -> p88
  )
}
