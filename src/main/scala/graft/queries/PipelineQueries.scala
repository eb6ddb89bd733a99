package graft.queries

import graft.functions.{Exact, Murmur3x86}
import graft.pipeline._
import graft.sources.GraftIO.fixture
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The LLM-training-data pipeline operators over the `documents` and
 * `embeddings` fixtures — deduplication (exact / normalized / n-gram
 * Jaccard / MinHash-LSH / SimHash), similarity search (brute-force and
 * LSH-bucketed ANN), text analysis (quality, language ID, tokens), and the
 * multimodal decode plumbing. Every query has a DuckDB oracle; where an
 * operator is hash-based the oracle either (a) only depends on hash
 * *equality classes* (dedup counts — any correct md5 partitions docs the
 * same way), (b) verifies the approximate path against the exact
 * formulation (MinHash-LSH vs the inverted-index Jaccard join), or (c)
 * embeds a word→murmur3 VALUES table generated from Murmur3x86, which is
 * itself pinned to the public MurmurHash3 test vectors in Murmur3Spec.
 */
object PipelineQueries extends QueryGroup {

  /** DuckDB mirror of TextOps.normalized (CorpusQueries' oracles too). */
  // coalesced: NULL text normalizes like '' (the library-wide convention,
  // matching TextOps.fingerprint/wordNGrams), so no oracle can diverge on
  // a NULL-text row
  private[queries] val NORM =
    "trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g'))"
  /** DuckDB mirror of TextOps.words (split of the collapsed normal form). */
  private[queries] val WORDS = s"string_split($NORM, ' ')"

  // ---------------------------------------------------------------- dedup

  private val p1 = QueryDef(
    (s, d) => {
      val base = fixture(s, d, "documents")
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("doc_count"),
          countDistinct(md5(col("text").cast("binary"))).as("distinct_count"))
        .withColumn("dup_count", col("doc_count") - col("distinct_count"))
        .orderBy(col("source"))
    },
    Some("""SELECT source, count(*) AS doc_count,
      |       count(DISTINCT md5(text)) AS distinct_count,
      |       count(*) - count(DISTINCT md5(text)) AS dup_count
      |FROM documents GROUP BY source ORDER BY source""".stripMargin))

  private val p2 = QueryDef(
    (s, d) => fixture(s, d, "documents").groupBy(col("source"))
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(TextOps.fingerprint(col("text"))).as("distinct_count"))
      .withColumn("dup_count", col("doc_count") - col("distinct_count"))
      .orderBy(col("source")),
    Some(s"""SELECT source, count(*) AS doc_count,
      |       count(DISTINCT md5($NORM)) AS distinct_count,
      |       count(*) - count(DISTINCT md5($NORM)) AS dup_count
      |FROM documents GROUP BY source ORDER BY source""".stripMargin))

  /** Shared oracle for the exact Jaccard join and its MinHash-LSH
   * approximation (which confirms candidates exactly — see
   * DedupOps.minhashLshVerifiedPairs). The doc_id bound caps the exact
   * join's quadratic blowup at bench scales; it covers every document at
   * the correctness scales (sf ≤ 0.01 has 500 docs). */
  private def jaccardCtes(docFilter: String): String =
    s"""w AS (
      |  SELECT doc_id, $WORDS AS ws FROM documents $docFilter),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      |  FROM w WHERE len(ws) >= 3),
      |inv AS (SELECT doc_id, len(s) AS set_size, unnest(s) AS shingle FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.set_size AS sa, b.set_size AS sb, count(*) AS inter
      |  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4),
      |jp AS (
      |  SELECT doc_a, doc_b,
      |         floor(inter::DOUBLE / (sa + sb - inter) * 10000 + 0.5)
      |           / 10000 AS jaccard
      |  FROM pairs
      |  WHERE floor(inter::DOUBLE / (sa + sb - inter) * 10000 + 0.5)
      |          / 10000 >= 0.5)""".stripMargin

  private def jaccardOracleFor(docFilter: String): String =
    s"""WITH ${jaccardCtes(docFilter)}
      |SELECT doc_a, doc_b, jaccard FROM jp ORDER BY doc_a, doc_b""".stripMargin

  private val jaccardOracle: String = jaccardOracleFor("WHERE doc_id < 1000")

  private val p3 = QueryDef(
    (s, d) => DedupOps.ngramJaccardPairs(
      fixture(s, d, "documents").filter(col("doc_id") < 1000), "doc_id", "text", 3, 0.5)
      .orderBy(col("doc_a"), col("doc_b")),
    Some(jaccardOracle))

  /** The full-corpus (doc, shingle) relation (n = 3) shared by the two
   * prefix joins (p109 Jaccard, p134 containment), RUN-scoped: both
   * consume it verbatim — sizes, df table, prefixes and the
   * verification join all derive from it — so one shingle construction
   * (explode + murmur3 + the doc-keyed exchange) serves both queries
   * per harness run (the r16 verdict's audit-family reclaim). Oracles
   * stay independent full replays. */
  private def corpusShingleShared(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:doc-shingles3:$d") {
      DedupOps.docShingles(fixture(s, d, "documents"), "doc_id", "text", 3)
    }

  /** P109 — exact Jaccard join over the FULL corpus (no doc_id cap) by
   * prefix filtering: candidates come only from rare-shingle posting
   * lists (each doc keeps its s − ceil(t·s) + 1 rarest shingles under
   * the global (df, gram) order), yet the answer is EXACT — the missing
   * quadrant between p3 (exact, capped) and p15 (full, approximate).
   * The oracle brute-forces EVERY pair sharing any shingle — a
   * different algorithm, so parity also validates the prefix-filter
   * completeness theorem on real data. */
  private val p109 = QueryDef(
    (s, d) => DedupOps.jaccardPrefixJoin(
      fixture(s, d, "documents"), "doc_id", "text", 3, tPpm = 500000L,
      preShingles = Some(corpusShingleShared(s, d)))
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH ${jaccardCtes("")},
      |jpm AS (
      |  SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS n_common,
      |         CAST(sa AS BIGINT) AS size_a, CAST(sb AS BIGINT) AS size_b,
      |         inter * 1000000 // (sa + sb - inter) AS jac_ppm
      |  FROM pairs)
      |SELECT doc_a, doc_b, n_common, size_a, size_b,
      |       CAST(jac_ppm AS BIGINT) AS jac_ppm
      |FROM jpm WHERE jac_ppm >= 500000
      |ORDER BY doc_a, doc_b""".stripMargin))

  /** P134 — exact containment join over the FULL corpus (no doc_id
   * cap) by asymmetric prefix filtering: the contained side keeps a
   * rarity-ordered prefix of |S| − ⌈t·|S|⌉ + 1 shingles and probes the
   * container side's FULL posting list (a quoted doc's shingles can
   * sit anywhere in its container — the reason containment admits no
   * symmetric prefix), with the directed size prune |container| ≥
   * t·|contained|. Completes the containment quadrant the way p109
   * completed Jaccard's: p74 is exact-but-capped, this is
   * exact-and-unbounded. The oracle brute-forces every pair sharing
   * any shingle — a different algorithm, so parity also validates the
   * pigeonhole completeness argument on real data. */
  private val p134 = QueryDef(
    (s, d) => DedupOps.containmentPrefixJoin(
      fixture(s, d, "documents"), "doc_id", "text", 3, tPpm = 700000L,
      preShingles = Some(corpusShingleShared(s, d)))
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH ${jaccardCtes("")},
      |cpm AS (
      |  SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS n_common,
      |         CAST(sa AS BIGINT) AS size_a, CAST(sb AS BIGINT) AS size_b,
      |         inter * 1000000 // sa AS cont_a_ppm,
      |         inter * 1000000 // sb AS cont_b_ppm
      |  FROM pairs)
      |SELECT doc_a, doc_b, n_common, size_a, size_b,
      |       CAST(cont_a_ppm AS BIGINT) AS cont_a_ppm,
      |       CAST(cont_b_ppm AS BIGINT) AS cont_b_ppm
      |FROM cpm WHERE cont_a_ppm >= 700000 OR cont_b_ppm >= 700000
      |ORDER BY doc_a, doc_b""".stripMargin))

  private val p74 = QueryDef(
    // Asymmetric containment |Sa∩Sb|/|Sa| over the same inverted shingle
    // index as p3 — the quote-inclusion/subset-dup screen symmetric
    // Jaccard can't see. The oracle brute-forces every candidate pair and
    // replays both directions' division; same doc_id cap as p3 (the exact
    // join is the verification-scale form — see
    // DedupOps.containmentPairs for the containment-LSH escape).
    (s, d) => DedupOps.containmentPairs(
      fixture(s, d, "documents").filter(col("doc_id") < 1000), "doc_id", "text", 3, 0.7)
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH ${jaccardCtes("WHERE doc_id < 1000")},
      |cont AS (
      |  SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
      |         CAST(sa AS BIGINT) AS size_a, CAST(sb AS BIGINT) AS size_b,
      |         floor(inter::DOUBLE / sa * 10000 + 0.5) / 10000
      |           AS cont_a_in_b,
      |         floor(inter::DOUBLE / sb * 10000 + 0.5) / 10000
      |           AS cont_b_in_a
      |  FROM pairs)
      |SELECT * FROM cont
      |WHERE cont_a_in_b >= 0.7 OR cont_b_in_a >= 0.7
      |ORDER BY doc_a, doc_b""".stripMargin))

  private val p77 = QueryDef(
    // The containment DECISION layer (DedupOps.containmentScrub): which
    // doc drops, who contains it. Mutual containment keeps the smaller
    // id; strict containment keeps the superset. Oracle replays the rule
    // from the brute-forced pair relation.
    (s, d) => DedupOps.containmentScrub(
      fixture(s, d, "documents").filter(col("doc_id") < 1000), "doc_id", "text", 3, 0.7)
      .orderBy(col("doc_id")),
    Some(s"""WITH ${jaccardCtes("WHERE doc_id < 1000")},
      |cont AS (
      |  SELECT doc_a, doc_b,
      |         floor(inter::DOUBLE / sa * 10000 + 0.5) / 10000
      |           AS cont_a_in_b,
      |         floor(inter::DOUBLE / sb * 10000 + 0.5) / 10000
      |           AS cont_b_in_a
      |  FROM pairs),
      |drops AS (
      |  SELECT doc_b AS doc_id, doc_a AS container,
      |         cont_b_in_a AS cont
      |  FROM cont WHERE cont_b_in_a >= 0.7
      |  UNION ALL
      |  SELECT doc_a, doc_b, cont_a_in_b
      |  FROM cont WHERE cont_a_in_b >= 0.7 AND cont_b_in_a < 0.7)
      |SELECT doc_id, CAST(min(container) AS BIGINT) AS contained_in,
      |       max(cont) AS max_containment,
      |       CAST(count(*) AS BIGINT) AS n_containers
      |FROM drops GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  private val p4 = QueryDef(
    // 2-row bands (k=64, 32 bands): candidate recall at the j=0.5 output
    // threshold is 1-(1-0.25)^32 ≈ 0.99999, so LSH candidate generation
    // loses no pair the exact-Jaccard oracle contains even at the
    // threshold boundary — and every candidate is exact-confirmed, so
    // false positives cost only confirm work, never wrong output.
    (s, d) => DedupOps.minhashLshVerifiedPairs(
      fixture(s, d, "documents").filter(col("doc_id") < 1000), "doc_id", "text",
      n = 3, k = 64, bands = 32, threshold = 0.5)
      .orderBy(col("doc_a"), col("doc_b")),
    Some(jaccardOracle))

  /** Full-corpus LSH verified-pair relation, memoized RUN-scoped: p15
   * returns it and p18 clusters it. Without the memo, a harness run pays
   * the entire shingle→signature→band→confirm pipeline twice (it was ~30%
   * of the whole r4 bench). The persisted relation is the near-linear pair
   * list — |pairs| ≪ |docs| — exactly what a production dedup pipeline
   * would checkpoint between its "find pairs" and "decide clusters" stages. */
  private def verifiedPairsFull(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:lsh-pairs:$d") {
      DedupOps.minhashLshVerifiedPairs(
        fixture(s, d, "documents"), "doc_id", "text", n = 3, k = 64, bands = 32, threshold = 0.5)
    }

  /** Populate the run-scoped shared derivations of this group (the LSH
   * verified-pair relation) so a harness can charge them to an explicit,
   * NAMED warmup step instead of whichever consumer runs first — see
   * graft.Bench. */
  def warmShared(s: SparkSession, d: String): Unit = {
    verifiedPairsFull(s, d).count(): Unit
  }

  /** Mutual-kNN edge relation shared by p63 (components) and p83
   * (PageRank), memoized RUN-scoped: the kNN-graph derivation behind it
   * is the expensive stage of both (the edge list itself is tiny), and a
   * production pipeline would checkpoint the graph between its "build"
   * and each "analyze" stage. */
  private def mutualEdgesShared(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:mutual-edges:$d") {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("cembedding"))
      Similarity.mutualKnnEdges(e, centroids, k = 3, minSim = 0.2)
    }

  private val p15 = QueryDef(
    // The UNBOUNDED production path: MinHash-LSH banding + exact confirm
    // over the whole corpus — no doc_id cap, so the sf0.1 bench covers all
    // 5,000 docs. At the correctness scales (≤500 docs) the full corpus is
    // within the exact-join oracle's reach, so the result is checked
    // pair-for-pair against the inverted-index Jaccard join — 2-row bands
    // keep candidate recall ≈1 at the threshold, so that parity is robust,
    // not a fixture accident. Signatures pay ONE murmur3 per shingle
    // (affine rehash family) — the knob that makes full-corpus signatures
    // linear-cheap at 100 TB.
    (s, d) => verifiedPairsFull(s, d).orderBy(col("doc_a"), col("doc_b")),
    Some(jaccardOracleFor("")))

  private val p129 = QueryDef(
    // MinHash-LSH APPEND (the signature-index leg of the maintenance
    // trio beside p120's IVF append and p128's HNSW append): the 90%
    // base split plays the persisted band-bucket + shingle-set index;
    // the 10% batch probes the frozen buckets and self-pairs, confirms
    // with exact Jaccard, and bills copier-pays (dup of any base
    // partner or LOWER-id batch sibling). The oracle is the EXACT
    // Jaccard join over the whole corpus, split the same way — so
    // parity also re-proves the banding's recall-1 property (2-row
    // bands at the 0.5 threshold) on the incremental path.
    (s, d) => DedupOps.minhashAppendVerdicts(
      fixture(s, d, "documents"), "doc_id", "text", batch = col("doc_id") % 10 === 5)
      .orderBy(col("doc_id")),
    Some(s"""WITH ${jaccardCtes("")},
      |nn AS (SELECT doc_id FROM sh WHERE doc_id % 10 = 5),
      |pb AS (
      |  SELECT CASE WHEN doc_a % 10 = 5 THEN doc_a ELSE doc_b END AS doc_id,
      |         CASE WHEN doc_a % 10 = 5 THEN doc_b ELSE doc_a END AS partner,
      |         jaccard, true AS is_base
      |  FROM jp WHERE (doc_a % 10 = 5) <> (doc_b % 10 = 5)),
      |bb AS (
      |  SELECT doc_b AS doc_id, doc_a AS partner, jaccard, false AS is_base
      |  FROM jp WHERE doc_a % 10 = 5 AND doc_b % 10 = 5),
      |u AS (SELECT * FROM pb UNION ALL SELECT * FROM bb),
      |v AS (SELECT doc_id,
      |        CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_base_dups,
      |        CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT)
      |          AS n_prior_batch_dups,
      |        min(partner) AS dup_of, max(jaccard) AS max_jaccard
      |      FROM u GROUP BY 1)
      |SELECT nn.doc_id,
      |  coalesce(v.n_base_dups, 0) AS n_base_dups,
      |  coalesce(v.n_prior_batch_dups, 0) AS n_prior_batch_dups,
      |  v.dup_of, v.max_jaccard,
      |  v.dup_of IS NOT NULL AS dropped
      |FROM nn LEFT JOIN v ON nn.doc_id = v.doc_id
      |ORDER BY nn.doc_id""".stripMargin))

  /** The deterministic host per document for the domain-curation family
   * (p130) — five shapes exercising single- and multi-label public
   * suffixes, with two deliberately over-cap registered domains
   * (`example.com` absorbs the %5∈{0,3} shapes, `shop.co.uk` absorbs
   * %5=1) and 26 small ones. GENUINELY shared engine↔oracle: the same
   * string is `expr()`d by Spark and interpolated into the DuckDB
   * oracle (concat/CASE/CAST-AS-STRING parse identically in both). */
  private val hostSql: String =
    """CASE CAST(doc_id % 5 AS INT)
      |  WHEN 0 THEN concat('a', CAST(doc_id % 13 AS STRING), '.example.com')
      |  WHEN 1 THEN concat('b', CAST(doc_id % 13 AS STRING), '.shop.co.uk')
      |  WHEN 2 THEN concat('www.c', CAST(doc_id % 13 AS STRING), '.org')
      |  WHEN 3 THEN concat('d', CAST(doc_id % 13 AS STRING), '.blog.example.com')
      |  ELSE concat('e', CAST(doc_id % 13 AS STRING), '.ac.jp') END"""
      .stripMargin

  private val p130 = QueryDef(
    // Registered-domain (eTLD+1) extraction + per-domain cap — the
    // C4/RefinedWeb-style domain-capping step between URL
    // canonicalization (p127) and the dedup family: hosts roll up to
    // their PSL-correct registered domain (longest-suffix match:
    // `ac.jp` beats `jp`; `a.blog.example.com` → `example.com`), and
    // each domain keeps only its `cap` smallest doc ids — the
    // selection is the k-bounded map-side min_k_pairs aggregate, NOT a
    // corpus-scale rank window, so each map task ships ≤ cap ids per
    // domain. One verdict row per doc. The oracle replays suffix
    // matching with LIKE + a longest-match window and the cap with
    // row_number — structurally different machinery on both steps.
    (s, d) => {
      import s.implicits._
      val suffixes = Seq(("com", 1), ("org", 1), ("co.uk", 2),
        ("jp", 1), ("ac.jp", 2)).toDF("suffix", "n_labels")
      val base = fixture(s, d, "documents").select(col("doc_id"), expr(hostSql).as("host"))
      // tracked: the registered-domain derivation (scan + suffix
      // theta-join + max_by + join-back) fans out to BOTH the cap
      // branch and the final verdict join — uncached it executes twice
      val withDom = graft.CacheScope.track(UrlOps.withRegisteredDomain(
        base, "doc_id", "host", suffixes))
      val kept = withDom.groupBy(col("reg_domain"))
        .agg(graft.functions.GraftFunctions.minKPairs(
          struct(col("doc_id"), col("doc_id")), 40).as("tk"))
        .select(col("reg_domain"), explode(col("tk")).as("p"))
        .select(col("reg_domain"), col("p.dst").as("doc_id"),
          lit(true).as("kept"))
      withDom.join(kept, Seq("reg_domain", "doc_id"), "left")
        .select(col("doc_id"), col("host"), col("reg_domain"),
          coalesce(col("kept"), lit(false)).as("kept"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH h AS (
      |  SELECT doc_id, $hostSql AS host
      |  FROM documents),
      |suf(suffix, n_labels) AS (
      |  VALUES ('com', 1), ('org', 1), ('co.uk', 2), ('jp', 1),
      |         ('ac.jp', 2)),
      |m AS (
      |  SELECT doc_id, host, suffix, n_labels,
      |         row_number() OVER (PARTITION BY doc_id
      |           ORDER BY n_labels DESC, suffix) AS rn
      |  FROM h LEFT JOIN suf
      |    ON host = suffix OR host LIKE '%.' || suffix),
      |rd AS (
      |  SELECT doc_id, host,
      |         CASE WHEN suffix IS NULL OR host = suffix THEN host
      |              ELSE sp[len(sp) - n_labels] || '.' || suffix END
      |           AS reg_domain
      |  FROM (SELECT *, string_split(host, '.') AS sp
      |        FROM m WHERE rn = 1) t),
      |rk AS (
      |  SELECT doc_id, host, reg_domain,
      |         row_number() OVER (PARTITION BY reg_domain
      |           ORDER BY doc_id) AS r
      |  FROM rd)
      |SELECT doc_id, host, reg_domain, r <= 40 AS kept
      |FROM rk ORDER BY doc_id""".stripMargin))

  private val p131 = QueryDef(
    // robots.txt crawl-politeness verdicts (RFC 9309, WITH the §2.2.3
    // wildcards) — the policy gate between URL canonicalization (p127)
    // and fetch: each host's robots file is BUILT, re-PARSED by the
    // validating walker, and group-selected for the crawler token
    // ("GraftBot" vs the file's lowercase 'graftbot' — case-insensitive
    // per spec; even-numbered sites carry a bot-specific group that
    // beats their '*' group), then every doc's path gets the
    // longest-pattern-match verdict (raw pattern length incl. '*'/'$';
    // ties → Allow, then lexicographic; no match → allowed). The star
    // groups carry an anchored '/page/*2$' disallow (paths ENDING in
    // 2) and the bot groups a '/page/*/' allow (slash-terminated
    // pages), so both wildcard forms decide real verdicts at the gate.
    // Rules broadcast; evaluation is ONE codegen'd LIKE predicate per
    // (doc, rule) — RobotsCodec.likePattern's translation — plus a
    // per-doc min_by; no corpus shuffle beyond the verdict
    // aggregation. The oracle never sees the robots TEXT: it
    // re-derives the selected rule set arithmetically from the site
    // number, translates patterns to LIKE with its own string surgery,
    // and replays the match with a window — parity proves
    // build → parse → group-selection → wildcard-match end to end.
    (s, d) => {
      import s.implicits._
      val W = graft.pipeline.RobotsCodec
      def groupsFor(n: Long) = {
        // The "/page/_" rule makes the LIKE-metacharacter escaping
        // load-bearing: escaped (`\_`) it matches no fixture path;
        // treated as SQL any-char it would match EVERY /page/N path on
        // odd sites and flip their verdicts.
        val star = W.RobotsGroup(Vector("*"),
          Vector((false, s"/page/$n"), (true, s"/page/$n/"),
            (false, "/page/*2$"), (false, "/page/_")))
        if (n % 2 == 0)
          Seq(star, W.RobotsGroup(Vector("graftbot"),
            Vector((false, "/page/"), (true, s"/page/${(2 * n) % 25}"),
              (true, "/page/*/"))))
        else Seq(star)
      }
      val ruleRows: Seq[(Long, Boolean, String, String)] =
        (0L until 7L).flatMap { n =>
          W.selectGroup(W.parse(W.build(groupsFor(n))), "GraftBot")
            .map { case (a, p) => (n, a, p, W.likePattern(p)) }
        }
      val rules = ruleRows.toDF("site", "allow", "rule_path", "like_pat")
      val base = fixture(s, d, "documents").select(col("doc_id"),
        (col("doc_id") % 7).as("site"),
        concat(lit("www.site"), (col("doc_id") % 7).cast("string"),
          lit(".com")).as("host"),
        concat(lit("/page/"), (col("doc_id") % 25).cast("string"),
          when(col("doc_id") % 4 === 0, "/").otherwise("")).as("path"))
      val hits = base.join(broadcast(rules), Seq("site"))
        .filter(expr("path LIKE like_pat"))
        .groupBy(col("doc_id"))
        .agg(min_by(struct(col("allow"), col("rule_path")),
          struct((-length(col("rule_path"))).as("nl"),
            when(col("allow"), 0).otherwise(1).as("na"),
            col("rule_path"))).as("w"))
      base.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("host"), col("path"),
          coalesce(col("w.allow"), lit(true)).as("allowed"),
          col("w.rule_path").as("matched_rule"),
          (col("site") % 2 === 0).as("bot_group"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH sites AS (SELECT unnest(range(0, 7)) AS n),
      |star AS (
      |  SELECT n, false AS allow,
      |         '/page/' || CAST(n AS VARCHAR) AS rule_path FROM sites
      |  UNION ALL
      |  SELECT n, true, '/page/' || CAST(n AS VARCHAR) || '/' FROM sites
      |  UNION ALL
      |  SELECT n, false, '/page/*2$' FROM sites
      |  UNION ALL
      |  SELECT n, false, '/page/_' FROM sites),
      |bot AS (
      |  SELECT n, false AS allow, '/page/' AS rule_path
      |  FROM sites WHERE n % 2 = 0
      |  UNION ALL
      |  SELECT n, true, '/page/' || CAST((2 * n) % 25 AS VARCHAR)
      |  FROM sites WHERE n % 2 = 0
      |  UNION ALL
      |  SELECT n, true, '/page/*/' FROM sites WHERE n % 2 = 0),
      |rules AS (
      |  -- mirror RobotsCodec.likePattern: backslash-escape the LIKE
      |  -- metacharacters % _ \ in the raw rule, THEN map * -> %; the
      |  -- join below carries the matching ESCAPE '\' clause
      |  SELECT n, allow, rule_path,
      |         CASE WHEN anch THEN core ELSE core || '%' END AS like_pat
      |  FROM (SELECT *, rule_path LIKE '%$' AS anch,
      |          replace(replace(replace(replace(
      |            CASE WHEN rule_path LIKE '%$'
      |                 THEN left(rule_path, length(rule_path) - 1)
      |                 ELSE rule_path END,
      |            '\', '\\'), '%', '\%'), '_', '\_'), '*', '%') AS core
      |        FROM (SELECT * FROM bot
      |              UNION ALL SELECT * FROM star WHERE n % 2 <> 0))),
      |d AS (SELECT doc_id, doc_id % 7 AS n,
      |        'www.site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
      |        '/page/' || CAST(doc_id % 25 AS VARCHAR) ||
      |          CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END AS path
      |      FROM documents),
      |hit AS (
      |  SELECT d.doc_id, r.allow, r.rule_path,
      |         row_number() OVER (PARTITION BY d.doc_id
      |           ORDER BY length(r.rule_path) DESC,
      |                    CASE WHEN r.allow THEN 0 ELSE 1 END,
      |                    r.rule_path) AS rn
      |  FROM d JOIN rules r ON d.n = r.n
      |    AND d.path LIKE r.like_pat ESCAPE '\')
      |SELECT d.doc_id, d.host, d.path,
      |  coalesce(h.allow, true) AS allowed,
      |  h.rule_path AS matched_rule,
      |  d.n % 2 = 0 AS bot_group
      |FROM d LEFT JOIN hit h ON h.doc_id = d.doc_id AND h.rn = 1
      |ORDER BY d.doc_id""".stripMargin))

  /** P117 — dedup canonicalization POLICY: within each near-dup family
   * (p18's components over the shared LSH pair relation), keep the
   * LONGEST member (ties to the smaller id) instead of the min-id
   * default — the RefinedWeb/C4-style "best representative" decision,
   * with the exact token bill the policy keeps vs drops. The oracle
   * re-derives the components by recursive transitive closure AND
   * replays the argmax. */
  private val p117 = QueryDef(
    (s, d) => {
      val labels = DedupOps.dupLabels(verifiedPairsFull(s, d))
      val toks = fixture(s, d, "documents").select(col("doc_id"),
        graft.pipeline.TextOps.tokenCount(coalesce(col("text"), lit("")))
          .cast("long").as("n_tok"))
      labels.join(toks, col("node") === col("doc_id"))
        .groupBy(col("label").as("cluster_rep"))
        .agg(count(lit(1)).as("cluster_size"),
          max_by(struct(col("doc_id"), col("n_tok")),
            struct(col("n_tok"), -col("doc_id"))).as("k"),
          sum(col("n_tok")).as("total_tokens"))
        .select(col("cluster_rep"), col("cluster_size"),
          col("k.doc_id").as("keep_doc"), col("k.n_tok").as("keep_tokens"),
          (col("total_tokens") - col("k.n_tok")).as("dropped_tokens"))
        .orderBy(col("cluster_rep"))
    },
    Some(s"""WITH RECURSIVE ${jaccardCtes("")},
      |sym AS (SELECT doc_a AS src, doc_b AS dst FROM jp
      |        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp),
      |reach AS (
      |  SELECT src AS a, dst AS b FROM sym
      |  UNION
      |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
      |lab AS (SELECT a AS node, least(a, min(b)) AS label
      |        FROM reach GROUP BY a),
      |tk AS (SELECT doc_id, len($WORDS) AS n_tok FROM documents),
      |j AS (SELECT lab.label, lab.node, tk.n_tok
      |      FROM lab JOIN tk ON lab.node = tk.doc_id),
      |sel AS (SELECT label, node AS keep_doc, n_tok AS keep_tokens FROM (
      |    SELECT *, row_number() OVER (PARTITION BY label
      |      ORDER BY n_tok DESC, node) AS rn FROM j) WHERE rn = 1),
      |agg AS (SELECT label, count(*) AS cluster_size,
      |               CAST(sum(n_tok) AS BIGINT) AS total_tokens
      |        FROM j GROUP BY label)
      |SELECT a.label AS cluster_rep, a.cluster_size, s.keep_doc,
      |       CAST(s.keep_tokens AS BIGINT) AS keep_tokens,
      |       total_tokens - s.keep_tokens AS dropped_tokens
      |FROM agg a JOIN sel s USING (label)
      |ORDER BY cluster_rep""".stripMargin))

  private val p18 = QueryDef(
    // Dedup DECISION stage: LSH near-dup pairs → connected components →
    // one row per duplicate family with its canonical representative.
    // The oracle computes the same components via a recursive transitive
    // closure over the exact-Jaccard pair list (tractable because dup
    // families are small; the engine's label propagation is the shape
    // that survives when they aren't).
    (s, d) => DedupOps.dupClusters(verifiedPairsFull(s, d))
      .orderBy(col("cluster_rep")),
    Some(s"""WITH RECURSIVE ${jaccardCtes("")},
      |sym AS (SELECT doc_a AS src, doc_b AS dst FROM jp
      |        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp),
      |reach AS (
      |  SELECT src AS a, dst AS b FROM sym
      |  UNION
      |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
      |lab AS (SELECT a AS node, least(a, min(b)) AS label
      |        FROM reach GROUP BY a)
      |SELECT label AS cluster_rep, count(*) AS cluster_size,
      |       max(node) AS max_doc
      |FROM lab GROUP BY label ORDER BY cluster_rep""".stripMargin))

  private val p51 = QueryDef(
    // Leakage-free split: train/val/test assigned by hashing the dup-
    // CLUSTER representative, so a near-dup family can never straddle
    // splits (the eval-contamination vector). Thresholds are integer
    // 2³²-scale cuts (80/10/10); the oracle re-derives the clusters via
    // the recursive closure over the exact-Jaccard pairs and replays the
    // md5 arithmetic — every doc's assignment matches row-for-row.
    (s, d) => DedupOps.leakageFreeSplit(fixture(s, d, "documents"), "doc_id",
        verifiedPairsFull(s, d), trainPct = 80, valPct = 10)
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE ${jaccardCtes("")},
      |sym AS (SELECT doc_a AS src, doc_b AS dst FROM jp
      |        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM jp),
      |reach AS (
      |  SELECT src AS a, dst AS b FROM sym
      |  UNION
      |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
      |lab AS (SELECT a AS node, least(a, min(b)) AS label
      |        FROM reach GROUP BY a),
      |base AS (SELECT d.doc_id, coalesce(lab.label, d.doc_id) AS rep
      |         FROM documents d LEFT JOIN lab ON lab.node = d.doc_id),
      |uu AS (SELECT doc_id, rep,
      |         CAST(('0x' || substr(md5(CAST(rep AS VARCHAR) || ':split'),
      |           1, 8)) AS UBIGINT) AS u
      |       FROM base)
      |SELECT doc_id, rep,
      |       CASE WHEN u < 3435973836 THEN 'train'
      |            WHEN u < 3865470566 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM uu ORDER BY doc_id""".stripMargin))

  /** Every word in the documents fixtures (all scale factors) with its
   * murmur3-32(seed 0) hash — lets DuckDB reproduce the SimHash votes. */
  private val vocabWords: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private def vocabValues: String = vocabWords
    .map(w => s"('$w', ${Murmur3x86.positive(w.getBytes("UTF-8"), 0)})")
    .mkString(", ")

  /** (word, seed-0 hash, seed-1 hash) — p39 needs the independent sign
   * hash alongside the dimension hash. */
  private def vocabValues2: String = vocabWords
    .map(w => s"('$w', ${Murmur3x86.positive(w.getBytes("UTF-8"), 0)}, " +
      s"${Murmur3x86.positive(w.getBytes("UTF-8"), 1)})")
    .mkString(", ")

  private val p5 = QueryDef(
    (s, d) => DedupOps.simhashBuckets(
      fixture(s, d, "documents").filter(length(TextOps.normalized(col("text"))) > 0),
      "doc_id", "text", bits = 16)
      .select(col("simhash"), col("bucket_size"), col("representative"))
      .orderBy(col("simhash")),
    Some(s"""WITH vocab(word, h) AS (SELECT * FROM (VALUES $vocabValues)),
      |w AS (
      |  SELECT doc_id, unnest($WORDS) AS word
      |  FROM documents WHERE length($NORM) > 0),
      |j AS (SELECT w.doc_id, v.h FROM w JOIN vocab v ON w.word = v.word),
      |votes AS (
      |  SELECT doc_id, b.b AS bit,
      |         CASE WHEN sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |              THEN (1::BIGINT << b.b) ELSE 0::BIGINT END AS contrib
      |  FROM j CROSS JOIN (SELECT unnest(range(0, 16)) AS b) b
      |  GROUP BY doc_id, b.b),
      |sh AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS simhash
      |       FROM votes GROUP BY doc_id)
      |SELECT simhash, count(*) AS bucket_size, min(doc_id) AS representative
      |FROM sh GROUP BY simhash HAVING count(*) > 1 ORDER BY simhash""".stripMargin))

  private val p50 = QueryDef(
    // Manku block-permutation near-dup JOIN: every pair at Hamming
    // distance ≤ 3 over the 28-bit simhash, found via 4-block bucket
    // self-join (pigeonhole: d ≤ blocks−1 pairs must share a block).
    // The oracle brute-forces ALL pairs the O(n²) way — parity proves
    // the index misses nothing, which is the entire claim of the
    // block-index design. The doc_id bound follows the p3/p4 precedent:
    // it covers every document at the correctness scales (sf ≤ 0.01 has
    // 500 docs) and caps the BENCH-scale output volume, which for this
    // fixture's 31-word vocabulary is quadratically dense (~750k true
    // pairs at sf0.1 unbounded — pair enumeration is inherently
    // |family|² and the operator itself stays unbounded).
    (s, d) => DedupOps.hammingNearDupPairs(
      fixture(s, d, "documents").filter(col("doc_id") < 1000 &&
        length(TextOps.normalized(col("text"))) > 0),
      "doc_id", "text", bits = 28, maxDist = 3, blocks = 4)
      .orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH vocab(word, h) AS (SELECT * FROM (VALUES $vocabValues)),
      |w AS (
      |  SELECT doc_id, unnest($WORDS) AS word
      |  FROM documents WHERE doc_id < 1000 AND length($NORM) > 0),
      |j AS (SELECT w.doc_id, v.h FROM w JOIN vocab v ON w.word = v.word),
      |votes AS (
      |  SELECT doc_id, b.b AS bit,
      |         CASE WHEN sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |              THEN (1::BIGINT << b.b) ELSE 0::BIGINT END AS contrib
      |  FROM j CROSS JOIN (SELECT unnest(range(0, 28)) AS b) b
      |  GROUP BY doc_id, b.b),
      |sh AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS simhash
      |       FROM votes GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin))

  // ---------------------------------------------------------------- similarity / ANN

  /** DuckDB replay of the e3 quantize-once integer-cosine discipline
   * (Similarity.withQ3 / Similarity.simE3): codes are floor(v·10³+0.5)
   * longs, dot/norm² are exact integer sums (order-independent), and
   * the pair similarity is ONE final deterministic IEEE expression —
   * so the oracle reproduces the engine bit for bit with no float
   * aggregate anywhere. */
  private def q3Sql(v: String): String =
    s"list_transform($v, x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT))"

  private def dotLongSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) AS BIGINT)"

  private def simE3Sql(dot: String, na: String, nb: String): String =
    s"CASE WHEN $na = 0 OR $nb = 0 THEN NULL ELSE " +
      s"CAST(floor($dot::DOUBLE / sqrt($na::DOUBLE * $nb::DOUBLE) * 1000.0 + 0.5) AS BIGINT) END"

  /** Shared DuckDB prefix replaying the INTEGER-affinity IVF coarse
   * quantizer (the migrated Similarity.ivfAssign / ivfProbes, %50
   * deterministic centroid rule): both sides quantize once to e3 codes
   * with hoisted norm², each affinity is simE3Sql's single final IEEE
   * expression, and the per-vector rank window is the independent
   * formulation of the engine's max_by argmax. NULLS LAST is explicit —
   * a cosine-undefined (zero-norm) vector ranks its centroids by id
   * alone, mirroring the engine's coalesce(Long.MinValue). Emits CTEs:
   * `cq` (cid, ce, ccodes, cnsq), `vq` (vec_id, embedding, label,
   * codes, nsq), `aff` (… cid, ce, a), `rk` (aff + rn; rn = 1 is the
   * assignment, rn <= nprobe the probe list). */
  private def assignCtesOver(src: String): String =
    s"""cq AS (
      |  SELECT cid, ce, ccodes, ${dotLongSql("ccodes", "ccodes")} AS cnsq
      |  FROM (SELECT vec_id AS cid, embedding AS ce,
      |          ${q3Sql("embedding")} AS ccodes
      |        FROM $src WHERE vec_id % 50 = 0)),
      |vq AS (
      |  SELECT vec_id, embedding, label, codes,
      |         ${dotLongSql("codes", "codes")} AS nsq
      |  FROM (SELECT vec_id, embedding, label,
      |          ${q3Sql("embedding")} AS codes FROM $src)),
      |aff AS (
      |  SELECT v.*, c.cid, c.ce,
      |         ${simE3Sql(dotLongSql("v.codes", "c.ccodes"), "v.nsq", "c.cnsq")} AS a
      |  FROM vq v, cq c),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
      |         ORDER BY a DESC NULLS LAST, cid) AS rn FROM aff)""".stripMargin

  private val assignCtes: String = assignCtesOver("embeddings")

  /** P111 — MMR diverse re-ranking (Carbonell & Goldstein 1998) with
   * λ = 1/2: greedy top-3 from each query's 8-candidate ANN pool, the
   * doubled objective rel − max-sim-to-selected in exact e3 integers.
   * The engine runs general-k greedy inside flatMapGroups (per-query,
   * never on the driver); the oracle UNROLLS the three greedy steps as
   * literal SQL (the p83 superstep convention) — a genuinely different
   * evaluation strategy, so parity pins the greedy semantics. */
  private val p111 = QueryDef(
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      Similarity.mmrSelect(e.filter(col("vec_id") < 5), e, poolN = 8, k = 3)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH $assignCtes,
      |q AS (SELECT vec_id, codes, nsq FROM vq WHERE vec_id < 5),
      |sc AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |         ${simE3Sql(dotLongSql("q.codes", "c.codes"), "q.nsq", "c.nsq")} AS rel
      |  FROM vq c, q WHERE c.vec_id <> q.vec_id),
      |pool AS (SELECT qid, cid, rel FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid
      |      ORDER BY rel DESC, cid) AS rn FROM sc WHERE rel IS NOT NULL)
      |  WHERE rn <= 8),
      |ps AS (
      |  SELECT a.qid, a.cid AS ca, b.cid AS cb,
      |         coalesce(${simE3Sql(dotLongSql("ea.codes", "eb.codes"),
                  "ea.nsq", "eb.nsq")}, 0) AS s
      |  FROM pool a JOIN pool b ON a.qid = b.qid AND a.cid <> b.cid
      |  JOIN vq ea ON a.cid = ea.vec_id
      |  JOIN vq eb ON b.cid = eb.vec_id),
      |s1 AS (SELECT qid, cid, rel AS sc2 FROM (
      |    SELECT qid, cid, rel, row_number() OVER (PARTITION BY qid
      |      ORDER BY rel DESC, cid) AS rn FROM pool) WHERE rn = 1),
      |c2 AS (
      |  SELECT p.qid, p.cid, p.rel - ps.s AS sc2
      |  FROM pool p JOIN s1 ON p.qid = s1.qid AND p.cid <> s1.cid
      |  JOIN ps ON ps.qid = p.qid AND ps.ca = p.cid AND ps.cb = s1.cid),
      |s2 AS (SELECT qid, cid, sc2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid
      |      ORDER BY sc2 DESC, cid) AS rn FROM c2) WHERE rn = 1),
      |c3 AS (
      |  SELECT p.qid, p.cid, p.rel - greatest(pa.s, pb.s) AS sc2
      |  FROM pool p JOIN s1 ON p.qid = s1.qid AND p.cid <> s1.cid
      |  JOIN s2 ON p.qid = s2.qid AND p.cid <> s2.cid
      |  JOIN ps pa ON pa.qid = p.qid AND pa.ca = p.cid AND pa.cb = s1.cid
      |  JOIN ps pb ON pb.qid = p.qid AND pb.ca = p.cid AND pb.cb = s2.cid),
      |s3 AS (SELECT qid, cid, sc2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY qid
      |      ORDER BY sc2 DESC, cid) AS rn FROM c3) WHERE rn = 1)
      |SELECT qid AS query_id, CAST(rank AS INT) AS rank,
      |       cid AS neighbor_id, CAST(sc2 AS BIGINT) AS score2x_e3
      |FROM (SELECT qid, 1 AS rank, cid, sc2 FROM s1
      |      UNION ALL SELECT qid, 2, cid, sc2 FROM s2
      |      UNION ALL SELECT qid, 3, cid, sc2 FROM s3)
      |ORDER BY query_id, rank""".stripMargin))

  /** P113 — language-ID confusion matrix: the p10 lexicon-argmax
   * classifier audited against the corpus's own `lang` labels — one
   * (label, predicted) cell per pair with the row-normalized recall in
   * exact integer PPM. The model-quality audit every classifier-driven
   * curation stage needs before its predictions gate data. Zero new
   * shuffle shapes: one codegen'd projection + one cell-scale hash agg
   * + a label-key join for the row totals. */
  private val p113 = QueryDef(
    (s, d) => {
      val pred = fixture(s, d, "documents")
        .select(col("lang").as("label_lang"),
          graft.pipeline.TextOps.languageId(col("text")).as("pred_lang"))
      val cells = pred.groupBy(col("label_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      // row totals via a window over the cell census, NOT a join back to
      // a second copy of the corpus-wide projection (the q36 convention)
      cells.withColumn("label_total",
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("label_lang"))))
        .select(col("label_lang"), col("pred_lang"), col("n"),
          col("label_total"),
          expr("(n * 1000000) div label_total").as("recall_ppm"))
        .orderBy(col("label_lang"), col("pred_lang"))
    },
    Some(s"""WITH w AS (SELECT doc_id, lang, $WORDS AS ws FROM documents),
      |p AS (SELECT lang AS label_lang, $langCase AS pred_lang FROM w),
      |c AS (SELECT label_lang, pred_lang, count(*) AS n FROM p
      |      GROUP BY 1, 2),
      |t AS (SELECT label_lang, CAST(sum(n) AS BIGINT) AS label_total
      |      FROM c GROUP BY 1)
      |SELECT c.label_lang, c.pred_lang, CAST(n AS BIGINT) AS n,
      |       label_total,
      |       CAST(n * 1000000 // label_total AS BIGINT) AS recall_ppm
      |FROM c JOIN t USING (label_lang)
      |ORDER BY label_lang, pred_lang""".stripMargin))

  /** Shared e3-quantized projection of the embeddings table for the
   * float-free cosine family (p6/p7/p8/p92): codes + hoisted norm², the
   * oracle half of [[Similarity.withQ3]]. */
  private val vq3Cte: String =
    s"""vq3 AS (
      |  SELECT vec_id, codes, ${dotLongSql("codes", "codes")} AS nsq
      |  FROM (SELECT vec_id, ${q3Sql("embedding")} AS codes
      |        FROM embeddings))""".stripMargin

  private val p6 = QueryDef(
    // Brute-force top-5 on the e3 INTEGER kernel (quantize-once codes,
    // hoisted norm², MinKPairs k-bounded shuffle); ranking (sim_e3 DESC,
    // id) is exact-integer so ties cannot drift between engines.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH $vq3Cte,
      |q AS (SELECT vec_id, codes, nsq FROM vq3 WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS id,
      |         ${simE3Sql(dotLongSql("q.codes", "c.codes"), "q.nsq", "c.nsq")}
      |           AS sim_e3
      |  FROM vq3 c, q WHERE q.vec_id <> c.vec_id),
      |r AS (SELECT query_id, id, sim_e3,
      |             row_number() OVER (PARTITION BY query_id
      |               ORDER BY sim_e3 DESC, id) AS rn
      |      FROM scored WHERE sim_e3 IS NOT NULL)
      |SELECT query_id, CAST(rn - 1 AS INT) AS rank, id AS neighbor_id,
      |       sim_e3::DOUBLE / 1000 AS sim
      |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin))

  private val p7 = QueryDef(
    // Threshold join on the e3 INTEGER kernel — the threshold test is a
    // pure integer predicate (NULL zero-norm pairs never qualify).
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      Similarity.thresholdJoin(e.filter(col("vec_id") < 10), e, 0.3)
        .orderBy(col("query_id"), col("neighbor_id"))
    },
    Some(s"""WITH $vq3Cte,
      |q AS (SELECT vec_id, codes, nsq FROM vq3 WHERE vec_id < 10),
      |p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         ${simE3Sql(dotLongSql("q.codes", "c.codes"), "q.nsq", "c.nsq")}
      |           AS sim_e3
      |  FROM vq3 c, q WHERE q.vec_id <> c.vec_id)
      |SELECT query_id, neighbor_id, sim_e3::DOUBLE / 1000 AS sim
      |FROM p WHERE sim_e3 >= 300
      |ORDER BY query_id, neighbor_id""".stripMargin))

  /** DuckDB mirror of Similarity.signBucket over the first 8 dims. */
  private val bucketSql: String =
    """CAST(list_sum(list_transform(range(1, 9),
      |  i -> CASE WHEN embedding[i] >= 0 THEN (1::BIGINT << (i - 1))
      |            ELSE 0::BIGINT END)) AS BIGINT)""".stripMargin

  private val p8 = QueryDef(
    // Bucketed ANN: float-sign axis bucket (unchanged — a code-sign
    // bucket would move the ≥ −0.0005 band), e3 INTEGER pair kernel.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      Similarity.bucketedAnn(e.filter(col("vec_id") < 50), e, 0.2, bits = 8)
        .orderBy(col("query_id"), col("neighbor_id"))
    },
    Some(s"""WITH $vq3Cte,
      |b AS (SELECT e.vec_id, v.codes, v.nsq, $bucketSql AS bucket
      |      FROM embeddings e JOIN vq3 v USING (vec_id)),
      |q AS (SELECT * FROM b WHERE vec_id < 50),
      |p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         c.bucket AS bucket,
      |         ${simE3Sql(dotLongSql("q.codes", "c.codes"), "q.nsq", "c.nsq")}
      |           AS sim_e3
      |  FROM b c, q
      |  WHERE q.bucket = c.bucket AND q.vec_id <> c.vec_id)
      |SELECT query_id, neighbor_id, bucket, sim_e3::DOUBLE / 1000 AS sim
      |FROM p WHERE sim_e3 >= 200
      |ORDER BY query_id, neighbor_id""".stripMargin))

  private val p14 = QueryDef(
    // IVF ANN with deterministic centroids (every 50th vector) — the
    // coarse-quantizer scale path: a query probes one inverted list.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cembedding"))
      Similarity.ivfAnn(e.filter(col("vec_id") < 20), e, centroids, 0.2, nprobe = 3)
        .orderBy(col("query_id"), col("neighbor_id"))
    },
    Some(s"""WITH $assignCtes,
      |asg AS (SELECT vec_id, codes, nsq, cid FROM rk WHERE rn = 1),
      |q AS (SELECT vec_id, codes, nsq, cid FROM rk WHERE rn <= 3 AND vec_id < 20),
      |p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.cid AS cluster,
      |         ${simE3Sql(dotLongSql("q.codes", "c.codes"), "q.nsq", "c.nsq")}
      |           AS sim_e3
      |  FROM asg c, q
      |  WHERE q.cid = c.cid AND q.vec_id <> c.vec_id)
      |SELECT query_id, neighbor_id, cluster, sim_e3::DOUBLE / 1000 AS sim
      |FROM p WHERE sim_e3 >= 200
      |ORDER BY query_id, neighbor_id""".stripMargin))

  private val p61 = QueryDef(
    // Cluster-local kNN graph over the whole embedding corpus (same
    // deterministic centroid rule as p14/p28): each vector's top-3 cell
    // mates by the e3 integer-cosine kernel, id tie-break. The oracle
    // re-derives the integer assignment and ranks with an independent
    // window formulation.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cembedding"))
      Similarity.knnGraph(e, centroids, k = 3)
        .orderBy(col("vec_id"), col("rank"))
    },
    Some(s"""WITH $assignCtes,
      |asg AS (SELECT vec_id, codes, nsq, cid FROM rk WHERE rn = 1),
      |pair AS (
      |  SELECT x.vec_id, x.cid AS cluster, y.vec_id AS neighbor_id,
      |         ${simE3Sql(dotLongSql("x.codes", "y.codes"), "x.nsq", "y.nsq")}
      |           AS sim_e3
      |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id <> y.vec_id),
      |top AS (SELECT *, row_number() OVER (
      |          PARTITION BY vec_id ORDER BY sim_e3 DESC, neighbor_id) AS rank
      |        FROM pair WHERE sim_e3 IS NOT NULL)
      |SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cluster,
      |       sim_e3::DOUBLE / 1000 AS sim
      |FROM top WHERE rank <= 3
      |ORDER BY vec_id, rank""".stripMargin))

  /** The mutual-kNN edge derivation (ending in the reciprocated a<b
   * edge list `m`) shared by p63 (components), p83 (PageRank) and p86
   * (triangles): INTEGER-affinity IVF cell assignment ([[assignCtes]]),
   * cell-local top-3 by the e3 integer-cosine pair kernel at
   * sim_e3 ≥ 200 (= cosine 0.2), reciprocity join. Mirrors
   * Similarity.mutualKnnEdges on the migrated integer pipeline. */
  private val mutualEdgeCte: String =
    s"""$assignCtes,
      |asg AS (SELECT vec_id, codes, nsq, cid FROM rk WHERE rn = 1),
      |pair AS (
      |  SELECT x.vec_id, y.vec_id AS neighbor_id,
      |         ${simE3Sql(dotLongSql("x.codes", "y.codes"), "x.nsq", "y.nsq")}
      |           AS sim_e3
      |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id <> y.vec_id),
      |top AS (SELECT *, row_number() OVER (
      |          PARTITION BY vec_id ORDER BY sim_e3 DESC, neighbor_id) AS rank
      |        FROM pair WHERE sim_e3 IS NOT NULL),
      |g AS (SELECT vec_id, neighbor_id FROM top
      |      WHERE rank <= 3 AND sim_e3 >= 200),
      |m AS (SELECT x.vec_id AS a, x.neighbor_id AS b
      |      FROM g x JOIN g y ON x.vec_id = y.neighbor_id
      |                       AND x.neighbor_id = y.vec_id
      |      WHERE x.vec_id < x.neighbor_id)""".stripMargin

  private val p63 = QueryDef(
    // Mutual-kNN graph clustering: reciprocated top-3 edges at cosine
    // ≥0.2 → connected components; singletons are their own component.
    // The oracle rebuilds the kNN graph, the mutuality join, and the
    // components via a recursive transitive closure — a completely
    // different components algorithm from the engine's union-find /
    // min-label propagation.
    (s, d) => Similarity.componentsFromEdges(fixture(s, d, "embeddings"),
        mutualEdgesShared(s, d))
      .orderBy(col("vec_id")),
    Some(s"""WITH RECURSIVE $mutualEdgeCte,
      |sym AS (SELECT a AS src, b AS dst FROM m
      |        UNION ALL SELECT b AS src, a AS dst FROM m),
      |reach AS (
      |  SELECT src AS a, dst AS b FROM sym
      |  UNION
      |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
      |lab AS (SELECT a AS node, least(a, min(b)) AS label
      |        FROM reach GROUP BY a)
      |SELECT e.vec_id, coalesce(lab.label, e.vec_id) AS component
      |FROM embeddings e LEFT JOIN lab ON lab.node = e.vec_id
      |ORDER BY e.vec_id""".stripMargin))

  private val p64 = QueryDef(
    // kNN label-purity audit over the labeled embedding corpus: each
    // vector's 5 cell-local nearest neighbors vote; majority ties break
    // to the smallest label; suspect = majority disagrees or same-label
    // agreement < 0.5. The oracle replays the graph, both vote levels,
    // and the flag arithmetic independently.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cembedding"))
      Similarity.knnLabelPurity(e, centroids, k = 5, minFrac = 0.5)
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH $assignCtes,
      |asg AS (SELECT vec_id, codes, nsq, cid FROM rk WHERE rn = 1),
      |pair AS (
      |  SELECT x.vec_id, y.vec_id AS neighbor_id,
      |         ${simE3Sql(dotLongSql("x.codes", "y.codes"), "x.nsq", "y.nsq")}
      |           AS sim_e3
      |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id <> y.vec_id),
      |top AS (SELECT *, row_number() OVER (
      |          PARTITION BY vec_id ORDER BY sim_e3 DESC, neighbor_id) AS rank
      |        FROM pair WHERE sim_e3 IS NOT NULL),
      |nb AS (SELECT t.vec_id, n.label AS nbr_label
      |       FROM top t JOIN embeddings n ON n.vec_id = t.neighbor_id
      |       WHERE t.rank <= 5),
      |per AS (SELECT vec_id, nbr_label, CAST(count(*) AS BIGINT) AS n
      |        FROM nb GROUP BY vec_id, nbr_label),
      |vote AS (SELECT vec_id, CAST(sum(n) AS BIGINT) AS k_eff
      |         FROM per GROUP BY vec_id),
      |mj AS (SELECT vec_id, nbr_label AS majority_label
      |       FROM (SELECT *, row_number() OVER (
      |               PARTITION BY vec_id ORDER BY n DESC, nbr_label) AS r
      |             FROM per) WHERE r = 1)
      |SELECT e.vec_id, e.label, v.k_eff,
      |       coalesce(s.n, 0) AS same_n, mj.majority_label,
      |       ((2 * coalesce(s.n, 0) * 10000 + v.k_eff) // (2 * v.k_eff))
      |         ::DOUBLE / 10000 AS same_frac,
      |       (mj.majority_label <> e.label OR
      |        (2 * coalesce(s.n, 0) * 10000 + v.k_eff) // (2 * v.k_eff)
      |          < 5000) AS suspect
      |FROM embeddings e
      |JOIN vote v ON v.vec_id = e.vec_id
      |JOIN mj ON mj.vec_id = e.vec_id
      |LEFT JOIN per s ON s.vec_id = e.vec_id AND s.nbr_label = e.label
      |ORDER BY e.vec_id""".stripMargin))

  private val p68 = QueryDef(
    // ANN hard-negative mining (DPR-style contrastive data prep): for
    // every labeled vector, its top-2 most-similar cell-mates with a
    // DIFFERENT label — the label gate applies before the rank window.
    // The oracle rebuilds assignment, gate, and ranks independently.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cembedding"))
      Similarity.hardNegatives(e, centroids, k = 2)
        .orderBy(col("vec_id"), col("rank"))
    },
    Some(s"""WITH $assignCtes,
      |asg AS (SELECT vec_id, label, codes, nsq, cid FROM rk WHERE rn = 1),
      |pair AS (
      |  SELECT x.vec_id, x.label, y.vec_id AS neg_id, y.label AS neg_label,
      |         ${simE3Sql(dotLongSql("x.codes", "y.codes"), "x.nsq", "y.nsq")}
      |           AS sim_e3
      |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.label <> y.label),
      |top AS (SELECT *, row_number() OVER (
      |          PARTITION BY vec_id ORDER BY sim_e3 DESC, neg_id) AS rank
      |        FROM pair WHERE sim_e3 IS NOT NULL)
      |SELECT vec_id, label, CAST(rank AS BIGINT) AS rank, neg_id, neg_label,
      |       sim_e3::DOUBLE / 1000 AS sim
      |FROM top WHERE rank <= 2
      |ORDER BY vec_id, rank""".stripMargin))

  /** The corpus-scaled bits rule as pure-integer SQL (mirror of
   * Similarity.scaledBits — smallest b in [8, 16] with N ≤ 8·2^b). */
  private val bitsCaseSql: String =
    "CASE " + (8 to 15).map(b => s"WHEN n <= ${8L << b} THEN $b")
      .mkString(" ") + " ELSE 16 END"

  private val p17 = QueryDef(
    // Embedding-cosine near-dup over the WHOLE corpus (no query side):
    // sign-LSH bucketed self-join, within-bucket candidates only. The
    // LSH width SCALES with the corpus (Similarity.scaledBits: density
    // N/2^bits ≤ 8, integer thresholds) — at the gate SFs the rule
    // lands on the historical 8 bits, at the 100× rehearsal it opens
    // to 12 and keeps the in-bucket pair work near-linear. The oracle
    // re-derives the width from its own count(*) and replays the
    // bucket + the e3 integer-cosine pair kernel (quantize once,
    // hoisted norm², integer dot per pair — simE3Sql).
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      // the production "derive the index knob from corpus stats" step —
      // memoized run-scoped so repeated executions don't each pay the
      // eager count action (the stat is a pure function of the dataset).
      // Past N = 524k scaledPlanes opens the seeded-hyperplane widths —
      // engine-only, spec-pinned; the SQL oracle below mirrors the axis
      // regime, the only one a gate-scale corpus can reach.
      val (bits, hyper) = graft.CacheScope.memoRunValue(
        s"${s.sparkContext.applicationId}:emb-bits:$d") {
        Similarity.scaledPlanes(e.count())
      }
      Similarity.cosineNearDupPairs(e, threshold = 0.3, bits = bits,
        hyperplanes = hyper)
        .orderBy(col("vec_a"), col("vec_b"))
    },
    Some(s"""WITH bitsq AS (SELECT $bitsCaseSql AS bits
      |               FROM (SELECT count(*) AS n FROM embeddings)),
      |b AS (SELECT vec_id,
      |        CAST(list_sum(list_transform(range(1, 1 + bitsq.bits),
      |          i -> CASE WHEN embedding[i] >= 0 THEN (1::BIGINT << (i - 1))
      |                    ELSE 0::BIGINT END)) AS BIGINT) AS bucket,
      |        ${q3Sql("embedding")} AS codes
      |      FROM embeddings CROSS JOIN bitsq),
      |n AS (SELECT vec_id, bucket, codes,
      |        ${dotLongSql("codes", "codes")} AS nsq FROM b),
      |p AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.bucket AS bucket,
      |        ${simE3Sql(dotLongSql("x.codes", "y.codes"), "x.nsq", "y.nsq")}
      |          AS sim_e3
      |      FROM n x JOIN n y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
      |SELECT vec_a, vec_b, bucket, sim_e3::DOUBLE / 1000 AS sim
      |FROM p WHERE sim_e3 >= 300
      |ORDER BY vec_a, vec_b""".stripMargin))

  private val p28 = QueryDef(
    // SemDeDup: IVF-cluster the corpus (same deterministic centroid rule
    // as p14), then within each cluster drop every vector whose cosine to
    // a lower-id cluster-mate reaches the threshold. The oracle re-derives
    // the assignment with a rank window and the prune with a within-
    // cluster self-join — candidate generation is cluster-local on both
    // sides, never all-pairs.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cembedding"))
      Similarity.semanticDedup(e, centroids, threshold = 0.3)
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH $assignCtes,
      |asgn AS (SELECT vec_id, cid AS cluster, codes, nsq
      |         FROM rk WHERE rn = 1),
      |prior AS (
      |  SELECT a.vec_id,
      |         max(${simE3Sql(dotLongSql("a.codes", "b.codes"), "a.nsq", "b.nsq")})
      |           AS max_e3
      |  FROM asgn a JOIN asgn b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
      |  GROUP BY a.vec_id)
      |SELECT asgn.vec_id, cluster, max_e3::DOUBLE / 1000 AS max_prior_sim,
      |       coalesce(max_e3 >= 300, false) AS dropped
      |FROM asgn LEFT JOIN prior ON asgn.vec_id = prior.vec_id
      |ORDER BY asgn.vec_id""".stripMargin))

  private val p52 = QueryDef(
    // One Lloyd k-means iteration (the step that TRAINS the centroids
    // p14/p28 consume): broadcast-assign every vector to its nearest
    // centroid, recompute each cluster mean as a (cluster, dim) hash
    // aggregate. Exact-integer parity (the p54 convention): components
    // e4-quantize via floor(v·10⁴ + 0.5), the cluster sum is INTEGER,
    // and c_new/c_old are each ONE final IEEE division — no float
    // aggregate for either engine to re-order.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cembedding"))
      Similarity.kmeansStep(e, centroids)
        .orderBy(col("cluster"), col("pos"))
    },
    Some(s"""WITH $assignCtes,
      |asg AS (SELECT vec_id, embedding, cid AS cluster FROM rk WHERE rn = 1),
      |pe AS (SELECT cluster, CAST(i.i AS INT) AS pos,
      |         CAST(floor(embedding[i.i]::DOUBLE * 10000.0 + 0.5) AS BIGINT)
      |           AS v_e4
      |       FROM asg CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i),
      |upd AS (SELECT cluster, pos, count(*) AS size,
      |          CAST(sum(v_e4) AS BIGINT) AS s_e4
      |        FROM pe GROUP BY 1, 2)
      |SELECT u.cluster, u.pos, u.size,
      |       CAST(u.s_e4 AS DOUBLE) / (u.size * 10000.0) AS c_new,
      |       CAST(floor(c.ce[u.pos]::DOUBLE * 10000.0 + 0.5) AS DOUBLE)
      |         / 10000.0 AS c_old
      |FROM upd u JOIN cq c ON c.cid = u.cluster
      |ORDER BY u.cluster, u.pos""".stripMargin))

  private val p54 = QueryDef(
    // Johnson–Lindenstrauss projection 64→16 with a deterministic md5
    // sign matrix (Achlioptas ±1): the matrix is a broadcast dimension
    // table both engines rebuild cell-for-cell; the projection is one
    // explode + join + hash aggregate. Exact-integer parity: components
    // quantize to e4 BIGINTs via floor(v·1e4 + 0.5) (pure IEEE, engine-
    // portable), the sum is integer (order-independent), and `proj` is
    // ONE final IEEE division — no round of a multi-partition float sum.
    (s, d) => Similarity.randomProjection(fixture(s, d, "embeddings"), dimIn = 64, dimOut = 16)
      .orderBy(col("vec_id"), col("j")),
    Some("""WITH sg AS (
      |  SELECT i.i AS pos, j.j AS j,
      |    CASE WHEN CAST(('0x' || substr(md5(i.i || ':' || j.j), 1, 1)) AS INT)
      |              % 2 = 1
      |         THEN 1 ELSE -1 END AS sign
      |  FROM (SELECT unnest(range(1, 65)) AS i) i,
      |       (SELECT unnest(range(1, 17)) AS j) j),
      |pe AS (SELECT vec_id, i.i AS pos,
      |         CAST(floor(embedding[i.i]::DOUBLE * 10000.0 + 0.5) AS BIGINT)
      |           AS v_e4
      |       FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i)
      |SELECT pe.vec_id, CAST(sg.j AS INT) AS j,
      |       CAST(sum(pe.v_e4 * sg.sign) AS BIGINT) AS proj_e4,
      |       CAST(CAST(sum(pe.v_e4 * sg.sign) AS BIGINT) AS DOUBLE)
      |         / (sqrt(16.0) * 10000.0) AS proj
      |FROM pe JOIN sg ON pe.pos = sg.pos
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Shared SQ8 oracle CTEs — per-dim corpus calibration (`cal`) and the
   * per-(vector, dim) code relation (`c`), the SQL mirror of
   * [[Similarity.sq8Codes]]; consumed by p119 and p122. */
  private val sq8SqlCtes: String =
    """pe AS (
      |  SELECT vec_id, CAST(i.i AS INT) AS dim, embedding[i.i]::DOUBLE AS v
      |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i),
      |cal AS (SELECT dim, min(v) AS mn, max(v) AS mx,
      |               CAST(floor((max(v) - min(v)) / 255.0 * 1000000.0
      |                 + 0.5) AS BIGINT) AS step_e6
      |        FROM pe GROUP BY dim),
      |c AS (SELECT pe.vec_id, pe.dim, pe.v, cal.mn, cal.mx, cal.step_e6,
      |             CASE WHEN cal.mx > cal.mn
      |                  THEN CAST(floor((pe.v - cal.mn) * 255.0
      |                         / (cal.mx - cal.mn) + 0.5) AS INT)
      |                  ELSE 0 END AS code
      |      FROM pe JOIN cal ON pe.dim = cal.dim)""".stripMargin

  private val p122 = QueryDef(
    // SQ8's retrieval cost: recall@5 of the integer code-space L2
    // ranking (Δcode·step_e6 squared and summed in DECIMAL(38,0) — the
    // dequantized distance up to the e6 step quantization, fully
    // engine-independent) against the exact L2 top-5 on the original
    // vectors (the fixed-order l2Sq kernel the PQ oracles proved), for
    // the 10 query vectors. The oracle replays BOTH rankings and the
    // overlap; ties break on the neighbor id in each.
    (s, d) => Similarity.sq8RecallAudit(fixture(s, d, "embeddings"), queryMax = 10L, k = 5)
      .orderBy(col("query_id")),
    Some(s"""WITH $sq8SqlCtes,
      |q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      |es AS (SELECT q.vec_id AS query_id, e.vec_id AS id,
      |         list_sum(list_transform(range(1, 65), i ->
      |           (q.embedding[i]::DOUBLE - e.embedding[i]::DOUBLE) *
      |           (q.embedding[i]::DOUBLE - e.embedding[i]::DOUBLE)))
      |           AS dist
      |       FROM embeddings e, q WHERE e.vec_id <> q.vec_id),
      |er AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |         ORDER BY dist, id) AS rn FROM es),
      |cq AS (SELECT vec_id AS qid, dim, code AS qcode FROM c
      |       WHERE vec_id < 10),
      |dists AS (SELECT cq.qid, t.vec_id AS cid,
      |            sum(CAST((cq.qcode - t.code) * t.step_e6 AS HUGEINT) *
      |                ((cq.qcode - t.code) * t.step_e6)) AS dist2
      |          FROM c t JOIN cq ON cq.dim = t.dim AND t.vec_id <> cq.qid
      |          GROUP BY 1, 2),
      |ct AS (SELECT *, row_number() OVER (PARTITION BY qid
      |         ORDER BY dist2, cid) AS rn FROM dists),
      |hits AS (SELECT e.query_id, count(*) AS n
      |         FROM er e JOIN ct ON ct.qid = e.query_id AND ct.cid = e.id
      |           AND ct.rn <= 5
      |         WHERE e.rn <= 5 GROUP BY 1)
      |SELECT q.vec_id AS query_id,
      |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
      |       CAST((coalesce(h.n, 0) * 1000000) // 5 AS BIGINT)
      |         AS recall_ppm
      |FROM q LEFT JOIN hits h ON q.vec_id = h.query_id
      |ORDER BY query_id""".stripMargin))

  private val p123 = QueryDef(
    // Graph ANN (HNSW recipe, deterministic): md5-geometric level draw,
    // per-level top-16 cell-bounded neighbor lists by exact e3-integer
    // L2 (symmetrized, once-quantized codes ranked by the codegen'd
    // l2_sq_long kernel), cell adjacency widening 4ˡ per level (the
    // long-range upper layers), greedy descent from the global
    // max-level node, a 4-superstep ef=128 beam over level 0, recall@5
    // vs the exact integer-metric top-5 for the 20 query vectors
    // (measured mean recall 1.00 at both sf0.01 and sf0.1). The oracle
    // rebuilds levels, cells, all three level graphs, and UNROLLS the
    // walk superstep by superstep (the p83 convention) — generated by
    // Hnsw.duckOracle so the CTE chain always matches the superstep
    // counts.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      graft.pipeline.Hnsw.recallAudit(e, hnswCentroids(e), queryMax = 20L,
          m = 16, ef = 128, k = 5, maxLevel = hnswMaxLevel, beamSteps = 4,
          cellAdj = 8, hopsPerLevel = 1,
          preAssigned = Some(hnswAssignedShared(s, d)))
        .orderBy(col("query_id"))
    },
    Some(graft.pipeline.Hnsw.duckOracle(queryMax = 20L, m = 16, ef = 128,
      k = 5, maxLevel = 2, beamSteps = 4, cellAdj = 8, hopsPerLevel = 1)))

  /** p123/p128's level-draw depth — ONE constant so the shared
   * preAssigned relation (level column drawn at build time) can never
   * disagree with the audits that consume it. */
  private val hnswMaxLevel = 2

  private def hnswCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("cembedding"))

  /** The Hnsw corpus preparation (e3 codes + cell assignment + level
   * draw) shared by p123's fresh-build audit and p128's append audit,
   * RUN-scoped: a pure function of (corpus, centroids, maxLevel), so
   * one |corpus|×|centroids| assignment pass serves both audits per
   * harness run — the r16 verdict's audit-family reclaim. Oracles stay
   * independent full replays. */
  private def hnswAssignedShared(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:hnsw-assigned:$d") {
      val e = fixture(s, d, "embeddings")
      graft.pipeline.Hnsw.assignedNodes(e, hnswCentroids(e), hnswMaxLevel)
    }

  private val p128 = QueryDef(
    // HNSW append-WITHOUT-rebuild (index maintenance next to p120's IVF
    // append): freeze the p123 graph built on 90% of the corpus
    // (vec_id % 10 <> 5), bulk-insert the other 10% — frozen
    // centroids, same level draw, each new node's top-16 per level
    // selected among BASE nodes only, reverse edges added, every list
    // re-capped at Mmax = 32 — then run the p123 walk on the appended
    // graph and audit recall@5 against the exact FULL-corpus top-5.
    // Three census columns ride every row: batch size, appended
    // directed edges, and how many adjacency lists the cap pruned. The
    // oracle (Hnsw.duckOracleAppend) rebuilds both stages and unrolls
    // the walk, so the frozen/appended split itself is verified.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      graft.pipeline.Hnsw.appendAudit(e, hnswCentroids(e),
          batch = col("vec_id") % 10 === 5, queryMax = 20L,
          m = 16, ef = 128, k = 5, maxLevel = hnswMaxLevel, beamSteps = 4,
          cellAdj = 8, hopsPerLevel = 1,
          preAssigned = Some(hnswAssignedShared(s, d)))
        .orderBy(col("query_id"))
    },
    Some(graft.pipeline.Hnsw.duckOracleAppend("vec_id % 10 = 5",
      queryMax = 20L, m = 16, ef = 128, k = 5, maxLevel = 2,
      beamSteps = 4, cellAdj = 8, hopsPerLevel = 1)))

  private val p125 = QueryDef(
    // Crawl-archive sibling of p19/p20/p118 — the container family's
    // fourth leg (ISO 28500 WARC, the WET `conversion` shape crawl
    // corpora arrive in): 25 docs per archive (bucket = doc_id div 25),
    // each a full record — version line, the four mandatory headers
    // plus Target-URI and an md5 block digest, Content-Length payload,
    // CRLFCRLF terminator — serialized and re-parsed by the validating
    // walker (digest verified on read), then a per-record census: index
    // and BYTE OFFSET within the archive, declared length, payload md5,
    // doc id recovered from the parsed Record-ID. Payload is the text
    // projected to printable ASCII (the p118 convention) so the
    // oracle's character arithmetic equals the engine's byte walk at
    // any corpus content. The oracle rebuilds every record as a string
    // and re-derives lengths and offsets arithmetically — the engine
    // matches only if the framing, header layout, and walk are exact.
    (s, d) => {
      import s.implicits._
      val in = fixture(s, d, "documents")
        .select(col("doc_id"), expr("doc_id div 25").as("bucket"),
          encode(regexp_replace(coalesce(col("text"), lit("")),
            "[^ -~]", "?"), "UTF-8").as("px"))
        .as[(Long, Long, Array[Byte])]
      in.groupByKey(_._2)
        .flatMapGroups { (bucket, it) =>
          val sorted = it.toSeq.sortBy(_._1)
          val recs = sorted.map { case (id, _, px) =>
            graft.pipeline.WarcCodec.WarcRecord("conversion",
              s"<urn:uuid:doc-$id>", "2022-01-01T00:00:00Z",
              Some(s"https://example.org/doc/$id"), px)
          }
          // the Common Crawl wire shape: one gzip member per record;
          // parseGz keeps offsets in the logical record stream, so the
          // census (and its arithmetic oracle) is transport-invariant
          val parsed = graft.pipeline.WarcCodec.parseGz(
            graft.pipeline.WarcCodec.buildGz(recs))
          parsed.zipWithIndex.map { case (r, i) =>
            val id = r.recordId.stripPrefix("<urn:uuid:doc-")
              .stripSuffix(">").toLong
            (bucket, (i + 1).toLong, id, r.offset, r.contentLength,
              r.payloadMd5)
          }
        }
        .toDF("bucket", "rec_index", "doc_id", "rec_offset",
          "content_length", "payload_md5")
        .orderBy(col("bucket"), col("rec_index"))
    },
    Some("""WITH p AS (
      |  SELECT doc_id, doc_id // 25 AS bucket,
      |         regexp_replace(coalesce(text, ''), '[^ -~]', '?', 'g')
      |           AS payload
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, bucket, payload, length(payload) AS len,
      |         md5(payload) AS pmd5,
      |         chr(13) || chr(10) AS crlf
      |  FROM p),
      |b AS (
      |  SELECT doc_id, bucket, len, pmd5,
      |         length('WARC/1.0' || crlf
      |           || 'WARC-Type: conversion' || crlf
      |           || 'WARC-Record-ID: <urn:uuid:doc-' || doc_id || '>' || crlf
      |           || 'WARC-Date: 2022-01-01T00:00:00Z' || crlf
      |           || 'WARC-Target-URI: https://example.org/doc/' || doc_id
      |             || crlf
      |           || 'Content-Length: ' || len || crlf
      |           || 'WARC-Block-Digest: md5:' || pmd5 || crlf
      |           || crlf || payload || crlf || crlf) AS rec_bytes
      |  FROM r)
      |SELECT bucket, CAST(row_number() OVER w AS BIGINT) AS rec_index,
      |       doc_id,
      |       CAST(coalesce(sum(rec_bytes) OVER (PARTITION BY bucket
      |         ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
      |         1 PRECEDING), 0) AS BIGINT) AS rec_offset,
      |       CAST(len AS BIGINT) AS content_length,
      |       pmd5 AS payload_md5
      |FROM b
      |WINDOW w AS (PARTITION BY bucket ORDER BY doc_id)
      |ORDER BY bucket, rec_index""".stripMargin))

  private val p125b = QueryDef(
    // Full ISO 28500 record surface over p125's WET-only shape — the
    // crawl-archive layout Common Crawl actually ships: per 25-doc
    // bucket one `warcinfo` record (archive metadata,
    // application/warc-fields), then per doc a `request` record and a
    // `response` record whose blocks are complete HTTP/1.1 messages
    // (status line, headers, Content-Length-framed body — §6.3/§6.4).
    // The engine serializes the nested container (HTTP inside WARC),
    // re-parses BOTH layers with the validating walkers (block digest,
    // record framing, HTTP Content-Length vs body), and emits the
    // crawl census: per (bucket, HTTP status, Content-Type) response
    // count, body bytes, and the SUM of response record byte offsets —
    // the offset sum means the oracle matches only if every
    // warcinfo/request/response record's nested framing arithmetic
    // (both layers of headers, digests, lengths) is byte-exact.
    // Status/mime derive deterministically from the doc id (404 on
    // id%7=0, text/html on id%5=0) so the census has real grouping
    // structure at any corpus.
    (s, d) => {
      import s.implicits._
      val in = fixture(s, d, "documents")
        .select(col("doc_id"), expr("doc_id div 25").as("bucket"),
          encode(regexp_replace(coalesce(col("text"), lit("")),
            "[^ -~]", "?"), "UTF-8").as("px"))
        .as[(Long, Long, Array[Byte])]
      in.groupByKey(_._2)
        .flatMapGroups { (bucket, it) =>
          val W = graft.pipeline.WarcCodec
          val D = "2022-01-01T00:00:00Z"
          val sorted = it.toSeq.sortBy(_._1)
          val info = W.WarcRecord("warcinfo", s"<urn:uuid:info-$bucket>", D,
            None, ("software: graft-warc/1.0\r\n" +
              "format: WARC File Format 1.0\r\n").getBytes("US-ASCII"),
            Some("application/warc-fields"))
          val recs = info +: sorted.flatMap { case (id, _, px) =>
            val uri = s"https://example.org/doc/$id"
            val req = W.WarcRecord("request", s"<urn:uuid:req-$id>", D,
              Some(uri), W.buildHttp(s"GET /doc/$id HTTP/1.1",
                Seq("Host" -> "example.org",
                  "User-Agent" -> "graft-crawler/1.0"),
                Array.emptyByteArray),
              Some("application/http; msgtype=request"))
            val (code, reason) =
              if (id % 7 == 0) (404, "Not Found") else (200, "OK")
            val mime = if (id % 5 == 0) "text/html" else "text/plain"
            val resp = W.WarcRecord("response", s"<urn:uuid:resp-$id>", D,
              Some(uri), W.buildHttp(s"HTTP/1.1 $code $reason",
                Seq("Content-Type" -> mime), px),
              Some("application/http; msgtype=response"))
            Seq(req, resp)
          }
          val parsed = W.parseGz(W.buildGz(recs))
          parsed.filter(_.warcType == "response").map { r =>
            val http = W.parseHttp(r.payload, isResponse = true)
            val mime = http.headers
              .collectFirst { case ("Content-Type", v) => v }.get
            (bucket, http.status.get.toLong, mime, r.offset,
              http.body.length.toLong)
          }
        }
        .toDF("bucket", "status", "mime", "off", "body_len")
        .groupBy(col("bucket"), col("status"), col("mime"))
        .agg(count(lit(1)).as("n_responses"),
          sum(col("body_len")).as("body_bytes"),
          sum(col("off")).as("resp_offset_sum"))
        .orderBy(col("bucket"), col("status"), col("mime"))
    },
    Some("""WITH p AS (
      |  SELECT doc_id, doc_id // 25 AS bucket,
      |         regexp_replace(coalesce(text, ''), '[^ -~]', '?', 'g')
      |           AS payload,
      |         chr(13) || chr(10) AS crlf
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, bucket, crlf, payload,
      |         CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS status,
      |         CASE WHEN doc_id % 7 = 0 THEN 'Not Found' ELSE 'OK' END
      |           AS reason,
      |         CASE WHEN doc_id % 5 = 0 THEN 'text/html'
      |              ELSE 'text/plain' END AS mime,
      |         length(payload) AS body_len
      |  FROM p),
      |m AS (
      |  SELECT *,
      |    'HTTP/1.1 ' || status || ' ' || reason || crlf ||
      |      'Content-Type: ' || mime || crlf ||
      |      'Content-Length: ' || body_len || crlf || crlf || payload
      |      AS resp_http,
      |    'GET /doc/' || doc_id || ' HTTP/1.1' || crlf ||
      |      'Host: example.org' || crlf ||
      |      'User-Agent: graft-crawler/1.0' || crlf ||
      |      'Content-Length: 0' || crlf || crlf AS req_http
      |  FROM h),
      |rec AS (
      |  SELECT doc_id, bucket, status, mime, body_len,
      |    length('WARC/1.0' || crlf || 'WARC-Type: request' || crlf
      |      || 'WARC-Record-ID: <urn:uuid:req-' || doc_id || '>' || crlf
      |      || 'WARC-Date: 2022-01-01T00:00:00Z' || crlf
      |      || 'WARC-Target-URI: https://example.org/doc/' || doc_id || crlf
      |      || 'Content-Type: application/http; msgtype=request' || crlf
      |      || 'Content-Length: ' || length(req_http) || crlf
      |      || 'WARC-Block-Digest: md5:' || md5(req_http) || crlf
      |      || crlf || req_http || crlf || crlf) AS req_bytes,
      |    length('WARC/1.0' || crlf || 'WARC-Type: response' || crlf
      |      || 'WARC-Record-ID: <urn:uuid:resp-' || doc_id || '>' || crlf
      |      || 'WARC-Date: 2022-01-01T00:00:00Z' || crlf
      |      || 'WARC-Target-URI: https://example.org/doc/' || doc_id || crlf
      |      || 'Content-Type: application/http; msgtype=response' || crlf
      |      || 'Content-Length: ' || length(resp_http) || crlf
      |      || 'WARC-Block-Digest: md5:' || md5(resp_http) || crlf
      |      || crlf || resp_http || crlf || crlf) AS resp_bytes
      |  FROM m),
      |info AS (
      |  SELECT bucket,
      |    length('WARC/1.0' || crlf || 'WARC-Type: warcinfo' || crlf
      |      || 'WARC-Record-ID: <urn:uuid:info-' || bucket || '>' || crlf
      |      || 'WARC-Date: 2022-01-01T00:00:00Z' || crlf
      |      || 'Content-Type: application/warc-fields' || crlf
      |      || 'Content-Length: ' || length(ip) || crlf
      |      || 'WARC-Block-Digest: md5:' || md5(ip) || crlf
      |      || crlf || ip || crlf || crlf) AS info_bytes
      |  FROM (SELECT DISTINCT bucket, chr(13) || chr(10) AS crlf,
      |          'software: graft-warc/1.0' || chr(13) || chr(10) ||
      |          'format: WARC File Format 1.0' || chr(13) || chr(10) AS ip
      |        FROM p) ib),
      |off AS (
      |  SELECT rec.bucket, rec.status, rec.mime, rec.body_len,
      |    info_bytes
      |      + coalesce(sum(req_bytes + resp_bytes) OVER (
      |          PARTITION BY rec.bucket ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + req_bytes AS resp_off
      |  FROM rec JOIN info ON rec.bucket = info.bucket)
      |SELECT bucket, CAST(status AS BIGINT) AS status, mime,
      |  CAST(count(*) AS BIGINT) AS n_responses,
      |  CAST(sum(body_len) AS BIGINT) AS body_bytes,
      |  CAST(sum(resp_off) AS BIGINT) AS resp_offset_sum
      |FROM off GROUP BY bucket, status, mime
      |ORDER BY bucket, status, mime""".stripMargin))

  /** The deterministic "messy crawl frontier" URL per document — the
   * role WARC-Target-URI plays in real archives (p125b stamps the clean
   * form; this is the before-canonicalization wire form): mixed-case
   * scheme/host, default and non-default explicit ports, trailing
   * slashes, permuted query-param orders, and percent-encoding variants
   * (RFC 3986 §6.2.2.2), all keyed off doc_id so distinct documents
   * collide onto the same canonical URL exactly as crawl dups do. The
   * percent segment's CANONICAL form is fixed per page class
   * (doc_id%25%5) while its RAW encoding flips on doc_id%2 — the same
   * axis the host-case variants flip on — so every surviving even↔odd
   * collision now also REQUIRES correct hex case-folding and
   * unreserved-decode (`%7euser` ↔ `~user`, `%2fdl` ↔ `%2Fdl`,
   * `%41` ↔ `A`); the `%zz` class pins malformed-percent
   * keep-verbatim. NOTE: the generator exists in THREE hand-aligned
   * copies that must change in lockstep — this Spark-SQL expr, the
   * ||-concatenation translation inside the p127 oracle string below
   * (STRING→VARCHAR casts are the only delta), and the idempotence
   * fixture in UrlOpsSpec. */
  private[graft] val rawUrlSql: String =
    """concat(
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'HTTP'
      |       WHEN 1 THEN 'https' ELSE 'http' END,
      |  '://',
      |  CASE WHEN doc_id % 2 = 0
      |       THEN concat('WWW.Site', CAST(doc_id % 7 AS STRING), '.COM')
      |       ELSE concat('www.site', CAST(doc_id % 7 AS STRING), '.com')
      |  END,
      |  CASE WHEN doc_id % 5 = 0
      |       THEN (CASE WHEN doc_id % 3 = 1 THEN ':443' ELSE ':80' END)
      |       WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END,
      |  concat('/page/', CAST(doc_id % 25 AS STRING),
      |    CASE CAST(doc_id % 25 % 5 AS INT)
      |      WHEN 0 THEN (CASE WHEN doc_id % 2 = 0
      |                   THEN '%7Euser' ELSE '%7euser' END)
      |      WHEN 1 THEN (CASE WHEN doc_id % 2 = 0
      |                   THEN '~user' ELSE '%7Euser' END)
      |      WHEN 2 THEN (CASE WHEN doc_id % 2 = 0
      |                   THEN '%2fdl' ELSE '%2Fdl' END)
      |      WHEN 3 THEN (CASE WHEN doc_id % 2 = 0
      |                   THEN '%41' ELSE 'A' END)
      |      ELSE '%zz' END,
      |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END),
      |  CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN '?b=2&a=1'
      |       WHEN 1 THEN '?a=1&b=2' WHEN 2 THEN '?a=1' ELSE '' END)"""
      .stripMargin

  private val p127 = QueryDef(
    // URL canonicalization + host census — the crawl-curation step
    // between WARC ingest (p125/p125b) and URL-keyed dedup: RFC 3986
    // §6 syntax normalization (case, default ports, root/trailing
    // slash, query-param sort — UrlOps.canonicalizeUrl), then exact-URL
    // dup accounting rolled up per host. Two-level hash aggregation
    // (URL within host, then host) — partial-agg friendly, no
    // join-back, the whole census is two key-local shuffles at any
    // corpus size. The oracle rebuilds the same messy URLs and replays
    // every normalization with its own regex/string functions, so a
    // single mishandled port/slash/param ordering breaks the hash.
    (s, d) => UrlOps.hostCensus(
        UrlOps.frontierBase(fixture(s, d, "documents"), expr(rawUrlSql)))
      .orderBy(col("host")),
    Some(s"""WITH raw AS (
      |  SELECT doc_id, length(coalesce(text, '')) AS chars,
      |    (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'HTTP'
      |          WHEN 1 THEN 'https' ELSE 'http' END
      |     || '://'
      |     || CASE WHEN doc_id % 2 = 0
      |             THEN 'WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
      |             ELSE 'www.site' || CAST(doc_id % 7 AS VARCHAR) || '.com'
      |        END
      |     || CASE WHEN doc_id % 5 = 0
      |             THEN (CASE WHEN doc_id % 3 = 1 THEN ':443' ELSE ':80' END)
      |             WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END
      |     || '/page/' || CAST(doc_id % 25 AS VARCHAR)
      |     || CASE CAST(doc_id % 25 % 5 AS INT)
      |          WHEN 0 THEN (CASE WHEN doc_id % 2 = 0
      |                       THEN '%7Euser' ELSE '%7euser' END)
      |          WHEN 1 THEN (CASE WHEN doc_id % 2 = 0
      |                       THEN '~user' ELSE '%7Euser' END)
      |          WHEN 2 THEN (CASE WHEN doc_id % 2 = 0
      |                       THEN '%2fdl' ELSE '%2Fdl' END)
      |          WHEN 3 THEN (CASE WHEN doc_id % 2 = 0
      |                       THEN '%41' ELSE 'A' END)
      |          ELSE '%zz' END
      |     || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
      |     || CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN '?b=2&a=1'
      |             WHEN 1 THEN '?a=1&b=2' WHEN 2 THEN '?a=1' ELSE '' END
      |    ) AS raw_url
      |  FROM documents),
      |pct AS (
      |  -- RFC 3986 6.2.2.2 replay: split on '%', per segment uppercase
      |  -- the 2-hex prefix, decode it when it names an unreserved char
      |  -- (hex value via strpos arithmetic), keep malformed '%' runs
      |  SELECT doc_id, chars,
      |    sp[1] || coalesce(array_to_string(list_transform(sp[2:], x ->
      |      CASE WHEN regexp_matches(upper(substr(x, 1, 2)),
      |                               '^[0-9A-F]{2}$$')
      |           THEN CASE WHEN
      |                  ((strpos('0123456789ABCDEF',
      |                           upper(substr(x, 1, 1))) - 1) * 16
      |                   + strpos('0123456789ABCDEF',
      |                            upper(substr(x, 2, 1))) - 1)
      |                  IN (45, 46, 95, 126)
      |                OR ((strpos('0123456789ABCDEF',
      |                            upper(substr(x, 1, 1))) - 1) * 16
      |                    + strpos('0123456789ABCDEF',
      |                             upper(substr(x, 2, 1))) - 1)
      |                   BETWEEN 48 AND 57
      |                OR ((strpos('0123456789ABCDEF',
      |                            upper(substr(x, 1, 1))) - 1) * 16
      |                    + strpos('0123456789ABCDEF',
      |                             upper(substr(x, 2, 1))) - 1)
      |                   BETWEEN 65 AND 90
      |                OR ((strpos('0123456789ABCDEF',
      |                            upper(substr(x, 1, 1))) - 1) * 16
      |                    + strpos('0123456789ABCDEF',
      |                             upper(substr(x, 2, 1))) - 1)
      |                   BETWEEN 97 AND 122
      |                THEN chr(CAST(
      |                       (strpos('0123456789ABCDEF',
      |                               upper(substr(x, 1, 1))) - 1) * 16
      |                       + strpos('0123456789ABCDEF',
      |                                upper(substr(x, 2, 1))) - 1
      |                     AS INTEGER)) || substr(x, 3)
      |                ELSE '%' || upper(substr(x, 1, 2)) || substr(x, 3)
      |                END
      |           ELSE '%' || x END), ''), '') AS raw_url
      |  FROM (SELECT doc_id, chars, string_split(raw_url, '%') AS sp
      |        FROM raw)),
      |parts AS (
      |  SELECT doc_id, chars,
      |    lower(regexp_extract(raw_url, '^([^:/?#]+)://', 1)) AS scheme,
      |    regexp_replace(raw_url, '^[^:/?#]+://', '') AS rest
      |  FROM pct),
      |auth AS (
      |  SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS authority,
      |    regexp_replace(rest, '^[^/?#]*', '') AS pathq
      |  FROM parts),
      |comp AS (
      |  SELECT doc_id, chars, scheme,
      |    lower(regexp_extract(authority, '^([^:]*)', 1)) AS host,
      |    regexp_extract(authority, ':([0-9]+)$$', 1) AS port,
      |    regexp_extract(pathq, '^([^?#]*)', 1) AS path,
      |    regexp_extract(pathq, '\\?([^#]*)', 1) AS query
      |  FROM auth),
      |canon AS (
      |  SELECT doc_id, chars, host,
      |    scheme || '://' || host
      |    || CASE WHEN port = '' OR port =
      |           (CASE WHEN scheme = 'http' THEN '80'
      |                 WHEN scheme = 'https' THEN '443' ELSE '' END)
      |       THEN '' ELSE ':' || port END
      |    || CASE WHEN regexp_replace(path, '/+$$', '') = '' THEN '/'
      |            ELSE regexp_replace(path, '/+$$', '') END
      |    || CASE WHEN query = '' THEN ''
      |            ELSE '?' || array_to_string(
      |              list_sort(string_split(query, '&')), '&') END AS url
      |  FROM comp),
      |perurl AS (
      |  SELECT host, url, count(*) AS n, sum(chars) AS chars
      |  FROM canon GROUP BY host, url)
      |SELECT host, CAST(sum(n) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_urls,
      |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
      |    AS n_dup_docs,
      |  CAST(max(n) AS BIGINT) AS max_url_docs,
      |  CAST(sum(chars) AS BIGINT) AS text_chars
      |FROM perurl GROUP BY host ORDER BY host""".stripMargin))

  private val p119 = QueryDef(
    // Scalar int8 quantization with corpus-trained per-dim calibration
    // (the FAISS SQ8 shape): one dim-keyed min/max agg (comparisons
    // only — exact on any engine) broadcast back, codes and
    // reconstruction deltas as fixed-order IEEE expressions, each dim's
    // δ² e12-quantized BEFORE the per-vector sum (the exact-integer
    // convention). The oracle replays calibration, coding, and error
    // arithmetic from scratch.
    (s, d) => Similarity.sq8Quantize(fixture(s, d, "embeddings")).orderBy(col("vec_id")),
    Some(s"""WITH $sq8SqlCtes,
      |r AS (SELECT vec_id, dim, code,
      |             CAST(floor((v - (mn + code * (mx - mn) / 255.0)) *
      |                        (v - (mn + code * (mx - mn) / 255.0)) *
      |                        1000000000000.0 + 0.5) AS BIGINT) AS d2_e12
      |      FROM c)
      |SELECT vec_id,
      |       md5(string_agg(CAST(code AS VARCHAR), ',' ORDER BY dim))
      |         AS codes_md5,
      |       CAST(sum(d2_e12) AS BIGINT) AS err_e12,
      |       CAST(max(code) AS INT) AS max_code
      |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin))

  private val p120 = QueryDef(
    // IVF append-without-retrain census: the 20% batch (vec_id % 5 = 4)
    // assigns to centroids trained on the 80% base (the centroid rule
    // stays %50 = 0 — all centroids live in the base); per cell the
    // base/new populations, exact-PPM growth, and the cross-multiplied
    // needs_split rebalance flag. The oracle re-derives BOTH
    // assignments with the independent window formulation and replays
    // the integer arithmetic.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("cembedding"))
      Similarity.ivfAppendCensus(
        e.filter(col("vec_id") % 5 =!= 4),
        e.filter(col("vec_id") % 5 === 4), centroids)
        .orderBy(col("cluster"))
    },
    Some(s"""WITH $assignCtes,
      |cells AS (
      |  SELECT cid AS cluster,
      |         CAST(sum(CASE WHEN vec_id % 5 = 4 THEN 0 ELSE 1 END) AS BIGINT)
      |           AS n_base,
      |         CAST(sum(CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_new
      |  FROM rk WHERE rn = 1 GROUP BY cid),
      |tot AS (SELECT sum(n_base) AS t_base, sum(n_new) AS t_new
      |        FROM cells)
      |SELECT cluster, n_base, n_new,
      |       CAST(CASE WHEN n_base > 0
      |            THEN (CAST(n_new AS HUGEINT) * 1000000) // n_base END
      |         AS BIGINT) AS growth_ppm,
      |       CAST(n_new AS HUGEINT) * t_base >
      |         2 * CAST(t_new AS HUGEINT) * n_base AS needs_split
      |FROM cells, tot ORDER BY cluster""".stripMargin))

  /** PQ fixture codebooks: m=4 segments × dsub=16 dims, ks≤16 codewords
   * per segment (the first ≤16 centroid-rule vectors' subvectors — a
   * deterministic stand-in for per-segment k-means, same fixture
   * philosophy as p14's centroids). p35/p37 quantize RAW vectors
   * against these; p132 uses p133's TRAINED residual books instead
   * (residual-trained books would be domain-mismatched for the raw
   * path, so the fixture stays the right input here). The rank window
   * runs on a ≤16-row dimension table. */
  private def pqCodebooks(s: SparkSession, e: DataFrame): DataFrame = {
    val ranked = e.filter(col("vec_id") % 50 === 0)
      .withColumn("code", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))) - 1)
        .cast("int"))
      .filter(col("code") < 16)
    val segs = s.range(0, 4).select(col("id").cast("int").as("segment"))
    ranked.crossJoin(segs)
      .select(col("segment"), col("code"),
        slice(col("embedding"), col("segment") * 16 + lit(1), lit(16))
          .as("subvec"))
  }

  /** Deterministic PQ-training init — delegates to the ONE shared
   * recipe ([[Similarity.pqInitBooks]]); the oracle's cb0p CTE is its
   * independent SQL formulation. */
  private def pqInitBooks(s: SparkSession, rv: DataFrame): DataFrame =
    Similarity.pqInitBooks(rv)

  /** The trained-PQ audit relation shared by p133 (the training row)
   * and p132 (IVFPQ search over the TRAINED books), memoized
   * RUN-scoped: two Lloyd supersteps over the IVF residual relation —
   * the expensive corpus passes run once per harness run, the
   * production checkpoint discipline between "train index" and "serve
   * queries" stages. */
  private def pqTrainShared(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:pq-train:$d") {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("cembedding"))
      val rv = Similarity.ivfResiduals(e, centroids)
      Similarity.pqTrain(rv, pqInitBooks(s, rv), dsub = 16, iterations = 2)
    }

  /** Oracle replay of the PQ-training supersteps over the `rv`
   * residual CTE (which itself rides [[assignCtes]]): cb0p is the
   * deterministic %50=7 init, then per iteration t — cb{t-1}p folds to
   * list-codebooks (cb{t-1}), a/g assign every residual's segment to
   * its argmin-L2 code (ties to the lowest code, the independent
   * window formulation of pqAssign's min_by), u re-estimates each
   * component in the p52 exact-integer convention, and cb{t}p keeps an
   * empty code's previous codeword. AS MATERIALIZED throughout: each
   * step is referenced twice (assignment + keep-old fallback), and
   * DuckDB inlines CTEs per reference — an unmaterialized superstep
   * chain goes exponential (the round-10 oracle lesson). */
  private val pqTrainCtes: String = {
    def step(t: Int): String = {
      val prev = s"cb${t - 1}"
      s"""$prev AS MATERIALIZED (
        |  SELECT segment, code, list(cv ORDER BY pos) AS subvec
        |  FROM ${prev}p GROUP BY 1, 2),
        |a$t AS (
        |  SELECT rv.vec_id, c.segment, c.code,
        |         list_sum(list_transform(range(1, 17), i ->
        |           (rv.r[c.segment * 16 + i] - c.subvec[i]) *
        |           (rv.r[c.segment * 16 + i] - c.subvec[i]))) AS dist
        |  FROM rv CROSS JOIN $prev c),
        |g$t AS (SELECT vec_id, segment, code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, segment
        |      ORDER BY dist, code) AS rn2 FROM a$t) WHERE rn2 = 1),
        |u$t AS (
        |  SELECT g.segment, g.code, CAST(i.i AS INT) AS pos,
        |         count(*) AS msize,
        |         CAST(sum(CAST(floor(rv.r[g.segment * 16 + i.i] * 10000.0
        |           + 0.5) AS BIGINT)) AS BIGINT) AS s_e4
        |  FROM g$t g JOIN rv ON rv.vec_id = g.vec_id
        |  CROSS JOIN (SELECT unnest(range(1, 17)) AS i) i
        |  GROUP BY 1, 2, 3),
        |cb${t}p AS MATERIALIZED (
        |  SELECT c.segment, c.code, c.pos, coalesce(u.msize, 0) AS msize,
        |         CASE WHEN u.msize IS NOT NULL
        |              THEN CAST(u.s_e4 AS DOUBLE) / (u.msize * 10000.0)
        |              ELSE c.cv END AS cv,
        |         c.cv AS c_old
        |  FROM ${prev}p c LEFT JOIN u$t u USING (segment, code, pos))"""
        .stripMargin
    }
    s"""cb0p AS MATERIALIZED (
      |  SELECT CAST(s.s AS INT) AS segment, t.code, CAST(i.i AS INT) AS pos,
      |         t.r[s.s * 16 + i.i] AS cv
      |  FROM (SELECT r, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
      |          AS code
      |        FROM rv WHERE vec_id % 50 = 7) t
      |  CROSS JOIN (SELECT unnest(range(0, 4)) AS s) s
      |  CROSS JOIN (SELECT unnest(range(1, 17)) AS i) i
      |  WHERE t.code < 16),
      |${step(1)},
      |${step(2)}""".stripMargin
  }

  private val p133 = QueryDef(
    // PQ codebook TRAINING (Jégou 2011 §II / FAISS ProductQuantizer
    // ::train, per-segment k-means on IVF residuals): two Lloyd
    // supersteps from the deterministic %50=7 residual init — argmin-L2
    // assignment (ties to the lowest code), e4-integer mean update, an
    // empty code keeps its codeword. One row per (segment, code, pos)
    // of the FINAL step: membership size, trained c_new, incoming
    // c_old. The oracle unrolls BOTH supersteps as literal SQL (the
    // p83 convention), so parity pins every assignment and every mean.
    (s, d) => pqTrainShared(s, d)
      .orderBy(col("segment"), col("code"), col("pos")),
    Some(s"""WITH $assignCtes,
      |rv AS (
      |  SELECT vec_id, cid AS cluster,
      |         list_transform(range(1, 65),
      |           i -> embedding[i]::DOUBLE - ce[i]::DOUBLE) AS r
      |  FROM rk WHERE rn = 1),
      |$pqTrainCtes
      |SELECT segment, code, pos, CAST(msize AS BIGINT) AS size,
      |       cv AS c_new, c_old
      |FROM cb2p ORDER BY segment, code, pos""".stripMargin))

  /** Shared oracle CTEs: codebooks (`cb`) and the per-(vec, segment)
   * code assignment (`asg`) — the SQL mirror of [[pqCodebooks]] +
   * `Similarity.pqAssign`. */
  private val pqSqlCtes: String =
    """ranked AS (
      |  SELECT embedding,
      |         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |cb AS (
      |  SELECT s.s AS segment, code,
      |         list_transform(range(1, 17), i -> embedding[s.s * 16 + i]) AS subvec
      |  FROM ranked CROSS JOIN (SELECT unnest(range(0, 4)) AS s) s
      |  WHERE code < 16),
      |d AS (
      |  SELECT e.vec_id, c.segment, c.code,
      |         list_sum(list_transform(range(1, 17), i ->
      |           (e.embedding[c.segment * 16 + i]::DOUBLE - c.subvec[i]::DOUBLE) *
      |           (e.embedding[c.segment * 16 + i]::DOUBLE - c.subvec[i]::DOUBLE)))
      |           AS dist
      |  FROM embeddings e CROSS JOIN cb c),
      |a AS (SELECT *, row_number() OVER (PARTITION BY vec_id, segment
      |        ORDER BY dist, code) AS rn FROM d)""".stripMargin

  private val p35 = QueryDef(
    // Reconstruction error in the exact-integer convention: each
    // segment's distance (fixed-order kernel, bit-identical across
    // engines) quantizes to e6 via floor(d·10⁶ + 0.5) BEFORE the
    // per-vector sum — no rounded float aggregate.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      Similarity.pqQuantize(e, pqCodebooks(s, e), dsub = 16)
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH $pqSqlCtes
      |SELECT vec_id,
      |       string_agg(CAST(code AS VARCHAR), ',' ORDER BY segment) AS codes_csv,
      |       CAST(sum(CAST(floor(dist * 1000000.0 + 0.5) AS BIGINT))
      |         AS BIGINT) AS err_e6
      |FROM a WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin))

  private val p39 = QueryDef(
    // Feature-hashing doc embeddings: tokens → murmur3 % 64 dims with a
    // hash-derived sign. The oracle reproduces the hash via the pinned
    // vocab table (fixture docs draw from exactly these 31 words — the
    // same totality p5 relies on).
    (s, d) => TextOps.hashEmbedding(fixture(s, d, "documents"), "doc_id", "text", dim = 64)
      .orderBy(col("doc_id")),
    Some(s"""WITH vocab(word, h, hs) AS (SELECT * FROM (VALUES $vocabValues2)),
      |t AS (SELECT doc_id, unnest(list_filter($WORDS, w -> length(w) > 0))
      |        AS word FROM documents),
      |j AS (SELECT doc_id, h % 64 AS d,
      |             CASE WHEN hs % 2 = 0 THEN 1 ELSE -1 END AS sgn
      |      FROM t JOIN vocab USING (word)),
      |w AS (SELECT doc_id, d, CAST(sum(sgn) AS BIGINT) AS w
      |      FROM j GROUP BY 1, 2),
      |nz AS (SELECT * FROM w WHERE w <> 0)
      |SELECT doc_id, count(*) AS nnz, CAST(sum(abs(w)) AS BIGINT) AS l1,
      |       string_agg(d || ':' || w, ',' ORDER BY d) AS sparse_csv
      |FROM nz GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  private val p37 = QueryDef(
    // PQ search via Asymmetric Distance Computation: queries (vec_id<10)
    // precompute per-segment LUTs; corpus distance = sum of m lookups
    // over its codes, each lookup quantized to e6 BEFORE the sum (the
    // exact-integer convention — ranking can't ride a float-add order).
    // Oracle recomputes codes + LUTs + the integer lookup sum.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      Similarity.pqAdcTopK(e.filter(col("vec_id") < 10), e,
        pqCodebooks(s, e), dsub = 16, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH $pqSqlCtes,
      |asg AS (SELECT vec_id, segment, code FROM a WHERE rn = 1),
      |q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      |lut AS (
      |  SELECT q.vec_id AS qid, c.segment, c.code,
      |         list_sum(list_transform(range(1, 17), i ->
      |           (q.embedding[c.segment * 16 + i]::DOUBLE - c.subvec[i]::DOUBLE) *
      |           (q.embedding[c.segment * 16 + i]::DOUBLE - c.subvec[i]::DOUBLE)))
      |           AS dd
      |  FROM q CROSS JOIN cb c),
      |ad AS (
      |  SELECT l.qid, g.vec_id,
      |         CAST(sum(CAST(floor(l.dd * 1000000.0 + 0.5) AS BIGINT))
      |           AS BIGINT) AS adc_e6
      |  FROM asg g JOIN lut l ON g.segment = l.segment AND g.code = l.code
      |  WHERE g.vec_id <> l.qid
      |  GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid
      |        ORDER BY adc_e6, vec_id) AS rk FROM ad)
      |SELECT qid AS query_id, CAST(rk AS INT) AS rank,
      |       vec_id AS neighbor_id, adc_e6
      |FROM r WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin))

  private val p132 = QueryDef(
    // IVFPQ / IVFADC (Jégou 2011 §IV — the FAISS workhorse index,
    // composing p14's coarse quantizer with p35/p37's PQ machinery on
    // RESIDUALS): corpus vectors assign to IVF cells, their v−centroid
    // residuals PQ-encode (exact-DOUBLE residuals — float subtraction
    // would round to 24 bits and diverge from the SQL replay), queries
    // probe their 2 nearest cells with per-cell residual LUTs, and ADC
    // ranks candidates from the probed cells only. Every LUT entry is
    // e6-quantized before the m-lookup sum (p37's convention). Books
    // are TRAINED (p133's two Lloyd supersteps on the residuals — no
    // fixture codebooks since round 13); the oracle replays training,
    // assignment, residuals, codes, probes, LUTs, and the integer
    // lookup sum from scratch.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("cembedding"))
      Similarity.ivfpqTopK(e.filter(col("vec_id") < 10), e, centroids,
        Similarity.booksFromTrain(pqTrainShared(s, d)), dsub = 16, k = 5,
        nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""WITH $assignCtes,
      |$ivfpqCtes
      |SELECT qid AS query_id, CAST(rk AS INT) AS rank,
      |       vec_id AS neighbor_id, cluster, adc_e6
      |FROM r2 WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin))

  /** The IVFPQ/IVFADC replay chain shared by p132 (search), p135
   * (recall audit) and p137 (planted-fixture recall): trained books on
   * IVF residuals, corpus codes, query probes + per-cell LUTs, and the
   * ranked ADC relation `r2`. Interpolated after `assignCtes` (or any
   * `assignCtesOver` source — every CTE here reads the rk/rv spine,
   * never a base table). `qpred` selects the query rows. */
  private def ivfpqCtesFor(qpred: String): String =
    s"""rv AS (
      |  SELECT vec_id, cid AS cluster,
      |         list_transform(range(1, 65),
      |           i -> embedding[i]::DOUBLE - ce[i]::DOUBLE) AS r
      |  FROM rk WHERE rn = 1),
      |$pqTrainCtes,
      |cb AS (
      |  SELECT segment, code, list(cv ORDER BY pos) AS subvec
      |  FROM cb2p GROUP BY 1, 2),
      |cd AS (
      |  SELECT rv.vec_id, rv.cluster, c.segment, c.code,
      |         list_sum(list_transform(range(1, 17), i ->
      |           (rv.r[c.segment * 16 + i] - c.subvec[i]::DOUBLE) *
      |           (rv.r[c.segment * 16 + i] - c.subvec[i]::DOUBLE)))
      |           AS dist
      |  FROM rv CROSS JOIN cb c),
      |codes AS (
      |  SELECT vec_id, cluster, segment, code FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, segment
      |      ORDER BY dist, code) AS rn FROM cd) t WHERE rn = 1),
      |qr AS (
      |  SELECT vec_id AS qid, cid AS cluster,
      |         list_transform(range(1, 65),
      |           i -> embedding[i]::DOUBLE - ce[i]::DOUBLE) AS r
      |  FROM rk WHERE rn <= 2 AND ($qpred)),
      |lut AS (
      |  SELECT qr.qid, qr.cluster, c.segment, c.code,
      |         list_sum(list_transform(range(1, 17), i ->
      |           (qr.r[c.segment * 16 + i] - c.subvec[i]::DOUBLE) *
      |           (qr.r[c.segment * 16 + i] - c.subvec[i]::DOUBLE)))
      |           AS dd
      |  FROM qr CROSS JOIN cb c),
      |ad AS (
      |  SELECT l.qid, g.vec_id, g.cluster,
      |         CAST(sum(CAST(floor(l.dd * 1000000.0 + 0.5) AS BIGINT))
      |           AS BIGINT) AS adc_e6
      |  FROM codes g JOIN lut l ON g.cluster = l.cluster
      |    AND g.segment = l.segment AND g.code = l.code
      |  WHERE g.vec_id <> l.qid
      |  GROUP BY 1, 2, 3),
      |r2 AS (SELECT *, row_number() OVER (PARTITION BY qid
      |         ORDER BY adc_e6, vec_id) AS rk FROM ad)""".stripMargin

  private lazy val ivfpqCtes: String = ivfpqCtesFor("vec_id < 10")

  /** P135 — IVFPQ recall@5 audit (the FAISS-benchmark quality measure,
   * closing the quantization-audit family beside p122's SQ8 and
   * p123/p128's HNSW audits): p132's ADC top-5 per query scored
   * against the EXACT integer-L2 top-5 over the same quantize-once e3
   * codes; recall reported in exact ppm so the audit is
   * oracle-checkable. The oracle replays BOTH sides from scratch —
   * the whole trained-books ADC chain (shared `ivfpqCtes`) and the
   * exact ranking. */
  private val p135 = QueryDef(
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("cembedding"))
      Similarity.ivfpqRecall(e.filter(col("vec_id") < 10), e, centroids,
        Similarity.booksFromTrain(pqTrainShared(s, d)), dsub = 16, k = 5,
        nprobe = 2)
        .orderBy(col("query_id"))
    },
    Some(s"""WITH $assignCtes,
      |$ivfpqCtes,
      |approx AS (SELECT qid, vec_id FROM r2 WHERE rk <= 5),
      |qq AS (SELECT vec_id AS qid, ${q3Sql("embedding")} AS qcodes
      |       FROM embeddings WHERE vec_id < 10),
      |gc AS (SELECT vec_id, ${q3Sql("embedding")} AS codes
      |       FROM embeddings),
      |ed AS (
      |  SELECT qq.qid, gc.vec_id,
      |         CAST(list_sum(list_transform(range(1, 65), i ->
      |           (qq.qcodes[i] - gc.codes[i]) *
      |           (qq.qcodes[i] - gc.codes[i]))) AS BIGINT) AS d
      |  FROM qq JOIN gc ON gc.vec_id <> qq.qid),
      |er AS (SELECT *, row_number() OVER (PARTITION BY qid
      |         ORDER BY d, vec_id) AS rn FROM ed),
      |ex AS (SELECT qid, vec_id FROM er WHERE rn <= 5),
      |h AS (SELECT a.qid, count(*) AS n_hits
      |      FROM approx a JOIN ex e
      |        ON a.qid = e.qid AND a.vec_id = e.vec_id
      |      GROUP BY 1),
      |pq AS (SELECT vec_id AS qid, cid AS cluster, codes AS qcodes
      |       FROM rk WHERE rn <= 2 AND vec_id < 10),
      |ga AS (SELECT vec_id, cid AS cluster, codes
      |       FROM rk WHERE rn = 1),
      |pd AS (
      |  SELECT pq.qid, ga.vec_id,
      |         CAST(list_sum(list_transform(range(1, 65), i ->
      |           (pq.qcodes[i] - ga.codes[i]) *
      |           (pq.qcodes[i] - ga.codes[i]))) AS BIGINT) AS d
      |  FROM pq JOIN ga ON ga.cluster = pq.cluster
      |    AND ga.vec_id <> pq.qid),
      |per AS (SELECT *, row_number() OVER (PARTITION BY qid
      |          ORDER BY d, vec_id) AS rn FROM pd),
      |pex AS (SELECT qid, vec_id FROM per WHERE rn <= 5),
      |hp AS (SELECT a.qid, count(*) AS n_hits_probed
      |       FROM approx a JOIN pex e
      |         ON a.qid = e.qid AND a.vec_id = e.vec_id
      |       GROUP BY 1)
      |SELECT qq.qid AS query_id,
      |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |       CAST(coalesce(hp.n_hits_probed, 0) AS BIGINT)
      |         AS n_hits_probed,
      |       CAST(5 AS BIGINT) AS k,
      |       CAST(coalesce(h.n_hits, 0) * 1000000 // 5 AS BIGINT)
      |         AS recall_ppm,
      |       CAST(coalesce(hp.n_hits_probed, 0) * 1000000 // 5 AS BIGINT)
      |         AS recall_probed_ppm
      |FROM qq LEFT JOIN h ON qq.qid = h.qid
      |LEFT JOIN hp ON qq.qid = hp.qid
      |ORDER BY query_id""".stripMargin))

  /** P136 — ANN cost census: the IVF speedup MODEL as an
   * oracle-checked relation. Per query: probed cells, candidates the
   * ADC stage will score (probed-cell members minus self — the query's
   * own cell is always its rank-1 probe), the corpus size, and the
   * scan fraction in exact ppm — the capacity-planning number behind
   * "nprobe/nlist of the corpus per query" that every IVF-family row
   * (p14/p28/p61/p92/p132/p135) relies on. All counts are exact
   * integers; the oracle re-derives cell sizes and probe sets from the
   * shared integer-affinity assignment replay. */
  private val p136 = QueryDef(
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("cembedding"))
      val probes = Similarity.ivfProbes(e.filter(col("vec_id") < 10),
          centroids, nprobe = 2)
        .select(col("vec_id").as("query_id"), col("cluster"))
      val sizes = Similarity.ivfAssign(e, centroids)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_in_cell"))
      val total = e.agg(count(lit(1)).as("n_corpus"))
      probes.join(sizes, Seq("cluster"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_probed_cells"),
          sum(col("n_in_cell")).as("cand_raw"))
        .crossJoin(broadcast(total))
        .select(col("query_id"), col("n_probed_cells"),
          (col("cand_raw") - 1).as("n_candidates"), col("n_corpus"),
          expr("((cand_raw - 1) * 1000000) div (n_corpus - 1)")
            .as("scan_ppm"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH $assignCtes,
      |ga AS (SELECT vec_id, cid FROM rk WHERE rn = 1),
      |cs AS (SELECT cid, count(*) AS n_in_cell FROM ga GROUP BY 1),
      |pq AS (SELECT vec_id AS qid, cid
      |       FROM rk WHERE rn <= 2 AND vec_id < 10),
      |n AS (SELECT count(*) AS n_corpus FROM embeddings)
      |SELECT pq.qid AS query_id,
      |       CAST(count(*) AS BIGINT) AS n_probed_cells,
      |       CAST(sum(cs.n_in_cell) - 1 AS BIGINT) AS n_candidates,
      |       CAST((SELECT n_corpus FROM n) AS BIGINT) AS n_corpus,
      |       CAST((sum(cs.n_in_cell) - 1) * 1000000
      |            // ((SELECT n_corpus FROM n) - 1) AS BIGINT) AS scan_ppm
      |FROM pq JOIN cs ON pq.cid = cs.cid
      |GROUP BY pq.qid ORDER BY query_id""".stripMargin))

  /** DuckDB replay of [[Similarity.plantedEmbeddings]] — the planted-
   * cluster fixture derivation as a CTE (`planted`), generated from the
   * SAME Scala pattern/sign functions the engine unrolls
   * ([[Similarity.plantedPatternSql]] rendered with `//`,
   * [[Similarity.plantedSigma]] as literal constants), so the fixture
   * cannot drift between engines. MATERIALIZED: the downstream chain
   * references it from cq/vq/qq/gc. */
  private lazy val plantedCtes: String = {
    val amp = BigDecimal(Similarity.plantedAmp).underlying.toPlainString
    val pats = (0 until 4).map(s =>
      s"${Similarity.plantedPatternSql(s, "//")} AS p$s")
      .mkString(",\n      |         ")
    val dims = (0 until 64).map { i =>
      val s = i / 16
      val cases = (0 until 4).map { p =>
        val c = if (Similarity.plantedSigma(p, i) > 0) amp else s"-$amp"
        if (p < 3) s"WHEN $p THEN $c" else s"ELSE $c"
      }.mkString(" ")
      s"a._aemb[${i + 1}]::DOUBLE + (CASE WHEN e.vec_id % 50 = 0 " +
        s"THEN 0.0 ELSE (CASE e.p$s $cases END) END)"
    }.mkString(",\n      |    ")
    s"""pl0 AS (
      |  SELECT vec_id, label,
      |         $pats,
      |         (vec_id // 50) * 50 AS _aid
      |  FROM embeddings),
      |planted AS MATERIALIZED (
      |  SELECT e.vec_id, e.label, list_value(
      |    $dims) AS embedding
      |  FROM pl0 e JOIN (SELECT vec_id AS _aid, embedding AS _aemb
      |                   FROM embeddings) a USING (_aid))""".stripMargin
  }

  /** Query rows of the planted recall audit: one per 50-block (ten
   * blocks at every SF — `< 500` caps the block count so the audit's
   * query side is SF-invariant), scattered across ten different home
   * cells so the per-query coverage races decorrelate. Shared verbatim
   * between the engine filter and the oracle predicate. */
  private val plantedQPred = "vec_id % 50 = 3 AND vec_id < 500"

  /** The planted relation, RUN-scoped (derived once per harness run —
   * p137's chain consumes it as corpus, queries, centroids and
   * residual source). */
  private def plantedShared(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:planted:$d") {
      // plain memoRun persist, no localCheckpoint: a localCheckpoint here
      // was MEASURED to buy nothing (the chain is not superstep-iterative
      // over planted, so lineage never compounds — 16.3 s fresh-JVM noop
      // either way) while storing the relation TWICE (the checkpoint RDD
      // blocks plus memoRun's columnar copy, and releaseRun frees only
      // the latter)
      Similarity.plantedEmbeddings(fixture(s, d, "embeddings"))
    }

  private def plantedCentroids(pl: DataFrame): DataFrame =
    pl.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("cembedding"))

  /** PQ books trained on the PLANTED residuals (two Lloyd supersteps,
   * %50=7 init — the p133 recipe over the planted relation), RUN-scoped
   * like [[pqTrainShared]]. */
  private def plantedTrainShared(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:planted-pq-train:$d") {
      val pl = plantedShared(s, d)
      val rv = Similarity.ivfResiduals(pl, plantedCentroids(pl))
      Similarity.pqTrain(rv, pqInitBooks(s, rv), dsub = 16, iterations = 2)
    }

  /** P137 — IVFPQ recall@60 on the PLANTED-CLUSTER fixture
   * ([[Similarity.plantedEmbeddings]]): the audit row where recall is
   * SIGNAL, not coverage noise. On the structureless base table p135's
   * global recall ≈ nprobe/nlist (~0.04) — a ranking regression hides
   * under the noise floor. Here the corpus is 50-blocks planted around
   * the %50 anchors with 4-sign-pattern jitter, so (PlantedSpec pins
   * the curve) global recall@60 at nprobe=2 sits near 1 and RISES with
   * nprobe, and probed-cell recall is ~exactly 1 — k=60 > the 50-block
   * so the exact top-k straddles cells and coverage is measurable.
   * Oracle: full replay — planted derivation, integer-affinity
   * assignment, both Lloyd supersteps, ADC chain, both exact rankings.
   */
  private val p137 = QueryDef(
    (s, d) => {
      val pl = plantedShared(s, d)
      Similarity.ivfpqRecall(pl.filter(expr(plantedQPred)), pl,
        plantedCentroids(pl),
        Similarity.booksFromTrain(plantedTrainShared(s, d)), dsub = 16,
        k = 60, nprobe = 2)
        .orderBy(col("query_id"))
    },
    Some(s"""WITH $plantedCtes,
      |${assignCtesOver("planted")},
      |${ivfpqCtesFor(plantedQPred)},
      |approx AS (SELECT qid, vec_id FROM r2 WHERE rk <= 60),
      |qq AS (SELECT vec_id AS qid, ${q3Sql("embedding")} AS qcodes
      |       FROM planted WHERE $plantedQPred),
      |gc AS (SELECT vec_id, ${q3Sql("embedding")} AS codes
      |       FROM planted),
      |ed AS (
      |  SELECT qq.qid, gc.vec_id,
      |         CAST(list_sum(list_transform(range(1, 65), i ->
      |           (qq.qcodes[i] - gc.codes[i]) *
      |           (qq.qcodes[i] - gc.codes[i]))) AS BIGINT) AS d
      |  FROM qq JOIN gc ON gc.vec_id <> qq.qid),
      |er AS (SELECT *, row_number() OVER (PARTITION BY qid
      |         ORDER BY d, vec_id) AS rn FROM ed),
      |ex AS (SELECT qid, vec_id FROM er WHERE rn <= 60),
      |h AS (SELECT a.qid, count(*) AS n_hits
      |      FROM approx a JOIN ex e
      |        ON a.qid = e.qid AND a.vec_id = e.vec_id
      |      GROUP BY 1),
      |pq AS (SELECT vec_id AS qid, cid AS cluster, codes AS qcodes
      |       FROM rk WHERE rn <= 2 AND ($plantedQPred)),
      |ga AS (SELECT vec_id, cid AS cluster, codes
      |       FROM rk WHERE rn = 1),
      |pd AS (
      |  SELECT pq.qid, ga.vec_id,
      |         CAST(list_sum(list_transform(range(1, 65), i ->
      |           (pq.qcodes[i] - ga.codes[i]) *
      |           (pq.qcodes[i] - ga.codes[i]))) AS BIGINT) AS d
      |  FROM pq JOIN ga ON ga.cluster = pq.cluster
      |    AND ga.vec_id <> pq.qid),
      |per AS (SELECT *, row_number() OVER (PARTITION BY qid
      |          ORDER BY d, vec_id) AS rn FROM pd),
      |pex AS (SELECT qid, vec_id FROM per WHERE rn <= 60),
      |hp AS (SELECT a.qid, count(*) AS n_hits_probed
      |       FROM approx a JOIN pex e
      |         ON a.qid = e.qid AND a.vec_id = e.vec_id
      |       GROUP BY 1)
      |SELECT qq.qid AS query_id,
      |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |       CAST(coalesce(hp.n_hits_probed, 0) AS BIGINT)
      |         AS n_hits_probed,
      |       CAST(60 AS BIGINT) AS k,
      |       CAST(coalesce(h.n_hits, 0) * 1000000 // 60 AS BIGINT)
      |         AS recall_ppm,
      |       CAST(coalesce(hp.n_hits_probed, 0) * 1000000 // 60 AS BIGINT)
      |         AS recall_probed_ppm
      |FROM qq LEFT JOIN h ON qq.qid = h.qid
      |LEFT JOIN hp ON qq.qid = hp.qid
      |ORDER BY query_id""".stripMargin))

  /** P139 — planted-fixture cluster-recovery audit: per centroid, the
   * member census of the integer-affinity IVF assignment over the
   * planted relation against the KNOWN ground truth (the 50-block home
   * rule — the one fixture where cluster truth exists by construction).
   * `n_foreign` must be 0 everywhere (the PlantedSpec zero-flip
   * property, here as a driver-gate row): any regression in the e3
   * kernel, the argmax tie-break, or the quantize-once projection
   * surfaces as a nonzero count the oracle's independent window replay
   * won't reproduce. One assignment pass + a centroid-scale census —
   * nothing pair-scale. */
  private val p139 = QueryDef(
    (s, d) => {
      val pl = plantedShared(s, d)
      Similarity.ivfAssign(pl, plantedCentroids(pl))
        .withColumn("home", expr("(vec_id div 50) * 50"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("home") === col("cluster"), 1L).otherwise(0L))
            .as("n_home"),
          sum(when(col("home") =!= col("cluster"), 1L).otherwise(0L))
            .as("n_foreign"))
        .orderBy(col("cluster"))
    },
    Some(s"""WITH $plantedCtes,
      |${assignCtesOver("planted")}
      |SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_members,
      |       CAST(sum(CASE WHEN (vec_id // 50) * 50 = cid
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_home,
      |       CAST(sum(CASE WHEN (vec_id // 50) * 50 <> cid
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_foreign
      |FROM rk WHERE rn = 1
      |GROUP BY cid ORDER BY cluster""".stripMargin))

  /** P138 — the p17 HYPERPLANE-regime bucket relation under the driver
   * gate: one row per vector with its seeded-random-hyperplane sign-LSH
   * bucket at the first past-the-axis width (bits = 17 — what
   * [[Similarity.scaledPlanes]] opens at N > 8·2¹⁶ = 524k vectors,
   * forced here because no gate corpus can reach that N). This is the
   * code path that actually fires on a 100 TB corpus, previously
   * spec-pinned only; the per-vector relation is the strongest parity
   * shape (an aggregated census would accept two vectors swapping
   * buckets). The oracle replays all 17×64 ±1 plane coefficients as
   * literals generated from the SAME [[Similarity.planeCoef]] the
   * engine unrolls — exact integer dot of the quantize-once e3 codes,
   * NULL bucket on a short code array (mirrored CASE). At gate density
   * (≤2k vectors in 131k buckets) every bucket is a singleton, which is
   * exactly why the PAIR output of the near-dup operator would be
   * vacuous here and the bucket relation is the audited surface. */
  private val p138 = QueryDef(
    (s, d) => Similarity.withQ3(fixture(s, d, "embeddings"))
      .select(col("vec_id"),
        Similarity.signBucketHyperplanes(col("codes"), 17, 64).as("bucket"))
      .orderBy(col("vec_id")),
    Some {
      val bitTerms = (0 until 17).map { i =>
        val dot = (0 until 64).map { dd =>
          val sign = if (Similarity.planeCoef(i, dd) > 0) "+" else "-"
          s"$sign codes[${dd + 1}]"
        }.mkString(" ")
        s"(CASE WHEN ($dot) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" +\n      |      ")
      s"""WITH c AS (SELECT vec_id, ${q3Sql("embedding")} AS codes
        |           FROM embeddings)
        |SELECT vec_id,
        |  CASE WHEN len(codes) >= 64 THEN CAST(
        |      $bitTerms
        |    AS BIGINT) ELSE NULL END AS bucket
        |FROM c ORDER BY vec_id""".stripMargin
    })

  // ---------------------------------------------------------------- text analysis

  private val stopList: String =
    TextOps.stopwordsEn.map(w => s"'$w'").mkString("[", ", ", "]")

  private val p9 = QueryDef(
    (s, d) => TextOps.qualityFeatures(fixture(s, d, "documents"), col("text"))
      // the oracle emits only tokenizable docs; zero-word rows carry
      // NULL ratios by the qualityFeatures contract and are out of scope
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_chars"), col("n_words"),
        col("avg_word_len"), col("stop_ratio"), col("quality_score"))
      .orderBy(col("doc_id")),
    Some(s"""WITH f AS (
      |  SELECT doc_id, length(text) AS n_chars, $WORDS AS ws, $NORM AS norm
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, n_chars, len(ws) AS n_words,
      |         length(replace(norm, ' ', '')) AS ciw,
      |         len(list_filter(ws, x -> list_contains($stopList, x))) AS stops
      |  FROM f WHERE len(ws) > 0),
      |q AS (
      |  SELECT doc_id, n_chars, n_words,
      |         (2 * ciw * 10000 + n_words) // (2 * n_words) AS awl_e4,
      |         (2 * stops * 10000 + n_words) // (2 * n_words) AS sr_e4
      |  FROM g)
      |SELECT doc_id, n_chars, n_words,
      |       awl_e4::DOUBLE / 10000 AS avg_word_len,
      |       sr_e4::DOUBLE / 10000 AS stop_ratio,
      |       ((2 * (least(n_words, 100) * (10000 - sr_e4)) + 100) // 200)
      |         ::DOUBLE / 10000 AS quality_score
      |FROM q ORDER BY doc_id""".stripMargin))

  // lazy: queries defined ABOVE this point in the file interpolate it at
  // object init, which would otherwise read a null val (p113 regression)
  private lazy val langCase: String = {
    val counts = TextOps.lexicons.map { case (lang, lex) =>
      lang -> s"len(list_filter(ws, x -> list_contains(${lex.map(w => s"'$w'").mkString("[", ", ", "]")}, x)))"
    }
    val best = counts.map(_._2).mkString("greatest(", ", ", ")")
    // mirror TextOps.languageId: first lexicon (in order) hitting the max wins
    counts.map { case (lang, c) => s"WHEN $c = $best AND $best > 0 THEN '$lang'" }
      .mkString("CASE ", " ", " ELSE 'und' END")
  }

  private val p10 = QueryDef(
    (s, d) => fixture(s, d, "documents")
      .withColumn("lang_pred", TextOps.languageId(col("text")))
      .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
      .orderBy(col("lang_pred")),
    Some(s"""WITH w AS (SELECT doc_id, $WORDS AS ws FROM documents),
      |p AS (SELECT doc_id, $langCase AS lang_pred FROM w)
      |SELECT lang_pred, count(*) AS n FROM p
      |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin))

  private val p11 = QueryDef(
    (s, d) => fixture(s, d, "documents")
      .withColumn("tc", TextOps.tokenCount(col("text")))
      .withColumn("te", TextOps.tokenEstimate(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tc")).cast("long").as("sum_tokens"),
        sum(col("te")).cast("long").as("sum_token_est"))
      // the mean from the exact integer sums — e4 round-half-up integer
      // quantization, ONE final IEEE division (never round() a float avg);
      // the overflow-safe split form: the naive 2·sum·10⁴ numerator
      // overflows Long once a source group passes ~4.6e14 tokens
      .withColumn("avg_tokens",
        Exact.ratioCol("sum_tokens", "n_docs", 4))
      .orderBy(col("source")),
    Some(s"""WITH t AS (
      |  SELECT source, len($WORDS) AS tc,
      |         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS te
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(tc) AS BIGINT) AS sum_tokens,
      |       CAST(sum(te) AS BIGINT) AS sum_token_est,
      |       ${Exact.duckRatio("CAST(sum(tc) AS BIGINT)", "count(*)", 4)}
      |         AS avg_tokens
      |FROM t GROUP BY source ORDER BY source""".stripMargin))

  /** DuckDB mirror of TextOps.kgramHashes: the base-131 polynomial over
   * the k-gram's char codes, exact in 64-bit (no modular reduction), so
   * both engines produce identical fingerprints. */
  private val kgramSql: String = (0 until TextOps.winnowK).map { j =>
    s"ascii(substr(norm, CAST(i + ${j + 1} AS INT), 1))::BIGINT * ${TextOps.pow131(TextOps.winnowK - 1 - j)}"
  }.mkString(" + ")

  private val p16 = QueryDef(
    // Winnowing document fingerprints (SIGMOD'03 / MOSS): k-gram hashes →
    // per-window minima → distinct fingerprint set per doc; docs sharing a
    // fingerprint land in the same bucket (the near-dup primitive). The
    // fingerprint set is ONE codegen'd streaming pass per document
    // (WinnowOps: rolling hash + deque minima, O(len)); the only shuffle
    // is the final fingerprint→bucket hash-agg.
    (s, d) => {
      val minLen = TextOps.winnowK + TextOps.winnowW - 1
      fixture(s, d, "documents")
        .withColumn("norm", TextOps.normalized(col("text")))
        .filter(length(col("norm")) >= minLen)
        .withColumn("fp", explode(TextOps.winnowFingerprints(col("norm"))))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("representative"))
        .filter(col("n_docs") > 1)
        .orderBy(col("fp"))
    },
    Some(s"""WITH $winnowCtes
      |SELECT fp, count(*) AS n_docs, min(doc_id) AS representative
      |FROM u GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin))

  /** DuckDB rebuild of the per-doc winnow fingerprint relation `u`
   * (shared by p16's bucket report and p100's pair matcher). */
  private def winnowCtes: String =
    s"""nrm AS (SELECT doc_id, $NORM AS norm FROM documents),
      |f AS (SELECT doc_id, norm FROM nrm
      |      WHERE length(norm) >= ${TextOps.winnowK + TextOps.winnowW - 1}),
      |g AS (SELECT doc_id,
      |        list_transform(range(0, length(norm) - ${TextOps.winnowK - 1}),
      |          i -> $kgramSql) AS gs
      |      FROM f),
      |w AS (SELECT doc_id,
      |        list_distinct(list_transform(range(0, len(gs) - ${TextOps.winnowW - 1}),
      |          i -> list_min(list_slice(gs, i + 1, i + ${TextOps.winnowW})))) AS fps
      |      FROM g),
      |u AS (SELECT doc_id, unnest(fps) AS fp FROM w)""".stripMargin

  private val p100 = QueryDef(
    // MOSS-style document-pair matching (Schleimer 2003 §4): drop
    // corpus-frequent fingerprints (df > 20 — MOSS's own "ignore
    // boilerplate" rule, which is ALSO what bounds the inverted-index
    // join: per-fp pair work ≤ df², df capped), then report pairs
    // sharing ≥ 3 surviving fingerprints AND ≥ half the smaller doc's
    // surviving set (match_ppm ≥ 500000). Containment denominators
    // count the CAPPED relation, as MOSS scores retained fingerprints.
    // The oracle rebuilds every fingerprint in SQL and replays the df
    // cap and both joins.
    (s, d) => {
      val minLen = TextOps.winnowK + TextOps.winnowW - 1
      val all = fixture(s, d, "documents")
        .withColumn("norm", TextOps.normalized(col("text")))
        .filter(length(col("norm")) >= minLen)
        .select(col("doc_id"),
          explode(TextOps.winnowFingerprints(col("norm"))).as("fp"))
      val rare = all.withColumn("df",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("fp"))))
        .filter(col("df") <= 20).drop("df")
      val fps = graft.CacheScope.track(rare)
      val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      // every side here is corpus-scale — merge hints, so a static size
      // misestimate can never broadcast the fingerprint relation (the
      // containmentPrefixJoin 100×-rehearsal lesson; at /tmp/scale100
      // the static planner broadcast all three doc-keyed sides)
      fps.as("a").join(fps.hint("merge").as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 3)
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("fps_a"))
          .hint("merge"), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("fps_b"))
          .hint("merge"), "doc_b")
        .withColumn("match_ppm",
          expr("(shared_fps * 1000000) div least(fps_a, fps_b)"))
        .filter(col("match_ppm") >= 500000)
        .select(col("doc_a"), col("doc_b"), col("shared_fps"),
          col("fps_a"), col("fps_b"), col("match_ppm"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH $winnowCtes,
      |ur AS (SELECT doc_id, fp FROM (
      |         SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
      |         FROM u) WHERE df <= 20),
      |sz AS (SELECT doc_id, count(*) AS n_fp FROM ur GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
      |  FROM ur a JOIN ur b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT doc_a, doc_b, shared_fps,
      |       sa.n_fp AS fps_a, sb.n_fp AS fps_b,
      |       CAST(shared_fps * 1000000 // least(sa.n_fp, sb.n_fp) AS BIGINT)
      |         AS match_ppm
      |FROM pairs
      |JOIN sz sa ON pairs.doc_a = sa.doc_id
      |JOIN sz sb ON pairs.doc_b = sb.doc_id
      |WHERE shared_fps * 1000000 // least(sa.n_fp, sb.n_fp) >= 500000
      |ORDER BY doc_a, doc_b""".stripMargin))

  // ---------------------------------------------------------------- multimodal plumbing

  private val mediaTypeSql =
    "['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)]"

  private val p12 = QueryDef(
    (s, d) => Multimodal.decodeDocuments(fixture(s, d, "documents")).orderBy(col("doc_id")),
    Some(s"""WITH a AS (
      |  SELECT doc_id, $mediaTypeSql AS media_type,
      |         octet_length(encode(coalesce(text, ''))) AS byte_len, coalesce(text, '') AS text
      |  FROM documents)
      |SELECT doc_id, media_type, byte_len,
      |       CAST(64 + byte_len % 512 AS INT) AS width,
      |       CAST(64 + (byte_len * 7) % 512 AS INT) AS height,
      |       CAST(1 + byte_len % 10 AS INT) AS n_frames,
      |       md5(text) AS checksum
      |FROM a ORDER BY doc_id""".stripMargin))

  private val p13 = QueryDef(
    (s, d) => Multimodal.sampleFrames(
      Multimodal.asAssets(fixture(s, d, "documents")), stride = 8, frames = 4)
      .orderBy(col("doc_id"), col("frame_idx")),
    Some(s"""SELECT doc_id, $mediaTypeSql AS media_type,
      |       CAST(i AS INT) AS frame_idx,
      |       upper(hex(encode(substring(coalesce(text, ''), 1 + 8 * i, 4)))) AS frame_token
      |FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
      |ORDER BY doc_id, frame_idx""".stripMargin))

  private val p19 = QueryDef(
    // Real container-format decode for the audio path: build a canonical
    // PCM WAV per document (deterministic rate, mono 8-bit), parse it
    // back with the RIFF chunk walker, and emit format fields + payload
    // hash. The oracle re-derives every field arithmetically — the
    // engine only matches if the 44-byte framing, the chunk walk, and
    // the sample accounting are exactly RIFF. (Perceptual codecs stay
    // stubbed in p12/p13 — no media libs in this environment.)
    (s, d) => {
      import s.implicits._
      val in = fixture(s, d, "documents")
        .select(col("doc_id"), encode(coalesce(col("text"), lit("")), "UTF-8").as("pcm"))
        .as[(Long, Array[Byte])]
      in.mapPartitions { it =>
        it.map { case (id, pcm) =>
          val rate = 8000 + (id % 8).toInt * 1000
          val info = WavCodec.parse(WavCodec.build(rate, 1, 8, pcm))
          (id, info.sampleRate, info.nSamples, info.durationMs,
            info.pcmMd5, info.fileBytes)
        }
      }.toDF("doc_id", "sample_rate", "n_samples", "duration_ms",
          "pcm_md5", "file_bytes")
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      |       CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
      |       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_samples,
      |       CAST(octet_length(encode(coalesce(text, ''))) * 1000
      |            // (8000 + (doc_id % 8) * 1000) AS BIGINT) AS duration_ms,
      |       md5(text) AS pcm_md5,
      |       CAST(44 + octet_length(encode(coalesce(text, ''))) AS INT) AS file_bytes
      |FROM documents ORDER BY doc_id""".stripMargin))

  private val p118 = QueryDef(
    // Video sibling of p19/p20 — the container trio's third leg: build a
    // canonical Cmono YUV4MPEG2 stream per document (w = 8 + id%8, h=8;
    // the text bytes cut into w·h-byte luma frames, zero-padded tail),
    // parse it back with the validating walker, and run shot-boundary
    // detection over the PARSED frames: per consecutive pair the exact
    // integer SAD, a cut where SAD > 30·frame_bytes (mean |Δluma| > 30).
    // The luma payload is the text PROJECTED TO PRINTABLE ASCII (every
    // codepoint outside [0x20, 0x7E] → '?', identically on both sides),
    // so the oracle's character walk (ord/substr) and the engine's byte
    // walk agree at ANY corpus content — not just the fixtures' ASCII.
    // The oracle re-derives geometry, the header's byte length, and
    // every SAD arithmetically — the engine matches only if the Y4M
    // framing and the frame walk are exact.
    (s, d) => {
      import s.implicits._
      val in = fixture(s, d, "documents")
        .select(col("doc_id"),
          encode(regexp_replace(coalesce(col("text"), lit("")),
            "[^ -~]", "?"), "UTF-8").as("px"))
        .as[(Long, Array[Byte])]
      in.mapPartitions { it =>
        it.map { case (id, px) =>
          val w = 8 + (id % 8).toInt
          val h = 8
          val fb = w * h
          val nf = math.max(1, (px.length + fb - 1) / fb)
          val frames = (0 until nf).map { k =>
            val a = new Array[Byte](fb)
            val from = k * fb
            val n = math.max(0, math.min(fb, px.length - from))
            if (n > 0) System.arraycopy(px, from, a, 0, n)
            a
          }
          val info = Y4mCodec.parse(Y4mCodec.build(w, h, 25, 1, frames))
          val sads = info.frames.sliding(2).collect {
            case Seq(a, b) => Y4mCodec.sad(a, b)
          }.toSeq
          (id, info.width, info.height, info.nFrames, info.frameBytes,
            info.fileBytes, sads.sum,
            sads.count(_ > 30L * fb).toLong)
        }
      }.toDF("doc_id", "width", "height", "n_frames", "frame_bytes",
          "file_bytes", "sad_total", "n_cuts")
        .orderBy(col("doc_id"))
    },
    Some("""WITH g AS (
      |  SELECT doc_id, CAST(8 + doc_id % 8 AS INT) AS w,
      |         regexp_replace(coalesce(text, ''), '[^ -~]', '?', 'g') AS b,
      |         length(regexp_replace(coalesce(text, ''), '[^ -~]', '?',
      |           'g')) AS len
      |  FROM documents),
      |f AS (SELECT doc_id, w, b, len, w * 8 AS fb,
      |             CAST(greatest(1, (len + w * 8 - 1) // (w * 8)) AS INT)
      |               AS nf
      |      FROM g),
      |pk AS (SELECT doc_id, b, len, fb, unnest(range(1, nf)) AS k FROM f),
      |p AS (SELECT doc_id, b, len, fb, k, unnest(range(0, fb)) AS q
      |      FROM pk),
      |sd AS (SELECT doc_id, k, fb,
      |         CAST(sum(abs(
      |           (CASE WHEN (k - 1) * fb + q < len
      |                 THEN ord(substr(b, CAST((k - 1) * fb + q + 1 AS INT), 1))
      |                 ELSE 0 END) -
      |           (CASE WHEN k * fb + q < len
      |                 THEN ord(substr(b, CAST(k * fb + q + 1 AS INT), 1))
      |                 ELSE 0 END))) AS BIGINT) AS sad
      |       FROM p GROUP BY 1, 2, 3),
      |a AS (SELECT doc_id, CAST(sum(sad) AS BIGINT) AS sad_total,
      |             CAST(sum(CASE WHEN sad > 30 * fb THEN 1 ELSE 0 END)
      |               AS BIGINT) AS n_cuts
      |      FROM sd GROUP BY doc_id)
      |SELECT f.doc_id, f.w AS width, CAST(8 AS INT) AS height,
      |       f.nf AS n_frames, CAST(f.fb AS INT) AS frame_bytes,
      |       CAST(octet_length(encode('YUV4MPEG2 W' || f.w ||
      |              ' H8 F25:1 Ip A1:1 Cmono' || chr(10)))
      |            + f.nf * (6 + f.fb) AS INT) AS file_bytes,
      |       coalesce(a.sad_total, 0) AS sad_total,
      |       coalesce(a.n_cuts, 0) AS n_cuts
      |FROM f LEFT JOIN a ON f.doc_id = a.doc_id
      |ORDER BY f.doc_id""".stripMargin))

  private val p20 = QueryDef(
    // Image sibling of p19: canonical 24bpp BMP per document, parsed back
    // with the validating header reader. The oracle re-derives the
    // geometry arithmetically — including the 4-byte row-stride padding
    // rule, which only a real BMP layout reproduces. `roundtrip` is the
    // engine-side payload-hash check (oracle knows it must hold).
    (s, d) => {
      import s.implicits._
      val in = fixture(s, d, "documents")
        .select(col("doc_id"), encode(coalesce(col("text"), lit("")), "UTF-8").as("px"))
        .as[(Long, Array[Byte])]
      in.mapPartitions { it =>
        it.map { case (id, px) =>
          val width = 16 + (id % 32).toInt
          val bmp = BmpCodec.build(width, px)
          val info = BmpCodec.parse(bmp)
          val padded = px ++ Array.fill(info.dataBytes - px.length)(0.toByte)
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(padded).map("%02x".format(_)).mkString
          (id, info.width, info.height, info.stride, info.dataBytes,
            info.fileBytes, info.pixelMd5 == md5)
        }
      }.toDF("doc_id", "width", "height", "stride", "data_bytes",
          "file_bytes", "roundtrip")
        .orderBy(col("doc_id"))
    },
    Some("""WITH g AS (
      |  SELECT doc_id,
      |         CAST(16 + doc_id % 32 AS INT) AS width,
      |         octet_length(encode(coalesce(text, ''))) AS len
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, width,
      |         CAST(((width * 3 + 3) // 4) * 4 AS INT) AS stride, len
      |  FROM g)
      |SELECT doc_id, width,
      |       CAST((len + stride - 1) // stride AS INT) AS height, stride,
      |       CAST(((len + stride - 1) // stride) * stride AS INT) AS data_bytes,
      |       CAST(54 + ((len + stride - 1) // stride) * stride AS INT) AS file_bytes,
      |       TRUE AS roundtrip
      |FROM h ORDER BY doc_id""".stripMargin))

  /** The decoded-BMP 8×8 gray grid as SQL, ending in
   * `gray(doc_id, i, j, g3)` — the shared downsample of p42 (aHash), p84
   * (pHash) and [[dhashCtes]]: container geometry (stride, derived height),
   * nearest-neighbor point sampling, 3-channel sum. */
  private val bmpGray8Cte: String =
    """g AS (
      |  SELECT doc_id, CAST(16 + doc_id % 32 AS INT) AS w,
      |         octet_length(encode(coalesce(text, ''))) AS len, coalesce(text, '') AS text
      |  FROM documents),
      |h AS (SELECT *, CAST(((w * 3 + 3) // 4) * 4 AS INT) AS stride,
      |             CAST((octet_length(encode(coalesce(text, ''))) + ((w * 3 + 3) // 4) * 4 - 1)
      |               // (((w * 3 + 3) // 4) * 4) AS INT) AS hgt
      |      FROM g),
      |cell AS (
      |  SELECT doc_id, w, hgt, stride, len, text, i, j,
      |         ((2 * i + 1) * hgt) // 16 AS y,
      |         ((2 * j + 1) * w) // 16 AS x
      |  FROM h
      |  CROSS JOIN (SELECT unnest(range(0, 8)) AS i)
      |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j)),
      |gray AS (
      |  SELECT doc_id, i, j,
      |         (CASE WHEN y * stride + x * 3 < len
      |               THEN ord(substr(text, CAST(y * stride + x * 3 + 1 AS INT), 1))
      |               ELSE 0 END +
      |          CASE WHEN y * stride + x * 3 + 1 < len
      |               THEN ord(substr(text, CAST(y * stride + x * 3 + 2 AS INT), 1))
      |               ELSE 0 END +
      |          CASE WHEN y * stride + x * 3 + 2 < len
      |               THEN ord(substr(text, CAST(y * stride + x * 3 + 3 AS INT), 1))
      |               ELSE 0 END) AS g3
      |  FROM cell)""".stripMargin

  private val p42 = QueryDef(
    // Perceptual feature over the DECODED image, not a stub: average-hash
    // (aHash) of each document's BMP — build the container, parse it
    // back, then point-sample the pixel grid (nearest-neighbor 8×8
    // downsample over the data-row layout), threshold each sample
    // against the 64-sample mean (integer form: gray*64 > sum, so no
    // float ties), and pack row-major MSB-first into 16 hex chars. The
    // oracle replays the identical arithmetic over the same source
    // bytes in SQL — geometry, stride padding, sampling and threshold.
    // One mapPartitions pass, no shuffle: the 100 TB shape for
    // byte-level feature extraction.
    (s, d) => {
      import s.implicits._
      val in = fixture(s, d, "documents")
        .select(col("doc_id"), encode(coalesce(col("text"), lit("")), "UTF-8").as("px"))
        .as[(Long, Array[Byte])]
      in.mapPartitions { it =>
        it.map { case (id, px) =>
          val bmp = BmpCodec.build(16 + (id % 32).toInt, px)
          val info = BmpCodec.parse(bmp)
          val dataOffset = bmp.length - info.dataBytes
          // reads past the data block are 0 — the oracle's ELSE 0 arm
          // (an empty payload yields a 0-row image)
          def b(o: Int): Int =
            if (o < info.dataBytes) bmp(dataOffset + o) & 0xFF else 0
          val gray = Array.tabulate(8, 8) { (i, j) =>
            val y = ((2 * i + 1) * info.height) / 16
            val x = ((2 * j + 1) * info.width) / 16
            val o = y * info.stride + x * 3
            b(o) + b(o + 1) + b(o + 2)
          }
          val sum = gray.map(_.sum).sum
          val bits = gray.map(_.map(g => if (g * 64 > sum) 1 else 0))
          val hash = bits
            .map(row => f"${row.foldLeft(0)((a, bt) => (a << 1) | bt)}%02x")
            .mkString
          (id, info.width, info.height, hash, bits.map(_.sum).sum.toLong)
        }
      }.toDF("doc_id", "width", "height", "ahash", "n_above")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $bmpGray8Cte,
      |tot AS (SELECT doc_id, sum(g3) AS s64 FROM gray GROUP BY doc_id),
      |bits AS (
      |  SELECT gray.doc_id, i, j,
      |         CASE WHEN g3 * 64 > s64 THEN 1 ELSE 0 END AS bit
      |  FROM gray JOIN tot ON gray.doc_id = tot.doc_id),
      |rows_ AS (
      |  SELECT doc_id, i,
      |         CAST(sum(bit * power(2, 7 - j)) AS INT) AS rowbyte,
      |         CAST(sum(bit) AS BIGINT) AS nb
      |  FROM bits GROUP BY doc_id, i),
      |packed AS (
      |  SELECT doc_id,
      |         string_agg(lpad(lower(hex(rowbyte)), 2, '0'), '' ORDER BY i)
      |           AS ahash,
      |         sum(nb) AS n_above
      |  FROM rows_ GROUP BY doc_id)
      |SELECT h.doc_id, w AS width, hgt AS height, ahash,
      |       CAST(n_above AS BIGINT) AS n_above
      |FROM h JOIN packed ON h.doc_id = packed.doc_id
      |ORDER BY h.doc_id""".stripMargin))

  private val p45 = QueryDef(
    // Audio sibling of p42: frame-level features over the DECODED PCM —
    // build the canonical WAV, walk the RIFF chunks back, then compute
    // per-frame energy (sum of squared bias-removed 8-bit samples,
    // 100-sample frames) and whole-stream zero crossings. Everything is
    // integer arithmetic on decoded samples, so the oracle replays it
    // exactly from the source bytes; peak frame ties break on the lowest
    // index. One mapPartitions pass, zero shuffle.
    (s, d) => {
      import s.implicits._
      val frame = 100
      val in = fixture(s, d, "documents")
        .select(col("doc_id"), encode(coalesce(col("text"), lit("")), "UTF-8").as("pcm"))
        .as[(Long, Array[Byte])]
      in.mapPartitions { it =>
        it.map { case (id, pcm) =>
          val rate = 8000 + (id % 8).toInt * 1000
          val wav = WavCodec.build(rate, 1, 8, pcm)
          val info = WavCodec.parse(wav)
          val n = info.nSamples.toInt
          val data = wav.slice(wav.length - n, wav.length)
          def v(i: Int): Int = (data(i) & 0xFF) - 128
          val nFrames = (n + frame - 1) / frame
          var peakFrame = 0
          var peakSsq = Long.MinValue
          var crossings = 0L
          var f = 0
          while (f < nFrames) {
            var ssq = 0L
            var i = f * frame
            val end = math.min(i + frame, n)
            while (i < end) { ssq += v(i).toLong * v(i); i += 1 }
            if (ssq > peakSsq) { peakSsq = ssq; peakFrame = f }
            f += 1
          }
          var j = 0
          while (j < n - 1) {
            if (v(j) * v(j + 1) < 0) crossings += 1
            j += 1
          }
          (id, n.toLong, nFrames.toLong, peakFrame.toLong, peakSsq, crossings)
        }
      }.toDF("doc_id", "n_samples", "n_frames", "peak_frame", "peak_ssq",
          "n_crossings")
        .orderBy(col("doc_id"))
    },
    Some("""WITH s AS (
      |  SELECT doc_id, CAST(pos AS INT) AS pos,
      |         ord(substr(text, CAST(pos AS INT), 1)) - 128 AS v
      |  FROM (SELECT doc_id, coalesce(text, '') AS text,
      |          unnest(range(1, len(coalesce(text, '')) + 1)) AS pos
      |        FROM documents)),
      |f AS (SELECT doc_id, (pos - 1) // 100 AS frame,
      |             sum(CAST(v AS BIGINT) * v) AS ssq
      |      FROM s GROUP BY doc_id, frame),
      |pk AS (SELECT doc_id, frame, ssq, row_number() OVER (
      |         PARTITION BY doc_id ORDER BY ssq DESC, frame) AS rn
      |       FROM f),
      |s2 AS (SELECT doc_id, v, lead(v) OVER (
      |         PARTITION BY doc_id ORDER BY pos) AS nv FROM s),
      |cr AS (SELECT doc_id,
      |         sum(CASE WHEN v * nv < 0 THEN 1 ELSE 0 END) AS nc
      |       FROM s2 GROUP BY doc_id),
      |fr AS (SELECT doc_id, count(*) AS n_frames FROM f GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_samples,
      |       CAST(fr.n_frames AS BIGINT) AS n_frames,
      |       CAST(pk.frame AS BIGINT) AS peak_frame,
      |       CAST(pk.ssq AS BIGINT) AS peak_ssq,
      |       CAST(cr.nc AS BIGINT) AS n_crossings
      |FROM documents d
      |JOIN fr ON fr.doc_id = d.doc_id
      |JOIN pk ON pk.doc_id = d.doc_id AND pk.rn = 1
      |JOIN cr ON cr.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin))

  // ------------------------------------------ p59 audio silence segments

  private val p59 = QueryDef(
    // Silence detection / trim over the DECODED PCM (the standard audio
    // preprocessing step before feature extraction): a sample is silent
    // when |v| ≤ 16 after bias removal; maximal silent runs of ≥ 3
    // samples are segments; leading/trailing silence of ANY length
    // yields the trimmed length. One mapPartitions pass over the parsed
    // WAV, zero shuffle; the oracle takes the opposite route — a
    // gaps-and-islands window (pos − row_number per silence flag) over
    // exploded sample positions — so parity checks the run semantics,
    // not a shared loop.
    (s, d) => {
      import s.implicits._
      val thr = 16; val minLen = 3
      val in = fixture(s, d, "documents")
        .select(col("doc_id"), encode(coalesce(col("text"), lit("")), "UTF-8").as("pcm"))
        .as[(Long, Array[Byte])]
      in.mapPartitions { it =>
        it.map { case (id, pcm) =>
          val rate = 8000 + (id % 8).toInt * 1000
          val wav = WavCodec.build(rate, 1, 8, pcm)
          val info = WavCodec.parse(wav)
          val n = info.nSamples.toInt
          val data = wav.slice(wav.length - n, wav.length)
          def silent(i: Int): Boolean =
            math.abs((data(i) & 0xFF) - 128) <= thr
          var i = 0; var nSilent = 0L; var nSeg = 0L; var longest = 0L
          var lead = 0L; var tail = 0L
          while (i < n) {
            if (silent(i)) {
              var j = i
              while (j < n && silent(j)) j += 1
              val len = (j - i).toLong
              nSilent += len
              if (len >= minLen) { nSeg += 1; if (len > longest) longest = len }
              if (i == 0) lead = len
              if (j == n) tail = len
              i = j
            } else i += 1
          }
          val trimmed = if (lead == n) 0L else n - lead - tail
          (id, n.toLong, nSilent, nSeg, longest, lead, tail, trimmed)
        }
      }.toDF("doc_id", "n_samples", "n_silent", "n_segments", "longest_run",
          "lead_silence", "tail_silence", "trimmed_len")
        .orderBy(col("doc_id"))
    },
    Some("""WITH s AS (
      |  SELECT doc_id, pos,
      |         abs(ord(substr(text, pos, 1)) - 128) <= 16 AS sil
      |  FROM (SELECT doc_id, coalesce(text, '') AS text,
      |          CAST(unnest(range(1, len(coalesce(text, '')) + 1)) AS INT) AS pos
      |        FROM documents)),
      |r AS (SELECT doc_id, pos, sil,
      |        pos - row_number() OVER (
      |          PARTITION BY doc_id, sil ORDER BY pos) AS grp
      |      FROM s),
      |runs AS (SELECT doc_id, min(pos) AS a, max(pos) AS b,
      |           count(*) AS len
      |         FROM r WHERE sil GROUP BY doc_id, grp),
      |nn AS (SELECT doc_id, CAST(len(coalesce(text, '')) AS BIGINT) AS n_samples
      |       FROM documents),
      |agg AS (SELECT runs.doc_id,
      |          sum(len) AS n_silent,
      |          sum(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS n_segments,
      |          max(CASE WHEN len >= 3 THEN len ELSE 0 END) AS longest_run,
      |          max(CASE WHEN a = 1 THEN len ELSE 0 END) AS lead_silence,
      |          max(CASE WHEN b = nn.n_samples THEN len ELSE 0 END)
      |            AS tail_silence
      |        FROM runs JOIN nn ON runs.doc_id = nn.doc_id
      |        GROUP BY runs.doc_id)
      |SELECT nn.doc_id, nn.n_samples,
      |       CAST(coalesce(agg.n_silent, 0) AS BIGINT) AS n_silent,
      |       CAST(coalesce(agg.n_segments, 0) AS BIGINT) AS n_segments,
      |       CAST(coalesce(agg.longest_run, 0) AS BIGINT) AS longest_run,
      |       CAST(coalesce(agg.lead_silence, 0) AS BIGINT) AS lead_silence,
      |       CAST(coalesce(agg.tail_silence, 0) AS BIGINT) AS tail_silence,
      |       CAST(CASE WHEN coalesce(agg.lead_silence, 0) = nn.n_samples
      |                 THEN 0
      |                 ELSE nn.n_samples - coalesce(agg.lead_silence, 0)
      |                      - coalesce(agg.tail_silence, 0) END AS BIGINT)
      |         AS trimmed_len
      |FROM nn LEFT JOIN agg ON nn.doc_id = agg.doc_id
      |ORDER BY nn.doc_id""".stripMargin))

  // ------------------------------------------ p58 image dHash near-dups

  /** The dHash near-dup pair relation p58 (report) and p99 (cluster
   * decision) share — run-scoped so the bench derives it once (the
   * p15/p18 pattern). */
  private[queries] def dhashPairsShared(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:dhash-pairs:$d") {
      import s.implicits._
      val in = fixture(s, d, "documents")
        .select(col("doc_id"), encode(coalesce(col("text"), lit("")), "UTF-8").as("px"))
        .as[(Long, Array[Byte])]
      val hashed = in.mapPartitions { it =>
        it.map { case (id, px) =>
          val bmp = BmpCodec.build(16 + (id % 32).toInt, px)
          val info = BmpCodec.parse(bmp)
          val dataOffset = bmp.length - info.dataBytes
          // reads past the data block are 0 — the oracle's ELSE 0 arm
          // (an empty payload yields a 0-row image)
          def b(o: Int): Int =
            if (o < info.dataBytes) bmp(dataOffset + o) & 0xFF else 0
          def gray(i: Int, j: Int): Int = {
            val y = ((2 * i + 1) * info.height) / 16
            val x = ((2 * j + 1) * info.width) / 16
            val o = y * info.stride + x * 3
            b(o) + b(o + 1) + b(o + 2)
          }
          var h = 0L
          for (i <- 0 until 8; j <- 0 until 7)
            h = (h << 1) | (if (gray(i, j) < gray(i, j + 1)) 1L else 0L)
          (id, h)
        }
      }.toDF("doc_id", "dhash")
      DedupOps.hammingPairs(hashed, "doc_id", "dhash",
        bits = 56, maxDist = 7, blocks = 8)
    }

  private val p58 = QueryDef(
    // Image near-duplicate detection end to end: dHash (gradient hash)
    // over each document's DECODED BMP — sample the same 8×8 grid as
    // p42's aHash, emit a bit per horizontally-adjacent sample pair
    // (gray[i][j] < gray[i][j+1]), 56 bits so the packed hash stays in
    // the positive signed-64 range where Spark's and DuckDB's integer
    // arithmetic agree exactly — then ALL pairs at Hamming distance ≤ 7
    // via the Manku 8-block pigeonhole index (reusing p50's machinery
    // over a perceptual hash instead of a text simhash). The oracle
    // recomputes every dHash from the raw bytes in SQL and brute-forces
    // ALL O(n²) pairs, so parity proves both the hash arithmetic and
    // that the index misses nothing.
    (s, d) => dhashPairsShared(s, d).orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH $dhashCtes
      |SELECT doc_a, doc_b, hamming FROM dp
      |ORDER BY doc_a, doc_b""".stripMargin))

  /** DuckDB rebuild of the dHash relation over [[bmpGray8Cte]]'s grid +
   * brute-forced pairs (shared by the p58 report and the p99 cluster
   * decision). */
  private def dhashCtes: String =
    bmpGray8Cte + """,
      |bits AS (
      |  SELECT a.doc_id, a.i, a.j,
      |         CASE WHEN a.g3 < b.g3 THEN 1 ELSE 0 END AS bit
      |  FROM gray a JOIN gray b
      |    ON a.doc_id = b.doc_id AND a.i = b.i AND b.j = a.j + 1
      |  WHERE a.j < 7),
      |hh AS (
      |  SELECT doc_id,
      |         CAST(sum(CAST(bit AS BIGINT) *
      |           CAST(power(2, CAST((7 - i) * 7 + (6 - j) AS INT)) AS BIGINT))
      |           AS BIGINT) AS dhash
      |  FROM bits GROUP BY doc_id),
      |dp AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
      |  FROM hh a JOIN hh b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 7)""".stripMargin

  private val p99 = QueryDef(
    // Image near-dup DECISION stage: the p58 pair relation → connected
    // components → one family per row with its canonical representative
    // (p18's cluster stage applied to the perceptual-hash graph — the
    // "keep one of each near-identical image set" curation decision).
    // The oracle rebuilds every dHash from raw bytes, brute-forces all
    // pairs, and closes them with a recursive transitive closure — a
    // different algorithm from the engine's union-find/min-label.
    (s, d) => DedupOps.dupClusters(dhashPairsShared(s, d))
      .orderBy(col("cluster_rep")),
    Some(s"""WITH RECURSIVE $dhashCtes,
      |sym AS (SELECT doc_a AS src, doc_b AS dst FROM dp
      |        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM dp),
      |reach AS (
      |  SELECT src AS a, dst AS b FROM sym
      |  UNION
      |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
      |lab AS (SELECT a AS node, least(a, min(b)) AS label
      |        FROM reach GROUP BY a)
      |SELECT label AS cluster_rep, count(*) AS cluster_size,
      |       max(node) AS max_doc
      |FROM lab GROUP BY label ORDER BY cluster_rep""".stripMargin))

  private val p98 = QueryDef(
    // Loudness-normalization plan over the DECODED PCM (p45's decode
    // path): per clip, the peak |sample|, the integer-PPM gain that
    // would normalize the peak to 100 (8-bit full scale 127 → ~2 dB
    // headroom), and the pre-gain mean-square energy — every number a
    // floored integer quotient of exact sums, so the oracle replays the
    // whole plan from the source bytes. One mapPartitions pass, zero
    // shuffle.
    (s, d) => {
      import s.implicits._
      val in = fixture(s, d, "documents")
        .select(col("doc_id"), encode(coalesce(col("text"), lit("")), "UTF-8").as("pcm"))
        .as[(Long, Array[Byte])]
      in.mapPartitions { it =>
        it.map { case (id, pcm) =>
          val rate = 8000 + (id % 8).toInt * 1000
          val wav = WavCodec.build(rate, 1, 8, pcm)
          val info = WavCodec.parse(wav)
          val n = info.nSamples.toInt
          val data = wav.slice(wav.length - n, wav.length)
          def v(i: Int): Int = (data(i) & 0xFF) - 128
          var peak = 0L
          var ssq = 0L
          var i = 0
          while (i < n) {
            val a = math.abs(v(i)).toLong
            if (a > peak) peak = a
            ssq += v(i).toLong * v(i)
            i += 1
          }
          val gain = if (peak > 0) 100L * 1000000L / peak else 1000000L
          val ms = if (n > 0) ssq / n else 0L
          (id, n.toLong, peak, gain, ms)
        }
      }.toDF("doc_id", "n_samples", "peak_abs", "gain_ppm", "ms_e0")
        .orderBy(col("doc_id"))
    },
    Some("""WITH s AS (
      |  SELECT doc_id, CAST(pos AS INT) AS pos,
      |         ord(substr(text, CAST(pos AS INT), 1)) - 128 AS v
      |  FROM (SELECT doc_id, coalesce(text, '') AS text,
      |          unnest(range(1, len(coalesce(text, '')) + 1)) AS pos
      |        FROM documents)),
      |a AS (SELECT doc_id, count(*) AS n, max(abs(v)) AS peak,
      |             sum(CAST(v AS BIGINT) * v) AS ssq
      |      FROM s GROUP BY doc_id)
      |SELECT d.doc_id,
      |       CAST(coalesce(a.n, 0) AS BIGINT) AS n_samples,
      |       CAST(coalesce(a.peak, 0) AS BIGINT) AS peak_abs,
      |       CAST(CASE WHEN coalesce(a.peak, 0) > 0
      |                 THEN 100000000 // a.peak ELSE 1000000 END
      |         AS BIGINT) AS gain_ppm,
      |       CAST(CASE WHEN coalesce(a.n, 0) > 0 THEN a.ssq // a.n
      |                 ELSE 0 END AS BIGINT) AS ms_e0
      |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin))

  private val p75 = QueryDef(
    // Embedding-table QA (Similarity.embeddingAudit): per label, counts
    // of wrong-dimension / all-zero vectors and Tukey-fence norm²
    // outliers, plus the integer-scaled quartiles themselves. The oracle
    // recomputes the norm² from the raw floats, derives the quartiles by
    // the OPPOSITE algorithm (full sort + row_number vs the engine's
    // histogram ceil-rank selection), and replays the integer fence
    // arithmetic.
    (s, d) => Similarity.embeddingAudit(
        fixture(s, d, "embeddings"), "vec_id", "embedding", "label", dim = 64)
      .orderBy(col("label")),
    Some(s"""WITH b AS (
      |  SELECT CAST(label AS VARCHAR) AS label, vec_id,
      |         len(embedding) AS n_dims,
      |         list_sum(list_transform(embedding,
      |           x -> x::DOUBLE * x::DOUBLE)) AS ssq
      |  FROM embeddings),
      |v AS (SELECT label, ${Exact.sqlERow("ssq", 3)} AS ssq_mil
      |      FROM b WHERE n_dims = 64),
      |r AS (SELECT label, ssq_mil,
      |             row_number() OVER (PARTITION BY label ORDER BY ssq_mil)
      |               AS rn,
      |             count(*) OVER (PARTITION BY label) AS n
      |      FROM v),
      |q AS (SELECT label,
      |        max(CASE WHEN rn = (n + 3) // 4 THEN ssq_mil END) AS q1_mil,
      |        max(CASE WHEN rn = (3 * n + 3) // 4 THEN ssq_mil END)
      |          AS q3_mil
      |      FROM r GROUP BY label)
      |SELECT b.label, count(*) AS n_vecs,
      |       CAST(sum(CASE WHEN b.n_dims <> 64 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_bad_dim,
      |       CAST(sum(CASE WHEN b.n_dims = 64 AND b.ssq = 0
      |         THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |       CAST(sum(CASE WHEN b.n_dims = 64 AND
      |           ${Exact.sqlERow("b.ssq", 3)} * 2
      |             < q.q1_mil * 5 - q.q3_mil * 3
      |         THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
      |       CAST(sum(CASE WHEN b.n_dims = 64 AND
      |           ${Exact.sqlERow("b.ssq", 3)} * 2
      |             > q.q3_mil * 5 - q.q1_mil * 3
      |         THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
      |       max(q.q1_mil) AS q1_mil, max(q.q3_mil) AS q3_mil
      |FROM b LEFT JOIN q USING (label)
      |GROUP BY b.label ORDER BY b.label""".stripMargin))

  // ------------------------------------- p80 semantic decontamination

  private val p80 = QueryDef(
    // Embedding-space decontamination verdict: vectors 0-19 play the
    // benchmark, every other vector gets a per-row verdict (max rounded
    // cosine to the benchmark set, closest benchmark id with ties to
    // the smaller id, drop decision at 0.35). The engine resolves the
    // argmax in ONE struct-max aggregation; the oracle takes the
    // opposite route — a rank window over all (corpus, bench) pairs.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      Similarity.semanticContamination(
        e.filter(col("vec_id") >= 20), e.filter(col("vec_id") < 20), 0.35)
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH b AS (SELECT vec_id AS bid, ${q3Sql("embedding")} AS bcodes
      |           FROM embeddings WHERE vec_id < 20),
      |bn AS (SELECT bid, bcodes, ${dotLongSql("bcodes", "bcodes")} AS bnsq FROM b),
      |c AS (SELECT vec_id, ${q3Sql("embedding")} AS codes
      |      FROM embeddings WHERE vec_id >= 20),
      |cn AS (SELECT vec_id, codes, ${dotLongSql("codes", "codes")} AS nsq FROM c),
      |s AS (SELECT cn.vec_id, bn.bid,
      |        ${simE3Sql(dotLongSql("cn.codes", "bn.bcodes"), "cn.nsq", "bn.bnsq")}
      |          AS sim_e3
      |      FROM cn, bn),
      |r AS (SELECT vec_id, bid, sim_e3, row_number() OVER (
      |        PARTITION BY vec_id ORDER BY sim_e3 DESC, bid) AS rn
      |      FROM s WHERE sim_e3 IS NOT NULL)
      |SELECT vec_id, sim_e3::DOUBLE / 1000 AS max_sim, bid AS matched_bench,
      |       sim_e3 >= 350 AS contaminated
      |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin))

  // --------------------------------------------------------- p84 pHash

  /** Integer DCT-II basis at ×10⁶: B(u,i) = round(cos(π(2i+1)u/16)·10⁶).
   * Computed ONCE in Scala and interpolated into the oracle as a VALUES
   * table, so both engines share byte-identical integers and the whole
   * pHash pipeline is exact BIGINT arithmetic — no float sum order, no
   * libm cos divergence, anywhere. */
  private val dctB: Array[Array[Long]] = Array.tabulate(8, 8)((u, i) =>
    math.round(math.cos(math.Pi * (2 * i + 1) * u / 16.0) * 1000000.0))

  private val dctBasisValues: String =
    (for { u <- 0 until 8; i <- 0 until 8 }
      yield s"($u, $i, ${dctB(u)(i)})").mkString(", ")

  private val p84 = QueryDef(
    // DCT perceptual hash (pHash) — the frequency-domain member of the
    // perceptual trio beside p42's aHash (brightness) and p58's dHash
    // (gradients): 8×8 integer 2D DCT-II of the decoded BMP's gray grid
    // with the ×10⁶ integer basis, each non-DC coefficient thresholded
    // against the 63-coefficient median (32nd order statistic — exact
    // integers, so no float tie anywhere), packed MSB-first with the DC
    // position always 0. Max |coef| ≈ 765·10¹²·64 ≪ 2⁶³, so BIGINT
    // arithmetic is exact in both engines and summation order is
    // irrelevant. One mapPartitions pass, zero shuffle.
    (s, d) => {
      import s.implicits._
      val b = dctB
      val in = fixture(s, d, "documents")
        .select(col("doc_id"), encode(coalesce(col("text"), lit("")), "UTF-8").as("px"))
        .as[(Long, Array[Byte])]
      in.mapPartitions { it =>
        it.map { case (id, px) =>
          val bmp = BmpCodec.build(16 + (id % 32).toInt, px)
          val info = BmpCodec.parse(bmp)
          val dataOffset = bmp.length - info.dataBytes
          // reads past the data block are 0 — the oracle's ELSE 0 arm
          // (an empty payload yields a 0-row image)
          def bb(o: Int): Int =
            if (o < info.dataBytes) bmp(dataOffset + o) & 0xFF else 0
          val gray = Array.tabulate(8, 8) { (i, j) =>
            val y = ((2 * i + 1) * info.height) / 16
            val x = ((2 * j + 1) * info.width) / 16
            val o = y * info.stride + x * 3
            (bb(o) + bb(o + 1) + bb(o + 2)).toLong
          }
          val coef = Array.tabulate(8, 8) { (u, v) =>
            var f = 0L; var i = 0
            while (i < 8) {
              var j = 0
              while (j < 8) { f += gray(i)(j) * b(u)(i) * b(v)(j); j += 1 }
              i += 1
            }
            f
          }
          val nz = (for { u <- 0 until 8; v <- 0 until 8
            if u != 0 || v != 0 } yield coef(u)(v)).sorted
          val med = nz(31) // the 32nd smallest of the 63 non-DC coefs
          var packed = 0L; var nAbove = 0L
          for { u <- 0 until 8; v <- 0 until 8; if u != 0 || v != 0 } {
            if (coef(u)(v) > med) {
              packed |= 1L << (63 - (u * 8 + v)); nAbove += 1
            }
          }
          (id, info.width, info.height, f"$packed%016x", med, nAbove)
        }
      }.toDF("doc_id", "width", "height", "phash", "median_coef", "n_above")
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH basis(u, i, b) AS (VALUES $dctBasisValues),
      |$bmpGray8Cte,
      |coef AS (
      |  SELECT g.doc_id, bu.u AS u, bv.u AS v,
      |         CAST(sum(CAST(g.g3 AS BIGINT) * CAST(bu.b AS BIGINT) *
      |                  CAST(bv.b AS BIGINT)) AS BIGINT) AS f
      |  FROM gray g JOIN basis bu ON bu.i = g.i
      |       JOIN basis bv ON bv.i = g.j
      |  GROUP BY 1, 2, 3),
      |nz AS (SELECT * FROM coef WHERE NOT (u = 0 AND v = 0)),
      |med AS (SELECT doc_id, f AS m FROM (
      |          SELECT doc_id, f, row_number() OVER (
      |            PARTITION BY doc_id ORDER BY f) AS rn FROM nz)
      |        WHERE rn = 32),
      |bits AS (SELECT nz.doc_id, u, v,
      |           CASE WHEN f > m THEN 1 ELSE 0 END AS bit
      |         FROM nz JOIN med USING (doc_id)),
      |pk AS (SELECT doc_id,
      |         CAST(sum(CAST(bit AS BIGINT) << (63 - (u * 8 + v)))
      |           AS BIGINT) AS packed,
      |         CAST(sum(bit) AS BIGINT) AS n_above
      |       FROM bits GROUP BY 1)
      |SELECT h.doc_id, h.w AS width, h.hgt AS height,
      |       lpad(lower(to_hex(pk.packed)), 16, '0') AS phash,
      |       med.m AS median_coef, pk.n_above
      |FROM h JOIN pk ON pk.doc_id = h.doc_id
      |     JOIN med ON med.doc_id = h.doc_id
      |ORDER BY h.doc_id""".stripMargin))

  // ------------------------------------------------- p83 graph PageRank

  /** One PageRank superstep as SQL: previous ranks `$prev(node, rk)` →
   * `(node, rk)`, in the same all-integer fixed-point arithmetic as
   * GraphOps.pageRank (floor div contributions, 15/85 split). */
  private def prStep(prev: String): String =
    s"""SELECT d.src AS node, CAST(
      |         (15 * (1000000000000 // nn.n)) // 100 +
      |         (85 * coalesce(i.s, 0)) // 100 AS BIGINT) AS rk
      |       FROM deg d CROSS JOIN nn
      |       LEFT JOIN (SELECT y.dst, sum(r.rk // dg.deg) AS s
      |                  FROM sym y JOIN $prev r ON r.node = y.src
      |                       JOIN deg dg ON dg.src = y.src
      |                  GROUP BY 1) i ON i.dst = d.src""".stripMargin

  private val p83 = QueryDef(
    // PageRank centrality over the mutual-kNN similarity graph (3
    // fixed-point iterations, damping 85%): the representative-selection
    // signal — within a near-dup or semantic cluster the highest-rank
    // node is the best-connected exemplar. All-integer arithmetic end to
    // end, so the oracle replays every superstep bit for bit (each
    // iteration is the literal unrolled SQL of the engine's superstep).
    (s, d) => graft.pipeline.GraphOps.pageRank(
        mutualEdgesShared(s, d), "a", "b", iterations = 3)
      .orderBy(col("vec_id")),
    Some(s"""WITH $mutualEdgeCte,
      |sym AS (SELECT a AS src, b AS dst FROM m
      |        UNION ALL SELECT b AS src, a AS dst FROM m),
      |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM deg),
      |r0 AS (SELECT src AS node, CAST(1000000000000 // nn.n AS BIGINT) AS rk
      |       FROM deg CROSS JOIN nn),
      |i1 AS (${prStep("r0")}),
      |i2 AS (${prStep("i1")}),
      |i3 AS (${prStep("i2")})
      |SELECT i3.node AS vec_id, deg.deg, i3.rk AS rank_e12
      |FROM i3 JOIN deg ON deg.src = i3.node
      |ORDER BY vec_id""".stripMargin))

  private val p86 = QueryDef(
    // Triangle census of the mutual-kNN similarity graph: per-node
    // triangle count + local clustering coefficient in integer ppm —
    // the cohesion diagnostic that separates closed near-dup cliques
    // from hub-and-spoke artifacts. The engine enumerates each triangle
    // once in a<b<c orientation (wedge join + closure semi-join); the
    // oracle re-enumerates them in SQL from the same reciprocated edge
    // relation and replays the ppm arithmetic.
    (s, d) => graft.pipeline.GraphOps.triangleStats(
        fixture(s, d, "embeddings"), "vec_id", mutualEdgesShared(s, d), "a", "b")
      .orderBy(col("vec_id")),
    Some(s"""WITH $mutualEdgeCte,
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM m e1 JOIN m e2 ON e2.a = e1.b
      |  WHERE EXISTS (SELECT 1 FROM m e3
      |                WHERE e3.a = e1.a AND e3.b = e2.b)),
      |pn AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
      |    SELECT x AS node FROM tri
      |    UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri) GROUP BY 1),
      |deg AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT a AS node FROM m UNION ALL SELECT b FROM m) GROUP BY 1)
      |SELECT e.vec_id, coalesce(deg.deg, 0) AS deg,
      |       coalesce(pn.tri, 0) AS tri,
      |       CASE WHEN coalesce(deg.deg, 0) >= 2 THEN
      |         (2 * coalesce(pn.tri, 0) * 1000000) //
      |         (deg.deg * (deg.deg - 1)) ELSE 0 END AS lcc_ppm
      |FROM embeddings e
      |LEFT JOIN deg ON deg.node = e.vec_id
      |LEFT JOIN pn ON pn.node = e.vec_id
      |ORDER BY e.vec_id""".stripMargin))

  private val p87 = QueryDef(
    // Margin-based parallel-pair mining (Artetxe & Schwenk 2019) between
    // the label-0 and label-1 embedding slices: per source vector, the
    // best cross-slice match by the ratio-margin criterion (cosine
    // relative to both neighborhoods), in exact ×10³/ppm integer
    // arithmetic. The oracle rebuilds the cell assignment, the
    // candidate relation, both neighborhood sums, and the margin
    // arithmetic independently.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("cembedding"))
      Similarity.marginMining(e, centroids, srcLabel = 0, tgtLabel = 1)
        .orderBy(col("src_id"))
    },
    Some(s"""WITH $assignCtes,
      |asg AS (SELECT vec_id, label, codes, nsq, cid FROM rk WHERE rn = 1),
      |pair0 AS (
      |  SELECT x.vec_id AS src_id, y.vec_id AS tgt_id,
      |         ${simE3Sql(dotLongSql("x.codes", "y.codes"), "x.nsq", "y.nsq")}
      |           AS c_e3
      |  FROM asg x JOIN asg y ON y.cid = x.cid
      |  WHERE x.label = 0 AND y.label = 1),
      |pair AS (SELECT * FROM pair0 WHERE c_e3 > 0),
      |sx AS (
      |  SELECT src_id, CAST(sum(c_e3) AS BIGINT) AS s, count(*) AS k
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY src_id ORDER BY c_e3 DESC, tgt_id) AS rn
      |        FROM pair) WHERE rn <= 3 GROUP BY 1),
      |sy AS (
      |  SELECT tgt_id, CAST(sum(c_e3) AS BIGINT) AS s, count(*) AS k
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY tgt_id ORDER BY c_e3 DESC, src_id) AS rn
      |        FROM pair) WHERE rn <= 3 GROUP BY 1),
      |mg AS (
      |  SELECT p.src_id, p.tgt_id, p.c_e3,
      |         (2 * p.c_e3 * sx.k * sy.k * 1000000) //
      |         (sx.s * sy.k + sy.s * sx.k) AS margin_ppm
      |  FROM pair p JOIN sx ON sx.src_id = p.src_id
      |       JOIN sy ON sy.tgt_id = p.tgt_id),
      |best AS (SELECT *, row_number() OVER (
      |           PARTITION BY src_id
      |           ORDER BY margin_ppm DESC, tgt_id) AS rn
      |         FROM mg)
      |SELECT src_id, tgt_id, c_e3, CAST(margin_ppm AS BIGINT) AS margin_ppm,
      |       (margin_ppm >= 1000000) AS accepted
      |FROM best WHERE rn = 1 ORDER BY src_id""".stripMargin))

  /** ×10⁴ integer DFT basis over a 64-sample window, bins 1–4: computed
   * once here (deterministic Math.cos/sin rounding) and used by BOTH the
   * engine's kernel and the oracle's interpolated VALUES table — the p84
   * convention. ×10⁴ keeps power = re² + im² inside BIGINT
   * (|re| ≤ 64·128·10⁴ ≈ 8.2·10⁷ → power ≤ ~1.3·10¹⁶). */
  private val dftBasis: Seq[(Int, Int, Long, Long)] =
    for (k <- 1 to 4; i <- 0 until 64) yield {
      val th = 2.0 * math.Pi * k * i / 64.0
      (k, i, math.round(math.cos(th) * 10000.0),
        math.round(math.sin(th) * 10000.0))
    }

  private val p89 = QueryDef(
    // Dominant-frequency analysis over the DECODED PCM (the p45 decode
    // path: build canonical WAV, walk RIFF back): a 4-bin integer DFT
    // over the first 64 bias-removed samples, power = re² + im² in
    // exact BIGINT arithmetic on the shared ×10⁴ basis, dominant bin by
    // (power desc, bin). One row per (doc, bin) so the oracle checks the
    // whole spectrum, not just the argmax. Zero shuffle in the engine;
    // the oracle replays every multiply from the source bytes and the
    // interpolated basis table.
    (s, d) => {
      import s.implicits._
      val basis = dftBasis
      val in = fixture(s, d, "documents")
        .select(col("doc_id"),
          encode(coalesce(col("text"), lit("")), "UTF-8").as("pcm"))
        .as[(Long, Array[Byte])]
      in.flatMap { case (id, pcm) =>
        val rate = 8000 + (id % 8).toInt * 1000
        val wav = WavCodec.build(rate, 1, 8, pcm)
        val info = WavCodec.parse(wav)
        val n = info.nSamples.toInt
        val data = wav.slice(wav.length - n, wav.length)
        val used = math.min(64, n)
        val powers = (1 to 4).map { k =>
          var re = 0L; var im = 0L; var i = 0
          while (i < used) {
            val v = ((data(i) & 0xFF) - 128).toLong
            val b = basis((k - 1) * 64 + i)
            re += v * b._3; im += v * b._4
            i += 1
          }
          (k.toLong, re * re + im * im)
        }
        val dom = powers.minBy { case (k, p) => (-p, k) }._1
        powers.map { case (k, p) =>
          (id, used.toLong, k, p, k == dom)
        }
      }.toDF("doc_id", "n_used", "bin", "power", "dom")
        .orderBy(col("doc_id"), col("bin"))
    },
    Some(s"""WITH basis(bin, i, c, sn) AS (VALUES
      |${dftBasis.map { case (k, i, c, sn) => s"  ($k, $i, $c, $sn)" }
          .mkString(",\n")}),
      |s AS (
      |  SELECT doc_id, CAST(pos AS INT) - 1 AS i,
      |         ord(substr(text, CAST(pos AS INT), 1)) - 128 AS v
      |  FROM (SELECT doc_id, coalesce(text, '') AS text,
      |          unnest(range(1, least(64, len(coalesce(text, ''))) + 1))
      |            AS pos
      |        FROM documents)),
      |ft AS (
      |  SELECT s.doc_id, b.bin,
      |         CAST(sum(s.v * b.c) AS BIGINT) AS re,
      |         CAST(sum(s.v * b.sn) AS BIGINT) AS im
      |  FROM s JOIN basis b ON b.i = s.i
      |  GROUP BY 1, 2),
      |pw AS (
      |  SELECT d.doc_id,
      |         CAST(least(64, len(coalesce(d.text, ''))) AS BIGINT)
      |           AS n_used,
      |         k.bin,
      |         coalesce(ft.re * ft.re + ft.im * ft.im, 0) AS power
      |  FROM documents d
      |  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS bin) k
      |  LEFT JOIN ft ON ft.doc_id = d.doc_id AND ft.bin = k.bin),
      |rk AS (SELECT *, row_number() OVER (
      |         PARTITION BY doc_id ORDER BY power DESC, bin) AS rn
      |       FROM pw)
      |SELECT doc_id, n_used, CAST(bin AS BIGINT) AS bin,
      |       CAST(power AS BIGINT) AS power, (rn = 1) AS dom
      |FROM rk ORDER BY doc_id, bin""".stripMargin))

  /** Integer covariance relation shared by p90 (matrix) and p91 (power
   * iteration), memoized run-scoped — the corpus-scale pass happens
   * once; everything p91 adds is d²-scale (the p63/p83 pattern). */
  private def covShared(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memoRun(
      s"${s.sparkContext.applicationId}:cov-upper:$d") {
      Similarity.covarianceUpper(fixture(s, d, "embeddings"))
    }

  /** DuckDB replay of [[Similarity.covarianceUpper]]. */
  private val covCte: String =
    """x AS (
      |  SELECT vec_id, CAST(pos - 1 AS INT) AS i,
      |         CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1000 + 0.5)
      |           AS BIGINT) AS x
      |  FROM (SELECT vec_id, embedding,
      |          unnest(range(1, len(embedding) + 1)) AS pos
      |        FROM embeddings)),
      |nn AS (SELECT count(*) AS n FROM embeddings),
      |sums AS (SELECT i, CAST(sum(x) AS BIGINT) AS s FROM x GROUP BY 1),
      |prods AS (
      |  SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS sij
      |  FROM x a JOIN x b ON b.vec_id = a.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2),
      |cov AS (
      |  SELECT p.i, p.j,
      |         CAST(nn.n * p.sij - sa.s * sb.s AS BIGINT) AS cov_num
      |  FROM prods p, nn, sums sa, sums sb
      |  WHERE sa.i = p.i AND sb.i = p.j)""".stripMargin

  private val p90 = QueryDef(
    // Exact-integer covariance matrix of the embedding table (upper
    // triangle): ×10³-rounded components, entry = n·Σxᵢxⱼ − ΣxᵢΣxⱼ —
    // PCA step one. The oracle rebuilds the pos-exploded component
    // relation and every product sum independently.
    (s, d) => covShared(s, d)
      .select(col("i"), col("j"), col("cov_num"),
        (col("i") === col("j")).as("is_diag"))
      .orderBy(col("i"), col("j")),
    Some(s"""WITH $covCte
      |SELECT i, j, cov_num, (i = j) AS is_diag
      |FROM cov ORDER BY i, j""".stripMargin))

  /** One integer power-iteration step for the p91 oracle (mirrors
   * Similarity.pcaPowerTop: w = C·v, then ∞-norm renormalize with
   * truncating division — identical on both engines). */
  private def pcaStep(n: Int, prev: String): String =
    s"""w$n AS (SELECT c.i, CAST(sum(c.c * v.v) AS BIGINT) AS w
      |        FROM cmat c JOIN $prev v ON v.j = c.j GROUP BY 1),
      |v$n AS (SELECT i AS j, CAST((w * 1000000) //
      |          greatest((SELECT max(abs(w)) FROM w$n), 1) AS BIGINT) AS v
      |        FROM w$n)""".stripMargin

  private val p91 = QueryDef(
    // Top principal component by 3 integer power iterations over the
    // shared covariance matrix: matrix div 10⁶ once, all-ones start,
    // ∞-norm renormalization each step — every intermediate is exact,
    // so the oracle's unrolled replay must land on the identical
    // iterate.
    (s, d) => Similarity.pcaPowerTop(covShared(s, d), iterations = 3)
      .orderBy(col("i")),
    Some(s"""WITH $covCte,
      |cmat AS (
      |  SELECT i, j, cov_num // 1000000 AS c FROM cov
      |  UNION ALL
      |  SELECT j AS i, i AS j, cov_num // 1000000 AS c FROM cov
      |  WHERE i <> j),
      |v0 AS (SELECT DISTINCT i AS j, CAST(1000000 AS BIGINT) AS v
      |       FROM cmat),
      |${pcaStep(1, "v0")},
      |${pcaStep(2, "v1")},
      |${pcaStep(3, "v2")}
      |SELECT j AS i, v AS v_e6 FROM v3 ORDER BY i""".stripMargin))

  private val p92 = QueryDef(
    // IVF recall@5 audit: the exact brute-force top-5 (p6's relation) is
    // ground truth; the IVF index (p14's centroids, nprobe=3, no
    // similarity floor) is the candidate set; recall is the integer PPM
    // fraction of true neighbors the probed lists contain — the engine
    // measuring its own index's quality. The oracle recomputes BOTH
    // rankings on the shared e3 integer kernel and replays the overlap
    // join.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cembedding"))
      val exact = Similarity.bruteForceTopK(q, e, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val cand = Similarity.ivfAnn(q, e, centroids, threshold = -1.0, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(cand, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall_ppm", expr("(n_hit * 1000000) div n_exact"))
        .orderBy(col("query_id"))
    },
    Some(s"""WITH $assignCtes,
      |q AS (SELECT vec_id, codes, nsq FROM vq WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS id,
      |         ${simE3Sql(dotLongSql("q.codes", "c.codes"), "q.nsq", "c.nsq")}
      |           AS sim_e3
      |  FROM vq c, q WHERE q.vec_id <> c.vec_id),
      |r AS (SELECT query_id, id, sim_e3,
      |             row_number() OVER (PARTITION BY query_id
      |               ORDER BY sim_e3 DESC, id) AS rn
      |      FROM scored WHERE sim_e3 IS NOT NULL),
      |exact AS (SELECT query_id, id AS neighbor_id FROM r WHERE rn <= 5),
      |asg AS (SELECT vec_id, cid FROM rk WHERE rn = 1),
      |qp AS (SELECT vec_id, cid FROM rk WHERE rn <= 3 AND vec_id < 10),
      |cand AS (SELECT qp.vec_id AS query_id, c.vec_id AS neighbor_id
      |         FROM asg c, qp WHERE qp.cid = c.cid AND qp.vec_id <> c.vec_id)
      |SELECT e.query_id, count(*) AS n_exact,
      |       CAST(sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_hit,
      |       CAST(sum(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
      |         * 1000000 // count(*) AS BIGINT) AS recall_ppm
      |FROM exact e LEFT JOIN cand c
      |  ON e.query_id = c.query_id AND e.neighbor_id = c.neighbor_id
      |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin))

  private val p95 = QueryDef(
    // IVF cell-balance audit over the whole corpus (same deterministic
    // centroid rule as p14/p28): per-cell population, corpus share, and
    // load factor vs uniform — all exact integer PPM. The oracle
    // re-derives the assignment with the independent window formulation.
    (s, d) => {
      val e = fixture(s, d, "embeddings")
      val centroids = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cembedding"))
      Similarity.ivfCellStats(e, centroids)
        .orderBy(col("n_vecs").desc, col("cluster"))
    },
    Some(s"""WITH $assignCtes,
      |census AS (SELECT cid AS cluster, count(*) AS n_vecs
      |           FROM rk WHERE rn = 1 GROUP BY cid),
      |tot AS (SELECT sum(n_vecs) AS n_total,
      |               (SELECT count(*) FROM cq) AS n_cells FROM census)
      |SELECT cluster, CAST(n_vecs AS BIGINT) AS n_vecs,
      |       CAST(n_vecs * 1000000 // n_total AS BIGINT) AS share_ppm,
      |       CAST(n_vecs * n_cells * 1000000 // n_total AS BIGINT) AS load_ppm
      |FROM census, tot
      |ORDER BY n_vecs DESC, cluster""".stripMargin))

  override val defs: Map[String, QueryDef] = Map(
    "p92_ann_recall" -> p92,
    "p95_ivf_balance" -> p95,
    "p98_loudness_plan" -> p98,
    "p99_image_dup_components" -> p99,
    "p100_winnow_pairs" -> p100,
    "p1_exact_dedup" -> p1,
    "p2_norm_dedup" -> p2,
    "p3_ngram_jaccard" -> p3,
    "p109_jaccard_prefix_join" -> p109,
    "p111_mmr_rerank" -> p111,
    "p113_lang_confusion" -> p113,
    "p117_keep_longest" -> p117,
    "p74_containment_pairs" -> p74,
    "p134_containment_prefix_join" -> p134,
    "p77_containment_scrub" -> p77,
    "p4_minhash_lsh" -> p4,
    "p5_simhash_buckets" -> p5,
    "p50_hamming_pairs" -> p50,
    "p51_leakage_free_split" -> p51,
    "p52_kmeans_step" -> p52,
    "p54_random_projection" -> p54,
    "p6_ann_topk" -> p6,
    "p7_ann_threshold" -> p7,
    "p8_ann_bucketed" -> p8,
    "p9_quality_features" -> p9,
    "p10_language_id" -> p10,
    "p11_token_stats" -> p11,
    "p12_media_decode" -> p12,
    "p13_media_frames" -> p13,
    "p14_ann_ivf" -> p14,
    "p15_minhash_full" -> p15,
    "p16_winnow_fingerprint" -> p16,
    "p17_cosine_neardup" -> p17,
    "p18_dup_clusters" -> p18,
    "p19_wav_decode" -> p19,
    "p20_bmp_decode" -> p20,
    "p118_video_scene_cuts" -> p118,
    "p125_warc_census" -> p125,
    "p125b_warc_http_census" -> p125b,
    "p127_url_canonical_census" -> p127,
    "p128_hnsw_append_audit" -> p128,
    "p129_minhash_append" -> p129,
    "p130_domain_caps" -> p130,
    "p131_robots_verdicts" -> p131,
    "p132_ivfpq_topk" -> p132,
    "p135_ivfpq_recall" -> p135,
    "p136_ann_cost_census" -> p136,
    "p137_planted_ivfpq_recall" -> p137,
    "p138_hyperplane_buckets" -> p138,
    "p139_planted_assignment_audit" -> p139,
    "p133_pq_train" -> p133,
    "p119_sq8_quantize" -> p119,
    "p120_ivf_append" -> p120,
    "p122_sq8_recall" -> p122,
    "p123_hnsw_recall" -> p123,
    "p42_image_ahash" -> p42,
    "p45_audio_energy" -> p45,
    "p58_image_dhash_pairs" -> p58,
    "p59_audio_silence" -> p59,
    "p61_knn_graph" -> p61,
    "p63_mutual_knn_components" -> p63,
    "p64_knn_label_purity" -> p64,
    "p68_hard_negatives" -> p68,
    "p28_semantic_dedup" -> p28,
    "p35_embed_pq" -> p35,
    "p37_pq_adc_topk" -> p37,
    "p39_hash_embedding" -> p39,
    "p75_embedding_audit" -> p75,
    "p80_semantic_decontaminate" -> p80,
    "p83_knn_pagerank" -> p83,
    "p84_image_phash" -> p84,
    "p86_knn_triangles" -> p86,
    "p87_margin_mining" -> p87,
    "p89_audio_dft" -> p89,
    "p90_embed_covariance" -> p90,
    "p91_pca_power" -> p91
  )
}
