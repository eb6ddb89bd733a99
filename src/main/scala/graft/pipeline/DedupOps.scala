package graft.pipeline

import graft.functions.GraftFunctions.murmur3Positive
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Document deduplication at corpus scale: exact, normalized-exact,
 * n-gram Jaccard, MinHash+LSH, and SimHash.
 *
 * Scale design: exact/normalized dedup is a hash aggregation (one shuffle
 * on the fingerprint, map-side partial). MinHash LSH is the 100 TB path —
 * signatures are computed per-partition with codegen'd murmur3 expressions,
 * and the only shuffle is on (band, band_hash) buckets, never all-pairs.
 * Exact n-gram Jaccard is kept for verification: it joins on shared
 * shingles and is inherently super-linear — bound its input.
 */
object DedupOps {

  /** Round-half-up quantization to 4 decimal places via
   * floor(x·10⁴ + 0.5)/10⁴ — the repo's engine-portable convention
   * (pure IEEE multiply/add/floor/divide, identical in Spark and
   * DuckDB) replacing `round(x, 4)`, whose tie handling is
   * engine-defined. Inputs here are single exact-integer ratios
   * (|A∩B| / set sizes), so the quantized value is deterministic
   * regardless of partitioning. */
  private def q4(c: Column): Column =
    floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

  /** Word n-gram shingles (distinct) of a text column; rows with fewer than
   * n words get no shingles. Single-pass codegen'd kernel — see
   * [[graft.functions.NGramOps]] for why this beats the composed
   * array_distinct∘transform∘sequence formulation. */
  def shingles(text: Column, n: Int): Column = TextOps.wordNGrams(text, n)

  /** Exact duplicate groups by md5 of the raw text: one row per group with
   * >1 member — the representative is the smallest doc id. */
  def exactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("representative"))
      .filter(col("dup_count") > 1)

  /** Near-exact duplicates: same, after whitespace/case/punctuation
   * normalization. */
  def normalizedDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("representative"))
      .filter(col("dup_count") > 1)

  /**
   * Exact n-gram Jaccard similarity join: pairs of documents whose distinct
   * word-n-gram sets have Jaccard ≥ threshold. Candidate pairs are generated
   * by co-grouping on shared shingles (inverted index), so disjoint
   * documents never pair up; still quadratic within hot shingles — the
   * verification-scale oracle for the MinHash path below.
   */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val shRows = shingleRows(docs, idCol, textCol, n)
    // corpus-scale sides merge-hinted (the round-15 census class)
    val pairs = shRows.as("a").join(shRows.hint("merge").as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = shRows.groupBy(col("doc")).agg(count(lit(1)).as("set_size"))
    pairs
      .join(sizes.select(col("doc").as("doc_a"), col("set_size").as("size_a"))
        .hint("merge"), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("set_size").as("size_b"))
        .hint("merge"), "doc_b")
      .withColumn("jaccard",
        q4(col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /**
   * Asymmetric n-gram CONTAINMENT join (the other resemblance measure of
   * Broder '97 §2): for pairs sharing at least one shingle, C(a→b) =
   * |Sa ∩ Sb| / |Sa| — catches quote inclusion and subset duplication
   * that symmetric Jaccard misses entirely (a fully-quoted 50-word
   * passage inside a 5000-word page has Jaccard ≈ 0.01 but containment
   * 1.0, which is why C4/RealNews-style pipelines screen quotes with
   * containment, not resemblance). One row per unordered candidate pair
   * with BOTH directions' scores, kept when either clears the threshold.
   * Candidates come from the same inverted shingle index as
   * [[ngramJaccardPairs]] — disjoint documents never pair, but hot
   * shingles are still quadratic, so this is the verification-scale
   * form; the corpus-scale escape is LSH banding on the SMALLER set's
   * signature (containment-LSH), the asymmetric twin of
   * [[minhashLshVerifiedPairs]].
   */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val shRows = shingleRows(docs, idCol, textCol, n)
    // corpus-scale sides merge-hinted (the round-15 census class)
    val pairs = shRows.as("a").join(shRows.hint("merge").as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = shRows.groupBy(col("doc")).agg(count(lit(1)).as("set_size"))
    pairs
      .join(sizes.select(col("doc").as("doc_a"), col("set_size").as("size_a"))
        .hint("merge"), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("set_size").as("size_b"))
        .hint("merge"), "doc_b")
      .withColumn("cont_a_in_b",
        q4(col("inter").cast("double") / col("size_a")))
      .withColumn("cont_b_in_a",
        q4(col("inter").cast("double") / col("size_b")))
      .filter(col("cont_a_in_b") >= threshold || col("cont_b_in_a") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("size_a"),
        col("size_b"), col("cont_a_in_b"), col("cont_b_in_a"))
  }

  /**
   * Containment-dedup DECISION layer over [[containmentPairs]] — the
   * quote/subset scrub: a document drops when its gram set is
   * (near-)contained in another document. Mutual containment
   * (near-identical docs) keeps the smaller id — the library's dedup
   * representative convention; strict containment keeps the superset
   * document. The rule is pairwise-local: every drop cites an explicit
   * container, and in an a⊂b⊂c chain the top superset always survives
   * (b's drop row cites c even though b itself drops) — the same
   * local-evidence shape as [[dupClusters]]' edge list, which a
   * downstream keep-set join resolves.
   * Output: one row per DROPPED doc — its minimum-id container, the max
   * containment that doomed it, and its container count.
   */
  def containmentScrub(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame = {
    val pairs = containmentPairs(docs, idCol, textCol, n, tau)
    val dropB = pairs.filter(col("cont_b_in_a") >= tau)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("container"),
        col("cont_b_in_a").as("cont"))
    val dropA = pairs.filter(col("cont_a_in_b") >= tau &&
        col("cont_b_in_a") < tau)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("container"),
        col("cont_a_in_b").as("cont"))
    dropB.union(dropA).groupBy(col("doc_id"))
      .agg(min(col("container")).as("contained_in"),
        max(col("cont")).as("max_containment"),
        count(lit(1)).as("n_containers"))
  }

  /** Mersenne prime 2^31-1 for the affine MinHash family. */
  private val MersenneP = 2147483647L

  /** MinHash function i as an affine transform (aᵢ·h + bᵢ mod p) of one
   * shared murmur3 base hash — the standard universal-hashing construction
   * (Broder '97, Carter-Wegman). Each shingle pays ONE string hash; the k
   * rehashes are 3 long ops each, fully codegen'd. */
  private def affineHash(h: Column, i: Int): Column = {
    val a = ((i * 2654435761L) % MersenneP) | 1L // odd multiplier, Knuth constant
    val b = (i * 40503L) % MersenneP
    pmod(h * a + b, lit(MersenneP))
  }

  /**
   * Exploded (doc, shingle, h) relation — the workhorse layout. Array-typed
   * higher-order functions (`transform`/`array_min`) evaluate interpreted,
   * outside whole-stage codegen; exploding the shingle set into rows keeps
   * everything downstream (murmur3, affine rehashes, min aggregates) inside
   * codegen'd hash aggregates.
   *
   * Two deliberate exchanges: the first spreads a few-file scan across the
   * cluster BEFORE the compute-heavy shingle construction; the second hash-
   * partitions the *computed* rows by doc, so (a) every groupBy(doc)
   * downstream is exchange-free, and (b) the plans that consume this
   * relation several times (LSH banding self-join + exact confirm + set
   * sizes) reuse one materialized shuffle instead of re-deriving shingles
   * per consumer (Catalyst's ReuseExchange matches the identical subplan).
   * Shuffling the shingle relation once to save 5-6 recomputations of it
   * is the right trade at any scale.
   */
  private def shingleRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // explicit partition counts: these exchanges carry few BYTES but gate
    // heavy downstream COMPUTE — AQE's size-based coalescing would fold
    // them to one partition and serialize the shingle construction. The
    // FIRST exchange (the pre-explode spread) is conditional
    // ([[Spread.ifNarrow]]): it exists only for a narrow gate-scale scan;
    // a splittable production source parallelizes on its own. The second
    // stays unconditional — it partitions the COMPUTED rows by doc for
    // the downstream groupBys and for ReuseExchange across consumers.
    val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    Spread.ifNarrow(docs, col(idCol))
      .select(col(idCol).as("doc"), explode(shingles(col(textCol), n)).as("shingle"))
      .withColumn("h", murmur3Positive(col("shingle"), 0).cast("long"))
      .repartition(parts, col("doc"))
  }

  /** The skinny (doc, shingle) projection of [[shingleRows]] — the
   * relation the full-corpus prefix joins ([[jaccardPrefixJoin]],
   * [[containmentPrefixJoin]]) consume. Public so a harness running
   * BOTH joins over the same corpus can derive it once (memoRun) and
   * pass it via their `preShingles` hook; a pure function of
   * (docs, idCol, textCol, n). */
  def docShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingleRows(docs, idCol, textCol, n).select(col("doc"), col("shingle"))


  /** The (doc, band, band_hash) LSH banding projection — ONE
   * definition shared by the batch path ([[minhashLshVerifiedPairs]])
   * and the append path ([[minhashAppendVerdicts]]), whose outputs are
   * oracle-compared against each other; a banding change applied to
   * one but not the other would silently break that parity.
   * ([[minhashLshPairs]] keeps its sig-retaining inline variant — it
   * also ranks on the signature.) */
  private def bandedBuckets(sig: DataFrame, bands: Int,
      rows: Int): DataFrame =
    sig.select(col("doc"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        hash(slice(col("sig"), b * rows + 1, lit(rows)))))
        .as(Seq("band", "band_hash")))

  /** Per-doc shingle SET + size — the exact-confirm relation, shared by
   * the same two paths (shingles are distinct per doc by
   * construction). */
  private def docShingleSets(shRows: DataFrame): DataFrame =
    shRows.groupBy(col("doc")).agg(
      collect_list(col("shingle")).as("sh"),
      count(lit(1)).as("set_size"))

  /** k-function MinHash signature per doc: one codegen'd hash aggregate
   * with k min buffers over the affine rehashes. */
  private def signatures(shRows: DataFrame, k: Int): DataFrame =
    shRows.groupBy(col("doc")).agg(
      array((0 until k).map(i => min(affineHash(col("h"), i))): _*).as("sig"))

  /**
   * MinHash + LSH banding: k-hash signatures split into `bands` bands of
   * k/bands rows; documents sharing any band bucket become candidate pairs,
   * then candidates are confirmed against the signature-estimated Jaccard.
   * The shuffle is |docs| × bands rows — linear, the 100 TB path.
   */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val rows = k / bands
    val sig = signatures(shingleRows(docs, idCol, textCol, n), k)
    val banded = sig.select(col("doc"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          hash(slice(col("sig"), b * rows + 1, lit(rows))))).as(Seq("band", "band_hash")))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    candidates
      .withColumn("est_jaccard",
        q4(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("double") / k))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  /**
   * MinHash LSH candidates confirmed with the EXACT n-gram Jaccard — the
   * standard two-stage recipe at corpus scale: LSH banding prunes the pair
   * space to near-linear, then only the candidates pay the exact set
   * intersection. With rows-per-band 2 and 32 bands the miss probability
   * for a pair at jaccard j is (1-j^2)^32 (≈1e-18 at j=0.85), so the output
   * equals [[ngramJaccardPairs]] — which is exactly what the correctness
   * oracle checks it against.
   */
  def minhashLshVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 32, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val rows = k / bands
    val shRows = shingleRows(docs, idCol, textCol, n)
    val sig = signatures(shRows, k)
    // both self-join sides and both confirm joins re-derive their input
    // otherwise: exchange reuse dedupes the SHUFFLE, but the 64-min
    // signature aggregate and the set collection would still run once per
    // side. The cached relations are |docs|-scale (tiny next to the
    // exploded shingles), the canonical persist-what-fans-out trade.
    val banded = graft.CacheScope.track(
      bandedBuckets(sig, bands, rows), MEMORY_AND_DISK)
    // corpus-scale self-join: merge-hinted so a static size misestimate
    // can never broadcast the band table (the containmentPrefixJoin
    // 100×-rehearsal lesson — AQE cannot demote a static broadcast)
    val candidates = banded.as("a").join(banded.hint("merge").as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    // exact confirm against per-doc shingle SETS, not the exploded
    // relation: the candidate pair set is near-linear and small, so
    // joining it twice against a |docs|-row (doc → shingle array) relation
    // and intersecting arrays per pair costs far less than re-shuffling
    // the full exploded (doc, shingle) relation by (doc, shingle) — the
    // set relation has ~shingles-per-doc× fewer rows, and the exchange-
    // free groupBy(doc) reuses shRows' partitioning. Zero-intersection
    // candidates just score 0 and drop at the threshold.
    val docSets = graft.CacheScope.track(
      docShingleSets(shRows), MEMORY_AND_DISK)
    candidates
      .join(docSets.select(col("doc").as("doc_a"),
        col("sh").as("sh_a"), col("set_size").as("size_a"))
        .hint("merge"), "doc_a")
      .join(docSets.select(col("doc").as("doc_b"),
        col("sh").as("sh_b"), col("set_size").as("size_b"))
        .hint("merge"), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", q4(col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /**
   * MinHash-LSH APPEND — the signature-index leg of the
   * index-maintenance trio (IVF append, HNSW append, this): a frozen
   * corpus already has its band-bucket table and per-doc shingle sets
   * persisted (the two artifacts a production LSH dedup pipeline
   * checkpoints — here re-derived from the base split, the
   * [[CorpusOps.incrementalDedup]] framing); a new crawl batch arrives
   * and must be deduplicated against the index AND against itself
   * WITHOUT re-pairing the base corpus.
   *
   * Candidates come from two bounded joins: the batch's band hashes
   * probing the frozen bucket table (batch-side bounded — the base
   * corpus is touched only through its index), and the intra-batch
   * band self-join (batch²-bounded). Both confirm with the exact
   * n-gram Jaccard against the shingle-set tables, same as
   * [[minhashLshVerifiedPairs]]. Billing is the repo's copier-pays
   * rule: a batch doc is a duplicate of any qualifying BASE partner,
   * or of a LOWER-id batch sibling — the base corpus never drops.
   *
   * One verdict row per signature-bearing batch doc: qualifying base /
   * prior-batch partner counts, the minimum qualifying partner id
   * (NULL when none), the best Jaccard, and the drop decision.
   *
   * Shape at 100 TB: the frozen index is |base|·bands rows keyed on
   * (band, band_hash) — the probe is one equi-join the batch side
   * drives; the batch self-join, confirm joins, and the verdict
   * aggregate are all |batch|-scale; base shingle sets join only for
   * docs an LSH bucket actually proposed. Nothing re-pairs base×base.
   */
  def minhashAppendVerdicts(docs: DataFrame, idCol: String,
      textCol: String, batch: Column, n: Int = 3, k: Int = 64,
      bands: Int = 32, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val baseIdx = lshIndexOf(docs.filter(!batch), idCol, textCol,
      isBase = true, n, k, bands)
    // the cached index tables are the persisted-artifact stand-ins a
    // production pipeline checkpoints; the one-shot form is EXACTLY one
    // append step against them, so the batch query, the streaming
    // incremental path, and the oracle all exercise the same kernel
    val tracked = LshIndex(
      graft.CacheScope.track(baseIdx.banded, MEMORY_AND_DISK),
      graft.CacheScope.track(baseIdx.sets, MEMORY_AND_DISK))
    minhashAppendStep(tracked, docs.filter(batch), idCol, textCol,
      n, k, bands, threshold)._1
  }

  /**
   * The two persisted artifacts of a MinHash-LSH dedup index — the
   * band-bucket table (doc, band, band_hash, is_base) and the per-doc
   * shingle-set table (doc, sh, set_size, is_base). `is_base` records
   * whether a member belongs to the original frozen corpus or was
   * APPENDED by a later batch — the bit the copier-pays billing reads:
   * base and appended members BOTH always qualify as probe partners
   * (`b.doc =!= a.doc`, so cross-batch pairs surface regardless of id
   * order); `is_base` only classifies the verdict's n_base_dups vs
   * n_prior_batch_dups billing split. Both tables are |docs|-scale
   * (never the exploded
   * shingle relation) and are what a production pipeline checkpoints
   * between ingest batches.
   */
  final case class LshIndex(banded: DataFrame, sets: DataFrame)

  /** Build the [[LshIndex]] of a corpus slice. The caller owns
   * persistence (CacheScope.track for a run, localCheckpoint or a
   * checkpointed table between streaming micro-batches). */
  def lshIndexOf(docs: DataFrame, idCol: String, textCol: String,
      isBase: Boolean, n: Int = 3, k: Int = 64,
      bands: Int = 32): LshIndex = {
    val sh = shingleRows(docs, idCol, textCol, n)
    LshIndex(
      bandedBuckets(signatures(sh, k), bands, k / bands)
        .withColumn("is_base", lit(isBase)),
      docShingleSets(sh).withColumn("is_base", lit(isBase)))
  }

  /**
   * ONE ingest step of the incremental MinHash-LSH dedup pipeline: the
   * arriving batch probes the FROZEN index (base corpus plus every
   * earlier batch) and self-pairs, confirms with the exact n-gram
   * Jaccard, and bills copier-pays; returns the verdict relation and
   * the index grown by this batch's increments — the base corpus is
   * never re-shingled, re-signed, or re-paired.
   *
   * Qualifying partners: every INDEX member (base and appended alike)
   * and lower-id batch siblings. Under the intended monotone-id ingest
   * order every appended member is lower-id than the arriving batch, so
   * the accumulated step verdicts equal the one-shot
   * [[minhashAppendVerdicts]] relation row for row (StreamingSpec
   * "minhash-append-stream" asserts exactly that). Under OUT-of-order
   * arrival — a later batch
   * carrying a lower id — the inter-batch duplicate is still caught,
   * billed to the later ARRIVAL (whose verdict row then names a
   * higher-id `dup_of` partner); that diverges from the one-shot
   * relation, which bills the higher id, but never silently drops the
   * pair (an appended-only-when-lower-id predicate would). Ingest each
   * id ONCE: the self-pair guard keeps an at-least-once redelivery from
   * matching its own indexed rows, but a redelivered doc is still
   * re-verdicted against the CURRENT index — if duplicates of it landed
   * since its first ingest, the re-verdict reports them (it may even
   * drop the original keeper), so exactly-once effect requires the
   * caller to dedup redeliveries by id (the checkpointed-source
   * contract every streaming consumer here already has).
   *
   * Shape at 100 TB: the probe is one merge equi-join on
   * (band, band_hash) — the index side may never be a broadcast build
   * (corpus-scale) and the batch side may not be force-broadcast either
   * (the one-shot caller passes a corpus-fraction batch); the confirm
   * join is candidate-scale (|batch| × bucket fan-out — unbounded on a
   * dup-heavy batch, hence merge, which spills instead of OOMing); the
   * verdict aggregate is |batch|-scale; index growth is two unions of
   * |batch|-scale increments. A deployed pipeline removes the per-batch
   * index exchange by BUCKETING its persisted index table on the join
   * keys (the BucketingSpec zero-exchange mechanism). The returned
   * index's lineage grows per step — the caller truncates it
   * (localCheckpoint / rewrite of the checkpointed table) each batch,
   * the p83 superstep convention.
   */
  def minhashAppendStep(index: LshIndex, batchDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 64,
      bands: Int = 32, threshold: Double = 0.5): (DataFrame, LshIndex) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val inc = lshIndexOf(batchDocs, idCol, textCol, isBase = false,
      n, k, bands)
    // each increment is consumed twice (probe + self-join; confirm +
    // verdict spine) and then lives on inside the returned index
    val bandedNew = graft.CacheScope.track(inc.banded, MEMORY_AND_DISK)
    val setsNew = graft.CacheScope.track(inc.sets, MEMORY_AND_DISK)
    // every index member qualifies — under monotone-id ingest appended
    // members are all lower-id (one-shot parity); restricting appended
    // rows to lower-id would SILENTLY drop an inter-batch dup whose
    // later arrival carries the lower id (see scaladoc)
    // the INDEX side carries a merge hint: a static size misestimate can
    // never pick the corpus-scale index as a broadcast build side (the
    // containmentPrefixJoin 100×-rehearsal lesson), and the BATCH side is
    // NOT force-broadcast — the one-shot caller (minhashAppendVerdicts /
    // p129) passes a corpus-fraction batch, for which a forced broadcast
    // would be the same non-demotable failure in the other direction.
    // The per-batch index shuffle a merge join implies is what the
    // persisted-table deployment removes by BUCKETING the index table on
    // the join key (the BucketingSpec zero-exchange mechanism).
    val candIdx = bandedNew.as("a").join(index.banded.hint("merge").as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          // an at-least-once REDELIVERY of an already-indexed doc must
          // not pair with its indexed self (jaccard 1 → spurious drop)
          col("b.doc") =!= col("a.doc"))
      .select(col("a.doc").as("doc_id"), col("b.doc").as("partner"),
        col("b.is_base").as("is_base"))
      .distinct()
    // merge: the one-shot caller's "batch" is corpus-fraction, so the
    // self-join sides are not broadcast-safe either
    val candSelf = bandedNew.as("a").join(bandedNew.hint("merge").as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("b.doc") < col("a.doc"))
      .select(col("a.doc").as("doc_id"), col("b.doc").as("partner"),
        lit(false).as("is_base"))
      .distinct()
    val partnerSets = index.sets.unionByName(setsNew)
    // merge hint on the corpus-scale partner-set side: the candidate
    // relation's size is |batch| × bucket fan-out — UNBOUNDED on a
    // dup-heavy batch — so neither side may be force-broadcast; the
    // shuffle join sorts and spills instead of OOMing, and the bucketed
    // persisted-index deployment removes the per-batch index exchange
    val confirmed = candIdx.unionByName(candSelf)
      .join(setsNew.select(col("doc").as("doc_id"), col("sh").as("sh_a"),
        col("set_size").as("size_a")).hint("merge"), "doc_id")
      .join(partnerSets.select(col("doc").as("partner"),
        col("sh").as("sh_b"), col("set_size").as("size_b"))
        .hint("merge"), "partner")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", q4(col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter"))))
      .filter(col("jaccard") >= threshold)
    val verdict = confirmed.groupBy(col("doc_id"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base_dups"),
        sum(when(col("is_base"), 0L).otherwise(1L)).as("n_prior_batch_dups"),
        min(col("partner")).as("dup_of"),
        max(col("jaccard")).as("max_jaccard"))
    val out = setsNew.select(col("doc").as("doc_id"))
      .join(verdict, Seq("doc_id"), "left")
      .withColumn("n_base_dups", coalesce(col("n_base_dups"), lit(0L)))
      .withColumn("n_prior_batch_dups",
        coalesce(col("n_prior_batch_dups"), lit(0L)))
      .withColumn("dropped", col("dup_of").isNotNull)
    (out, LshIndex(index.banded.unionByName(bandedNew),
      index.sets.unionByName(setsNew)))
  }

  /**
   * Duplicate CLUSTERS from pairwise near-dup edges: connected components
   * by iterative min-label propagation (each node adopts the smallest
   * label among itself and its neighbors until fixpoint). This is the
   * step that turns a pair list into dedup decisions — keep the
   * representative (= component minimum), drop the rest.
   *
   * Scale shape, two regimes keyed on the MEASURED edge count (the pair
   * list is persisted anyway — its size is one cheap count on the cached
   * relation, the same number a production pipeline logs when it
   * checkpoints the "find pairs" stage):
   *  - edges ≤ `localMaxEdges` (default 10M ≈ a few hundred MB): one
   *    single-task union-find pass. After LSH confirm the edge list is
   *    orders of magnitude smaller than the corpus, so even a 100 TB
   *    corpus usually lands here — and 3 distributed supersteps over a
   *    relation that fits in one task's memory measure the scheduler,
   *    not the algorithm.
   *  - larger: iterative min-label propagation (each node adopts the
   *    smallest label among itself and its neighbors until fixpoint).
   *    Every iteration is one shuffle join + hash aggregate over the
   *    EDGE list, and the iteration count is the component diameter —
   *    near-dup families are near-cliques, so 2–3 passes in practice,
   *    never |V|. The driver sees only the per-iteration changed-count
   *    (the convergence test), exactly like a Pregel superstep — no
   *    collect of nodes or edges.
   * Both paths emit identical rows; DedupSpec pins them against each
   * other by forcing `localMaxEdges = 0`.
   */
  def dupClusters(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 50,
      localMaxEdges: Long = 10_000_000L): DataFrame =
    dupLabels(pairs, aCol, bCol, maxIter, localMaxEdges)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"), max(col("node")).as("max_doc"))
      .select(col("label").as("cluster_rep"), col("cluster_size"), col("max_doc"))

  /** The per-node component labels (node, label) behind [[dupClusters]] —
   * label = the component's minimum doc id. Exposed for consumers that
   * need the MEMBERSHIP, not the summary (e.g. the leakage-free split). */
  def dupLabels(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 50,
      localMaxEdges: Long = 10_000_000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(pairs.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .persist(MEMORY_AND_DISK) // materialize the (expensive) edge derivation once
    if (sym.count() <= 2 * localMaxEdges) {
      graft.CacheScope.track(sym)
      return localUnionFind(sym)
    }
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .persist(MEMORY_AND_DISK)
    var iterating = true
    var iter = 0
    while (iterating && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("node").as("dst"), col("label").as("_nl")), "dst")
        .groupBy(col("src")).agg(min(col("_nl")).as("_nbr"))
        .select(col("src").as("node"), col("_nbr"))
      val next = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("_nbr"), col("label"))).as("label"),
          col("label").as("_prev"))
        .persist(MEMORY_AND_DISK)
      val changed = next.filter(col("label") < col("_prev")).count()
      labels.unpersist()
      labels = next.select(col("node"), col("label"))
      iterating = changed > 0
      iter += 1
    }
    sym.unpersist() // labels are materialized; the final agg reads only them
    // the converged labels stay cached for the returned plan; the harness
    // releases them once the caller has materialized it
    graft.CacheScope.track(labels)
    labels
  }

  /** Single-task exact connected components over a symmetric edge list
   * that fits in one executor: classic union-find with path compression,
   * roots kept at the component MINIMUM so the representative falls out
   * of the structure (same rows as the superstep path's converged
   * labels). One narrow repartition(1) of the edge list, zero shuffles
   * after it. Emits (node, label). */
  private def localUnionFind(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    sym.as[(Long, Long)].repartition(1).mapPartitions { it =>
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression: point the walked chain at the root
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      it.foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val (ra, rb) = (find(a), find(b))
        // attach the LARGER root under the smaller: the root stays the
        // component minimum, so rep = root with no second pass
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      parent.keysIterator.map(n => (n, find(n))).toSeq.iterator
    }.toDF("node", "label")
  }

  /**
   * Leakage-free train/validation/test split: the split is a hash of the
   * document's DUP-CLUSTER representative, not of the document — so an
   * entire near-duplicate family always lands in ONE split and no test
   * example has a near-dup twin in train (the classic contamination
   * vector that inflates eval scores). Docs outside any cluster are
   * their own representative. Thresholds are integer md5-prefix cuts
   * (trainPct/valPct of 2³²), exact in any engine.
   *
   * Shape: labels are the [[dupLabels]] relation (|pair-connected docs|
   * rows, ≪ corpus); the corpus takes one left join against it on the id
   * and a pure-projection hash — no other shuffle.
   */
  def leakageFreeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"bad split percentages: $trainPct/$valPct")
    val Range = 4294967296L // 2^32
    val trainTh = Range * trainPct / 100
    val valTh = Range * (trainPct + valPct) / 100
    val labels = dupLabels(pairs)
    docs.select(col(idCol).cast("long").as(idCol))
      // corpus-scale label relation — merge-hinted (the round-15
      // static-broadcast-misestimate class)
      .join(labels.withColumnRenamed("node", idCol).hint("merge"),
        Seq(idCol), "left")
      .withColumn("rep", coalesce(col("label"), col(idCol)))
      .withColumn("u", conv(substring(md5(concat(col("rep").cast("string"),
        lit(":split")).cast("binary")), 1, 8), 16, 10).cast("long"))
      .withColumn("split",
        when(col("u") < trainTh, "train")
          .when(col("u") < valTh, "val").otherwise("test"))
      .select(col(idCol), col("rep"), col("split"))
  }

  /**
   * SimHash (b-bit): per word, murmur3 bits vote ±1 into b counters; the
   * sign vector packed into a LONG. Near-duplicates cluster at small
   * Hamming distance; equal simhash = near-dup bucket.
   */
  def simhash(text: Column, bits: Int = 16): Column = {
    // hash each word ONCE; the b bit-votes then read bits of that hash —
    // string hashing is the expensive part, bit tests are free
    val hs = transform(TextOps.words(text), w => murmur3Positive(w, 0))
    val weights = (0 until bits).map { b =>
      aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L))
    }
    weights.zipWithIndex.map { case (wgt, b) =>
      when(wgt > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SimHash near-dup buckets: groups of documents with identical simhash.
   * Relational layout, same trick as [[shingleRows]]: the array-HOF
   * [[simhash]] evaluates interpreted per row; exploding words into rows
   * keeps the murmur3 and all `bits` vote sums inside one codegen'd
   * two-phase hash aggregate (map-side partials, one shuffle on doc). */
  def simhashBuckets(docs: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    simhashes(docs, idCol, textCol, bits)
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("bucket_size"), min(col("doc")).as("representative"),
        sort_array(collect_list(col("doc"))).as("members"))
      .filter(col("bucket_size") > 1)

  /** The per-document simhash relation (doc, simhash) — one long per doc. */
  def simhashes(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 16): DataFrame = {
    val words = Spread.ifNarrow(docs, col(idCol))
      .select(col(idCol).as("doc"), explode(TextOps.words(col(textCol))).as("word"))
      .withColumn("h", murmur3Positive(col("word"), 0))
    val voteCols = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"_w$b"))
    val packed = (0 until bits).map(b =>
      when(col(s"_w$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))).reduce(_ + _)
    words.groupBy(col("doc")).agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc"), packed.as("simhash"))
  }

  /**
   * All near-duplicate pairs at Hamming distance ≤ maxDist over the
   * simhash, via the block-permutation index (Manku, Jain & Das Sarma
   * 2007, "Detecting Near-Duplicates for Web Crawling", §3): split the
   * b-bit simhash into `blocks` equal blocks — any pair within distance
   * maxDist ≤ blocks−1 must agree EXACTLY on at least one block
   * (pigeonhole), so candidates are a self-join on (block idx, block
   * value) and only candidates pay the distance check.
   *
   * Shape: the simhash relation is one long per doc; the block join is
   * `blocks` linear bucket joins in one shuffle — never all-pairs.
   * Candidate (and output) volume grows with the corpus's true dup
   * density, which is the inherent cost of enumerating pairs; identical
   * docs all share every block. Production at 100 TB uses 64-bit
   * simhash with more blocks (the reference Manku config is 64 bits /
   * 3-distance / 4 blocks); parity here runs 16 bits so the oracle can
   * brute-force every pair and prove the index misses nothing.
   */
  def hammingNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 16, maxDist: Int = 3, blocks: Int = 4): DataFrame =
    hammingPairs(
      graft.CacheScope.track(simhashes(docs, idCol, textCol, bits)),
      "doc", "simhash", bits, maxDist, blocks)

  /**
   * The Manku block index over ANY precomputed b-bit hash column (long,
   * non-negative): text simhashes (p50), perceptual image hashes (p58) —
   * whatever carries a meaningful Hamming metric. Same completeness
   * argument and shuffle shape as [[hammingNearDupPairs]].
   */
  def hammingPairs(hashed: DataFrame, idCol: String, hashCol: String,
      bits: Int, maxDist: Int, blocks: Int): DataFrame = {
    require(bits % blocks == 0, s"blocks must divide bits: $bits/$blocks")
    require(maxDist < blocks,
      s"pigeonhole completeness needs maxDist < blocks: $maxDist/$blocks")
    val bw = bits / blocks
    val sims = hashed.select(col(idCol).as("doc"), col(hashCol).as("simhash"))
    val blk = sims.select(col("doc"), col("simhash"),
      explode(array((0 until blocks).map { i =>
        struct(lit(i).as("bi"),
          shiftright(col("simhash"), i * bw)
            .bitwiseAND(lit((1L << bw) - 1)).as("bv"))
      }: _*)).as("b"))
      .select(col("doc"), col("simhash"),
        col("b.bi").as("bi"), col("b.bv").as("bv"))
    blk.select(col("bi"), col("bv"),
        col("doc").as("doc_a"), col("simhash").as("sim_a"))
      .join(blk.select(col("bi"), col("bv"),
        col("doc").as("doc_b"), col("simhash").as("sim_b"))
        .hint("merge"), Seq("bi", "bv"))
      .where(col("doc_a") < col("doc_b"))
      // distance check BEFORE the dedup shuffle (a pair can agree on
      // several blocks): only true near-dup pairs reach the distinct, so
      // the widest shuffled relation is output-sized, not candidate-sized
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .where(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /**
   * EXACT containment join over the FULL corpus by prefix filtering —
   * the corpus-scale form [[containmentPairs]]'s scaladoc promises
   * (that one is the verification-scale inverted-index join, input
   * bounded): emit every unordered pair where EITHER direction's
   * containment |Sa∩Sb|/|side| reaches the threshold, exactly.
   *
   * The filter theory differs from [[jaccardPrefixJoin]]'s symmetric
   * prefixes because containment is asymmetric: C(x→y) ≥ t constrains
   * the overlap to ≥ ⌈t·|Sx|⌉ — a bound in the CONTAINED side's size
   * only, so the contained side keeps a rarity-ordered prefix of
   * |Sx| − ⌈t·|Sx|⌉ + 1 shingles (pigeonhole: any that-many-element
   * subset of Sx must hit Sx∩Sy when the overlap is ≥ ⌈t·|Sx|⌉ — no
   * ordering needed for completeness; rare-first minimizes candidate
   * volume), while the CONTAINER side is probed through its FULL
   * posting list — a tiny quoted doc's shingles can sit anywhere in a
   * huge container, which is exactly why the container side admits no
   * prefix. Two prunes bound the probe: the directed size filter
   * (∩ ≤ |Sx| forces |Sy| ≥ t·|Sx|), and the rare-first order keeps
   * prefix shingles low-df so posting-list fan-out stays near-linear.
   * Hot-shingle corpora remain the documented worst case, as in p109.
   *
   * Output (exact integer ppm, the p109 convention): one row per
   * qualifying unordered pair with n_common, both sizes, and both
   * directions' containment ppm.
   */
  def containmentPrefixJoin(docs: DataFrame, idCol: String,
      textCol: String, n: Int, tPpm: Long,
      preShingles: Option[DataFrame] = None): DataFrame = {
    require(tPpm > 0 && tPpm <= 1000000, s"threshold ppm in (0, 1e6]: $tPpm")
    // every join side below is CORPUS-scale (the shingle relation, the
    // vocabulary df table, the per-doc size relation) — merge hints pin
    // them to shuffle joins: Spark's static size estimates over deep
    // plans on compressed parquet run small, and at the 100× rehearsal
    // the planner statically BROADCAST the full shingle relation (AQE
    // cannot demote a statically-planned broadcast — no shuffle stats
    // exist) and OOM'd the driver; on a real cluster these sides are
    // never broadcastable
    val sh = preShingles.getOrElse(graft.CacheScope.track(
      docShingles(docs, idCol, textCol, n)))
    // ONE per-doc size aggregate, shared with the candidate relation by
    // passing the same DataFrame (identical subtree → exchange reuse);
    // building it twice carried distinct exprIds, so the corpus-scale
    // groupBy over the shingle relation ran twice with no reuse guarantee
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("set_size"))
    val pairs = containmentPrefixCandidates(sh, tPpm, Some(sizes))
    pairs
      .join(sh.select(col("doc").as("doc_a"), col("shingle"))
        .hint("merge"), Seq("doc_a"))
      .join(sh.select(col("doc").as("doc_b"), col("shingle"))
        .hint("merge"), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc").as("doc_a"),
        col("set_size").as("size_a")).hint("merge"), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"),
        col("set_size").as("size_b")).hint("merge"), "doc_b")
      // integer div, not double-divide-and-cast (the p109 lesson)
      .withColumn("cont_a_ppm", expr("(n_common * 1000000) div size_a"))
      .withColumn("cont_b_ppm", expr("(n_common * 1000000) div size_b"))
      .filter(col("cont_a_ppm") >= tPpm || col("cont_b_ppm") >= tPpm)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("size_a"), col("size_b"),
        col("cont_a_ppm"), col("cont_b_ppm"))
  }

  /** The containment join's CANDIDATE relation — distinct normalized
   * (doc_a, doc_b) pairs surviving the asymmetric prefix probe and the
   * directed size prune, BEFORE verification. Its cardinality is the
   * operator's scale story (Σ_gram prefixDf·df work);
   * [[containmentPrefixJoin]] consumes it verbatim. */
  def containmentPrefixCandidates(sh: DataFrame, tPpm: Long,
      preSizes: Option[DataFrame] = None): DataFrame = {
    require(tPpm > 0 && tPpm <= 1000000, s"threshold ppm in (0, 1e6]: $tPpm")
    // preSizes: the caller's per-doc size aggregate over the SAME sh
    // relation, so join + candidate share one groupBy (exchange reuse)
    val sizes = preSizes.getOrElse(
      sh.groupBy(col("doc")).agg(count(lit(1)).as("set_size")))
    val withSize = graft.CacheScope.track(
      sh.join(sizes.hint("merge"), Seq("doc")))
    val dfTab = sh.groupBy(col("shingle")).agg(count(lit(1)).as("gdf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("gdf"), col("shingle"))
    val prefix = withSize.join(dfTab.hint("merge"), Seq("shingle"))
      .withColumn("pos", row_number().over(w))
      .filter(expr(
        s"pos <= set_size - ((set_size * $tPpm + 999999) div 1000000) + 1"))
      .select(col("doc"), col("shingle"), col("set_size"))
    prefix.as("x").join(withSize.hint("merge").as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc") =!= col("y.doc") &&
          // container at least t× the contained size (∩ ≤ |Sx|)
          col("y.set_size") * 1000000L >= col("x.set_size") * tPpm)
      .select(
        when(col("x.doc") < col("y.doc"), col("x.doc"))
          .otherwise(col("y.doc")).as("doc_a"),
        when(col("x.doc") < col("y.doc"), col("y.doc"))
          .otherwise(col("x.doc")).as("doc_b"))
      .distinct()
  }

  /** The Jaccard prefix join's CANDIDATE relation — (doc_a, doc_b,
   * size_a, size_b) pairs surviving the prefix equi-join plus the size
   * and PPJoin positional prunes, BEFORE verification;
   * [[jaccardPrefixJoin]] consumes it verbatim. */
  def jaccardPrefixCandidates(sh: DataFrame, tPpm: Long): DataFrame = {
    require(tPpm > 0 && tPpm <= 1000000, s"threshold ppm in (0, 1e6]: $tPpm")
    // (no preSizes hook here, unlike the containment twin: the jaccard
    // JOIN carries sizes through the candidate output itself and has no
    // second aggregate to share)
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("set_size"))
    val dfTab = sh.groupBy(col("shingle")).agg(count(lit(1)).as("gdf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("gdf"), col("shingle"))
    val prefix = sh.join(dfTab.hint("merge"), Seq("shingle"))
      .join(sizes.hint("merge"), Seq("doc"))
      .withColumn("pos", row_number().over(w))
      // prefix length = s − ceil(t·s) + 1, ceil in exact ppm integer div
      .filter(expr(
        s"pos <= set_size - ((set_size * $tPpm + 999999) div 1000000) + 1"))
      .select(col("doc"), col("shingle"), col("set_size"), col("pos"))
    prefix.as("a").join(prefix.hint("merge").as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc") &&
          // size filter: J ≥ t forces t ≤ min(sa,sb)/max(sa,sb), so a
          // pair whose sizes differ by more than 1/t can never qualify —
          // pruned during generation, not after (409k → 310k at sf0.1)
          col("a.set_size") * tPpm <= col("b.set_size") * 1000000L &&
          col("b.set_size") * tPpm <= col("a.set_size") * 1000000L)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.set_size").as("sa"), col("b.set_size").as("sb"),
        // PPJoin positional filter: a match at prefix positions (pa, pb)
        // bounds the total overlap by 1 + min(sa−pa, sb−pb) — valid for
        // the pair's FIRST shared token, and max over shared tokens only
        // weakens (never breaks) the bound
        (lit(1L) + least(col("a.set_size") - col("a.pos"),
          col("b.set_size") - col("b.pos"))).as("ub"))
      // required overlap α = ceil(t·(sa+sb)/(1+t)): a row whose bound
      // can't reach α never decides the pair's max, so the filter runs
      // ROW-level before the dedup agg (310k → 125k pairs at sf0.1, and
      // the agg sees only surviving rows)
      .filter(expr(s"ub >= (($tPpm * (sa + sb) + $tPpm + 999999)" +
        s" div ($tPpm + 1000000))"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("sa")).as("size_a"), first(col("sb")).as("size_b"))
  }

  /**
   * EXACT Jaccard similarity join over the FULL corpus via prefix
   * filtering (Chaudhuri et al. 2006, SSJoin; Bayardo et al. 2007,
   * All-Pairs) — the missing quadrant between [[ngramJaccardPairs]]
   * (exact but all-pairs, verification scale) and MinHash LSH (full
   * scale but approximate): exact answers with candidate work bounded by
   * RARE-token posting lists.
   *
   * Prefix-filtering principle: order every doc's shingle set by the
   * global canonical order (document frequency ascending, shingle string
   * as tie-break) and keep only the first `s − ceil(t·s) + 1` shingles
   * (the rarest ones). Any pair with Jaccard ≥ t shares at least one
   * shingle lying in BOTH prefixes — so the prefix×prefix equi-join
   * loses no qualifying pair, and candidate work is Σ_gram prefixDf²
   * over the rarest grams instead of Σ df² over all of them (boilerplate
   * grams with huge postings never enter the join).
   *
   * Shape at 100 TB: no global rank window — the canonical order is the
   * (df, gram) TUPLE itself, so ordering needs only a gram-key df join
   * (co-partitioned with the shingle relation) and a per-doc window; no
   * vocabulary-wide single-partition pass. Two PPJoin prunes shrink the
   * candidate set DURING generation (sf0.1: 409k → 125k): the size
   * filter (J ≥ t forces set sizes within 1/t) and the positional filter
   * (a prefix match at positions (pa, pb) bounds the overlap by
   * 1 + min(sa−pa, sb−pb), which must reach α = ceil(t·(sa+sb)/(1+t))).
   * Verification joins the surviving pairs back through the skinny
   * shingle relation — work = Σ|set| per survivor, no wide rows. The
   * threshold is a ppm rational, so ceil and the final Jaccard are exact
   * integer arithmetic in both engines.
   */
  def jaccardPrefixJoin(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tPpm: Long, preShingles: Option[DataFrame] = None):
      DataFrame = {
    require(tPpm > 0 && tPpm <= 1000000, s"threshold ppm in (0, 1e6]: $tPpm")
    // corpus-scale sides pinned to shuffle joins (merge hints) — the
    // containmentPrefixJoin rationale: static size misestimates over
    // deep parquet plans statically broadcast corpus-scale relations at
    // the 100× rehearsal, which AQE cannot demote and a real cluster
    // cannot hold
    val sh = preShingles.getOrElse(graft.CacheScope.track(
      docShingles(docs, idCol, textCol, n)))
    val cand = jaccardPrefixCandidates(sh, tPpm)
    cand
      .join(sh.select(col("doc").as("doc_a"), col("shingle"))
        .hint("merge"), Seq("doc_a"))
      .join(sh.select(col("doc").as("doc_b"), col("shingle"))
        .hint("merge"), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"),
        first(col("size_a")).as("size_a"), first(col("size_b")).as("size_b"))
      // integer div, not double-divide-and-cast: the float quotient can
      // round up across an integer boundary and truncate one high
      .withColumn("jac_ppm",
        expr("(n_common * 1000000) div (size_a + size_b - n_common)"))
      .filter(col("jac_ppm") >= tPpm)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("size_a"), col("size_b"), col("jac_ppm"))
  }
}
