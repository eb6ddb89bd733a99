package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Column-level entry points for the engine's custom expressions. */
object GraftFunctions {

  /** Non-negative murmur3-32 (seed 0 by default — the reference's routing hash). */
  def murmur3Positive(c: Column, seed: Int = 0): Column =
    GraftSqlBridge.column(Murmur3Positive(GraftSqlBridge.expression(c), seed))

  /**
   * Key_Shared 16-bit sticky-key bucket: murmur3(key) mod 2^16
   * (reference: KeySharedPolicy.java:40 `DEFAULT_HASH_RANGE_SIZE = 2 << 15`,
   * StickyKeyConsumerSelectorUtils.java:42).
   */
  def keySharedBucket(key: Column): Column =
    pmod(murmur3Positive(key), lit(65536)).cast("int")

  /** Keyed-router partition choice: murmur3(key) mod numPartitions (R2). */
  def keyHashPartition(key: Column, numPartitions: Int): Column =
    pmod(murmur3Positive(key), lit(numPartitions)).cast("int")

  /** Codegen'd cosine similarity of two float/double vectors (see
   * [[CosineSim]]) — bit-identical to the left-to-right HOF fold. */
  def cosineSim(a: Column, b: Column): Column =
    GraftSqlBridge.column(CosineSim(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Codegen'd squared-L2 distance of two float/double vectors (see
   * [[L2Sq]]) — the PQ assignment kernel. */
  def l2Sq(a: Column, b: Column): Column =
    GraftSqlBridge.column(L2Sq(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Codegen'd EXACT integer squared-L2 of two array<long> columns (see
   * [[L2SqLong]]) — the pre-quantized graph-ANN ranking kernel. */
  def l2SqLong(a: Column, b: Column): Column =
    GraftSqlBridge.column(L2SqLong(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Codegen'd EXACT integer dot product of two array<long> columns (see
   * [[DotLong]]) — the integer-cosine pair kernel; norm² is the same
   * kernel applied to (v, v), hoisted once per vector. */
  def dotLong(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotLong(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Codegen'd seeded-hyperplane sign-LSH bucket over an array<long>
   * e3 code column (see [[SignBucketPlanes]]) — one kernel call per row
   * in place of the bits·dim-node unrolled Column form. */
  def signBucketPlanes(codes: Column, bits: Int, dim: Int): Column =
    GraftSqlBridge.column(SignBucketPlanes(
      GraftSqlBridge.expression(codes), bits, dim))

  /** Bounded top-k-smallest aggregate over struct(dist, dst) by
   * (dist, dst) asc (see [[MinKPairs]]) — map-side-combine "rank and
   * keep k", shipping ≤ k pairs per group per map task where a window
   * would shuffle-and-sort every candidate row. */
  def minKPairs(distDst: Column, k: Int): Column =
    GraftSqlBridge.column(MinKPairs(GraftSqlBridge.expression(distDst), k)
      .toAggregateExpression())

  /** SET form of [[minKPairs]]: exact duplicate (dist, dst) pairs
   * collapse inside the k-bounded buffer, so
   * `agg(minKPairsDistinct(p, k))` ≡ `.distinct()` + `agg(minKPairs(p,
   * k))` — with the distinct's own full-relation exchange deleted (the
   * dedup happens in the map-side partials). */
  def minKPairsDistinct(distDst: Column, k: Int): Column =
    GraftSqlBridge.column(MinKPairs(GraftSqlBridge.expression(distDst), k,
      dedup = true).toAggregateExpression())

  /** F15 — compress with the codec named by a per-row column
   * (NONE/LZ4/ZLIB/ZSTD/SNAPPY — CompressionCodecProvider's switch). */
  def payloadCompress(payload: Column, codec: Column, level: Int = 6): Column =
    GraftSqlBridge.column(PayloadCompress(
      GraftSqlBridge.expression(payload), GraftSqlBridge.expression(codec), level))

  /** F15 — decompress by the stamped codec, validating against the
   * stamped `uncompressed_size` (LZ4/ZSTD require it, as on the wire). */
  def payloadDecompress(payload: Column, codec: Column, size: Column): Column =
    GraftSqlBridge.column(PayloadDecompress(
      GraftSqlBridge.expression(payload), GraftSqlBridge.expression(codec),
      GraftSqlBridge.expression(size)))
}
