package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/**
 * ScalaCheck properties for the library-wide EXACT-INTEGER oracle
 * convention (the arithmetic identities every engine-independent query
 * leans on — if any of these broke, dozens of oracle rows would drift):
 *
 *  - `(2·num + den) div (2·den)` IS round-half-up(num/den) for
 *    non-negative rationals (the BM25/PMI contribution rounding);
 *  - `floor(x·10^k + 0.5)` is monotone and agrees with BigDecimal
 *    HALF_UP away from representation boundaries (the e4/e6/e12
 *    component quantization);
 *  - the doubled rank-sum form `2U = 2ΣR − n(n+1)` is always even on
 *    the window path, so `div 2` is exact (p105/p121's display columns);
 *  - histogram average ranks `(2·cum_before + c + 1)` reproduce the
 *    classical tied rank sum (aucAudit's identity).
 */
object ExactIntProps extends Properties("ExactInt") {

  private val pos: Gen[BigInt] =
    Gen.chooseNum(0L, Long.MaxValue / 4).map(BigInt(_))
  private val posNonZero: Gen[BigInt] =
    Gen.chooseNum(1L, Long.MaxValue / 4).map(BigInt(_))

  property("(2n+d) div (2d) is round-half-up of n/d") =
    forAll(pos, posNonZero) { (n, d) =>
      val got = (2 * n + d) / (2 * d)
      // reference: scaled comparison — q = floor(n/d), round up iff the
      // remainder is at least half the divisor
      val q = n / d
      val r = n % d
      val exp = if (2 * r >= d) q + 1 else q
      Prop(got == exp)
    }

  property("floor(x*scale + 0.5) quantization is monotone") =
    forAll(Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(-1e6, 1e6),
      Gen.oneOf(1e4, 1e6, 1e12)) { (a, b, s) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      Prop(math.floor(lo * s + 0.5) <= math.floor(hi * s + 0.5))
    }

  property("doubled window rank sum is even, div 2 exact") =
    forAll(Gen.listOf(Gen.chooseNum(0, 4))) { strata =>
      // assign global ranks 1..N to rows, each owned by a stratum; per
      // stratum 2ΣR − n(n+1) must be even and equal 2·(ΣR − n(n+1)/2)
      val owned = strata.zipWithIndex.map { case (s, i) => (s, i + 1L) }
      Prop.all(owned.groupBy(_._1).values.toSeq.map { rows =>
        val n = rows.size.toLong
        val sr = rows.map(_._2).sum
        val u2 = 2 * sr - n * (n + 1)
        Prop(u2 % 2 == 0 && u2 / 2 == sr - n * (n + 1) / 2)
      }: _*)
    }

  property("histogram average ranks reproduce classical tied rank sums") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 20L), Gen.oneOf(0, 1)))) {
      rows =>
        // classical: sort by value, ties share the mean of their rank
        // positions; doubled form keeps it integral
        val sorted = rows.sortBy(_._1)
        // .toSeq BEFORE flatMap: flatMapping a Map into (key, value)
        // tuples would collapse all rows sharing a stratum to one entry
        val classical2 = sorted.zipWithIndex
          .groupBy { case ((v, _), _) => v }.toSeq
          .flatMap { case (_, grp) =>
            // 2·(average rank) = sum of (first + last 1-based positions)
            val r2 = grp.head._2 + 1 + grp.last._2 + 1
            grp.map { case ((_, s), _) => (s, r2.toLong) }
          }
        val classicalA = classical2.collect { case (1, r2) => r2 }.sum
        // histogram form: per value, c rows of which p in stratum 1;
        // each tied row's doubled rank is 2·cum_before + c + 1
        val hist = rows.groupBy(_._1).toSeq.sortBy(_._1)
        var cumBefore = 0L
        var histA = 0L
        hist.foreach { case (_, grp) =>
          val c = grp.size.toLong
          val p = grp.count(_._2 == 1).toLong
          histA += p * (2 * cumBefore + c + 1)
          cumBefore += c
        }
        Prop(histA == classicalA)
    }

  // ------------------------------------------------------------------
  // The round-16 Exact split-ratio form (Exact.sparkRatioE/duckRatioE):
  //   (num div den)·10^k + (2·(num mod den)·10^k + den) div (2·den)
  // claimed equal to round-half-up(num·10^k / den) with every
  // intermediate in Long range whenever den ≤ (2⁶³−1)/(2·10^k+1) and
  // the RESULT fits — i.e. num may be a full corpus-scale sum (the
  // naive (2·num·10^k + den) form wraps once num > ~4.6e14 at k=4).
  // The first run of this property FALSIFIED the looser den ≤
  // (2⁶³−1)/(2·10^k) bound at its exact boundary (r = den−1 wraps
  // 2·r·m + den) — the tight bound below is the property's own
  // discovery; every product call site has den = a group/doc count,
  // ~6 orders inside it. Scala
  // long arithmetic here mirrors Spark's `div`/`%` and DuckDB's `//`/`%`
  // exactly on non-negative longs, so this property covers all three
  // evaluators of the shared rendering.
  private val ratioCase: Gen[(Long, Long, Int)] = for {
    k <- Gen.oneOf(2, 4, 6)
    m = math.pow(10, k).toLong
    den <- Gen.oneOf(
      Gen.chooseNum(1L, 1000L), // small denominators (group counts)
      Gen.chooseNum(1L, Long.MaxValue / (2 * m + 1))) // up to the bound
    q <- Gen.chooseNum(0L,
      math.min(Long.MaxValue / m - 2, (Long.MaxValue - den + 1) / den))
    r <- Gen.chooseNum(0L, den - 1)
  } yield ((q * den + r, den, k))

  property("split-form e-k ratio == BigInt round-half-up, intermediates in range") =
    Prop.forAllNoShrink(ratioCase) { case (num, den, k) =>
      val m = math.pow(10, k).toLong
      val got = (num / den) * m + (2 * (num % den) * m + den) / (2 * den)
      val expected = (2 * BigInt(num) * m + den) / (2 * BigInt(den))
      val interOk = 2 * BigInt(num % den) * m + den <= Long.MaxValue &&
        BigInt(num / den) * m <= Long.MaxValue
      Prop(BigInt(got) == expected && interOk)
    }

  property("e-k row code floor(x*10^k + 0.5) is exact on k-dp data") =
    // the money-family losslessness claim: a value that IS exactly k-dp
    // (cents/10^k) round-trips through the code with zero error
    forAll(Gen.chooseNum(-92233720368L, 92233720368L), Gen.oneOf(2, 4)) {
      (cents, k) =>
        val m = math.pow(10, k)
        val x = cents / m // exactly representable? not always — but the
        // property holds for the nearest double of cents/10^k, which is
        // what parquet stores: its code must recover the SAME cents
        val got = math.floor(x * m + 0.5).toLong
        Prop(got == cents)
    }
}
