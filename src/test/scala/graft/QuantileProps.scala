package graft

import graft.pipeline.CorpusOps
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties, Test}

/**
 * ScalaCheck property for `exactQuantiles`: over random raw rows and
 * random quantile sets, it must pick exactly the rows a driver-side
 * sort-and-select picks. Rows come from a random histogram, each
 * (source, v) repeated c times. Every quantile set carries 4-decimal
 * collisions: next to each random rational sits the rational its
 * rounded q names (1/3 beside 3333/10000), so two requested quantiles
 * share one q with different ranks. Values are negative and positive;
 * counts reach the hundreds, so colliding ranks differ.
 */
object QuantileProps extends Properties("Quantiles") {
  import TestSpark.spark
  import spark.implicits._

  // each case runs one Spark query on the shared session
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  private val histogram: Gen[Seq[(String, Long, Long)]] = for {
    rows <- Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b", "c"),
      Gen.oneOf(Gen.chooseNum(-300000L, 300000L), Gen.chooseNum(0L, 40L)),
      Gen.chooseNum(1L, 800L)))
  } yield rows.groupMapReduce(r => (r._1, r._2))(_._3)(_ + _).toSeq
    .map { case ((s, v), c) => (s, v, c) }

  /** A random rational in [0, 1] and the 4-decimal rational it rounds to. */
  private val colliding: Gen[Seq[(Int, Int)]] = for {
    den <- Gen.chooseNum(1, 10000)
    num <- Gen.chooseNum(0, den)
  } yield Seq((num, den), (((2L * num * 10000 + den) / (2L * den)).toInt, 10000))

  private val quantiles: Gen[Seq[(Int, Int)]] =
    Gen.nonEmptyListOf(colliding).map(qs => (Seq((1, 3), (3333, 10000)) ++ qs.flatten).distinct)

  property("exact quantiles == driver-side sort-and-select") =
    Prop.forAllNoShrink(histogram, quantiles) { (hist, qs) =>
      val raw = hist.flatMap { case (s, v, c) => Seq.fill(c.toInt)((s, v)) }
      val got = try {
        CorpusOps.exactQuantiles(raw.toDF("source", "v"), col("source"),
            col("v"), qs)
          .collect().map(r => (r.getString(0), r.getAs[Long]("n"),
            r.getAs[Long]("rank"), r.getAs[Long]("value"))).toSet
      } finally CacheScope.releaseAll()
      val replay = raw.groupMap(_._1)(_._2).toSeq.flatMap { case (s, vs) =>
        val sorted = vs.sorted.toIndexedSeq
        val n = sorted.length.toLong
        qs.map { case (num, den) =>
          val rank = (num * n + den - 1) / den
          (s, n, rank, sorted(math.max(rank, 1L).toInt - 1))
        }
      }.toSet
      Prop(got.nonEmpty && got == replay) :|
        s"${raw.size} rows over ${hist.size} (source, v) pairs, quantiles $qs"
    }
}
