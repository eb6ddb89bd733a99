package graft

import graft.pipeline.CorpusOps
import org.scalacheck.{Gen, Prop, Properties, Test}

/**
 * ScalaCheck property for `exactQuantiles`' measured-size branch: the
 * two-level selection (2^16-wide value buckets, then a running sum inside
 * the target bucket) must pick exactly the rows the single-level running
 * sum picks, over random histograms and random quantile sets. Every set
 * carries 4-decimal collisions: next to each random rational sits the
 * rational its rounded q names (1/3 beside 3333/10000), so two requested
 * quantiles share one q with different ranks. Values span negative and
 * positive buckets; counts reach the hundreds, so colliding ranks differ.
 */
object QuantileProps extends Properties("Quantiles") {
  import TestSpark.spark
  import spark.implicits._

  // each case runs two Spark queries on the shared session
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

  property("single-level == two-level exact quantiles") =
    Prop.forAllNoShrink(histogram, quantiles) { (rows, qs) =>
      val hist = rows.toDF("source", "v", "c")
      def pick(twoLevel: Boolean) =
        CorpusOps.exactQuantilesOver(hist, qs, twoLevel).collect().map(_.toSeq).toSet
      val one = pick(twoLevel = false)
      Prop(one.nonEmpty && one == pick(twoLevel = true)) :|
        s"${rows.size} histogram rows, quantiles $qs"
    }
}
