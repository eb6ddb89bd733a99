package graft

import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream

/** Bench's entries never record a throwing query or warmup stage as a
 * fast success, the totals line names what failed, and the record
 * Measure keeps per entry counts what the body ran. */
class BenchSpec extends AnyFunSuite {
  import TestSpark.spark

  private def quietly[T](body: => T): (T, String) = {
    val out = new ByteArrayOutputStream
    val r = Console.withOut(out)(body)
    (r, out.toString("UTF-8").trim)
  }

  private def succeeded(seconds: Double) = Measure.Record("ok", seconds, 0.0, 0.0,
    Measure.Work(), Measure.Work(), None, Nil)

  test("a throwing query is reported FAILED and adds no seconds to the total") {
    val (boom, line) = quietly(Bench.entry(spark, "q_boom")(
      throw new IllegalStateException("boom"))(identity))
    assert(boom.status === "FAILED:java.lang.IllegalStateException")
    assert(boom.seconds === 0.0)
    assert(line === "BENCHQ q_boom FAILED:java.lang.IllegalStateException")
    val (ok, okLine) = quietly(Bench.entry(spark, "q_ok")(())(identity))
    assert(ok.ok && okLine.startsWith("BENCHQ q_ok "), okLine)
    val results = Seq("q_ok" -> succeeded(1.5), "q_boom" -> boom)
    assert(Bench.summary(results, "sf", perQuery = false) ===
      """{"metric":"total","value":1.5000,"unit":"sec","n":2,"n_failed":1,""" +
        """"failed":["q_boom"],"sf":"sf"}""")
    assert(Bench.summary(results, "sf", perQuery = true).contains(
      """"failed":["q_boom"],"queries":{"q_ok":1.5000},"sf":"sf"}"""))
  }

  test("a throwing warmup stage is printed with its class and fails _warmup_shared") {
    val (warm, out) = quietly(Bench.warmup(spark, Seq(
      "envelope" -> (() => ()),
      "lsh_pairs" -> (() => throw new IllegalStateException("boom")))))
    val lines = out.split("\n").toSeq
    assert(lines.size === 3, out)
    assert(lines(0).matches("BENCHW envelope [0-9.]+"), out)
    assert(lines(1).matches(
      "BENCHW lsh_pairs [0-9.]+ FAILED:java.lang.IllegalStateException"), out)
    assert(lines(2) === "BENCHQ _warmup_shared FAILED:java.lang.IllegalStateException")
    val totals = Bench.summary(Seq("_warmup_shared" -> warm, "q_ok" -> succeeded(1.5)),
      "sf", perQuery = false)
    assert(totals.startsWith("""{"metric":"total","value":1.5000,"unit":"sec","n":2,""" +
      """"n_failed":1,"failed":["_warmup_shared"]"""), totals)
  }

  test("a throwing body's record says FAILED:<class> and carries no seconds") {
    val (result, r) = Measure(spark)(spark.range(0, 10).toDF())(df =>
      if (df.count() > 0) throw new ArithmeticException("late") else 0L)
    assert(result.left.map(_.getClass) === Left(classOf[ArithmeticException]))
    assert(r.status === "FAILED:java.lang.ArithmeticException")
    assert(r.buildS === 0.0 && r.actionS === 0.0 && r.planS === 0.0)
    assert(r.action.jobs >= 1, r.json)
    val (_, early) = Measure(spark)(throw new IllegalStateException("early"))(identity)
    assert(early.status === "FAILED:java.lang.IllegalStateException")
    assert(early.seconds === 0.0 && early.action === Measure.Work())
  }

  test("a body that runs no Spark job records 0 jobs") {
    val (result, r) = Measure(spark)(spark.range(0, 100).toDF())(_.schema.size)
    assert(result === Right(1))
    assert(r.ok && r.build.jobs === 0 && r.action.jobs === 0, r.json)
    assert(r.action.tasks === 0 && r.jobDetail.isEmpty, r.json)
  }

  test("a count over 3 partitions records its jobs and their tasks") {
    val (result, r) = Measure(spark)(spark.range(0, 100, 1, 3))(_.count())
    assert(result === Right(100L))
    assert(r.ok && r.build.jobs === 0, r.json)
    assert(r.action.jobs >= 1 && r.action.tasks >= 3, r.json)
    assert(r.jobDetail.size === r.action.jobs && r.jobDetail.forall(_.phase == "action"), r.json)
    assert(r.jobDetail.map(_.tasks).sum === r.action.tasks, r.json)
    assert(r.jobDetail.forall(_.site.startsWith("count at BenchSpec.scala")), r.json)
    assert(r.planS >= 0.0 && r.planS <= r.actionS, r.json)
    assert(r.seconds === r.buildS + r.actionS)
  }
}
