package graft

import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream

/** Bench's per-query timer never records a throwing query as a fast
 * success, and the totals line names what failed. */
class BenchSpec extends AnyFunSuite {

  private def quietly[T](body: => T): (T, String) = {
    val out = new ByteArrayOutputStream
    val r = Console.withOut(out)(body)
    (r, out.toString("UTF-8").trim)
  }

  test("a throwing query is reported FAILED and adds no seconds to the total") {
    val (boom, line) = quietly(
      Bench.timeQuery("q_boom")(throw new IllegalStateException("boom")))
    assert(boom === Left("java.lang.IllegalStateException"))
    assert(line === "BENCHQ q_boom FAILED:java.lang.IllegalStateException")
    val (ok, okLine) = quietly(Bench.timeQuery("q_ok")(()))
    assert(ok.isRight && okLine.startsWith("BENCHQ q_ok "), okLine)
    val results = Seq("q_ok" -> Right(1.5), "q_boom" -> boom)
    assert(Bench.summary(results, "sf", perQuery = false) ===
      """{"metric":"total","value":1.5000,"unit":"sec","n":2,"n_failed":1,""" +
        """"failed":["q_boom"],"sf":"sf"}""")
    assert(Bench.summary(results, "sf", perQuery = true).contains(
      """"failed":["q_boom"],"queries":{"q_ok":1.5000},"sf":"sf"}"""))
  }
}
