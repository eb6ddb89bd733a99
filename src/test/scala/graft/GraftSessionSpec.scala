package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory applies `SparkEntry.prepare` itself, so a spec or
 * harness sees the same settings whichever code path touches the
 * session first. */
class GraftSessionSpec extends AnyFunSuite {
  import TestSpark._

  /** The settings `prepare` adds, read off a fresh session over the same
   * context (a new session starts from the context's conf, not from the
   * runtime settings of the shared one). */
  private def prepareSettings: Map[String, String] = {
    val plain = spark.newSession().conf.getAll
    SparkEntry.prepare(spark.newSession()).conf.getAll.toSeq
      .filterNot { case (k, v) => plain.get(k).contains(v) }.toMap
  }

  test("the shared session carries every prepare setting before any query runs") {
    val want = prepareSettings
    assert(want.size === 3, want)
    want.foreach { case (k, v) => assert(spark.conf.getOption(k) === Some(v), k) }
  }

  test("applying prepare a second time leaves the session conf unchanged") {
    val before = spark.conf.getAll
    SparkEntry.prepare(spark)
    assert(spark.conf.getAll === before)
  }
}
