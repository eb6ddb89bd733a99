package perfbench

import graft.model.Envelope
import graft.operators.Produce
import graft.streaming.{StreamingOps, TopicStream}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Engine defects the benchmark's output checks found, kept as pending
 * specs: each starts failing (and must be un-pended) once fixed. The
 * produce_consume workload stays clear of both until then. */
class EngineDefectsSpec extends AnyFunSuite {

  private def withSpark(body: SparkSession => Unit): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try body(graft.SparkEntry.prepare(spark))
    finally { graft.CacheScope.releaseRun(); spark.stop() }
  }

  private def batch(spark: SparkSession, rows: Int) = {
    import spark.implicits._
    val raw = (0 until rows).map(i => (i.toLong, s"k${i % 7}", i.toDouble, i.toLong))
      .toDF("ord", "key", "value", "event_ms")
    Produce.build(raw, "t", "p", 2, "ord", 0L, allKeyed = true)
  }

  test("appendDedup keeps every fresh row of a batch past one ledger per partition") {
    pendingUntilFixed {
      withSpark { spark =>
        val dir = Files.createTempDirectory("perfbench-ledger").resolve("topic").toString
        assert(Produce.appendDedup(spark, batch(spark, 4000), dir) == 4000L)
      }
    }
  }

  test("tableViewStream reads a file-source topic") {
    pendingUntilFixed {
      withSpark { spark =>
        val root = Files.createTempDirectory("perfbench-tableview")
        val dir = root.resolve("topic").toString
        Produce.appendDedup(spark, batch(spark, 50), dir)
        val (q, view) = StreamingOps.tableViewStream(
          TopicStream.subscribe(spark, dir, 1000), root.resolve("ckpt").toString)
        try q.processAllAvailable() finally q.stop()
        assert(view.size == 7)
      }
    }
  }
}
