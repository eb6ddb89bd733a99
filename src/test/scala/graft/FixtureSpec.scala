package graft

import graft.model.EventLog
import graft.sources.GraftIO
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, timestampType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.parquet.schema.Types
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

/**
 * [[GraftIO.fixture]] is the one reader of fixture tables. It takes the
 * schema from a parquet footer on the driver, so it must give exactly
 * the schema Spark's inference gives, and run no Spark job doing it.
 */
class FixtureSpec extends AnyFunSuite {
  import TestSpark._

  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  /** The fixture read and its job count, next to Spark's inferred schema. */
  private def check(dir: String, table: String): Unit = {
    val (df, jobs) = countingJobs(GraftIO.fixture(spark, dir, table))
    assert(jobs === 0, s"$dir $table")
    assert(df.schema === spark.read.parquet(s"$dir/$table.parquet").schema,
      s"$dir $table")
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"every fixture table at $sf reads under its inferred schema, 0 jobs") {
      tables.foreach(check(s"/root/testdata/$sf", _))
    }

  test("a Spark-written multi-file table reads under its row metadata, 0 jobs") {
    // o_orderdate as TIMESTAMP_NTZ: its parquet type alone converts to
    // TIMESTAMP under inferTimestampNTZ=false, so only a reader that
    // prefers the Spark row metadata, as inference does, gets it right
    val dir = Scratch.freshDir("fixture-multifile")
    try {
      val orders = GraftIO.fixture(spark, "/root/testdata/sf0.001", "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp_ntz"))
      orders.repartition(3).write.parquet(s"$dir/orders.parquet")
      assert(new java.io.File(s"$dir/orders.parquet").list()
        .count(_.endsWith(".parquet")) === 3)
      check(dir, "orders")
      val read = GraftIO.fixture(spark, dir, "orders")
      assert(read.schema("o_orderdate").dataType === TimestampNTZType)
      assert(read.orderBy("o_orderkey").collect().toSeq ===
        orders.orderBy("o_orderkey").collect().toSeq)
    } finally Scratch.rm(dir)
  }

  test("EventLog.raw reads a TIMESTAMP(NANOS) ts and its MICROS twin as the same epoch nanos") {
    // no fixture writes NANOS, so this is the only leg that reaches the
    // LongType branch (the session's nanosAsLong surfaces it as a LONG)
    val root = Scratch.freshDir("fixture-ts-units")
    val nanos = Seq(0L, 1700000000123456000L, 1700000086400000000L)
    def write(unit: TimeUnit, scale: Long): String = {
      val dir = s"$root/$unit"
      val schema = Types.buildMessage()
        .required(INT64).named("event_id")
        .required(INT64).as(timestampType(true, unit)).named("ts")
        .named("events")
      val conf = spark.sessionState.newHadoopConf()
      val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf)
      val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
      val rows = new SimpleGroupFactory(schema)
      try nanos.zipWithIndex.foreach { case (ts, i) =>
        w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ts / scale))
      } finally w.close()
      dir
    }
    try {
      val Seq(fromNanos, fromMicros) =
        Seq(write(TimeUnit.NANOS, 1L), write(TimeUnit.MICROS, 1000L)).map { dir =>
          val (df, jobs) = countingJobs(EventLog.raw(spark, dir))
          assert(jobs === 0, dir)
          assert(df.schema("ts").dataType === LongType, dir)
          df.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq
        }
      assert(fromNanos === nanos)
      assert(fromMicros === nanos)
    } finally Scratch.rm(root)
  }
}
