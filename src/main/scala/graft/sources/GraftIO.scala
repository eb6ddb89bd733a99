package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}

/**
 * The connector SPI (SURVEY §2.1 S9/S10) — the engine-facing shape of the
 * reference's Pulsar IO interfaces: a Source opens, yields records, and
 * closes (pulsar-io/core/.../Source.java); a Sink opens, consumes records,
 * flushes (Sink.java). Spark-native connectors should use DataSource V2 /
 * readStream directly; this SPI is the porting shim for connector code
 * written against the reference interfaces.
 */
trait GraftSource[T] extends Serializable {
  def open(config: Map[String, String]): Unit = {}
  /** Deterministic record stream for one partition of the source. */
  def read(partition: Int): Iterator[T]
  def numPartitions: Int = 1
  def close(): Unit = {}
}

trait GraftSink[T] extends Serializable {
  def open(config: Map[String, String]): Unit = {}
  def write(record: T): Unit
  def flush(): Unit = {}
  def close(): Unit = {}
}

object GraftIO {

  /** The fixture table `dir/table.parquet` (one file, or a directory of
   * part files), read under the schema Spark's inference would give it.
   * The schema comes from the first data file's footer, read on the
   * driver through inference's own converter under the session conf:
   * the Spark row metadata of a Spark-written file if it has one, else
   * the parquet schema (`nanosAsLong`, `inferTimestampNTZ` applied). So
   * the read runs no schema-inference job, and declares nothing that
   * could drift from the files. */
  def fixture(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = new Path(s"$dir/$table.parquet")
    val conf = spark.sessionState.newHadoopConf()
    val first = path.getFileSystem(conf).listStatus(path)
      .filter(f => f.isFile && !f.getPath.getName.matches("[_.].*"))
      .minBy(_.getPath.toString)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, conf), SKIP_ROW_GROUPS)
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(path.toString)
  }

  /** Whether `dir` exists and holds at least one entry, asked of the
   * path's own Hadoop `FileSystem`: a `file://`, `hdfs://` or `s3a://`
   * table is seen the same way Spark's reader and writer see it. */
  def nonEmptyDir(spark: SparkSession, dir: String): Boolean = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(path) && fs.listStatus(path).nonEmpty
  }

  /** S9 — run a Source distributed: one task per source partition, the
   * open/read/close lifecycle per task (the connector contract). */
  def fromSource[T: Encoder](spark: SparkSession, source: GraftSource[T],
      config: Map[String, String] = Map.empty): Dataset[T] = {
    import spark.implicits._
    spark.range(source.numPartitions).as[Long].mapPartitions { parts =>
      // close() via the task-completion listener: fires exactly once even
      // when the consumer stops early (limit/take) or the task fails, and
      // extra hasNext calls after exhaustion can't re-invoke it
      var opened = false
      var closed = false
      def closeOnce(): Unit = if (opened && !closed) { closed = true; source.close() }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
      parts.flatMap { p =>
        source.open(config); opened = true
        val it = source.read(p.toInt)
        new Iterator[T] {
          override def hasNext: Boolean = { val h = it.hasNext; if (!h) closeOnce(); h }
          override def next(): T = it.next()
        }
      }
    }
  }

  /** S10 — drain a Dataset into a Sink: one sink instance per partition,
   * open/write*/
  def toSink[T](ds: Dataset[T], sink: GraftSink[T],
      config: Map[String, String] = Map.empty): Unit =
    ds.foreachPartition { (it: Iterator[T]) =>
      sink.open(config)
      try {
        it.foreach(sink.write)
        sink.flush()
      } finally sink.close()
    }

  /**
   * Bucketed topic storage — the co-located layout for the 100 TB read
   * path. Persisting a topic hash-bucketed (and optionally sorted) by its
   * key makes every downstream key-join and key-aggregation EXCHANGE-FREE:
   * Spark's bucketed scan reports HashPartitioning, so joins between
   * same-bucketed tables and groupBy(key) skip their shuffles entirely
   * (asserted in BucketedTopicSpec against the physical plan). This is the
   * engine's equivalent of the reference's per-key topic partitioning —
   * the key→bucket placement is done once at write time and every
   * consumer inherits it. `numBuckets` is the scale knob: ≈ target
   * cluster parallelism at the expected table size.
   */
  def writeBucketedTopic(df: DataFrame, table: String, path: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val w = df.write.format("parquet").option("path", path)
      .mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }
}

/**
 * S10 — a line-file sink: each partition's sink instance appends one
 * text line per record to its own file under `dir` (partition +
 * task-attempt suffixed, so speculative retries never interleave). The
 * local filesystem is the observable "external system", which makes the
 * full open/write/flush/close contract oracle-checkable: whatever
 * landed in the directory IS what the sink was handed.
 */
class LineFileSink(dir: String) extends GraftSink[String] {
  @transient private var w: java.io.Writer = _
  override def open(config: Map[String, String]): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    val name = s"part-${tc.partitionId()}-${tc.taskAttemptId()}.txt"
    new java.io.File(dir).mkdirs()
    w = new java.io.BufferedWriter(
      new java.io.FileWriter(new java.io.File(dir, name)))
  }
  override def write(record: String): Unit = { w.write(record); w.write('\n') }
  override def flush(): Unit = w.flush()
  override def close(): Unit = if (w != null) w.close()
}

/**
 * S11 — the built-in data-generator source (pulsar-io/data-generator):
 * deterministic synthetic typed records, partition-parallel.
 */
case class GenRecord(record_id: Long, name: String, score: Double, flag: Boolean)

class DataGeneratorSource(rowsPerPartition: Long, partitions: Int)
    extends GraftSource[GenRecord] {
  override def numPartitions: Int = partitions
  override def read(partition: Int): Iterator[GenRecord] =
    (0L until rowsPerPartition).iterator.map { i =>
      val id = partition * rowsPerPartition + i
      GenRecord(id, s"name-${id % 7}", (id % 100) / 10.0, id % 3 == 0)
    }
}
