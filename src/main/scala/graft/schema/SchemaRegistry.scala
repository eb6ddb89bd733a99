package graft.schema

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.concurrent.TrieMap

/**
 * Schema registry + compatibility checking (SURVEY §1.3, milestone M1).
 *
 * Reference semantics: schemas are per-topic and versioned — every message
 * carries `schema_version` (PulsarApi.proto:137) — and a new version is
 * admitted only if it passes the topic's compatibility strategy against
 * the stored versions (SchemaRegistryServiceImpl.putSchemaIfAbsent :182,
 * checkCompatible :311-356; strategies
 * SchemaCompatibilityStrategy.java:29-66). The engine checks the same
 * rules directly on Catalyst StructTypes: "reader can decode writer's
 * data" is field-subset + null-default + Avro numeric promotion.
 */
sealed abstract class CompatibilityStrategy(val name: String)
object CompatibilityStrategy {
  case object AlwaysIncompatible extends CompatibilityStrategy("ALWAYS_INCOMPATIBLE")
  case object AlwaysCompatible extends CompatibilityStrategy("ALWAYS_COMPATIBLE")
  case object Backward extends CompatibilityStrategy("BACKWARD")
  case object Forward extends CompatibilityStrategy("FORWARD")
  case object Full extends CompatibilityStrategy("FULL")
  case object BackwardTransitive extends CompatibilityStrategy("BACKWARD_TRANSITIVE")
  case object ForwardTransitive extends CompatibilityStrategy("FORWARD_TRANSITIVE")
  case object FullTransitive extends CompatibilityStrategy("FULL_TRANSITIVE")
  val all: Seq[CompatibilityStrategy] = Seq(AlwaysIncompatible, AlwaysCompatible,
    Backward, Forward, Full, BackwardTransitive, ForwardTransitive, FullTransitive)
}

object SchemaCompat {
  import CompatibilityStrategy._

  /** Avro-style numeric promotions a reader may apply to written data. */
  private val promotions: Map[DataType, Set[DataType]] = Map(
    ByteType -> Set(ShortType, IntegerType, LongType, FloatType, DoubleType),
    ShortType -> Set(IntegerType, LongType, FloatType, DoubleType),
    IntegerType -> Set(LongType, FloatType, DoubleType),
    LongType -> Set(FloatType, DoubleType),
    FloatType -> Set[DataType](DoubleType))

  private def canReadType(w: DataType, r: DataType): Boolean = (w, r) match {
    case (a, b) if a == b => true
    case (ws: StructType, rs: StructType) => canRead(ws, rs)
    case (ArrayType(we, _), ArrayType(re, _)) => canReadType(we, re)
    case (MapType(wk, wv, _), MapType(rk, rv, _)) =>
      canReadType(wk, rk) && canReadType(wv, rv)
    case (a, b) => promotions.get(a).exists(_.contains(b))
  }

  /** Can a reader with schema `reader` decode data written as `writer`?
   * Every reader field must exist in the writer with a promotable type,
   * or be nullable (null is the default). Extra writer fields are
   * ignored. */
  def canRead(writer: StructType, reader: StructType): Boolean =
    reader.fields.forall { rf =>
      writer.fields.find(_.name == rf.name) match {
        case Some(wf) => canReadType(wf.dataType, rf.dataType)
        case None => rf.nullable
      }
    }

  /** The admission rule of checkCompatible: candidate vs the stored
   * versions under the topic's strategy (transitive = against all stored
   * versions, else only the latest). */
  def isCompatible(existing: Seq[StructType], candidate: StructType,
      strategy: CompatibilityStrategy): Boolean = {
    def latest = existing.lastOption.toSeq
    strategy match {
      case AlwaysIncompatible => existing.isEmpty
      case AlwaysCompatible => true
      case Backward => latest.forall(prev => canRead(prev, candidate))
      case Forward => latest.forall(prev => canRead(candidate, prev))
      case Full => latest.forall(prev =>
        canRead(prev, candidate) && canRead(candidate, prev))
      case BackwardTransitive => existing.forall(prev => canRead(prev, candidate))
      case ForwardTransitive => existing.forall(prev => canRead(candidate, prev))
      case FullTransitive => existing.forall(prev =>
        canRead(prev, candidate) && canRead(candidate, prev))
    }
  }
}

/**
 * Versioned per-topic schema store (the engine's catalog of StructType
 * JSON). putSchemaIfAbsent admits idempotently, checks compatibility,
 * and returns the version — mirroring the reference registry's contract.
 */
final class SchemaRegistry {
  private val store = TrieMap.empty[String, Vector[StructType]]

  def versions(topic: String): Vector[StructType] = store.getOrElse(topic, Vector.empty)

  def schemaFor(topic: String, version: Int): Option[StructType] =
    versions(topic).lift(version)

  def latest(topic: String): Option[(Int, StructType)] = {
    val v = versions(topic); v.lastOption.map(s => (v.size - 1, s))
  }

  /** Admit a schema: returns Right(version) — the existing version when
   * the schema is already registered — or Left(reason) when the strategy
   * rejects it. */
  def putSchemaIfAbsent(topic: String, schema: StructType,
      strategy: CompatibilityStrategy): Either[String, Int] = synchronized {
    val existing = versions(topic)
    existing.indexOf(schema) match {
      case i if i >= 0 => Right(i)
      case _ =>
        if (SchemaCompat.isCompatible(existing, schema, strategy)) {
          store.put(topic, existing :+ schema)
          Right(existing.size)
        } else Left(s"incompatible with ${strategy.name} at version ${existing.size}")
    }
  }

  /** The catalog as rows (topic, version, schema_json) — persistable as a
   * table like the reference's schema ledger. */
  def catalog: Seq[(String, Int, String)] =
    store.toSeq.flatMap { case (t, vs) =>
      vs.zipWithIndex.map { case (s, i) => (t, i, s.json) }
    }
}

/**
 * DURABLE versioned schema store: the catalog is a parquet metadata table
 * (`topic`, `version`, `fields`, `schema_json`) plus an append-only audit
 * ledger of put attempts — mirroring the reference, where every version is
 * persisted to the schema ledger and survives the broker process
 * (SchemaRegistryServiceImpl.putSchemaIfAbsent :182 reads the stored
 * versions back before admitting; checkCompatible :311). A new
 * [[PersistedSchemaRegistry]] opened on the same path sees — and
 * compat-checks against — every version admitted by any earlier instance.
 *
 * Scale notes: this is a CONTROL-PLANE table (a few rows per topic, like
 * the reference's ledger) — reads collect to the driver exactly as the
 * reference registry materializes `schemaRegistry` state in the broker;
 * the data plane never touches it per row. Admissions append one parquet
 * file each, the versioned-log layout whose compaction story is the same
 * as any metadata table's.
 */
final class PersistedSchemaRegistry(spark: SparkSession, path: String) {

  private val catalogDir = s"$path/catalog"
  private val auditDir = s"$path/audit"

  private val catalogSchema = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("version", IntegerType, nullable = false),
    StructField("fields", StringType, nullable = false),
    StructField("schema_json", StringType, nullable = false)))
  private val auditSchema = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("attempt", IntegerType, nullable = false),
    StructField("outcome", StringType, nullable = false)))

  private def readTable(dir: String, schema: StructType): DataFrame =
    if (graft.sources.GraftIO.nonEmptyDir(spark, dir))
      spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The persisted catalog (one row per admitted version). */
  def catalog(): DataFrame = readTable(catalogDir, catalogSchema)

  /** The persisted put-attempt ledger (admitted / idempotent / rejected). */
  def audit(): DataFrame = readTable(auditDir, auditSchema)

  private def append(dir: String, schema: StructType, row: Row): Unit =
    spark.createDataFrame(java.util.List.of(row), schema)
      .coalesce(1).write.mode("append").parquet(dir)

  /** In-memory mirror of the durable state, read ONCE at open and
   * maintained write-through — the reference registry's shape too: the
   * broker serves schema lookups from memory over the BookKeeper ledger
   * (`SchemaRegistryServiceImpl` caches `schemaRegistry` state). A
   * registry instance is the single writer of its path (like the topic's
   * owning broker); a reopened instance re-reads whatever any earlier
   * writer persisted. */
  private lazy val stateAtOpen
      : (collection.mutable.Map[String, Vector[StructType]], collection.mutable.Map[String, Int]) = {
    val vs = collection.mutable.Map.empty[String, Vector[StructType]]
    catalog().orderBy("topic", "version").collect().foreach { r =>
      val t = r.getString(0)
      vs(t) = vs.getOrElse(t, Vector.empty) :+
        DataType.fromJson(r.getString(3)).asInstanceOf[StructType]
    }
    val at = collection.mutable.Map.empty[String, Int]
    audit().groupBy("topic").count().collect().foreach { r =>
      at(r.getString(0)) = r.getLong(1).toInt
    }
    (vs, at)
  }

  /** Stored versions of a topic, oldest first. */
  def versions(topic: String): Vector[StructType] = synchronized {
    stateAtOpen._1.getOrElse(topic, Vector.empty)
  }

  def latest(topic: String): Option[(Int, StructType)] = {
    val v = versions(topic); v.lastOption.map(s => (v.size - 1, s))
  }

  /**
   * Admit a schema against the PERSISTED versions: idempotent on an
   * already-stored schema, compat-checked under the topic strategy
   * otherwise; a rejected candidate writes nothing to the catalog. Every
   * attempt (either way) lands in the audit ledger.
   */
  def putSchemaIfAbsent(topic: String, schema: StructType,
      strategy: CompatibilityStrategy): Either[String, Int] = synchronized {
    val existing = versions(topic)
    val attempt = stateAtOpen._2.getOrElse(topic, 0)
    val result = existing.indexOf(schema) match {
      case i if i >= 0 => Right(i)
      case _ =>
        if (SchemaCompat.isCompatible(existing, schema, strategy)) {
          append(catalogDir, catalogSchema, Row(topic, existing.size,
            schema.fields.map(_.name).mkString(","), schema.json))
          stateAtOpen._1(topic) = existing :+ schema // write-through
          Right(existing.size)
        } else Left(s"incompatible with ${strategy.name} at version ${existing.size}")
    }
    val outcome = result match {
      case Right(v) if v < existing.size => s"idempotent version $v"
      case Right(v) => s"admitted version $v"
      case Left(reason) => s"rejected: $reason"
    }
    append(auditDir, auditSchema, Row(topic, attempt, outcome))
    stateAtOpen._2(topic) = attempt + 1
    result
  }
}
