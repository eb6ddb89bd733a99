package graft

import graft.schema._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Registry admission semantics (SchemaRegistryServiceImpl.putSchemaIfAbsent
 * :182): idempotent re-register returns the existing version; incompatible
 * evolutions are rejected under the topic's strategy; versions are
 * retrievable for version-keyed decode. */
class SchemaSpec extends AnyFunSuite {
  import CompatibilityStrategy._

  private def req(n: String, t: DataType) = StructField(n, t, nullable = false)
  private def opt(n: String, t: DataType) = StructField(n, t, nullable = true)

  test("putSchemaIfAbsent is idempotent and versions monotonically") {
    val r = new SchemaRegistry
    val v0 = StructType(Seq(req("id", LongType)))
    val v1 = StructType(Seq(req("id", LongType), opt("name", StringType)))
    assert(r.putSchemaIfAbsent("t", v0, Backward) === Right(0))
    assert(r.putSchemaIfAbsent("t", v0, Backward) === Right(0)) // idempotent
    assert(r.putSchemaIfAbsent("t", v1, Backward) === Right(1))
    assert(r.schemaFor("t", 0).contains(v0))
    assert(r.latest("t").contains((1, v1)))
    assert(r.catalog.map(c => (c._1, c._2)).sorted === Seq(("t", 0), ("t", 1)))
  }

  test("BACKWARD rejects adding a required field, accepts nullable") {
    val r = new SchemaRegistry
    val base = StructType(Seq(req("id", LongType)))
    r.putSchemaIfAbsent("t", base, Backward)
    assert(r.putSchemaIfAbsent("t",
      StructType(base.fields :+ req("must", StringType)), Backward).isLeft)
    assert(r.putSchemaIfAbsent("t",
      StructType(base.fields :+ opt("may", StringType)), Backward) === Right(1))
  }

  test("transitive strategies check every stored version") {
    val long = StructType(Seq(req("n", LongType)))
    val int = StructType(Seq(req("n", IntegerType)))
    assert(SchemaCompat.isCompatible(Seq(long, int), int, Backward))
    assert(!SchemaCompat.isCompatible(Seq(long, int), int, BackwardTransitive))
  }

  test("ALWAYS_INCOMPATIBLE admits only the first version") {
    val r = new SchemaRegistry
    val v0 = StructType(Seq(req("id", LongType)))
    assert(r.putSchemaIfAbsent("t", v0, AlwaysIncompatible) === Right(0))
    assert(r.putSchemaIfAbsent("t",
      StructType(Seq(req("id", LongType), opt("x", StringType))),
      AlwaysIncompatible).isLeft)
  }

  test("persisted registry reopens its catalog from a file:// path") {
    val dir = Scratch.freshDir("schema-file-uri")
    val path = s"file://$dir"
    try {
      val v0 = StructType(Seq(req("id", LongType)))
      assert(new PersistedSchemaRegistry(TestSpark.spark, path)
        .putSchemaIfAbsent("t", v0, Backward) === Right(0))
      assert(new PersistedSchemaRegistry(TestSpark.spark, path).versions("t") === Vector(v0))
    } finally Scratch.rm(dir)
  }

  test("persisted registry agrees with the in-memory model across reopens") {
    // model-based check: drive BOTH registries through the same
    // deterministic pseudo-random evolution script, reopening the
    // persisted one every few puts — every putSchemaIfAbsent result and
    // every topic's version vector must agree throughout.
    val spark = TestSpark.spark
    val path = Scratch.freshDir("schema-model")
    val model = new SchemaRegistry
    var persisted = new PersistedSchemaRegistry(spark, path)
    val fieldPool = Vector(
      req("id", LongType), opt("name", StringType), opt("tag", StringType),
      req("amount", LongType), opt("note", StringType), req("n", IntegerType),
      opt("extra", DoubleType))
    val strategies = CompatibilityStrategy.all
    val rnd = new scala.util.Random(7)
    val topics = Vector("t-a", "t-b")
    (0 until 40).foreach { i =>
      val topic = topics(rnd.nextInt(topics.size))
      // random subset of the pool, order-preserving → plausible evolutions
      val fields = fieldPool.filter(_ => rnd.nextBoolean())
      val schema = StructType(if (fields.isEmpty) fieldPool.take(1) else fields)
      val strat = strategies(rnd.nextInt(strategies.size))
      val got = persisted.putSchemaIfAbsent(topic, schema, strat)
      val want = model.putSchemaIfAbsent(topic, schema, strat)
      assert(got === want, s"step $i: $topic ${strat.name} ${schema.simpleString}")
      if (i % 7 == 6) { // broker restart
        persisted = new PersistedSchemaRegistry(spark, path)
        topics.foreach { t =>
          assert(persisted.versions(t) === model.versions(t), s"reopen at step $i: $t")
        }
      }
    }
    topics.foreach { t =>
      assert(persisted.versions(t) === model.versions(t))
      assert(persisted.latest(t) === model.latest(t))
    }
  }
}
