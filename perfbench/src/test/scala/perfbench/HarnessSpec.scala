package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the digest does not depend on row order or partitioning") {
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("k"),
      concat(lit("v"), col("id").cast("string")).as("s"),
      array(col("id"), col("id") * 2).as("a"), map(lit("x"), col("id")).as("m"))
    val base = Digest.of(df)
    assert(base.rows == 1000)
    assert(Digest.of(df.orderBy(col("id").desc)) == base)
    assert(Digest.of(df.repartition(7, col("k"))) == base)
    assert(Digest.of(df.coalesce(1)) == base)
  }

  test("the digest sees every column and every row") {
    val df = spark.range(100).select(col("id"), (col("id") * 3).as("x"))
    val base = Digest.of(df)
    assert(Digest.of(df.withColumn("x", when(col("id") === 42, -1).otherwise(col("x")))) != base)
    assert(Digest.of(df.union(df.filter(col("id") === 0))) != base)
    assert(Digest.of(df.filter(col("id") > 0)) != base)
  }

  test("the same seed gives the same operation sequence, another seed another") {
    val qs = BatchWorkload.sqlQueries
    val a = (0 until 3).map(p => BatchWorkload.order(7, p, qs))
    val b = (0 until 3).map(p => BatchWorkload.order(7, p, qs))
    assert(a == b)
    assert(a.forall(_.sorted == qs.sorted))
    assert(a.distinct.size == 3)
    assert(BatchWorkload.order(8, 0, qs) != a(0))
  }

  test("the same seed gives the same generated stream rows, another seed others") {
    val (r1, s1) = StandInTable.generate(spark, 7, 200)
    val (r2, s2) = StandInTable.generate(spark, 7, 200)
    val (r3, _) = StandInTable.generate(spark, 8, 200)
    assert(s1 == s2)
    assert(r1.toSeq == r2.toSeq)
    assert(r1.toSeq != r3.toSeq)
  }

  test("generated tables depend only on the data seed, not on partitioning") {
    val spec = Datagen.Spec(42, 0.001)
    val t = Datagen.tables(spark, spec)
    Seq("orders", "documents", "embeddings").foreach { n =>
      assert(Digest.of(t(n)) == Digest.of(Datagen.tables(spark, spec)(n).repartition(3)))
    }
    assert(Digest.of(t("orders")) != Digest.of(Datagen.tables(spark, spec.copy(dataSeed = 43))("orders")))
  }

  test("stand-in table ranges follow the timestamp-mode contract") {
    val (rows, schema) = StandInTable.generate(spark, 1, 10)
    val t = new StandInTable("spec", rows, schema)
    rows.indices.foreach(i => t.dueMicros(i) = 1000000L * (i + 1))
    t.published.set(6)
    val at = (i: Int) => graft.sources.JdbcOffset(StandInTable.ts(t.dueMicros(i)))
    assert(t.range(None, None) == (0, 6))
    assert(t.range(Some(at(1)), None) == (2, 6))
    assert(t.range(Some(at(1)), Some(at(3).ts)) == (2, 4))
    assert(t.source.chunkKeys(Some(at(0)), None, Some(2)).map(_.ts).toSeq == Seq(at(1).ts, at(2).ts))
  }
}
