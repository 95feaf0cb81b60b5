package graft

class EngineSpec extends SparkSpec {
  import spark.implicits._

  test("Engine.init: one call makes tables + engine functions SQL-reachable") {
    Engine.init(spark, "/root/testdata/sf0.001")
    val n = spark.sql("SELECT count(*) AS n FROM lineitem").as[Long].collect()(0)
    assert(n > 0)
    val d = spark.sql(
      "SELECT datetostring(0, 'yyyy-MM-dd') AS d FROM region LIMIT 1")
      .as[String].collect()(0)
    assert(d == "1970-01-01")
  }

  /** A real parquet file whose ts column is TIMESTAMP(NANOS) — the
    * physical type older driver testdata shipped, which Spark has no
    * native type for. Written through parquet-mr directly (Spark itself
    * cannot produce one), so the legacy-flag fallback in `Tables.load`
    * stays exercised even though current testdata is timestamp[us].
    */
  private def writeNanosFixture(): (String, Seq[Long]) = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
      PrimitiveType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
      GroupWriteSupport}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val dir = tempDir("graft_nanos").toString
    val schema: MessageType = Types.buildMessage()
      .addField(Types.primitive(PrimitiveTypeName.INT64,
        org.apache.parquet.schema.Type.Repetition.REQUIRED).named("event_id"))
      .addField(Types.primitive(PrimitiveTypeName.INT64,
        org.apache.parquet.schema.Type.Repetition.REQUIRED)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts"))
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withConf(conf).build()
    val f = new SimpleGroupFactory(schema)
    // sub-µs digits present so the div-1000 truncation is observable
    // (1_700_000_000_123_456_789 ns -> 1_700_000_000_123_456 µs)
    val nanos = Seq(1700000000123456789L, 1700000001987654321L, 0L)
    nanos.zipWithIndex.foreach { case (ns, i) =>
      val g = f.newGroup()
      g.add("event_id", i.toLong); g.add("ts", ns)
      writer.write(g)
    }
    writer.close()
    (dir, nanos)
  }

  test("Tables.load reads a TIMESTAMP(NANOS) events file via the legacy fallback, 4-way concurrent") {
    val (dir, nanos) = writeNanosFixture()
    val expectedMicros = nanos.map(_ / 1000L).sorted
    // the raw read must really be the illegal-schema shape the fallback
    // exists for (otherwise this fixture tests nothing)
    val raw = intercept[Exception](
      spark.read.parquet(s"$dir/events.parquet").schema)
    assert(raw.getMessage.contains("Illegal Parquet type") ||
      raw.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
      raw.getMessage.contains("TIMESTAMP(NANOS"), s"unexpected: $raw")
    // Verify's pool is 4 threads; the set->resolve->restore window inside
    // nanosEvents is serialized under a lock — race it the same way
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = (1 to 4).map { _ =>
        Future {
          Tables.load(spark, dir, "events")
            .select(org.apache.spark.sql.functions
              .unix_micros(org.apache.spark.sql.functions.col("ts")))
            .as[Long].collect().sorted.toSeq
        }
      }
      val got = Await.result(Future.sequence(runs), 120.seconds)
      got.foreach(micros => assert(micros == expectedMicros,
        s"nanos fallback truncation drifted: $micros vs $expectedMicros"))
      // the flag was restored: a fresh raw read still raises the schema error
      val again = intercept[Exception](
        spark.read.parquet(s"$dir/events.parquet").schema)
      assert(again.getMessage.contains("Illegal Parquet type") ||
        again.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
        again.getMessage.contains("TIMESTAMP(NANOS"),
        "nanosAsLong flag leaked out of the fallback")
    } finally pool.shutdown()
  }

  test("non-nanos read failures surface as-is, not masked by the legacy retry") {
    val empty = tempDir("graft_noevents").toString
    val e = intercept[Exception](Tables.load(spark, empty, "events").count())
    assert(!e.getMessage.contains("nanosAsLong"))
    assert(e.getMessage.contains("PATH_NOT_FOUND") ||
      e.getMessage.toLowerCase.contains("path does not exist"), s"unexpected: $e")
  }
}
