package graft

import java.io.File

/** [[Verify.dump]]: a query's dump holds its rows, and a query that
  * fails leaves no dump, not even a previous run's.
  */
class VerifySpec extends SparkSpec {
  import spark.implicits._

  test("a throwing query over a stale dump leaves no dump; a good query writes its rows") {
    val out = tempDir("graft_verify").toString
    val good: SparkEntry.Q = (s, _) => s.range(3).toDF("id")
    Verify.dump(spark, "unused", out, "q", good)
    assert(spark.read.parquet(s"$out/q").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    // fails inside the write job, once the writer has set up the dump dir
    val failsInWrite: SparkEntry.Q =
      (s, _) => s.range(3).selectExpr("CAST(raise_error('boom') AS BIGINT) AS id")
    Verify.dump(spark, "unused", out, "q", failsInWrite)
    assert(!new File(s"$out/q").exists(), "a failed query left a dump")
    Verify.dump(spark, "unused", out, "q", good)
    val failsInPlan: SparkEntry.Q = (_, _) => throw new IllegalStateException("boom")
    Verify.dump(spark, "unused", out, "q", failsInPlan)
    assert(!new File(s"$out/q").exists(), "a failed query kept the stale dump")
  }
}
