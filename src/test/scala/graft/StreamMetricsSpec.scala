package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.{Pipelines, StreamMetrics}

/** [[graft.streaming.StreamMetrics]] — the streaming twin of PlanMetrics:
  * per-batch latency/rate capture off the progress bus, summaries, and
  * the JSON rendering.
  */
class StreamMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("listener captures per-batch rows, trigger latency and state rows") {
    val listener = new StreamMetrics
    spark.streams.addListener(listener)
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[Long]
      val q = Pipelines.idadecont(
        mem.toDF().select(graft.sources.FakeData.customerColumns(col("value")): _*))
        .writeStream
        .queryName("smspec_counts")
        .format("memory")
        .outputMode(OutputMode.Update)
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
      try {
        mem.addData(0L until 40L: _*)
        q.processAllAvailable()
        mem.addData(40L until 70L: _*)
        q.processAllAvailable()
      } finally q.stop()

      // progress events land async — await, then assert on what arrived
      val dataBatches = listener.awaitBatches("smspec_counts", 2)
        .filter(_.numInputRows > 0)
      assert(dataBatches.size >= 2, s"want >=2 data batches, got $dataBatches")
      assert(dataBatches.map(_.numInputRows).sum == 70L)
      assert(dataBatches.forall(_.triggerMs > 0), "trigger latency captured")
      // the windowed count is a stateful agg: state rows must be visible
      assert(dataBatches.last.stateRows > 0, "state-store rows captured")
      assert(dataBatches.map(_.batchId).distinct.size == dataBatches.size)

      val sum = listener.summaries.find(_.query == "smspec_counts").get
      assert(sum.totalRows >= 70L && sum.nBatches >= 2)
      assert(sum.maxTriggerMs >= sum.minTriggerMs && sum.meanTriggerMs > 0)

      // artifact shape: parseable JSON with both sections populated
      val json = listener.toJson
      assert(json.contains("\"pipelines\"") && json.contains("\"batches\""))
      assert(json.contains("\"smspec_counts\""))
      val parsed = spark.read.json(Seq(json).toDS())
      assert(parsed.columns.toSet == Set("pipelines", "batches"))
    } finally {
      spark.streams.removeListener(listener)
      try spark.catalog.dropTempView("smspec_counts")
      catch { case _: Exception => () }
    }
  }
}
