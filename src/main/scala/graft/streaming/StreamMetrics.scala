package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import scala.jdk.CollectionConverters._

/** Per-batch latency/rate capture for the streaming pipelines — the
  * streaming twin of [[graft.PlanMetrics]]. Where PlanMetrics reads an
  * executed BATCH plan's shuffle metrics, this listens to the engine's
  * streaming progress bus and keeps one record per micro-batch: input
  * rows, input/processed rows-per-second, trigger latency and its
  * addBatch component, and total state-store rows. That is the
  * operational envelope the reference pipeline is shaped by — its
  * connectors poll every 500 ms and ksqlDB emits per record
  * (reference `connect_postgres.config`, `docker-compose.yml` ksqldb
  * cache settings), so batch-duration vs poll-interval is THE latency
  * figure a user migrating from it will ask for.
  *
  * Events arrive asynchronously on Spark's listener bus, so readers
  * poll via [[awaitBatches]] rather than assuming delivery after
  * `processAllAvailable()`. One instance can watch any number of
  * concurrent queries; records are grouped by query name.
  */
final class StreamMetrics extends StreamingQueryListener {
  import StreamMetrics._

  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[BatchMetric]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(event: QueryIdleEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    def dur(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    def rate(v: Double): Double = if (v.isNaN || v.isInfinite) 0.0 else v
    buf.add(BatchMetric(
      query = Option(p.name).getOrElse(p.id.toString),
      batchId = p.batchId,
      numInputRows = p.numInputRows,
      inputRowsPerSecond = rate(p.inputRowsPerSecond),
      processedRowsPerSecond = rate(p.processedRowsPerSecond),
      triggerMs = dur("triggerExecution"),
      addBatchMs = dur("addBatch"),
      stateRows = Option(p.stateOperators)
        .map(_.map(_.numRowsTotal).sum).getOrElse(0L)))
    ()
  }

  /** All captured batches, oldest first. */
  def batches: Seq[BatchMetric] = buf.iterator().asScala.toSeq

  /** Block until `query` has at least `n` batch records (listener-bus
    * delivery is async) or `timeoutMs` elapses; returns the records seen.
    */
  def awaitBatches(query: String, n: Int,
                   timeoutMs: Long = 10000L): Seq[BatchMetric] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var seen = batches.filter(_.query == query)
    while (seen.size < n && System.nanoTime() < deadline) {
      Thread.sleep(50)
      seen = batches.filter(_.query == query)
    }
    seen
  }

  /** Per-query rollup over the captured batches. */
  def summaries: Seq[QuerySummary] =
    batches.groupBy(_.query).toSeq.sortBy(_._1).map { case (q, bs) =>
      val triggers = bs.map(_.triggerMs)
      QuerySummary(
        query = q,
        nBatches = bs.size.toLong,
        totalRows = bs.map(_.numInputRows).sum,
        minTriggerMs = triggers.min,
        meanTriggerMs = triggers.sum.toDouble / triggers.size,
        maxTriggerMs = triggers.max,
        meanProcessedRowsPerSec = {
          val rs = bs.map(_.processedRowsPerSecond).filter(_ > 0)
          if (rs.isEmpty) 0.0 else rs.sum / rs.size
        },
        lastStateRows = bs.maxBy(_.batchId).stateRows)
    }

  /** Render summaries + raw batches as one JSON document (hand-rolled —
    * flat numeric/string fields only, nothing to escape beyond quotes).
    */
  def toJson: String = {
    def s(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def d(v: Double) = if (v.isNaN || v.isInfinite) "0" else f"$v%.3f"
    val sums = summaries.map { m =>
      s(m.query) + ":{" +
        s"""\"n_batches\":${m.nBatches},\"total_rows\":${m.totalRows},""" +
        s"""\"min_trigger_ms\":${m.minTriggerMs},\"mean_trigger_ms\":${d(m.meanTriggerMs)},""" +
        s"""\"max_trigger_ms\":${m.maxTriggerMs},""" +
        s"""\"mean_processed_rows_per_sec\":${d(m.meanProcessedRowsPerSec)},""" +
        s"""\"last_state_rows\":${m.lastStateRows}}"""
    }.mkString(",")
    val raw = batches.map { b =>
      "{" + s"""\"query\":${s(b.query)},\"batch_id\":${b.batchId},""" +
        s"""\"rows\":${b.numInputRows},\"trigger_ms\":${b.triggerMs},""" +
        s"""\"add_batch_ms\":${b.addBatchMs},""" +
        s"""\"processed_rows_per_sec\":${d(b.processedRowsPerSecond)},""" +
        s"""\"state_rows\":${b.stateRows}}"""
    }.mkString(",")
    s"""{"pipelines":{$sums},"batches":[$raw]}"""
  }
}

object StreamMetrics {

  /** One micro-batch as reported on the progress bus. */
  final case class BatchMetric(query: String, batchId: Long,
                               numInputRows: Long,
                               inputRowsPerSecond: Double,
                               processedRowsPerSecond: Double,
                               triggerMs: Long, addBatchMs: Long,
                               stateRows: Long)

  /** Per-query rollup. */
  final case class QuerySummary(query: String, nBatches: Long,
                                totalRows: Long, minTriggerMs: Long,
                                meanTriggerMs: Double, maxTriggerMs: Long,
                                meanProcessedRowsPerSec: Double,
                                lastStateRows: Long)
}
