package perfbench

import java.nio.file.Path
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.operators.ReferenceQueries
import graft.streaming.Pipelines

/** The reference topology as one Spark session: the `graft-jdbc` source
  * over a stand-in `customers` table → `Pipelines.jovens` → Connect
  * parquet sink, and `Pipelines.idadecont` → Connect JSON sink, both on
  * 500 ms processing-time triggers with on-disk checkpoints.
  *
  * Phases: set-up (rows generated, one small cold run), catch-up (a
  * pre-loaded backlog is drained), live (an open-loop generator publishes
  * rows at a fixed rate for the measured seconds), drain, then the sink
  * contents are checked against batch runs of the same transforms over
  * the same rows.
  */
object StreamWorkload {
  val LiveRowsPerSecond = 200
  val BacklogRows = 30000
  private val WarmRows = 3000
  private val WarmSeconds = 3
  private val Trigger500 = Trigger.ProcessingTime("500 milliseconds")
  private val Topics = Seq("jovens", "idadecont")

  final case class Batch(query: String, queryId: String, batchId: Long, startMs: Double, endMs: Double,
                         endOffsetMicros: Long, inputRows: Long, durations: Map[String, Double],
                         stateRows: Long, stateMemory: Long, stateCommitMs: Double,
                         droppedByWatermark: Long)

  private final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val OffsetMs = """"ms":(-?\d+)""".r
  private val OffsetNs = """"ns":(\d+)""".r

  /** End offset of a graft-jdbc source as epoch micros (-1 = nothing yet). */
  def offsetMicros(json: String): Long =
    if (json == null || json.contains("\"start\"")) -1L
    else {
      val ms = OffsetMs.findFirstMatchIn(json).get.group(1).toLong
      val ns = OffsetNs.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)
      Math.floorDiv(ms, 1000L) * 1000000L + ns / 1000
    }

  private def batchOf(p: StreamingQueryProgress, name: String): Batch = {
    val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
    val st = p.stateOperators.headOption
    Batch(name, p.id.toString, p.batchId, start, start + d.getOrElse("triggerExecution", 0.0),
      offsetMicros(p.sources.head.endOffset), p.numInputRows, d,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
      st.map(_.commitTimeMs.toDouble).getOrElse(0.0),
      st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
  }

  private final case class Topology(queries: Seq[(String, StreamingQuery)], s3: Path)

  private def start(spark: SparkSession, handle: String, dir: Path): Topology = {
    val customers = spark.readStream.format("graft-jdbc").option("sourceHandle", handle).load()
    val s3 = dir.resolve("s3")
    val jovens = Pipelines.startConnectParquetSink(Pipelines.jovens(customers), s3.toString,
      "jovens", dir.resolve("chk-jovens").toString, trigger = Trigger500)
    val cont = Pipelines.startConnectJsonSink(Pipelines.idadecont(customers), s3.toString,
      "idadecont", Seq("window_start", "window_end", "idadecat"),
      dir.resolve("chk-idadecont").toString, trigger = Trigger500)
    Topology(Seq("jovens" -> jovens, "idadecont" -> cont), s3)
  }

  private def committed(q: StreamingQuery): Long =
    Option(q.lastProgress).map(p => offsetMicros(p.sources.head.endOffset)).getOrElse(-1L)

  /** Waits until every query committed an offset ≥ `micros`. */
  private def awaitCommitted(topo: Topology, micros: Long, timeoutMs: Double): Boolean = {
    val deadline = Clock.nowMs + timeoutMs
    def done = topo.queries.forall { case (_, q) => committed(q) >= micros }
    while (!done && Clock.nowMs < deadline) {
      topo.queries.foreach { case (n, q) =>
        q.exception.foreach(e => throw new IllegalStateException(s"stream $n failed", e))
      }
      Thread.sleep(5)
    }
    done
  }

  private def stop(topo: Topology): Unit = topo.queries.foreach { case (_, q) => q.stop() }

  /** Publishes the first `rows` rows at once, due 1 ms apart before now. */
  private def backfill(t: StandInTable, rows: Int): Unit = {
    val start = System.currentTimeMillis() * 1000L - rows * 1000L
    (0 until rows).foreach(i => t.dueMicros(i) = start + i * 1000L)
    t.published.set(rows)
  }

  /** The open-loop generator: publishes the rows after `from` at their due
    * times, LiveRowsPerSecond for `seconds`; each row's dt_update is its
    * due time. Returns how late each publication ran, in ms.
    */
  private def live(t: StandInTable, from: Int, seconds: Int): Seq[Double] = {
    val startMicros = (System.currentTimeMillis() + 50) * 1000L
    val perRowMicros = 1000000L / LiveRowsPerSecond
    (from until t.body.length).foreach(i => t.dueMicros(i) = startMicros + (i - from) * perRowMicros)
    val endMicros = startMicros + seconds * 1000000L
    val lateness = mutable.ArrayBuffer[Double]()
    var next = from
    var nowMicros = System.currentTimeMillis() * 1000L
    while (nowMicros < endMicros) {
      val due = t.after(nowMicros, t.body.length)
      if (due > next) {
        lateness += (nowMicros - t.dueMicros(next)) / 1000.0
        t.published.set(due)
        next = due
      }
      Thread.sleep(1)
      nowMicros = System.currentTimeMillis() * 1000L
    }
    t.published.set(math.max(next, t.after(endMicros - 1, t.body.length)))
    lateness.toSeq
  }

  private def liveRows(seconds: Int): Int = LiveRowsPerSecond * (seconds + 2)

  def run(spark: SparkSession, ctx: Main.Ctx): Map[String, Any] = {
    val log = new ProgressLog
    spark.streams.addListener(log)
    val (body, bodySchema) = StandInTable.generate(spark, ctx.seed, BacklogRows + liveRows(ctx.seconds))

    // cold run, untimed: the same topology over a small separate table,
    // through a backfill and a few seconds of live batches
    val (warmBody, _) = StandInTable.generate(spark, ctx.seed + 1000003L, WarmRows + liveRows(WarmSeconds))
    val warm = new StandInTable(s"perfbench-warm-${ctx.seed}", warmBody, bodySchema)
    backfill(warm, WarmRows)
    warm.register()
    val warmTopo = start(spark, warm.handle, ctx.work.resolve("warm"))
    live(warm, WarmRows, WarmSeconds)
    if (!awaitCommitted(warmTopo, warm.dueMicros(warm.published.get() - 1), 120000))
      throw new IllegalStateException("cold run did not drain")
    stop(warmTopo)

    val table = new StandInTable(s"perfbench-${ctx.seed}", body, bodySchema)
    backfill(table, BacklogRows)
    table.register()
    val dir = ctx.work.resolve("stream")
    log.events.clear()

    val setupEnd = Clock.nowMs
    val topo = start(spark, table.handle, dir)
    val queryIds = topo.queries.map { case (n, q) => q.id.toString -> n }.toMap
    if (!awaitCommitted(topo, table.dueMicros(BacklogRows - 1), 120000))
      throw new IllegalStateException("backlog did not drain")
    val catchupEnd = Clock.nowMs
    val lateness = live(table, BacklogRows, ctx.seconds)
    val published = table.published.get()
    val drained = awaitCommitted(topo, table.dueMicros(published - 1), 30000)
    val measuredEnd = Clock.nowMs
    stop(topo)
    Main.drainListenerBus(spark)
    spark.streams.removeListener(log)

    val batches = log.events.asScala.toSeq.filter(p => queryIds.contains(p.id.toString))
      .filter(_.durationMs.containsKey("addBatch"))
      .map(p => batchOf(p, queryIds(p.id.toString)))
      .groupBy(b => (b.query, b.batchId)).values.map(_.last).toSeq.sortBy(_.endMs)

    val liveLat = liveLatencies(table, batches, BacklogRows, published)
    val backlog = Topics.map(t => t -> batches.filter(b => b.query == t && b.startMs >= catchupEnd)
      .map(b => Seq(b.endMs, backlogAt(table, b, published)))).toMap
    val check = verify(spark, table, published, topo.s3)
    val layers = if (ctx.tracer.enabled) Some(layerMetrics(ctx, batches, topo.s3, published, backlog))
      else None
    Map(
      "kind" -> "stream",
      "setup_end_ms" -> setupEnd,
      "catchup_end_ms" -> catchupEnd,
      "measured_end_ms" -> measuredEnd,
      "live_rows_per_s" -> LiveRowsPerSecond,
      "backlog_rows" -> BacklogRows,
      "live_rows" -> (published - BacklogRows),
      "drained" -> drained,
      "latencies_ms" -> liveLat,
      "generator_late_ms" -> lateness.toSeq,
      "backlog_series" -> backlog,
      "batches" -> batches.map(b => Map("query" -> b.query, "batch" -> b.batchId,
        "start_ms" -> b.startMs, "end_ms" -> b.endMs, "input_rows" -> b.inputRows)),
      "check" -> check,
      "layers" -> layers)
  }

  /** Rows due by a batch's commit minus rows the batch had committed. */
  private def backlogAt(t: StandInTable, b: Batch, published: Int): Double = {
    val due = t.after((b.endMs * 1000).toLong, published)
    val done = t.after(b.endOffsetMicros, published)
    (due - done).toDouble
  }

  /** Per live row: from its due time to the commit of the batch that
    * carried it, the later of the two sinks.
    */
  private def liveLatencies(t: StandInTable, batches: Seq[Batch], from: Int,
                            to: Int): Seq[Option[Double]] = {
    val perQuery = Topics.map(q => batches.filter(_.query == q).sortBy(_.batchId).toIndexedSeq)
    (from until to).map { i =>
      val due = t.dueMicros(i)
      val commits = perQuery.map(_.find(_.endOffsetMicros >= due).map(_.endMs - due / 1000.0))
      if (commits.forall(_.isDefined)) Some(commits.flatten.max) else None
    }
  }

  /** Sink contents vs batch `ReferenceQueries` over the same rows. */
  private def verify(spark: SparkSession, t: StandInTable, published: Int, s3: Path): Map[String, Any] = {
    val rows = (0 until published).map(t.row)
    val all = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), t.schema)
    val expJovens = ReferenceQueries.jovens(all)
    val gotJovens = spark.read.parquet(s3.resolve("raw-data/kafka/jovens").toString)
      .select(expJovens.columns.map(col): _*)
    val missing = expJovens.exceptAll(gotJovens).count()
    val extra = gotJovens.exceptAll(expJovens).count()

    val expCont = ReferenceQueries.idadecont(ReferenceQueries.idadeclass(all))
    val valueSchema = StructType(Seq(StructField("window_start", TimestampType),
      StructField("window_end", TimestampType), StructField("idadecat", StringType),
      StructField("contagem", LongType)))
    val contDir = s3.resolve("raw-data/kafka/idadecont").toString
    // each object name carries batchId·10⁶ + first-record index
    val withBatch = spark.read.text(contDir + "/partition=*/*.json")
      .withColumn("f", input_file_name()).filter(!col("f").contains(".keys."))
      .withColumn("batch", (regexp_extract(col("f"), "\\+(\\d+)\\.json$", 1).cast("long") / 1000000L)
        .cast("long"))
      .select(col("batch"), from_json(col("value"), valueSchema).as("v")).select("batch", "v.*")
    val key = Seq("window_start", "window_end", "idadecat")
    val latest = withBatch.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(key.map(col): _*)
          .orderBy(col("batch").desc)))
      .filter(col("rk") === 1).select((key :+ "contagem").map(col): _*)
    val joined = expCont.alias("e").join(latest.alias("g"), key, "full_outer")
    val wrongKeys = joined.filter(!(col("e.contagem") <=> col("g.contagem"))).count()
    Map("rows" -> published, "jovens_expected" -> expJovens.count(),
      "jovens_missing" -> missing, "jovens_extra" -> extra,
      "idadecont_keys" -> expCont.count(), "idadecont_wrong" -> wrongKeys,
      "failed" -> (missing + extra + wrongKeys))
  }

  private def layerMetrics(ctx: Main.Ctx, batches: Seq[Batch], s3: Path, published: Int,
                           backlog: Map[String, Seq[Seq[Double]]]): Map[String, Double] = {
    val t = ctx.tracer
    val act = ctx.activity.get
    val stages = act.stages
    val jobsByOp = act.jobs.groupBy(_.op)
    val runs = batches.size
    val n = math.max(runs, 1).toDouble
    val phaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
      "commitOffsets")
    val execs = mutable.ArrayBuffer[Layers.Exec]()
    var unaccounted = 0.0
    val ids = batches.map(_.query).distinct.map(q => q -> t.newId()).toMap
    ids.foreach { case (q, id) =>
      val mine = batches.filter(_.query == q)
      t.add(Span(id, 0, q, "streaming.query", mine.map(_.startMs).min, mine.map(_.endMs).max))
    }
    batches.foreach { b =>
      val bid = t.newId()
      t.add(Span(bid, ids(b.query), s"batch ${b.batchId}", "streaming.trigger", b.startMs, b.endMs,
        Map("input_rows" -> b.inputRows)))
      var cursor = b.startMs
      var addBatchId = bid
      phaseOrder.foreach { ph =>
        val d = b.durations.getOrElse(ph, 0.0)
        val sid = t.newId()
        if (ph == "addBatch") addBatchId = sid
        t.add(Span(sid, bid, ph, if (ph == "latestOffset" || ph == "getBatch") "sources"
          else "streaming", cursor, cursor + d))
        cursor += d
      }
      unaccounted += (b.endMs - b.startMs) - phaseOrder.map(b.durations.getOrElse(_, 0.0)).sum
      val jobs = jobsByOp.getOrElse(s"stream:${b.queryId}:${b.batchId}", Nil)
      Layers.jobSpans(t, addBatchId, jobs, stages)
      execs += Layers.exec(jobs, stages, ctx.nproc)
    }
    def mean(k: String) = batches.map(_.durations.getOrElse(k, 0.0)).sum / n
    val stateful = batches.filter(_.query == "idadecont").sortBy(_.batchId)
    val (files, bytes) = Fs.usage(s3)
    val live = backlog.values.flatten.map(_(1)).toSeq
    Layers.execMetrics(execs.toSeq, runs) ++ Map(
      "sources.latest_offset_ms" -> mean("latestOffset"),
      "sources.get_batch_ms" -> mean("getBatch"),
      "sources.rows_read" -> batches.map(_.inputRows).sum.toDouble,
      "sources.backlog_rows" -> (if (live.isEmpty) 0.0 else live.sum / live.size),
      "streaming.query_planning_ms" -> mean("queryPlanning"),
      "streaming.add_batch_ms" -> mean("addBatch"),
      "streaming.wal_commit_ms" -> mean("walCommit"),
      "streaming.commit_offsets_ms" -> mean("commitOffsets"),
      "streaming.trigger_ms" -> mean("triggerExecution"),
      "streaming.state_rows" -> stateful.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_memory_bytes" -> stateful.lastOption.map(_.stateMemory.toDouble).getOrElse(0.0),
      "streaming.state_commit_ms" -> (if (stateful.isEmpty) 0.0
        else stateful.map(_.stateCommitMs).sum / stateful.size),
      "streaming.rows_dropped_by_watermark" -> stateful.map(_.droppedByWatermark).sum.toDouble,
      "streaming.sink_files" -> files.toDouble,
      "streaming.sink_bytes" -> bytes.toDouble,
      "streaming.micro_batches" -> runs.toDouble,
      "trace.unaccounted_ms" -> unaccounted / n,
      "trace.operations" -> runs.toDouble)
  }
}
