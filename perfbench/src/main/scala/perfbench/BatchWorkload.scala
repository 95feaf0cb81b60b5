package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{PlanMetrics, SparkEntry, Tables}

/** Closed-loop clients over registered batch queries (`SparkEntry.queries`).
  *
  * The clients take queries one at a time from one sequence of passes,
  * each pass the query list in an order drawn from the workload seed;
  * every query's action is the order-independent [[Digest]] of its full
  * result, checked against the digest recorded for the stand-in tables.
  */
object BatchWorkload {

  final case class Def(name: String, queries: Seq[String], tables: Seq[String],
                       sf: Double, clients: Int)

  val sqlQueries: Seq[String] = Seq("q1_pricing_summary", "q3_shipping",
    "q5_local_supplier", "q6_forecast", "join_revenue_by_status",
    "join_orders_by_region", "anti_join_no_orders", "semi_join_open_orders",
    "range_join_prior_activity", "asof_attribution", "window_fn_user_rank",
    "rollup_orders", "cube_orders", "pivot_user_events", "topk_orders",
    "union_acctbal", "intersect_users", "except_users", "distinct_user_types",
    "hopping_counts", "session_counts", "ref_projection", "ref_jovens_filter",
    "ref_case_class", "ref_window_count", "stats_group_p95", "stats_quantiles")

  val dedupQueries: Seq[String] = Seq("dedup_char_jaccard_clusters",
    "dedup_clusters_chain", "dedup_semantic_clusters", "dedup_char_jaccard_pairs",
    "dedup_jaccard_pairs", "dedup_lsh_pairs", "dedup_containment_report_lsh",
    "dedup_edit_clusters", "dedup_family_stats_indexed", "sim_ivfpq_topk")

  /** The stand-in tables are fixed (data seed 42); the workload seed
    * drives only the clients' query orders.
    */
  val DataSeed = 42L

  /** Timed queries a window needs: p80 wants ten beyond it. */
  val MinTimedOps = 54

  def definition(workload: String, nproc: Int): Def = workload match {
    case "sql_serve" => Def(workload, sqlQueries, Seq("region", "nation", "customer",
      "supplier", "part", "orders", "lineitem", "events"), 0.01, nproc)
    case "dedup_batch" => Def(workload, dedupQueries, Seq("documents", "embeddings"), 0.1, 1)
    case other => throw new IllegalArgumentException(s"not a batch workload: $other")
  }

  /** Query order of one pass: a seeded shuffle. */
  def order(seed: Long, pass: Int, queries: Seq[String]): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  final case class Op(client: Int, pass: Int, index: Int, query: String, start: Double,
                      end: Double, ok: Boolean, error: String, digest: String, cold: Boolean)

  /** `query\trows:hashsum` lines, as `OracleDump` prints them. */
  def readExpected(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile, "UTF-8").getLines()
      .filter(_.trim.nonEmpty).map { l =>
        val Array(q, d) = l.split("\t"); q -> d
      }.toMap

  /** Per-operation trace bookkeeping (traced runs only). */
  private final case class OpTrace(opKey: String, span: Span, construct: Span, plan: Span,
                                   execute: Span, phases: Map[String, Double],
                                   exchanges: Int, shuffleRecords: Long, shuffleBytes: Long)

  def run(spark: SparkSession, ctx: Main.Ctx): Map[String, Any] = {
    val d = definition(ctx.workload, ctx.nproc)
    val dataDir = ctx.data.resolve(s"${d.name}-sf${d.sf}-seed$DataSeed")
    val datagenMs = Datagen.ensure(spark, Datagen.Spec(DataSeed, d.sf), dataDir, d.tables)
    val dir = dataDir.toString
    // a SQL client's catalog: every stand-in table as a temp view
    d.tables.foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))

    val expected = readExpected(ctx.expectedDir.resolve(s"${d.name}.tsv"))
    val tracer = ctx.tracer
    val traces = new java.util.concurrent.ConcurrentLinkedQueue[OpTrace]()
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()

    def runOp(client: Int, pass: Int, index: Int, q: String, cold: Boolean): Unit = {
      val opId = tracer.newId()
      val opKey = s"op$opId"
      spark.sparkContext.setLocalProperty("perfbench.op", opKey)
      val t0 = Clock.nowMs
      var t1, t2 = t0
      var qe: org.apache.spark.sql.execution.QueryExecution = null
      var digestFrame: DataFrame = null
      val result = try {
        val df = SparkEntry.queries(q)(spark, dir)
        t1 = Clock.nowMs
        digestFrame = Digest.frame(df)
        qe = digestFrame.queryExecution
        qe.executedPlan
        t2 = Clock.nowMs
        Right(Digest.read(digestFrame).toString)
      } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val t3 = Clock.nowMs
      spark.sparkContext.setLocalProperty("perfbench.op", null)
      val (ok, err, dig) = result match {
        case Right(dg) => expected.get(q) match {
          case Some(e) if e == dg => (true, "", dg)
          case Some(e) => (false, s"digest $dg != expected $e", dg)
          case None => (false, s"no expected digest for $q", dg)
        }
        case Left(e) => (false, e, "")
      }
      ops.add(Op(client, pass, index, q, t0, t3, ok, err, dig, cold))
      if (tracer.enabled && !cold && result.isRight) {
        val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        val sh = PlanMetrics.shuffleStats(digestFrame)
        traces.add(OpTrace(opKey,
          Span(opId, 0, q, "operation", t0, t3, Map("client" -> client, "pass" -> pass)),
          Span(tracer.newId(), opId, "construct", "plan.construct", t0, t1),
          Span(tracer.newId(), opId, "plan", "plan.catalyst", t1, t2),
          Span(tracer.newId(), opId, "execute", "exec", t2, t3),
          phases.toMap, sh.exchanges, sh.recordsWritten, sh.bytesWritten))
      }
    }

    // set-up ends with one untimed cold pass: every query once, dealt
    // round-robin to the workload's clients
    val cold = (0 until d.clients).map { c =>
      new Thread(() => d.queries.zipWithIndex.filter(_._2 % d.clients == c)
        .foreach { case (q, i) => runOp(c, -1, i, q, cold = true) }, s"perfbench-cold-$c")
    }
    cold.foreach(_.start())
    cold.foreach(_.join())

    // the clients take queries from one seeded sequence of whole passes;
    // the window ends with the pass during which --seconds have passed and
    // the window holds enough queries for the reported percentiles, so
    // every window runs each query equally often whatever the seed
    val setupEnd = Clock.nowMs
    val deadline = setupEnd + ctx.seconds * 1000.0
    val n = d.queries.size
    var next = 0
    var last = Int.MaxValue
    def take(): Option[(Int, Int, String)] = synchronized {
      if (next == last) None
      else {
        val (pass, i) = (next / n, next % n)
        if (i == n - 1 && Clock.nowMs >= deadline && next + 1 >= MinTimedOps) last = next + 1
        next += 1
        Some((pass, i, order(ctx.seed, pass, d.queries)(i)))
      }
    }
    val threads = (0 until d.clients).map { c =>
      new Thread(() => {
        var op = take()
        while (op.isDefined) {
          val (pass, i, q) = op.get
          runOp(c, pass, i, q, cold = false)
          op = take()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val measuredEnd = Clock.nowMs

    val allOps = ops.toArray(Array.empty[Op]).toSeq.sortBy(_.start)
    val layers = if (tracer.enabled) Some(layerMetrics(spark, ctx, traces.toArray(Array.empty[OpTrace]).toSeq))
      else None
    Map(
      "kind" -> "batch",
      "setup_end_ms" -> setupEnd,
      "datagen_ms" -> datagenMs,
      "measured_end_ms" -> measuredEnd,
      "clients" -> d.clients,
      "queries_per_pass" -> d.queries.size,
      "scale_factor" -> d.sf,
      "data_seed" -> DataSeed,
      "ops" -> allOps.map(o => Map("client" -> o.client, "pass" -> o.pass, "index" -> o.index,
        "query" -> o.query, "start_ms" -> o.start, "end_ms" -> o.end, "ok" -> o.ok,
        "error" -> o.error, "digest" -> o.digest, "cold" -> o.cold)),
      "layers" -> layers)
  }

  private def layerMetrics(spark: SparkSession, ctx: Main.Ctx, traces: Seq[OpTrace]): Map[String, Double] = {
    Main.drainListenerBus(spark)
    val act = ctx.activity.get
    val jobsByOp = act.jobs.groupBy(_.op)
    val stages = act.stages
    val t = ctx.tracer
    val n = math.max(traces.size, 1).toDouble
    val execs = mutable.ArrayBuffer[Layers.Exec]()
    var constructMs, constructJobs, planMs, execMs, wallMs = 0.0
    var constructSelf, executeSelf, unaccounted = 0.0
    val phaseSum = mutable.Map[String, Double]().withDefaultValue(0.0)
    var exchanges, shRecords, shBytes = 0.0
    traces.foreach { o =>
      Seq(o.span, o.construct, o.plan, o.execute).foreach(t.add)
      val jobs = jobsByOp.getOrElse(o.opKey, Nil)
      val (cj, ej) = jobs.partition(_.start < o.construct.end)
      Layers.jobSpans(t, o.construct.id, cj, stages)
      Layers.jobSpans(t, o.execute.id, ej, stages)
      execs += Layers.exec(ej, stages, ctx.nproc)
      constructMs += o.construct.ms; constructJobs += cj.size
      planMs += o.plan.ms; execMs += o.execute.ms; wallMs += o.span.ms
      constructSelf += o.construct.ms - Intervals.covered(o.construct.start, o.construct.end,
        cj.map(j => (j.start, j.end)))
      executeSelf += o.execute.ms - Intervals.covered(o.execute.start, o.execute.end,
        ej.map(j => (j.start, j.end)))
      unaccounted += o.span.ms - o.construct.ms - o.plan.ms - o.execute.ms
      o.phases.foreach { case (k, v) => phaseSum(k) += v }
      exchanges += o.exchanges; shRecords += o.shuffleRecords; shBytes += o.shuffleBytes
    }
    Layers.execMetrics(execs.toSeq, traces.size) ++ Map(
      "plan.construct_ms" -> constructMs / n,
      "plan.construct_jobs" -> constructJobs / n,
      "plan.analysis_ms" -> phaseSum("analysis") / n,
      "plan.optimization_ms" -> phaseSum("optimization") / n,
      "plan.planning_ms" -> phaseSum("planning") / n,
      "plan.share" -> (if (wallMs > 0) (constructMs + planMs) / wallMs else 0.0),
      "exec.ms" -> execMs / n,
      "exec.exchanges" -> exchanges / n,
      "exec.shuffle_records" -> shRecords / n,
      "exec.shuffle_bytes" -> shBytes / n,
      "self_ms.construct" -> constructSelf / n,
      "self_ms.plan" -> planMs / n,
      "self_ms.execute" -> executeSelf / n,
      "trace.unaccounted_ms" -> unaccounted / n,
      "trace.operations" -> traces.size.toDouble)
  }
}
