package graft
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Round-16 measurement harness (guide §1: measure first) — NOT part of
  * the driver contract. For each named registered query it separates the
  * two places a query's wall-clock goes that the bench's single
  * `timed()` cannot distinguish:
  *
  *  - CONSTRUCTION: the `fn(spark, sfDir)` call — Catalyst analysis plus
  *    any eager work an operator does while building its frame (count
  *    probes, localCheckpoints, persisted-index ensure-once builds,
  *    driver-side argmax loops like BPE training);
  *  - EXECUTION: the terminal `.count()` on the built frame.
  *
  * Per rep it also counts Spark jobs and completed stages (a listener)
  * and Janino compiles with their compile time (deltas of the count of
  * `CodegenMetrics.METRIC_COMPILATION_TIME` and of the code generator's
  * cumulative compile nanos — the histogram keeps no exact sum), and on
  * the last rep reads the executed plan's shuffle records/bytes
  * via [[PlanMetrics]]. Output: one parseable line per (query, rep) and
  * a summary line per query. Optionally (`SPARK_GRAFT_PLAN_DIR`) writes
  * `explain("formatted")` of each query to `<dir>/<name>.txt` — how the
  * round's before/after plan artifacts are generated.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... \
  *     sbt "runMain graft.ProfileQuery q1_pricing_summary dedup_clusters"
  * With no args it profiles every registered query (slow — name what
  * you need).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "3").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val spark = Bench.localSession()
    spark.sparkContext.setLogLevel("ERROR")

    // session + codegen warm-up (same as Bench)
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      Tables.load(spark, sfDir, "lineitem").count()
    } catch { case NonFatal(e) => System.err.println(s"[profile] warm-up failed: $e") }

    @volatile var jobs = 0
    @volatile var stages = 0
    val stageLog =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var logStages = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        if (logStages) {
          val i = s.stageInfo
          val dur = (for (a <- i.completionTime; b <- i.submissionTime)
            yield a - b).getOrElse(-1L)
          val m = i.taskMetrics
          stageLog.add(f"  stage=${i.stageId} dur=${dur}ms tasks=${i.numTasks}" +
            f" exec=${m.executorRunTime}ms cpu=${m.executorCpuTime / 1000000}ms" +
            f" shufReadRec=${m.shuffleReadMetrics.recordsRead}" +
            f" shufWriteRec=${m.shuffleWriteMetrics.recordsWritten}" +
            f" name=${i.name.takeWhile(_ != '\n').take(60)}")
        }
      }
    })

    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var lastDf: org.apache.spark.sql.DataFrame = null
      val rows = (1 to reps).map { rep =>
        jobs = 0; stages = 0
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compileNs0 = CodeGenerator.compileTime
        // log stage-level detail for the LAST rep (covers the eager
        // construction jobs of loop-bearing operators too)
        if (rep == reps) { logStages = true; stageLog.clear() }
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val constructJobs = jobs
        val n = df.count()
        val t2 = System.nanoTime()
        // listener events are posted asynchronously; give the bus a beat
        Thread.sleep(200)
        lastDf = df
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
        val line = f"[profile] $name rep$rep construct=${(t1 - t0) / 1e9}%.3f" +
          f" exec=${(t2 - t1) / 1e9}%.3f jobs=$jobs (construct=$constructJobs)" +
          f" stages=$stages compiles=$compiles compileMs=$compileMs%.1f rows=$n"
        println(line)
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      val (bc, be) = (rows.map(_._1).min, rows.map(_._2).min)
      // one extra rep executed via collect() on the frame's OWN
      // QueryExecution: count() plans a separate aggregate on top, so
      // only this rep yields the AQE-final plan and real shuffle metrics
      val t3 = System.nanoTime()
      val st =
        try {
          val (n, s) = PlanMetrics.measure(lastDf)
          f"collectExec=${(System.nanoTime() - t3) / 1e9}%.3f rows=$n " +
            f"shuffles=${s.exchanges} shufRecords=${s.recordsWritten} shufMB=${s.bytesWritten / 1e6}%.1f"
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[profile] $name shuffle stats failed: $e")
            s"shuffles=? (${e.getMessage})"
        }
      logStages = false
      println(f"[profile-best] $name construct=$bc%.3f exec=$be%.3f total=${bc + be}%.3f $st")
      Thread.sleep(300) // let the listener bus drain before printing stages
      stageLog.forEach(l => println(s"[stage] $name$l"))
      planDir.foreach { d =>
        val p = java.nio.file.Paths.get(d)
        java.nio.file.Files.createDirectories(p)
        // the EXECUTED plan (AQE final, reused stages annotated) — the
        // collect above ran THIS QueryExecution, so toString shows the
        // adaptively executed tree, same discipline as PlanDump
        val txt = lastDf.queryExecution.executedPlan.toString
        java.nio.file.Files.writeString(p.resolve(s"$name.txt"), txt)
      }
    }
    spark.stop()
  }
}
