package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as Spark's listener and progress timestamps.
  */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Double, end: Double, attrs: Map[String, Any] = Map.empty) {
  def ms: Double = end - start
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
    "layer" -> layer, "start_ms" -> start, "end_ms" -> end) ++ attrs
}

/** In-memory span store; written out once when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val store = new ConcurrentLinkedQueue[Span]()
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) store.add(s)
  def spans: Seq[Span] = store.asScala.toSeq.sortBy(s => (s.start, s.id))
}

object Intervals {
  /** Length of the part of [s, e] covered by the union of `xs`. */
  def covered(s: Double, e: Double, xs: Seq[(Double, Double)]): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curS.isNaN) { curS = a; curE = b }
      else if (a <= curE) curE = math.max(curE, b)
      else { total += curE - curS; curS = a; curE = b }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Spark jobs, stages and tasks as seen through the public listener API,
  * each attributed to the benchmark operation that caused it: the
  * `perfbench.op` local property for batch queries, the streaming query
  * id and batch id for micro-batches.
  */
object SparkActivity {
  final case class Job(id: Int, op: String, start: Double, end: Double, stages: Seq[Int])
  final case class Stage(id: Int, op: String, submit: Double, complete: Double, tasks: Int,
                         runMs: Double, cpuMs: Double, gcMs: Double, spillBytes: Double,
                         inputRows: Double, inputBytes: Double, launchWaitMs: Double,
                         peakExecMem: Double)
}

final class SparkActivity extends SparkListener {
  import SparkActivity._

  private val jobStart = mutable.Map[Int, (String, Double, Seq[Int])]()
  private val jobsDone = mutable.ArrayBuffer[Job]()
  private val stageOp = mutable.Map[Int, String]()
  private val stagesDone = mutable.ArrayBuffer[Stage]()
  // per (stage, attempt): summed launch wait and max peak execution memory of its tasks
  private val taskAgg = mutable.Map[(Int, Int), (Double, Double)]()

  private def opOf(p: java.util.Properties): String =
    if (p == null) "other"
    else Option(p.getProperty("perfbench.op")).getOrElse {
      val q = p.getProperty("sql.streaming.queryId")
      val b = p.getProperty("streaming.sql.batchId")
      if (q != null && b != null) s"stream:$q:$b" else "other"
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    jobStart(e.jobId) = (op, e.time.toDouble, e.stageIds)
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0, stages) =>
      jobsDone += Job(e.jobId, op, t0, e.time.toDouble, stages)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val peak = Option(e.taskMetrics).map(_.peakExecutionMemory.toDouble).getOrElse(0.0)
    val (w, m) = taskAgg.getOrElse(key, (0.0, 0.0))
    // launch wait is measured against the stage's submission in onStageCompleted
    taskAgg(key) = (w + e.taskInfo.launchTime.toDouble, math.max(m, peak))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val submit = i.submissionTime.getOrElse(0L).toDouble
    val (launchSum, peak) = taskAgg.remove((i.stageId, i.attemptNumber())).getOrElse((0.0, 0.0))
    stagesDone += Stage(i.stageId, stageOp.getOrElse(i.stageId, "other"), submit,
      i.completionTime.getOrElse(0L).toDouble, i.numTasks,
      if (m == null) 0.0 else m.executorRunTime.toDouble,
      if (m == null) 0.0 else m.executorCpuTime / 1e6,
      if (m == null) 0.0 else m.jvmGCTime.toDouble,
      if (m == null) 0.0 else (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      if (m == null) 0.0 else m.inputMetrics.recordsRead.toDouble,
      if (m == null) 0.0 else m.inputMetrics.bytesRead.toDouble,
      launchSum - submit * i.numTasks, peak)
  }

  def jobs: Seq[Job] = synchronized(jobsDone.toSeq)
  def stages: Seq[Stage] = synchronized(stagesDone.toSeq)
}

/** Per-operation layer accounting shared by the batch and streaming
  * workloads: the Spark runtime's share of one operation, and the spans
  * that show it.
  */
object Layers {
  final case class Exec(jobs: Int, stages: Int, tasks: Int, taskRunMs: Double,
                        taskCpuMs: Double, slotMs: Double, gcMs: Double, spillBytes: Double,
                        scanRows: Double, scanBytes: Double, launchWaitMs: Double,
                        peakExecMem: Double, jobSelfMs: Double)

  def exec(jobs: Seq[SparkActivity.Job], stages: Seq[SparkActivity.Stage], slots: Int): Exec = {
    val ids = jobs.flatMap(_.stages).toSet
    val st = stages.filter(s => ids(s.id))
    val jobSelf = jobs.map { j =>
      val mine = st.filter(s => j.stages.contains(s.id)).map(s => (s.submit, s.complete))
      (j.end - j.start) - Intervals.covered(j.start, j.end, mine)
    }.sum
    Exec(jobs.size, st.size, st.map(_.tasks).sum, st.map(_.runMs).sum, st.map(_.cpuMs).sum,
      st.map(s => (s.complete - s.submit) * slots).sum, st.map(_.gcMs).sum,
      st.map(_.spillBytes).sum, st.map(_.inputRows).sum, st.map(_.inputBytes).sum,
      st.map(_.launchWaitMs).sum, if (st.isEmpty) 0.0 else st.map(_.peakExecMem).max, jobSelf)
  }

  def jobSpans(t: Tracer, parent: Long, jobs: Seq[SparkActivity.Job],
               stages: Seq[SparkActivity.Stage]): Unit =
    jobs.foreach { j =>
      val jid = t.newId()
      t.add(Span(jid, parent, s"job ${j.id}", "spark.job", j.start, j.end))
      stages.filter(s => j.stages.contains(s.id)).foreach { s =>
        t.add(Span(t.newId(), jid, s"stage ${s.id}", "spark.stage", s.submit, s.complete,
          Map("tasks" -> s.tasks, "task_run_ms" -> s.runMs, "task_cpu_ms" -> s.cpuMs)))
      }
    }

  /** Per-operation means of the runtime counters (fractions pooled). */
  def execMetrics(all: Seq[Exec], nOps: Int): Map[String, Double] = {
    val n = math.max(nOps, 1).toDouble
    def s(f: Exec => Double) = all.map(f).sum
    val slotMs = s(_.slotMs)
    val tasks = s(_.tasks.toDouble)
    Map(
      "exec.jobs" -> s(_.jobs.toDouble) / n,
      "exec.stages" -> s(_.stages.toDouble) / n,
      "exec.tasks" -> tasks / n,
      "exec.task_run_ms" -> s(_.taskRunMs) / n,
      "exec.task_cpu_ms" -> s(_.taskCpuMs) / n,
      "exec.slot_idle_frac" -> (if (slotMs > 0) math.max(0.0, (slotMs - s(_.taskRunMs)) / slotMs) else 0.0),
      "exec.task_launch_wait_ms" -> (if (tasks > 0) s(_.launchWaitMs) / tasks else 0.0),
      "exec.spill_bytes" -> s(_.spillBytes) / n,
      "exec.gc_ms" -> s(_.gcMs) / n,
      "exec.peak_exec_mem_bytes" -> (if (all.isEmpty) 0.0 else all.map(_.peakExecMem).max),
      "scan.rows" -> s(_.scanRows) / n,
      "scan.bytes" -> s(_.scanBytes) / n,
      "self_ms.spark_job" -> s(_.jobSelfMs) / n)
  }
}
