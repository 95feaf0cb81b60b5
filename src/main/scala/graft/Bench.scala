package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.compact

/** Benchmark main: one in-session pass over the registry.
  *
  * One `local[SPARK_GRAFT_CPUS]` session (default: the host's available
  * processors) warms up, runs a cold pass over [[SparkEntry.queries]]
  * (codegen compilation and first reads land there; reported as
  * `cold_total`, never in `value`), then one warm pass. Each query is
  * timed as `fn(spark, sfDir).count()`, construction included.
  *
  * Output: two JSON lines on stdout, the full record and then the
  * compact line. The compact line is the output contract: it is the last
  * stdout line and stays within [[MaxLineChars]] characters, because
  * callers that parse it keep only a tail of that length. Its keys: `metric` =
  * "total", `value` = `seq_total` = the sum of the warm pass's
  * successful per-query seconds, `unit` = "sec",
  * `queries` (the [[SlowestKept]] slowest warm times), `cold_total`,
  * `n_queries`, `failed` (at most [[MaxFailedListed]] names), `protocol`
  * = "in_session", `host` {cores, mem_gb} and `sf`. The full line has
  * the same keys with every query's warm time in `queries`, every cold
  * time in `queries_cold` and every failed name in `failed`.
  *
  * A query that throws reads -1 in the pass where it threw and is listed
  * in `failed`; the pass goes on. A query that failed only in the cold
  * pass keeps its warm time, in `queries` and in `value`. If the run
  * itself fails, the last line is an error line instead: `value` -1 and
  * an `error` message. End-to-end and per-layer performance is measured by
  * `perfbench/`, not here.
  */
object Bench {

  /** Longest compact line: callers keep only this much of stdout's tail. */
  val MaxLineChars = 2000

  /** Per-query times the compact line keeps, slowest first. */
  val SlowestKept = 25

  /** Failed names the compact line lists; the full line lists all. */
  val MaxFailedListed = 10

  /** Characters of the exception message an error line keeps. */
  val MaxErrorChars = 250

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    guarded(sfDir) {
      val spark = localSession()
      try {
        try {
          spark.range(1000000).selectExpr("sum(id)").collect()
          Tables.load(spark, sfDir, "lineitem").count()
        } catch { case NonFatal(e) => System.err.println(s"[bench] warm-up failed: $e") }
        run(spark, sfDir, SparkEntry.queries)
      } finally spark.stop()
    }.foreach(println)
    System.out.flush()
  }

  /** `body`'s output lines or, if it throws, one compact error line with
    * `value` -1, so the last stdout line parses whatever fails.
    */
  private[graft] def guarded(sfDir: String)(body: => Seq[String]): Seq[String] =
    try body
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] failed: $e")
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(MaxErrorChars)
      Seq(compact(JObject(List[JField](
        "metric" -> JString("total"),
        "value" -> JDouble(-1.0),
        "unit" -> JString("sec"),
        "queries" -> JObject(Nil),
        "n_queries" -> JInt(0),
        "error" -> JString(msg),
        "protocol" -> JString("in_session"),
        "sf" -> JString(sfDir)))))
    }

  /** The session every measurement main builds: `local[n]` with `n`
    * shuffle partitions, where `n` is `SPARK_GRAFT_CPUS` or, unset, the
    * host's available processors.
    */
  private[graft] def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs the cold pass, then the warm pass, over `queries` in name
    * order and returns the output lines, the compact line last.
    */
  private[graft] def run(spark: SparkSession, sfDir: String,
                         queries: Map[String, SparkEntry.Q]): Seq[String] = {
    val named = queries.toSeq.sortBy(_._1)
    def timed(name: String, fn: SparkEntry.Q): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
    }
    def pass(): Seq[(String, Double)] =
      named.map { case (name, fn) => name -> timed(name, fn) }
    val cold = pass()
    val warm = pass()
    lines(sfDir, cold, warm)
  }

  /** The full and the compact line for one cold and one warm pass
    * (name → seconds, -1 for a failed run). A query is failed when
    * either of its runs failed; the totals sum each pass's successful
    * runs.
    */
  private[graft] def lines(sfDir: String, cold: Seq[(String, Double)],
                           warm: Seq[(String, Double)]): Seq[String] = {
    def ms(v: Double): Double = if (v < 0) -1.0 else math.rint(v * 1000) / 1000
    def total(pass: Seq[(String, Double)]): Double =
      ms(pass.map(p => ms(p._2)).filter(_ >= 0).sum)
    def times(pass: Seq[(String, Double)]): JObject =
      JObject(pass.sortBy(_._1).map { case (n, v) => n -> JDouble(ms(v)) }.toList)
    def names(ns: Seq[String]): JArray = JArray(ns.map(JString(_)).toList)
    val failed = (cold ++ warm).collect { case (n, v) if v < 0 => n }.distinct.sorted
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val host = JObject(
      "cores" -> JInt(Runtime.getRuntime.availableProcessors),
      "mem_gb" -> JDouble(math.rint(osBean.getTotalMemorySize * 10.0 / (1L << 30)) / 10))
    def line(qs: Seq[(String, Double)], failedShown: Seq[String],
             extra: List[JField]): String =
      compact(JObject(List[JField](
        "metric" -> JString("total"),
        "value" -> JDouble(total(warm)),
        "unit" -> JString("sec"),
        "queries" -> times(qs),
        "seq_total" -> JDouble(total(warm)),
        "cold_total" -> JDouble(total(cold)),
        "n_queries" -> JInt(warm.size),
        "failed" -> names(failedShown),
        "protocol" -> JString("in_session"),
        "host" -> host,
        "sf" -> JString(sfDir)) ++ extra))
    val slowest = warm.sortBy(-_._2).take(SlowestKept)
    Seq(
      line(warm, failed, List("queries_cold" -> times(cold))),
      line(slowest, failed.take(MaxFailedListed), Nil))
  }
}
