package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM session, the way a user's session runs:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --data <dir> --expected <dir> --out <file>
  * }}}
  *
  * Writes the run's raw measurements (operation timings, stream
  * latencies, checks, layer counters) as one JSON object to `--out`;
  * `perfbench/run.py` turns them into the reported metrics. With
  * `--trace 1` it also writes the spans to `<work>/trace.json`.
  */
object Main {

  final case class Ctx(workload: String, seed: Long, seconds: Int, nproc: Int, work: Path,
                       data: Path, expectedDir: Path, tracer: Tracer,
                       activity: Option[SparkActivity])

  def drainListenerBus(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchShim.drainListenerBus(spark.sparkContext)

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val t0 = Clock.nowMs
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    val nproc = Runtime.getRuntime.availableProcessors()
    Fs.deleteTree(work)
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val activity = if (traced) Some(new SparkActivity) else None
    activity.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(workload, seed, seconds, nproc, work, Paths.get(opts("data")).toAbsolutePath,
      Paths.get(opts("expected")), new Tracer(traced), activity)

    val result = try {
      workload match {
        case "sql_serve" | "dedup_batch" => BatchWorkload.run(spark, ctx)
        case "ingest_stream" => StreamWorkload.run(spark, ctx)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
    } finally {
      if (traced) Files.writeString(work.resolve("trace.json"),
        Json.write(Map("spans" -> ctx.tracer.spans.map(_.toJson))))
    }
    val provenance = Map(
      "nproc" -> nproc,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString)
    val full = result ++ Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "process_start_ms" -> t0, "jvm_start_ms" -> java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime.toDouble,
      "peak_rss_mb" -> vmHwmMb(), "provenance" -> provenance)
    Files.writeString(out, Json.write(full))
    spark.stop()
  }
}
