package graft
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Writes query `name`'s result to `outDir/name` as one parquet file.
    * The previous dump is deleted first, so a query that fails in any way
    * leaves no stale dump for the oracle to pass (tools/CHAOS_CHECK.md);
    * a non-fatal failure is reported on stderr and its partial output
    * deleted too.
    */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
                          name: String, fn: SparkEntry.Q): Unit = {
    val dir = new java.io.File(s"$outDir/$name")
    FileUtils.deleteQuietly(dir)
    try fn(spark, sfDir).coalesce(1).write.parquet(dir.getPath)
    catch { case NonFatal(e) =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      FileUtils.deleteQuietly(dir)
    }
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always runs the full set)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Bench.localSession()
    new java.io.File(outDir).mkdirs()
    // small concurrent pool: single tiny queries underuse the session
    // (same rationale as Bench) and the dump isn't timing-sensitive
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val fs = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => Future(dump(spark, sfDir, outDir, name, fn)) }
    Await.result(Future.sequence(fs), Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
