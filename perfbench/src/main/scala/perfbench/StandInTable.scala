package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

import graft.sources.{ChunkFetcher, ChunkSource, FakeData, GraftJdbcStream, JdbcOffset}

/** Stand-in for the reference's Postgres `customers` table, read by the
  * engine's `graft-jdbc` source through its `sourceHandle` option.
  *
  * Rows are generated up front from the workload seed (set-up); a row
  * becomes visible when it is published, and its `dt_update` is its due
  * time, so the timestamp-mode offset the source commits tells exactly
  * which rows a micro-batch carried. Like an indexed table, a range
  * lookup is a binary search on `dt_update`.
  */
final class StandInTable(val handle: String, val body: Array[Row], bodySchema: StructType) {
  val schema: StructType = bodySchema.add(StructField("dt_update", TimestampType))
  /** Due time of each row in epoch microseconds, ascending. */
  val dueMicros: Array[Long] = new Array[Long](body.length)
  val published = new AtomicInteger(0)

  def row(i: Int): Row = Row.fromSeq(body(i).toSeq :+ StandInTable.ts(dueMicros(i)))

  /** First index whose due time is > micros (within the published prefix). */
  def after(micros: Long, limit: Int): Int = {
    var lo = 0; var hi = limit
    while (lo < hi) { val m = (lo + hi) >>> 1; if (dueMicros(m) <= micros) lo = m + 1 else hi = m }
    lo
  }

  /** Rows in (lower, upper] of the published prefix. */
  def range(lower: Option[JdbcOffset], upper: Option[Timestamp]): (Int, Int) = {
    val n = published.get()
    val from = lower.map(o => after(StandInTable.micros(o.ts), n)).getOrElse(0)
    val to = upper.map(u => after(StandInTable.micros(u), n)).getOrElse(n)
    (from, math.max(from, to))
  }

  val source: ChunkSource = new ChunkSource {
    override def timestampCol: String = "dt_update"
    override def incrementingCol: Option[String] = None
    override def chunk(lower: Option[JdbcOffset], upper: Option[Timestamp],
                       limit: Option[Int]): DataFrame = {
      val (a, b) = range(lower, upper)
      val rows = (a until limit.map(l => math.min(b, a + l)).getOrElse(b)).map(row)
      val spark = SparkSession.active
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    }
    override def chunkKeys(lower: Option[JdbcOffset], upper: Option[Timestamp],
                           limit: Option[Int]): Array[JdbcOffset] = {
      val (a, b) = range(lower, upper)
      val end = limit.map(l => math.min(b, a + l)).getOrElse(b)
      (a until end).map(i => JdbcOffset(StandInTable.ts(dueMicros(i)))).toArray
    }
    override def rangeFetcher: Option[ChunkFetcher] = Some(StandInFetcher(handle))
  }

  /** Makes the table readable as `graft-jdbc` with `sourceHandle` = handle. */
  def register(): Unit = {
    StandInTable.registry.put(handle, this)
    GraftJdbcStream.registry.put(handle, source)
  }
}

/** Executor-side range reader; in a `local[n]` session the executor
  * shares the driver's JVM, so it resolves the table by handle.
  */
final case class StandInFetcher(handle: String) extends ChunkFetcher {
  override def fetch(schema: StructType, timestampCol: String, incrementingCol: Option[String],
                     lower: Option[JdbcOffset], upper: JdbcOffset): Iterator[Row] = {
    val t = StandInTable.registry.get(handle)
    val (a, b) = t.range(lower, Some(upper.ts))
    (a until b).iterator.map(t.row)
  }
}

object StandInTable {
  val registry = new ConcurrentHashMap[String, StandInTable]()

  def micros(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000).toInt)
    t
  }

  /** `n` customer rows (all columns but `dt_update`) for one seed: the
    * engine's own fake-customer generator over a seed-specific id range.
    */
  def generate(spark: SparkSession, seed: Long, n: Int): (Array[Row], StructType) = {
    val df = spark.range(n).select(
      FakeData.customerColumns(col("id") + seed * (1L << 32)): _*).drop("dt_update")
    (df.collect(), df.schema)
  }
}
