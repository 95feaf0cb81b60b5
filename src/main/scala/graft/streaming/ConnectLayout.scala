package graft.streaming

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Confluent-S3-sink object layout writers
  * (`/root/reference/connect_s3_sink_jovens.config`,
  * `connect_s3_sink_count.config`): `topics.dir/<topic>/partition=<p>/`
  * directories holding `<topic>+<partition>+<startOffset>.<ext>` objects
  * of at most flush.size records, with optional record-aligned
  * `.keys.<ext>` sidecars (`store.kafka.keys=true`).
  *
  * Off-broker there is no Kafka offset, so startOffset is modeled as
  * `batchId·10⁶ + index-of-first-record` — monotonic within a batch and
  * DETERMINISTIC under micro-batch replay (a replayed batch regenerates
  * the same object names and overwrites, mirroring how the real sink's
  * offset-derived names make S3 writes idempotent). A batch therefore
  * owns the names `[batchId·10⁶, (batchId+1)·10⁶)`: both writers throw
  * before naming an object past that range, because the next batch's
  * replay-overwrite would delete it.
  *
  * How objects reach the file system: every read, write, `mkdirs`,
  * `rename` and `delete` goes through [[sinkConf]], the session's Hadoop
  * conf (so `spark.hadoop.*` keys such as S3A credentials or endpoints
  * apply) with the [[FileOverlay]] on top. The overlay only touches the
  * `file:` scheme: it resolves it to [[PosixLocalFileSystem]], because
  * without the native Hadoop library the stock local file system spawns
  * one `chmod` process per object, `.crc` sidecar and directory, and at
  * flush.size 10 those spawns, not the bytes, bound how fast a backlog
  * drains. Other schemes resolve exactly as the session configures them.
  */
object ConnectLayout {

  private val OffsetStride = 1000000L

  /** Hadoop keys that resolve `file:` to [[PosixLocalFileSystem]]. The
    * cache is off for `file:` because `FileSystem.get` caches one
    * instance per scheme and user, whatever the conf asks for: a stock
    * local file system cached earlier in the JVM would be handed back.
    * [[Pipelines.startCheckpointed]] sets the same keys around a
    * streaming query's `start()`.
    */
  private[streaming] val FileOverlay: Map[String, String] = Map(
    "fs.file.impl" -> classOf[PosixLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The object name of a batch's record `offset`, refused once it leaves
    * the batch's name range.
    */
  private def startOffset(batchId: Long, offset: Long): Long = {
    if (offset >= OffsetStride)
      throw new IOException(s"Connect sink batch $batchId: record offset $offset reaches the " +
        s"next batch's object names (stride $OffsetStride records per batch)")
    batchId * OffsetStride + offset
  }

  /** The session's Hadoop conf with [[FileOverlay]] applied. */
  def sinkConf(spark: SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    FileOverlay.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Executor-side JSON object writer for one task's rows (columns
    * `__partition`, `__key`, `__value`), through `conf` (a [[sinkConf]]
    * shipped from the driver). Rows are grouped by Kafka-style
    * partition (hash collisions can co-locate two partitions in one Spark
    * task — each still writes to its own directory), buffered to
    * `flushSize`, and flushed as a data object + aligned keys object.
    * Buffers hold at most flushSize small JSON strings per partition —
    * executor memory is bounded regardless of batch size.
    */
  def writeJsonObjects(rows: Iterator[Row], conf: Configuration, baseDir: String,
                       topic: String, flushSize: Int, batchId: Long): Unit = {
    val fs = new Path(baseDir).getFileSystem(conf)
    def put(path: Path, lines: Iterator[String]): Unit = {
      val out = fs.create(path, true) // creates partition=<p> on first use
      try out.write(lines.mkString("", "\n", "\n").getBytes(UTF_8))
      finally out.close()
    }
    var first = true
    var pIdx = 0; var kIdx = 0; var vIdx = 0
    val bufs = scala.collection.mutable.Map
      .empty[Int, (scala.collection.mutable.ArrayBuffer[(String, String)], Long)]
    def flush(p: Int): Unit = bufs.get(p).foreach { case (buf, start) =>
      if (buf.nonEmpty) {
        val dir = new Path(s"$baseDir/partition=$p")
        val name = s"$topic+$p+${startOffset(batchId, start)}"
        put(new Path(dir, s"$name.json"), buf.iterator.map(_._2))
        put(new Path(dir, s"$name.keys.json"), buf.iterator.map(_._1))
        bufs(p) = (buf.empty, start + buf.length)
      }
    }
    rows.foreach { r =>
      if (first) {
        pIdx = r.fieldIndex("__partition")
        kIdx = r.fieldIndex("__key")
        vIdx = r.fieldIndex("__value")
        first = false
      }
      val p = r.getInt(pIdx)
      val (buf, _) = bufs.getOrElseUpdate(p,
        (scala.collection.mutable.ArrayBuffer.empty[(String, String)], 0L))
      buf += ((r.getString(kIdx), r.getString(vIdx)))
      if (buf.length >= flushSize) flush(p)
    }
    bufs.keys.foreach(flush)
  }

  /** Batch-side parquet object writer: Spark's parquet writer produces
    * flush-size files in a scratch dir, which are then MOVED to their
    * Connect object names under `partition=0` (unkeyed single-partition
    * topic — the `jovens` shape). startOffset per object = batch base +
    * cumulative file index × flushSize (parquet footers are not re-read
    * to count records; within-batch file order stands in for record
    * position — same monotonicity, zero extra IO). The scratch write
    * gets [[FileOverlay]] as writer options, which Spark lays over the
    * session's Hadoop conf for the job and its tasks. A refused move
    * throws: a silently dropped object would lose records.
    */
  def writeParquetObjects(batch: DataFrame, topicDir: String, topic: String,
                          flushSize: Int, batchId: Long): Unit = {
    val scratch = s"$topicDir/.scratch-batch-$batchId"
    batch.write.mode("overwrite").options(FileOverlay)
      .option("maxRecordsPerFile", flushSize).parquet(scratch)
    val dir = new Path(s"$topicDir/partition=0")
    val fs = dir.getFileSystem(sinkConf(batch.sparkSession))
    fs.mkdirs(dir)
    val parts = fs.listStatus(new Path(scratch))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val offsets = parts.indices.map(i => startOffset(batchId, i.toLong * flushSize))
    parts.zip(offsets).foreach { case (src, offset) =>
      val dst = new Path(dir, s"$topic+0+$offset.parquet")
      if (fs.exists(dst)) fs.delete(dst, false) // replayed batch overwrites
      if (!fs.rename(src, dst))
        throw new IOException(s"Connect sink could not move $src to $dst")
    }
    fs.delete(new Path(scratch), true)
  }
}
