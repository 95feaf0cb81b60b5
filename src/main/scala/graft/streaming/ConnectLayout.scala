package graft.streaming

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{CodecFactory, ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopStreams
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.util.SerializableConfiguration

/** Confluent-S3-sink object layout writers
  * (`/root/reference/connect_s3_sink_jovens.config`,
  * `connect_s3_sink_count.config`): `topics.dir/<topic>/partition=<p>/`
  * directories holding `<topic>+<partition>+<startOffset>.<ext>` objects
  * of at most flush.size records, with optional record-aligned
  * `.keys.<ext>` sidecars (`store.kafka.keys=true`).
  *
  * Naming: off-broker there is no Kafka offset, so startOffset is
  * `batchId·10⁶` plus the first record's index within its writer's slot of
  * those 10⁶ names. The JSON sink has one writer per `partition=<p>`, whose
  * slot is all of them; the parquet sink's Spark partition `i` of `n` shares
  * `partition=0` and owns `[i·⌊10⁶/n⌋, (i+1)·⌊10⁶/n⌋)`. Names are unique,
  * monotonic in record order and DETERMINISTIC per batch and partitioning,
  * so a replayed batch overwrites its own objects, as the real sink's
  * offset-derived names make S3 writes idempotent. A name past its slot
  * throws: it belongs to another writer or to the next batch.
  *
  * Publishing: each object is written under `.<name>.tmp` in its own
  * directory (readers skip dot files), then renamed, so no reader sees a
  * partial object. Exactly-once comes from the replayable source plus these
  * idempotent names (the Structured Streaming model), so no commit
  * protocol, scratch directory or post-job move is needed: a failed or
  * replayed batch is rewritten, never undone.
  *
  * How objects reach the file system: every write, `rename` and `delete`
  * goes through [[sinkConf]], the session's Hadoop conf (so `spark.hadoop.*`
  * keys such as S3A credentials or endpoints apply) with the
  * [[FileOverlay]] on top. The overlay only touches the `file:` scheme: it
  * resolves it to [[PosixLocalFileSystem]], because without the native
  * Hadoop library the stock local file system spawns one `chmod` process
  * per object, `.crc` sidecar and directory, and at flush.size 10 those
  * spawns, not the bytes, bound how fast a backlog drains. Other schemes
  * resolve exactly as the session configures them.
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

  /** The object name of record `index` of slot `slot` of `slots` in batch
    * `batchId`, refused once it leaves the slot.
    */
  private def startOffset(batchId: Long, slot: Int, slots: Int, index: Long): Long = {
    val size = OffsetStride / slots
    if (index >= size)
      throw new IOException(s"Connect sink batch $batchId: record offset $index is past slot " +
        s"$slot of $slots ($size names each; stride $OffsetStride names per batch)")
    batchId * OffsetStride + slot * size + index
  }

  /** The session's Hadoop conf with [[FileOverlay]] applied. */
  def sinkConf(spark: SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    FileOverlay.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** The dot-prefixed temp name an object is written under. */
  private def temp(obj: Path): Path = new Path(obj.getParent, s".${obj.getName}.tmp")

  /** Renames the written temp of `obj` to `obj`, replacing the object a
    * replayed batch wrote before: a file system whose rename refuses an
    * existing target gets it deleted first. A refused rename throws: a
    * silently dropped object would lose records.
    */
  private def publish(fs: FileSystem, obj: Path): Unit =
    if (!fs.rename(temp(obj), obj) && !(fs.delete(obj, false) && fs.rename(temp(obj), obj)))
      throw new IOException(s"Connect sink could not publish ${temp(obj)} as $obj")

  /** Executor-side JSON object writer for one task's rows (columns
    * `__partition`, `__key`, `__value`), through `conf` (a [[sinkConf]]
    * shipped from the driver). Rows are grouped by Kafka-style
    * partition (hash collisions can co-locate two partitions in one Spark
    * task — each still writes to its own directory), buffered to
    * `flushSize`, and flushed as a data object + aligned keys object,
    * keys first, so a visible data object always has its keys.
    * Buffers hold at most flushSize small JSON strings per partition —
    * executor memory is bounded regardless of batch size.
    */
  def writeJsonObjects(rows: Iterator[Row], conf: Configuration, baseDir: String,
                       topic: String, flushSize: Int, batchId: Long): Unit = {
    val fs = new Path(baseDir).getFileSystem(conf)
    def put(obj: Path, lines: Iterator[String]): Unit = {
      val out = fs.create(temp(obj), true) // creates partition=<p> on first use
      try out.write(lines.mkString("", "\n", "\n").getBytes(UTF_8))
      finally out.close()
      publish(fs, obj)
    }
    var first = true
    var pIdx = 0; var kIdx = 0; var vIdx = 0
    val bufs = scala.collection.mutable.Map
      .empty[Int, (ArrayBuffer[(String, String)], Long)]
    def flush(p: Int): Unit = bufs.get(p).foreach { case (buf, start) =>
      if (buf.nonEmpty) {
        val dir = new Path(s"$baseDir/partition=$p")
        val name = s"$topic+$p+${startOffset(batchId, 0, 1, start)}"
        put(new Path(dir, s"$name.keys.json"), buf.iterator.map(_._1))
        put(new Path(dir, s"$name.json"), buf.iterator.map(_._2))
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
      val (buf, _) = bufs.getOrElseUpdate(p, (ArrayBuffer.empty[(String, String)], 0L))
      buf += ((r.getString(kIdx), r.getString(vIdx)))
      if (buf.length >= flushSize) flush(p)
    }
    bufs.keys.foreach(flush)
  }

  /** Parquet object writer for an unkeyed single-partition topic (the
    * `jovens` shape): every Spark partition of `batch` writes its rows as
    * flush-size objects straight into `partition=0`, under the names of
    * its slot. Before the job, Spark's parquet write support is only
    * configured on [[sinkConf]] (`ParquetFileFormat.prepareWrite`: schema,
    * codec, timestamp type) and shipped; only the tasks touch files.
    */
  def writeParquetObjects(batch: DataFrame, topicDir: String, topic: String,
                          flushSize: Int, batchId: Long): Unit = {
    require(flushSize > 0, s"flushSize must be > 0, got $flushSize")
    val spark = batch.sparkSession
    val job = Job.getInstance(sinkConf(spark))
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, batch.schema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val rows = batch.queryExecution.toRdd
    val slots = rows.getNumPartitions
    val dir = s"$topicDir/partition=0"
    spark.sparkContext.runJob(rows, (task: TaskContext, it: Iterator[InternalRow]) =>
      writeParquetSlot(it, conf.value, dir, topic, flushSize, batchId, task.partitionId, slots))
  }

  /** One task of [[writeParquetObjects]]: one write support and one codec
    * factory for the task, one parquet-hadoop `ParquetWriter` per object.
    * The objects are published once the partition is written, so a task
    * that fails (a slot overrun included) publishes none and deletes its
    * temps. Writer properties are parquet-hadoop's defaults, which are
    * Spark's for a session that sets no `parquet.*` keys.
    */
  private def writeParquetSlot(rows: Iterator[InternalRow], conf: Configuration, dir: String,
                               topic: String, flushSize: Int, batchId: Long,
                               slot: Int, slots: Int): Unit = if (rows.hasNext) {
    val fs = new Path(dir).getFileSystem(conf)
    val support = new TaskWriteSupport
    val codecs = new TaskCodecs(conf)
    val codec = CompressionCodecName.fromConf(conf.get(ParquetOutputFormat.COMPRESSION))
    val objects = ArrayBuffer.empty[Path]
    try {
      var index = 0L
      while (rows.hasNext) {
        val obj = new Path(dir, s"$topic+0+${startOffset(batchId, slot, slots, index)}.parquet")
        objects += obj
        val writer = new ObjectWriter(new FsOutputFile(fs, temp(obj)), support)
          .withConf(conf).withCodecFactory(codecs).withCompressionCodec(codec)
          .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
        try {
          var n = 0
          while (n < flushSize && rows.hasNext) { writer.write(rows.next()); n += 1 }
          index += n
        } finally writer.close()
      }
      objects.foreach(publish(fs, _))
    } catch {
      case NonFatal(e) => objects.foreach(o => fs.delete(temp(o), false)); throw e
    } finally codecs.releaseAll()
  }

  /** Spark's parquet write support, initialised on its first writer only:
    * the schema JSON is parsed and the field writers built once per task,
    * not once per object.
    */
  private final class TaskWriteSupport extends ParquetWriteSupport {
    private var context: WriteSupport.WriteContext = _
    override def init(conf: Configuration): WriteSupport.WriteContext = {
      if (context == null) context = super.init(conf)
      context
    }
  }

  /** The task's codec factory. `ParquetWriter.close` releases its
    * factory, which would drop the compressor and its page-size buffer
    * after every object; the task releases them once, at its end.
    */
  private final class TaskCodecs(conf: Configuration)
      extends CodecFactory(conf, ParquetProperties.DEFAULT_PAGE_SIZE) {
    override def release(): Unit = ()
    def releaseAll(): Unit = super.release()
  }

  private final class ObjectWriter(file: OutputFile, support: WriteSupport[InternalRow])
      extends ParquetWriter.Builder[InternalRow, ObjectWriter](file) {
    override protected def self(): ObjectWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      support
  }

  /** `path` on the task's file system: parquet-hadoop's `HadoopOutputFile`
    * would resolve the file system again for every object, and `file:` is
    * not cached (see [[FileOverlay]]).
    */
  private final class FsOutputFile(fs: FileSystem, path: Path) extends OutputFile {
    def create(blockSize: Long): PositionOutputStream = HadoopStreams.wrap(fs.create(path, false))
    def createOrOverwrite(blockSize: Long): PositionOutputStream =
      HadoopStreams.wrap(fs.create(path, true))
    def supportsBlockSize: Boolean = false
    def defaultBlockSize: Long = 0L
    override def getPath: String = path.toString
  }
}
