package graft.streaming

import java.io.{IOException, OutputStream}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Try
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
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions.{col, lit, pmod, struct, to_json}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import graft.functions.DetHash

/** The Confluent S3 sink's object layout
  * (`/root/reference/connect_s3_sink_jovens.config`,
  * `connect_s3_sink_count.config`): `topics.dir/<topic>/partition=<p>/`
  * directories holding `<topic>+<partition>+<startOffset>.<ext>` objects
  * of at most flush.size records, with record-aligned `.keys.<ext>`
  * objects when the sink stores keys (`store.kafka.keys=true`). One writer,
  * [[writeObjects]], serves both sinks; a [[Format]] only opens, writes and
  * closes one object.
  *
  * Naming: the tasks of the batch's last stage write its objects, and Spark
  * partition `i` of `n` owns slot `[i·⌊10⁶/n⌋, (i+1)·⌊10⁶/n⌋)` of the
  * batch's `batchId·10⁶` names in every `partition=<p>` directory. Off-broker
  * there is no Kafka offset, so an object's startOffset is `batchId·10⁶`
  * plus its slot's start plus the index of its first record among the
  * task's records in that Kafka partition. Names are unique, monotonic in
  * record order and DETERMINISTIC per batch and partitioning, so a replayed
  * batch overwrites its own objects, as the real sink's offset-derived
  * names make S3 writes idempotent. A name past its slot throws: it belongs
  * to another task or to the next batch.
  *
  * Publishing: a task writes each object under `.<name>.tmp` in its own
  * directory (readers skip dot files) and renames them all once it has
  * written all its rows, a keys object before its data object, so no reader
  * sees a partial object or a data object without its keys. A task that
  * fails deletes its temps and publishes nothing. Exactly-once comes from
  * the replayable source plus these idempotent names (the Structured
  * Streaming model), so no commit protocol, scratch directory or post-job
  * move is needed: a failed or replayed batch is rewritten, never undone.
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

  /** A Connect sink's object format (`format.class`). */
  sealed trait Format extends Serializable {
    /** An object's files, `<name>.<suffix>`, in publish order. */
    private[streaming] def suffixes: Seq[String]
    /** The rows the tasks write, and the Hadoop conf they write them with. */
    private[streaming] def prepare(batch: DataFrame): (DataFrame, Configuration)
    /** The Kafka partition of one of [[prepare]]'s rows. */
    private[streaming] def partition(row: InternalRow): Int
    /** A task's writer of this format's objects on `fs`. */
    private[streaming] def task(fs: FileSystem, conf: Configuration): TaskObjects
  }

  /** `ParquetFormat` for an unkeyed single-partition topic (the `jovens`
    * shape): the batch's rows as they are, all in `partition=0`. Before the
    * job, Spark's parquet write support is only configured on [[sinkConf]]
    * (`ParquetFileFormat.prepareWrite`: schema, codec, timestamp type).
    */
  case object Parquet extends Format {
    private[streaming] def suffixes: Seq[String] = Seq("parquet")
    private[streaming] def prepare(batch: DataFrame): (DataFrame, Configuration) = {
      val job = Job.getInstance(sinkConf(batch.sparkSession))
      new ParquetFileFormat().prepareWrite(batch.sparkSession, job, Map.empty, batch.schema)
      (batch, job.getConfiguration)
    }
    private[streaming] def partition(row: InternalRow): Int = 0
    private[streaming] def task(fs: FileSystem, conf: Configuration): TaskObjects =
      new ParquetObjects(fs, conf)
  }

  /** `JsonFormat` with `store.kafka.keys=true` (the `idadecont` shape): a
    * record's value is the JSON of its row, its key the JSON of `keyCols`,
    * and its partition the key's md5 hash mod `numPartitions`, the
    * off-broker analog of Kafka's key partitioner. The three are Catalyst
    * expressions over the batch, so they run in the batch's last stage.
    */
  final case class Json(keyCols: Seq[String], numPartitions: Int) extends Format {
    require(numPartitions > 0, s"numPartitions must be > 0, got $numPartitions")
    private[streaming] def suffixes: Seq[String] = Seq("keys.json", "json")
    private[streaming] def prepare(batch: DataFrame): (DataFrame, Configuration) = {
      val keyed = batch.select(to_json(struct(keyCols.map(col): _*)).as("key"),
        to_json(struct(batch.columns.toIndexedSeq.map(col): _*)).as("value"))
      (keyed.select(pmod(DetHash.base60(col("key")), lit(numPartitions)).cast("int"),
        col("key"), col("value")), sinkConf(batch.sparkSession))
    }
    private[streaming] def partition(row: InternalRow): Int = row.getInt(0)
    private[streaming] def task(fs: FileSystem, conf: Configuration): TaskObjects =
      new JsonObjects(fs)
  }

  /** One object being written. */
  private[streaming] trait ObjectOut {
    def write(row: InternalRow): Unit
    def close(): Unit
  }

  /** A task's writer of one format's objects: `open` starts an object on
    * the temp names of its files; `release` runs once, at the task's end.
    */
  private[streaming] trait TaskObjects {
    def open(temps: Seq[Path]): ObjectOut
    def release(): Unit = ()
  }

  /** Writes `batch` as `format` objects of at most `flushSize` records
    * into `<topicDir>/partition=<p>/`, from the tasks of one job over the
    * batch's own rows (`queryExecution.toRdd`): the formats' projections
    * run in the batch's last stage, and the driver touches no file.
    */
  def writeObjects(batch: DataFrame, format: Format, topicDir: String, topic: String,
                   flushSize: Int, batchId: Long): Unit = {
    require(flushSize > 0, s"flushSize must be > 0, got $flushSize")
    val (records, hadoopConf) = format.prepare(batch)
    val conf = new SerializableConfiguration(hadoopConf)
    val rows = records.queryExecution.toRdd
    val slots = rows.getNumPartitions
    batch.sparkSession.sparkContext.runJob(rows, (task: TaskContext, it: Iterator[InternalRow]) =>
      writeSlot(it, format, conf.value, topicDir, topic, flushSize, batchId, task.partitionId, slots))
  }

  /** A Kafka partition's objects in one task: `index` records precede its
    * open object `out`, which holds `n`.
    */
  private final class Part {
    var index = 0L
    var n = 0
    var out: ObjectOut = _
  }

  /** One task of [[writeObjects]]: Spark partition `slot` of `slots` writes
    * its rows in record order, an object per `flushSize` records of each
    * Kafka partition, then publishes every file it wrote, or on failure
    * closes what is open and deletes its temps.
    */
  private def writeSlot(rows: Iterator[InternalRow], format: Format, conf: Configuration,
                        topicDir: String, topic: String, flushSize: Int, batchId: Long,
                        slot: Int, slots: Int): Unit = if (rows.hasNext) {
    val fs = new Path(topicDir).getFileSystem(conf)
    val objects = format.task(fs, conf)
    val parts = mutable.HashMap.empty[Int, Part]
    val files = ArrayBuffer.empty[Path] // in publish order
    try {
      rows.foreach { row =>
        val p = format.partition(row)
        val part = parts.getOrElseUpdate(p, new Part)
        if (part.out == null) {
          val name = s"$topic+$p+${startOffset(batchId, slot, slots, part.index)}"
          val obj = format.suffixes.map(s => new Path(s"$topicDir/partition=$p", s"$name.$s"))
          files ++= obj
          part.out = objects.open(obj.map(temp))
        }
        part.out.write(row)
        part.n += 1
        if (part.n == flushSize) {
          part.out.close()
          part.out = null
          part.index += part.n
          part.n = 0
        }
      }
      parts.values.foreach { part => if (part.out != null) part.out.close(); part.out = null }
      files.foreach(publish(fs, _))
    } catch {
      case NonFatal(e) =>
        parts.values.foreach(part => if (part.out != null) Try(part.out.close()))
        files.foreach(f => Try(fs.delete(temp(f), false)))
        throw e
    } finally objects.release()
  }

  /** [[Parquet]]'s task writer: one write support and one codec factory
    * for the task, one parquet-hadoop `ParquetWriter` per object. Writer
    * properties are parquet-hadoop's defaults, which are Spark's for a
    * session that sets no `parquet.*` keys.
    */
  private final class ParquetObjects(fs: FileSystem, conf: Configuration) extends TaskObjects {
    private val support = new TaskWriteSupport
    private val codecs = new TaskCodecs(conf)
    private val codec = CompressionCodecName.fromConf(conf.get(ParquetOutputFormat.COMPRESSION))
    def open(temps: Seq[Path]): ObjectOut = {
      val writer = new ObjectWriter(new FsOutputFile(fs, temps.head), support)
        .withConf(conf).withCodecFactory(codecs).withCompressionCodec(codec)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
      new ObjectOut {
        def write(row: InternalRow): Unit = writer.write(row)
        def close(): Unit = writer.close()
      }
    }
    override def release(): Unit = codecs.releaseAll()
  }

  /** [[Json]]'s task writer: a keys and a data line stream per object. */
  private final class JsonObjects(fs: FileSystem) extends TaskObjects {
    def open(temps: Seq[Path]): ObjectOut = {
      val keys = fs.create(temps(0), true) // creates partition=<p> on first use
      val values = try fs.create(temps(1), true) catch { case NonFatal(e) => keys.close(); throw e }
      new ObjectOut {
        def write(row: InternalRow): Unit = {
          line(keys, row.getUTF8String(1))
          line(values, row.getUTF8String(2))
        }
        def close(): Unit = try keys.close() finally values.close()
      }
    }
    private def line(out: OutputStream, s: UTF8String): Unit = { s.writeTo(out); out.write('\n') }
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
