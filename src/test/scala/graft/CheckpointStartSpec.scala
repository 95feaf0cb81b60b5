package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.{Date, Timestamp}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, RawLocalFileSystem}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{input_file_name, regexp_replace}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.streaming.{Pipelines, PosixLocalFileSystem}

/** Streaming queries started through `Pipelines.startCheckpointed`: on a
  * `file:` checkpoint their offset, commit and state files go through
  * [[PosixLocalFileSystem]] with the stock names and modes, the session
  * conf is left as it was, other schemes start untouched, and the Connect
  * sinks, the `idadecont` aggregation and the `streamingDedup` state
  * behind them resume from their checkpoints exactly once on both
  * state-store providers, including from a checkpoint a plain `start()`
  * wrote.
  */
class CheckpointStartSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val Keys = Seq("spark.sql.streaming.checkpointFileManagerClass",
    "fs.file.impl", "fs.file.impl.disable.cache")
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val Providers = Seq(
    "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  private val Fast = Trigger.ProcessingTime(0L)

  private def tmpDir(prefix: String): String = tempDir(prefix).toString

  private def confNow: Seq[Option[String]] = Keys.map(spark.conf.getOption)

  /** Batch `b`: six customers, every other one JOVEM, 2 s apart, the
    * batches 20 s apart, so the 30 s windows straddle batches and a
    * restarted `idadecont` must carry its counts over.
    */
  private def rows(b: Int): Seq[Cust] = (0 until 6).map { i =>
    Cust(s"c${b}_$i", "(11) 91234-5678", s"c${b}_$i@example.org",
      Date.valueOf(if (i % 2 == 0) "2001-05-05" else "1990-01-01"), "x",
      new Timestamp(1000000L + b * 20000L + i * 2000L))
  }

  private type Starter = (DataFrame, String, String) => StreamingQuery // (stream, s3Dir, checkpoint)

  /** A Connect sink started through the engine (`helper`) and by a plain
    * `writeStream.start()` of the same query (`stock`).
    */
  private case class Sink(topic: String, helper: Starter, stock: Starter)

  private val jovensSink = Sink("jovens",
    (df, s3, ckp) => Pipelines.startConnectParquetSink(Pipelines.jovens(df), s3, "jovens", ckp,
      flushSize = 2, trigger = Fast),
    (df, s3, ckp) => Pipelines.connectParquetWriter(s3, "jovens", 2, "raw-data/kafka", Fast)(
      Pipelines.jovens(df).writeStream).option("checkpointLocation", ckp).start())

  private val idadecontSink = Sink("idadecont",
    (df, s3, ckp) => Pipelines.startConnectJsonSink(Pipelines.idadecont(df), s3, "idadecont",
      Seq("idadecat", "window_start"), ckp, numPartitions = 2, flushSize = 2, trigger = Fast),
    (df, s3, ckp) => Pipelines.connectJsonWriter(s3, "idadecont", Seq("idadecat", "window_start"),
      2, 2, "raw-data/kafka", Fast)(Pipelines.idadecont(df).writeStream)
      .option("checkpointLocation", ckp).start())

  /** [[Pipelines.streamingDedup]] keyed so customers 0–2 of every batch
    * repeat batch 0's (`c_0`..`c_2`) and customers 3–5 are new: a restart
    * after batch 1 drops batches 2–3's repeats only from restored state.
    * The 24 h delay keeps the watermark at 0, so no batch runs without
    * data and batch ids match across runs.
    */
  private def dedup(df: DataFrame): DataFrame =
    Pipelines.streamingDedup(df.withColumn("k", regexp_replace($"nome", "^c\\d+_([012])$", "c_$1")),
      Seq("k"), "dt_update", "24 hours").drop("k")

  private val dedupSink = Sink("dedup",
    (df, s3, ckp) => Pipelines.startConnectParquetSink(dedup(df), s3, "dedup", ckp,
      flushSize = 2, trigger = Fast),
    (df, s3, ckp) => Pipelines.connectParquetWriter(s3, "dedup", 2, "raw-data/kafka", Fast)(
      dedup(df).writeStream).option("checkpointLocation", ckp).start())

  /** Feeds batches to one MemoryStream, one query per segment, every
    * segment on the same checkpoint; returns the checkpoint and sink dirs.
    */
  private def run(segments: Seq[(Starter, Range)]): (String, String) = {
    val mem = MemoryStream[Cust]
    val (s3, ckp) = (tmpDir("graft_rs3_"), tmpDir("graft_rckp_"))
    segments.foreach { case (start, batches) =>
      val q = start(mem.toDF(), s3, ckp)
      try batches.foreach { b => mem.addData(rows(b)); q.processAllAvailable() }
      finally q.stop()
    }
    (ckp, s3)
  }

  private def walk(dir: String): Seq[JPath] = Files.walk(Paths.get(dir)).iterator().asScala.toSeq

  /** Sink records per (partition, batch, object kind), sorted: object
    * names are `<topic>+<p>+<batch·10⁶ + offset>.<ext>`, and which records
    * share an object within a batch follows the shuffle's fetch order.
    */
  private def contents(s3: String, topic: String): Map[(String, Long, String), Seq[String]] = {
    val objs = walk(s"$s3/raw-data/kafka/$topic")
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
    val Name = s"""\\Q$topic\\E\\+(\\d+)\\+(\\d+)\\.(.+)""".r
    def key(p: JPath) = p.getFileName.toString match {
      case Name(part, offset, ext) => (part, offset.toLong / 1000000L, ext)
    }
    val (parquet, text) = objs.partition(_.toString.endsWith(".parquet"))
    val parquetRecords =
      if (parquet.isEmpty) Seq.empty
      else spark.read.parquet(parquet.map(_.toString): _*).withColumn("__f", input_file_name())
        .collect().toSeq.map(r => (Paths.get(new java.net.URI(r.getAs[String]("__f"))),
          r.toSeq.init.mkString("[", ",", "]")))
    val textRecords = text.flatMap(p => Files.readAllLines(p).asScala.map(p -> _))
    (parquetRecords ++ textRecords).groupBy { case (p, _) => key(p) }
      .map { case (k, recs) => k -> recs.map(_._2).sorted }
  }

  private def withProvider[T](cls: String)(body: => T): T = {
    val prior = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, cls)
    try body finally prior.fold(spark.conf.unset(ProviderKey))(spark.conf.set(ProviderKey, _))
  }

  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Checkpoint entries relative to its root, ids and digits normalised,
    * each with its mode.
    */
  private def tree(ckp: String): Seq[(String, String)] = {
    val root = Paths.get(ckp)
    walk(ckp).drop(1).map { p =>
      root.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<id>")
        .replaceAll("\\d+", "N") -> mode(p)
    }.sorted
  }

  test("file: checkpoint: offsets, commits and state go through PosixLocalFileSystem") {
    val posix = FileSystem.getStatistics("file", classOf[PosixLocalFileSystem.Raw])
    val stock = FileSystem.getStatistics("file", classOf[RawLocalFileSystem])
    val (posixBefore, stockBefore) = (posix.getBytesWritten, stock.getBytesWritten)
    val (ckp, s3) = run(Seq(idadecontSink.helper -> (0 until 3)))
    def files(dir: String) = walk(dir).filter(Files.isRegularFile(_))
    val ckpFiles = files(ckp)
    Seq("offsets", "commits", "state").foreach { d =>
      assert(ckpFiles.exists(_.startsWith(Paths.get(ckp, d))), s"no $d files in $ckp")
    }
    // every checkpoint and sink byte went through PosixLocalFileSystem, none through the stock one
    assert(posix.getBytesWritten - posixBefore >= (ckpFiles ++ files(s3)).map(Files.size).sum)
    assert(stock.getBytesWritten == stockBefore)
  }

  test("file: checkpoint: the same file names and modes as a plain start()") {
    val (viaHelper, _) = run(Seq(idadecontSink.helper -> (0 until 3)))
    val (plain, _) = run(Seq(idadecontSink.stock -> (0 until 3)))
    assert(tree(viaHelper).exists(_._1.startsWith("state/N/N/N.delta")))
    assert(tree(viaHelper) == tree(plain))
  }

  /** Starts a query through the helper on `ckp` that records, per batch,
    * the checkpoint keys its own session carries.
    */
  private def keysSeenBy(ckp: String): Seq[Option[String]] = {
    val mem = MemoryStream[Int]
    val seen = new ConcurrentLinkedQueue[Seq[Option[String]]]()
    val q = Pipelines.startCheckpointed(mem.toDF(), ckp)(_.trigger(Fast).foreachBatch {
      (batch: DataFrame, _: Long) => seen.add(Keys.map(batch.sparkSession.conf.getOption)); ()
    })
    try { mem.addData(1, 2, 3); q.processAllAvailable() } finally q.stop()
    assert(!seen.isEmpty)
    seen.asScala.toSeq.distinct.ensuring(_.size == 1).head
  }

  test("file: checkpoint: the query's session carries the keys, the caller's gets back unset ones") {
    assert(confNow == Seq(None, None, None))
    val seen = keysSeenBy(tmpDir("graft_keys_"))
    assert(seen == Seq(
      Some("org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"),
      Some(classOf[PosixLocalFileSystem].getName), Some("true")))
    assert(confNow == Seq(None, None, None))
  }

  test("file: checkpoint: keys with custom prior values get them back") {
    val custom = Seq("org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager",
      "org.apache.hadoop.fs.LocalFileSystem", "false")
    Keys.zip(custom).foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      keysSeenBy(tmpDir("graft_keys_"))
      assert(confNow == custom.map(Some(_)))
    } finally Keys.foreach(spark.conf.unset)
  }

  test("file: checkpoint: a start() that throws still restores the keys") {
    val mem = MemoryStream[Cust]
    // a streaming aggregation without a watermark cannot run in append mode
    val counts = mem.toDF().groupBy($"nome").count()
    intercept[AnalysisException](Pipelines.startConnectParquetSink(counts, tmpDir("graft_s3x_"),
      "counts", tmpDir("graft_ckpx_")))
    assert(confNow == Seq(None, None, None))
  }

  test("checkpoint on another scheme starts without the keys") {
    val hconf = spark.sparkContext.hadoopConfiguration
    val schemeKeys = Seq("fs.sinktest.impl", "fs.sinktest.impl.disable.cache")
    hconf.set(schemeKeys(0), classOf[SinkTestFileSystem].getName)
    hconf.set(schemeKeys(1), "true")
    val local = tmpDir("graft_keyst_")
    try assert(keysSeenBy(s"sinktest://$local") == Seq(None, None, None))
    finally schemeKeys.foreach(hconf.unset)
    assert(Files.isDirectory(Paths.get(local, "commits")))
    assert(confNow == Seq(None, None, None))
  }

  for (sink <- Seq(jovensSink, idadecontSink, dedupSink); (provider, cls) <- Providers) {
    test(s"${sink.topic} connect sink on $provider state: a restart or an upgrade matches an uninterrupted run") {
      withProvider(cls) {
        val (ckp, s3) = run(Seq(sink.helper -> (0 until 4)))
        if (sink.topic == "idadecont" && provider == "rocksdb")
          assert(walk(ckp).exists(_.getFileName.toString.endsWith(".zip")), "no RocksDB snapshot")
        val whole = contents(s3, sink.topic)
        assert(whole.keys.map(_._2).toSet == (0L until 4L).toSet)
        if (sink.topic == "dedup")
          assert(whole.values.map(_.size).sum == 6 + 3 * 3, "dedup kept a repeated key")
        Seq(
          "restart" -> Seq(sink.helper -> (0 until 2), sink.helper -> (2 until 4)),
          "upgrade" -> Seq(sink.stock -> (0 until 2), sink.helper -> (2 until 4))
        ).foreach { case (name, segments) =>
          val (_, s3r) = run(segments)
          assert(contents(s3r, sink.topic) == whole, name)
        }
      }
    }
  }
}
