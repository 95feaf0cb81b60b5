package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{ChecksumException, FSDataInputStream, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.{AvroBinary, AvroCodec, DetHash}
import graft.streaming.{ConnectLayout, Pipelines, PosixLocalFileSystem}

/** The raw local file system under the made-up scheme `sinktest:`. It
  * resolves only where `fs.sinktest.impl` is set, so a writer that
  * reaches it proves it used that conf.
  */
class SinkTestFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("sinktest:///")
  override def getScheme: String = "sinktest"
}

/** Parity specs for the Confluent-S3-sink object layout and the Kafka
  * record wire encodings — the broker-free checks of K1-K4's output
  * shapes (reference `connect_s3_sink_jovens.config`,
  * `connect_s3_sink_count.config`, `README.md:233-277`).
  */
class ConnectLayoutSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def mkCust(nome: String, nasc: String, tsMillis: Long) =
    Cust(nome, "(11) 91234-5678", s"$nome@example.org",
      Date.valueOf(nasc), "x", new Timestamp(tsMillis))

  private def tmpDir(prefix: String): String =
    tempDir(prefix).toString

  private def lines(p: java.nio.file.Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq

  test("json changelog sink writes topics-dir/partition=N objects with aligned keys sidecars") {
    val mem = MemoryStream[Cust]
    val out = tmpDir("graft_s3_")
    val agg = Pipelines.idadecont(mem.toDF())
      .select($"idadecat", $"window_start", $"contagem")
    // flushSize=2 forces several objects per partition; 2 partitions
    // exercise the key-hash partitioner
    val q = Pipelines.startConnectJsonSink(agg, out, "idadecont",
      keyCols = Seq("idadecat", "window_start"),
      checkpoint = tmpDir("graft_ckp_"), numPartitions = 2, flushSize = 2)
    try {
      mem.addData(
        mkCust("ana", "2001-05-05", 10_000L), mkCust("bia", "1969-12-31", 12_000L),
        mkCust("caio", "2000-01-01", 31_000L), mkCust("davi", "1999-12-31", 59_000L),
        mkCust("eva", "2002-02-02", 61_000L), mkCust("gil", "1950-01-01", 62_000L))
      q.processAllAvailable()
    } finally q.stop()

    val topicDir = Paths.get(out, "raw-data", "kafka", "idadecont")
    assert(Files.isDirectory(topicDir), s"missing topics.dir layout under $out")
    val partDirs = Files.list(topicDir).iterator().asScala.toSeq
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).sorted
    assert(partDirs.nonEmpty && partDirs.forall(_.matches("partition=[01]")))

    val dataFiles = Files.walk(topicDir).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".json") && !p.toString.endsWith(".keys.json"))
    assert(dataFiles.nonEmpty)
    dataFiles.foreach { data =>
      val name = data.getFileName.toString
      val p = data.getParent.getFileName.toString.stripPrefix("partition=")
      // Connect object naming: <topic>+<partition>+<startOffset>.json
      assert(name.matches(s"idadecont\\+$p\\+\\d+\\.json"), s"bad object name $name")
      val values = lines(data)
      assert(values.nonEmpty && values.size <= 2, s"$name exceeds flush.size")
      // store.kafka.keys=true: record-aligned sidecar keys object
      val keysFile = data.resolveSibling(name.stripSuffix(".json") + ".keys.json")
      assert(Files.exists(keysFile), s"missing keys sidecar for $name")
      val keys = lines(keysFile)
      assert(keys.size == values.size, "keys object not record-aligned")
      keys.zip(values).foreach { case (k, v) =>
        // the key is the JSON of the key columns; its fields must match
        // the same record's value fields (alignment, not just presence)
        assert(k.startsWith("{\"idadecat\":"), s"unexpected key shape: $k")
        val frag = k.stripPrefix("{").stripSuffix("}")
        assert(v.contains(frag), s"key $k does not align with value $v")
      }
    }

    // every emitted record is on the topic exactly where its key hashes
    val all = dataFiles.flatMap(lines)
    val expected = spark.read.json(all.toDS())
      .select($"idadecat", $"window_start", $"contagem")
    assert(expected.count() >= 4) // update-mode changelog: >= distinct keys
  }

  test("parquet sink writes flush-size objects under partition=0 with Connect names") {
    val mem = MemoryStream[Cust]
    val out = tmpDir("graft_s3p_")
    val q = Pipelines.startConnectParquetSink(
      Pipelines.jovens(mem.toDF()), out, "jovens",
      checkpoint = tmpDir("graft_ckpp_"), flushSize = 2)
    try {
      mem.addData(
        mkCust("ana", "2001-05-05", 10_000L), mkCust("caio", "2000-01-01", 31_000L),
        mkCust("eva", "2002-02-02", 61_000L), mkCust("iza", "2003-03-03", 62_000L),
        mkCust("leo", "2004-04-04", 63_000L))
      q.processAllAvailable()
    } finally q.stop()

    val partDir = Paths.get(out, "raw-data", "kafka", "jovens", "partition=0")
    assert(Files.isDirectory(partDir))
    val objects = Files.list(partDir).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).sorted
    assert(objects.nonEmpty && objects.forall(_.matches("jovens\\+0\\+\\d+\\.parquet")),
      s"bad object names: $objects")
    // all 5 JOVEM rows land, flush.size respected per object
    val back = spark.read.parquet(partDir.toString)
    assert(back.columns.toSeq ==
      Seq("nome", "telefone", "email", "dt_nascimento", "dt_updt_conv"))
    assert(back.count() == 5)
    objects.foreach { o =>
      assert(spark.read.parquet(partDir.resolve(o).toString).count() <= 2)
    }
  }

  private val sinkRows = Seq(
    mkCust("ana", "2001-05-05", 10_000L), mkCust("bia", "1969-12-31", 12_000L),
    mkCust("caio", "2000-01-01", 31_000L), mkCust("eva", "2002-02-02", 61_000L),
    mkCust("iza", "2003-03-03", 62_000L), mkCust("leo", "2004-04-04", 63_000L))

  /** Both Connect sinks, by topic: flushSize 2 gives several objects per
    * partition, and the JSON sink writes two partitions.
    */
  private val connectSinks: Seq[(String, (DataFrame, String, String) => StreamingQuery)] = Seq(
    "jovens" -> ((df, s3Dir, ckp) => Pipelines.startConnectParquetSink(
      Pipelines.jovens(df), s3Dir, "jovens", checkpoint = ckp, flushSize = 2)),
    "idadecont" -> ((df, s3Dir, ckp) => Pipelines.startConnectJsonSink(
      Pipelines.idadecont(df), s3Dir, "idadecont", Seq("idadecat", "window_start"),
      checkpoint = ckp, numPartitions = 2, flushSize = 2)))

  private def runSink(start: (DataFrame, String, String) => StreamingQuery, s3Dir: String): Unit = {
    val mem = MemoryStream[Cust]
    val q = start(mem.toDF(), s3Dir, tmpDir("graft_ckp_"))
    try {
      mem.addData(sinkRows)
      q.processAllAvailable()
    } finally q.stop()
  }

  private def walk(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    Files.walk(dir).iterator().asScala.toSeq

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Sink objects: data and keys files, not their hidden `.crc` sidecars. */
  private def objects(topicDir: java.nio.file.Path): Seq[java.nio.file.Path] =
    walk(topicDir).filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))

  connectSinks.foreach { case (topic, start) =>
    test(s"$topic connect sink: writes through PosixLocalFileSystem with the stock local modes") {
      val stockDir = Paths.get(tmpDir("graft_stock_"), "partition=0")
      val stock = FileSystem.getLocal(spark.sessionState.newHadoopConf())
      assert(!stock.isInstanceOf[PosixLocalFileSystem])
      val out = stock.create(new Path(stockDir.resolve("object").toUri), true)
      try out.write(1) finally out.close()
      val fileMode = mode(stockDir.resolve("object"))
      val dirMode = mode(stockDir)
      assert(mode(stockDir.resolve(".object.crc")) == fileMode)

      val posix = FileSystem.getStatistics("file", classOf[PosixLocalFileSystem.Raw])
      val posixBytesBefore = posix.getBytesWritten
      val s3Dir = tmpDir("graft_s3m_")
      runSink(start, s3Dir)
      val written = walk(Paths.get(s3Dir)).drop(1) // s3Dir itself is a 0700 temp dir
      val (dirs, files) = written.partition(Files.isDirectory(_))
      assert(dirs.exists(_.getFileName.toString.startsWith("partition=")) && files.nonEmpty)
      // every byte on disk went through PosixLocalFileSystem
      assert(posix.getBytesWritten - posixBytesBefore >= files.map(Files.size).sum)
      dirs.foreach(d => assert(mode(d) == dirMode, s"$d"))
      files.foreach(f => assert(mode(f) == fileMode, s"$f"))
    }

    test(s"$topic connect sink: every object has a .crc sidecar that catches a flipped byte") {
      val s3Dir = tmpDir("graft_s3c_")
      runSink(start, s3Dir)
      val objs = objects(Paths.get(s3Dir, "raw-data", "kafka", topic))
      assert(objs.nonEmpty)
      // stock checksummed reads, minus LocalFileSystem's move of a bad
      // file into <mount>/bad_files
      val fs = new LocalFileSystem {
        override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                           sums: FSDataInputStream, sumsPos: Long): Boolean = false
      }
      fs.initialize(URI.create("file:///"), spark.sessionState.newHadoopConf())
      def read(p: java.nio.file.Path): Array[Byte] = {
        val in = fs.open(new Path(p.toUri))
        try in.readAllBytes() finally in.close()
      }
      objs.foreach { o =>
        assert(Files.exists(o.resolveSibling(s".${o.getFileName}.crc")), s"no .crc for $o")
        assert(read(o).sameElements(Files.readAllBytes(o)))
        val raf = new RandomAccessFile(o.toFile, "rw")
        try { val b = raf.read(); raf.seek(0); raf.write(b ^ 0xff) } finally raf.close()
        intercept[ChecksumException](read(o))
      }
    }

    test(s"$topic connect sink resolves schemes through the session's Hadoop conf") {
      val hconf = spark.sparkContext.hadoopConfiguration
      val keys = Seq("fs.sinktest.impl", "fs.sinktest.impl.disable.cache")
      hconf.set(keys(0), classOf[SinkTestFileSystem].getName)
      hconf.set(keys(1), "true")
      val local = tmpDir("graft_s3t_")
      try runSink(start, s"sinktest://$local")
      finally keys.foreach(hconf.unset)
      val objs = objects(Paths.get(local, "raw-data", "kafka", topic))
      assert(objs.nonEmpty && objs.forall(_.getFileName.toString.startsWith(s"$topic+")), s"$objs")
    }
  }

  test("connect sinks refuse a non-positive flushSize or numPartitions, naming it") {
    val mem = MemoryStream[Cust]
    def refused(start: => StreamingQuery): String =
      intercept[IllegalArgumentException](start).getMessage
    assert(refused(Pipelines.startConnectParquetSink(Pipelines.jovens(mem.toDF()),
      tmpDir("graft_s3z_"), "jovens", tmpDir("graft_ckpz_"), flushSize = 0)).contains("flushSize"))
    val agg = Pipelines.idadecont(mem.toDF())
    assert(refused(Pipelines.startConnectJsonSink(agg, tmpDir("graft_s3z_"), "idadecont",
      Seq("idadecat"), tmpDir("graft_ckpz_"), flushSize = -1)).contains("flushSize"))
    assert(refused(Pipelines.startConnectJsonSink(agg, tmpDir("graft_s3z_"), "idadecont",
      Seq("idadecat"), tmpDir("graft_ckpz_"), numPartitions = 0)).contains("numPartitions"))
  }

  /** A Connect object format under the writer's specs: `format(n)` spreads
    * records over `n` Kafka partitions by the hash of their key `{"id":<id>}`
    * (the parquet format keeps them all in partition 0); `exts` are an
    * object's file extensions, its data object's first; `read` gives back
    * the ids of the object at a path without its extension.
    */
  private case class ObjectCase(name: String, topic: String, partitions: Int, exts: Seq[String],
                                format: Int => ConnectLayout.Format, read: String => Seq[Long]) {
    def partitionOf(id: Long): Int = (DetHash.base60(s"""{"id":$id}""") % partitions).toInt
  }

  private val JsonRecord = """\{"id":(\d+),"s":"(\d+)"\}""".r

  private val objectCases = Seq(
    ObjectCase("parquet", "jovens", 1, Seq("parquet"), _ => ConnectLayout.Parquet, base =>
      spark.read.parquet(s"$base.parquet").as[(Long, String)].collect().toSeq.map { case (id, s) =>
        assert(s == (id * 3).toString); id
      }),
    ObjectCase("json", "idadecont", 2, Seq("json", "keys.json"), ConnectLayout.Json(Seq("id"), _),
      base => {
        val ids = lines(Paths.get(s"$base.json")).map {
          case JsonRecord(id, s) => assert(s.toLong == id.toLong * 3); id.toLong
          case line => fail(s"bad record $line")
        }
        // the keys object is record-aligned with its data object
        assert(lines(Paths.get(s"$base.keys.json")) == ids.map(id => s"""{"id":$id}"""))
        ids
      }))

  /** The writer's fixture: a 3-partition batch of 25 rows (8, 8 and 9 per
    * partition), written at flushSize 4 into `topicDir` over the case's
    * Kafka partitions.
    */
  private def fixture = spark.range(0, 25, 1, 3).select($"id", ($"id" * 3).cast("string").as("s"))

  private def writeFixture(c: ObjectCase, topicDir: String, batchId: Long): Unit = {
    val batch = fixture
    assert(batch.rdd.getNumPartitions == 3)
    ConnectLayout.writeObjects(batch, c.format(c.partitions), topicDir, c.topic, flushSize = 4, batchId)
  }

  /** Each Spark partition's ids of the fixture, in record order. */
  private lazy val fixtureSlots: Seq[Seq[Long]] =
    fixture.select(spark_partition_id(), $"id").as[(Int, Long)].collect().toSeq
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1).map(_._2)

  /** The fixture's objects in `partition=p` of batch `batchId`, by start
    * offset: slot i of 3 starts at `batchId·10⁶ + i·⌊10⁶/3⌋`, and its
    * records in partition p fill objects of 4 in record order.
    */
  private def expectedObjects(c: ObjectCase, p: Int, batchId: Long): Seq[(Long, Seq[Long])] =
    fixtureSlots.zipWithIndex.flatMap { case (ids, slot) =>
      ids.filter(c.partitionOf(_) == p).grouped(4).zipWithIndex.map { case (objIds, k) =>
        (batchId * 1000000L + slot * 333333L + k * 4L, objIds)
      }
    }

  /** The fixture's Kafka partitions. */
  private def fixturePartitions(c: ObjectCase): Seq[Int] =
    fixtureSlots.flatten.map(c.partitionOf).distinct.sorted

  /** Visible objects of `partition=p` by start offset, each with its ids;
    * every name is `<topic>+<p>+<offset>.<ext>`, and each data object has
    * its other files.
    */
  private def readObjects(c: ObjectCase, topicDir: String, p: Int): Seq[(Long, Seq[Long])] = {
    val dir = Paths.get(topicDir, s"partition=$p")
    val Name = s"""\\Q${c.topic}+$p+\\E(\\d+)\\.(.+)""".r
    val byExt = Files.list(dir).iterator().asScala.toSeq.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).map {
        case n @ Name(offset, ext) => assert(c.exts.contains(ext), s"bad object name $n"); (ext, offset.toLong)
        case n => fail(s"bad object name $n")
      }.groupMap(_._1)(_._2)
    val offsets = byExt.getOrElse(c.exts.head, Seq.empty).sorted
    c.exts.foreach(e => assert(byExt.getOrElse(e, Seq.empty).sorted == offsets, s"unpaired .$e objects"))
    offsets.map(off => off -> c.read(dir.resolve(s"${c.topic}+$p+$off").toString))
  }

  objectCases.foreach { c =>
    test(s"${c.name} objects: names fall in each partition's slot, in record order") {
      val topicDir = tmpDir("graft_s3n_") + "/" + c.topic
      writeFixture(c, topicDir, batchId = 7)
      val parts = fixturePartitions(c)
      assert(parts == (0 until c.partitions))
      assert(Files.list(Paths.get(topicDir)).iterator().asScala.map(_.getFileName.toString).toSeq.sorted ==
        parts.map(p => s"partition=$p"))
      // read in name order, each partition's objects give back its records in order
      parts.foreach(p => assert(readObjects(c, topicDir, p) == expectedObjects(c, p, 7), s"partition $p"))
    }

    test(s"${c.name} objects: each holds at most flushSize rows, and together the input") {
      val topicDir = tmpDir("graft_s3f_") + "/" + c.topic
      writeFixture(c, topicDir, batchId = 0)
      val objs = fixturePartitions(c).flatMap(readObjects(c, topicDir, _)).map(_._2)
      assert(objs.forall(o => o.size >= 1 && o.size <= 4), s"${objs.map(_.size)}")
      assert(objs.flatten.sorted == (0L until 25L))
    }

    test(s"${c.name} objects: a replayed batchId rewrites the same names and rows") {
      val topicDir = tmpDir("graft_s3p_") + "/" + c.topic
      def snapshot() = {
        writeFixture(c, topicDir, batchId = 2)
        fixturePartitions(c).map(p => p -> readObjects(c, topicDir, p))
      }
      val first = snapshot()
      assert(first.flatMap(_._2).nonEmpty && snapshot() == first)
    }

    test(s"${c.name} objects: a slot or batch-range overrun throws, no object visible") {
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      // 3 partitions of 333,334 rows at flushSize 333,333: each one's second
      // object would be named past its ⌊10⁶/3⌋-name slot; then one partition
      // of 10⁶ + 1 rows at flushSize 10⁶, whose second object is batch 5's first
      Seq((spark.range(0, 3 * 333334L, 1, 3), 333333, "of 3 (333333 names", "slot"),
          (spark.range(0, 1000001L, 1, 1), 1000000, "slot 0 of 1 (1000000 names", "range")).foreach {
        case (batch, flushSize, slot, tag) =>
          val topicDir = tmpDir(s"graft_s3${tag}_") + "/" + c.topic
          val e = intercept[Exception](ConnectLayout.writeObjects(
            batch.toDF("id"), c.format(1), topicDir, c.topic, flushSize, batchId = 4))
          val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
          assert(msgs.exists(m => m != null && m.contains("batch 4") && m.contains(slot) &&
            m.contains("stride 1000000")), s"$tag: ${e.getMessage}")
          val part0 = Paths.get(topicDir, "partition=0")
          def entries = if (!Files.exists(part0)) Seq.empty
            else Files.list(part0).iterator().asScala.map(_.getFileName.toString).toSeq
          assert(entries.forall(_.startsWith(".")), s"$tag: visible objects $entries")
          // every failed task deletes its temps; the job may fail before the last one finishes
          eventually(timeout(60.seconds), interval(200.millis))(assert(entries.isEmpty, s"$tag"))
      }
    }

    test(s"${c.name} objects: no temp, scratch, _temporary or _SUCCESS entry remains") {
      val topicDir = tmpDir("graft_s3l_") + "/" + c.topic
      writeFixture(c, topicDir, batchId = 0)
      writeFixture(c, topicDir, batchId = 1)
      val names = walk(Paths.get(topicDir)).drop(1).map(p => Paths.get(topicDir).relativize(p).toString)
      val dirs = fixturePartitions(c).map(p => s"partition=$p")
      val objects = for (b <- Seq(0L, 1L); p <- fixturePartitions(c);
                         (offset, _) <- expectedObjects(c, p, b); ext <- c.exts)
        yield s"partition=$p/${c.topic}+$p+$offset.$ext"
      // the partition directories, their objects and their .crc sidecars: nothing else
      assert(names.toSet == (dirs ++ objects ++
        objects.map(o => o.replaceFirst("/", "/.") + ".crc")).toSet, s"$names")
    }
  }

  test("PosixLocalFileSystem matches chmod(1) on sticky modes and in setgid directories") {
    val conf = spark.sessionState.newHadoopConf()
    val posix = new PosixLocalFileSystem
    posix.initialize(URI.create("file:///"), conf)
    val root = Paths.get(tmpDir("graft_modes_"))
    val setgid = Files.createDirectory(root.resolve("setgid"))
    Files.setAttribute(setgid, "unix:mode", Integer.valueOf(Integer.parseInt("2755", 8)))
    def unixMode(p: java.nio.file.Path) =
      Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff)
    val modes = Seq(FileSystem.getLocal(conf), posix).map { fs =>
      val name = fs.getClass.getSimpleName
      // a new directory inherits setgid; chmod(1) keeps it under a numeric mode
      val child = setgid.resolve(name)
      assert(fs.mkdirs(new Path(child.toUri)))
      val sticky = Files.createDirectory(root.resolve(name))
      fs.setPermission(new Path(sticky.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
      (unixMode(child), unixMode(sticky))
    }
    assert(modes.head == ("2755", "1777"))
    assert(modes(1) == modes.head)
  }

  test("sink conf: session settings plus file: on PosixLocalFileSystem, other schemes stock") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("graft.sinkconf.probe", "kept")
    val (base, overlay) =
      try (spark.sessionState.newHadoopConf(), ConnectLayout.sinkConf(spark))
      finally hconf.unset("graft.sinkconf.probe")
    assert(overlay.get("graft.sinkconf.probe") == "kept")
    assert(FileSystem.getFileSystemClass("file", overlay) == classOf[PosixLocalFileSystem])
    // a stock instance is cached for file: by now; the overlay still wins
    assert(!FileSystem.getLocal(base).isInstanceOf[PosixLocalFileSystem])
    assert(FileSystem.get(URI.create("file:///"), overlay).getClass == classOf[PosixLocalFileSystem])
    def cls(scheme: String, c: org.apache.hadoop.conf.Configuration) =
      Try(FileSystem.getFileSystemClass(scheme, c).getName).toOption
    assert(cls("hdfs", base).isDefined)
    Seq("hdfs", "viewfs", "har", "s3a").foreach { scheme =>
      assert(cls(scheme, overlay) == cls(scheme, base), scheme)
    }
  }

  test("kafka records: key is the joined key columns, value the JSON row (idadecont shape)") {
    val changelog = Seq(("JOVEM", "2024-01-01 00:00:00", 7L),
      ("ADULTO", "2024-01-01 00:00:30", 3L))
      .toDF("idadecat", "window_start", "contagem")
    val recs = Pipelines.kafkaRecords(changelog, Seq("idadecat", "window_start"))
    assert(recs.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("key", "binary"), ("value", "binary")))
    val got = recs.as[(Array[Byte], Array[Byte])].collect()
      .map { case (k, v) => (new String(k, "UTF-8"), new String(v, "UTF-8")) }.toMap
    // the changelog key: group key + window start, joined — the shape the
    // S3 count sink stores per record (connect_s3_sink_count.config:18)
    assert(got.keySet == Set("JOVEM|2024-01-01 00:00:00", "ADULTO|2024-01-01 00:00:30"))
    assert(got("JOVEM|2024-01-01 00:00:00") ==
      """{"idadecat":"JOVEM","window_start":"2024-01-01 00:00:00","contagem":7}""")
    assert(got("ADULTO|2024-01-01 00:00:30") ==
      """{"idadecat":"ADULTO","window_start":"2024-01-01 00:00:30","contagem":3}""")
  }

  test("kafka avro records: value decodes back to the row via the wire schema") {
    import org.apache.spark.sql.types._
    val wire = StructType(Seq(
      StructField("idadecat", StringType),
      StructField("contagem", LongType)))
    val changelog = Seq(("JOVEM", 7L), ("ADULTO", 3L)).toDF("idadecat", "contagem")
    val recs = Pipelines.kafkaAvroRecords(changelog, Seq("idadecat"), wire, Some(7))
    val byKey = recs.as[(Array[Byte], Array[Byte])].collect()
      .map { case (k, v) => (new String(k, "UTF-8"), v) }.toMap
    val row = AvroBinary.decode(byKey("JOVEM"), wire, confluentFraming = true)
    assert(row != null && row.getUTF8String(0).toString == "JOVEM" && row.getLong(1) == 7L)
    // Confluent framing: magic byte + schema id 7
    assert(byKey("JOVEM")(0) == 0x00 && byKey("JOVEM")(4) == 7)
  }
}
