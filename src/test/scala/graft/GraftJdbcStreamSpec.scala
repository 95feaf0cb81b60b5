package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.{ArrayChunkFetcher, ChunkFetcher, ChunkSource, GraftJdbcMicroBatchStream, GraftJdbcOffset, GraftJdbcStream, JdbcOffset, SnapshotChunkSource}

/** The DSv2 `graft-jdbc` streaming source end-to-end: real
  * `spark.readStream` queries over a registered ChunkSource — offsets,
  * chunked backfill across micro-batches, and checkpointed restart
  * (SURVEY.md §2.1 S1 option (b)).
  */
class GraftJdbcStreamSpec extends SparkSpec {
  import spark.implicits._

  private def table(rows: (Long, Long)*): DataFrame =
    rows.map { case (id, ms) => (id, new Timestamp(ms)) }
      .toDF("id", "dt_update")

  private def tableWithNulls(rows: (Long, Option[Long])*): DataFrame =
    rows.map { case (id, ms) => (id, ms.map(new Timestamp(_)).orNull) }
      .toDF("id", "dt_update")

  /** The same table as a frame-only source (slices read on the driver at
    * plan time) and as a source with a fetcher (tasks read their slices).
    */
  private def bothKinds(df: DataFrame, incrementingCol: Option[String] = None)
      : Seq[(String, SnapshotChunkSource)] = Seq(
    "no fetcher" -> new SnapshotChunkSource(() => df, incrementingCol = incrementingCol),
    "fetcher" -> new SnapshotChunkSource(() => df, incrementingCol = incrementingCol,
      fetcher = Some(ArrayChunkFetcher(df.collect().toIndexedSeq))))

  /** A stream instance driven by hand, as the engine drives it. */
  private def stream(src: ChunkSource, schema: org.apache.spark.sql.types.StructType,
                     opts: (String, String)*): GraftJdbcMicroBatchStream = {
    val all = (("sourceHandle" -> handle(src)) +: opts).toMap
    new GraftJdbcMicroBatchStream(schema, new CaseInsensitiveStringMap(all.asJava))
  }

  private def range(endMs: Long, endId: Option[Long] = None) =
    (GraftJdbcOffset(None), GraftJdbcOffset(Some(JdbcOffset(new Timestamp(endMs), endId))))

  /** Every row the planned partitions read, as their ids, sorted. */
  private def drain(s: GraftJdbcMicroBatchStream, parts: Array[InputPartition]): Seq[Long] = {
    val factory = s.createReaderFactory()
    parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (r.next()) buf += r.get().getLong(0)
      buf
    }.sorted.toSeq
  }

  private var n = 0
  private def handle(src: ChunkSource): String = {
    n += 1
    val key = s"spec_src_$n"
    GraftJdbcStream.registry.put(key, src)
    key
  }

  private def readStream(key: String, extra: (String, String)*) = {
    val r = spark.readStream.format("graft-jdbc").option("sourceHandle", key)
    extra.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  test("streams a table incrementally: snapshot first, then only new rows") {
    @volatile var snap = table((1L, 1000L), (2L, 2000L))
    val key = handle(new SnapshotChunkSource(() => snap))
    val q = graft.streaming.Pipelines.startMemorySink(readStream(key), "gjs_t1")
    try {
      q.processAllAvailable()
      assert(spark.table("gjs_t1").select("id").as[Long].collect().toSet == Set(1L, 2L))
      // a new insert and a backdated update: only the insert arrives
      snap = table((1L, 500L), (2L, 2000L), (3L, 3000L))
      q.processAllAvailable()
      assert(spark.table("gjs_t1").select("id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L, 3L)) // no re-delivery, no backdated row
    } finally q.stop()
  }

  test("capped backfill spans micro-batches, composite mode, exactly-once total") {
    val snap = table((1L to 23L).map(i => (i, 5000L)): _*) // one equal-ts run
    val key = handle(new SnapshotChunkSource(() => snap,
      incrementingCol = Some("id")))
    val q = graft.streaming.Pipelines.startMemorySink(
      readStream(key, "maxRowsPerPoll" -> "5", "incrementingColumn" -> "id"),
      "gjs_t2")
    try {
      q.processAllAvailable()
      // the whole equal-ts run arrives exactly once, in >= 5 chunked batches
      assert(spark.table("gjs_t2").select("id").as[Long].collect().sorted.toSeq
        == (1L to 23L))
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 5, s"expected chunked delivery, got $batches batches")
    } finally q.stop()
  }

  test("checkpointed restart resumes from the committed offset, exactly once") {
    @volatile var snap = table((1L, 1000L), (2L, 2000L))
    val src = new SnapshotChunkSource(() => snap)
    val key = handle(src)
    val ckp = tempDir("gjs_ckp_").toString
    val out = tempDir("gjs_out_").toString

    def start() = readStream(key).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckp).start()

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() == 2)
    } finally q1.stop()

    // rows inserted while the stream is DOWN, then restart from checkpoint
    snap = table((1L, 1000L), (2L, 2000L), (3L, 3000L), (4L, 4000L))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // the restart resumes past the checkpointed offset: rows 1-2 are
      // NOT re-read or re-delivered; the sink holds each row exactly once
      assert(spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L, 3L, 4L))
    } finally q2.stop()
  }

  test("parallel range reads: tasks fetch their own slices, multi-partition batch") {
    val snap = table((1L to 40L).map(i => (i, 1000L * i)): _*)
    val key = handle(new SnapshotChunkSource(() => snap,
      incrementingCol = Some("id"),
      fetcher = Some(ArrayChunkFetcher(snap.collect().toIndexedSeq))))
    @volatile var maxParts = 0
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = readStream(key, "rowsPerPartition" -> "7")
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.select("id").as[Long].collect()
        seen.synchronized { seen ++= ids }
        maxParts = math.max(maxParts, b.rdd.getNumPartitions)
      }.start()
    try {
      q.processAllAvailable()
      // exactly once (a Seq, not a Set: duplicates would show)
      assert(seen.sorted.toSeq == (1L to 40L))
      assert(maxParts == 6, // ceil(40/7) range slices in the one batch
        s"expected 6 range partitions, got $maxParts")
    } finally q.stop()
  }

  test("parallel pure-ts mode: equal-ts runs stay whole across range boundaries") {
    // three equal-ts runs; rowsPerPartition=3 wants to cut inside each
    val snap = table(((1L to 10L).map((_, 1000L)) ++
      (11L to 20L).map((_, 2000L)) ++ (21L to 25L).map((_, 3000L))): _*)
    val key = handle(new SnapshotChunkSource(() => snap,
      fetcher = Some(ArrayChunkFetcher(snap.collect().toIndexedSeq))))
    @volatile var maxParts = 0
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = readStream(key, "rowsPerPartition" -> "3")
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.select("id").as[Long].collect()
        seen.synchronized { seen ++= ids }
        maxParts = math.max(maxParts, b.rdd.getNumPartitions)
      }.start()
    try {
      q.processAllAvailable()
      assert(seen.sorted.toSeq == (1L to 25L)) // no loss, no duplication
      // ts-only bounds collapse to the three distinct-ts edges
      assert(maxParts == 3, s"expected 3 deduped range partitions, got $maxParts")
    } finally q.stop()
  }

  test("parallel restart replans range partitions from keys (stash gone)") {
    val snap = table((1L to 20L).map(i => (i, 1000L * i)): _*)
    val key = handle(new SnapshotChunkSource(() => snap,
      fetcher = Some(ArrayChunkFetcher(snap.collect().toIndexedSeq))))
    val stream = new graft.sources.GraftJdbcMicroBatchStream(snap.schema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("sourceHandle", key, "rowsPerPartition", "4")))
    // a fresh stream instance planning a checkpointed range it never
    // probed — the restart/replay path — must still split in parallel
    val parts = stream.planInputPartitions(
      graft.sources.GraftJdbcOffset(None),
      graft.sources.GraftJdbcOffset(Some(JdbcOffset(new Timestamp(20000L)))))
    assert(parts.length == 5)
    val factory = stream.createReaderFactory()
    val got = parts.flatMap { p =>
      val r = factory.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (r.next()) buf += r.get().getLong(0)
      buf
    }
    assert(got.sorted.toSeq == (1L to 20L))
  }

  test("parallel reads: checkpointed restart resumes exactly once") {
    val k = "spec_shared_rows"
    def setRows(df: DataFrame): Unit =
      GraftJdbcStreamSpecRows.data.put(k, df.collect().toIndexedSeq)
    @volatile var snap = table((1L, 1000L), (2L, 2000L))
    setRows(snap)
    val key = handle(new SnapshotChunkSource(() => snap,
      fetcher = Some(SharedRowsFetcher(k))))
    val ckp = tempDir("gjs_pckp_").toString
    val out = tempDir("gjs_pout_").toString
    // a one-key cap: a restart that re-probed from the table start would
    // end its first batch below the committed offset and re-deliver rows
    def start() = readStream(key, "rowsPerPartition" -> "1", "maxRowsPerPoll" -> "1").writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckp).start()

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() == 2)
    } finally q1.stop()

    snap = table((1L, 1000L), (2L, 2000L), (3L, 3000L), (4L, 4000L))
    setRows(snap)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L, 3L, 4L))
    } finally q2.stop()
  }

  test("key replay is hard-capped: oversized committed range fails loudly") {
    // a committed range is probe-sized under append-only; the replay
    // re-reads at most 2×maxRowsPerPoll keys and refuses past that — an
    // oversized range means the append-only assumption broke, and the
    // failure names the fix instead of holding the range on the driver
    val snap = table((1L to 50L).map(i => (i, 1000L * i)): _*)
    for (mode <- Seq(None, Some("id")); (kind, src) <- bothKinds(snap, mode)) {
      val s = stream(src, snap.schema, "maxRowsPerPoll" -> "10")
      val (lo, hi) = range(50000L, mode.map(_ => 50L))
      val e = intercept[IllegalArgumentException](s.planInputPartitions(lo, hi))
      assert(e.getMessage.contains("driver cap"), s"$kind $mode: ${e.getMessage}")
      // a probe-sized committed range still replays through the same path
      val (plo, phi) = range(15000L, mode.map(_ => 15L))
      assert(drain(s, s.planInputPartitions(plo, phi)) == (1L to 15L), s"$kind $mode")
    }
  }

  test("oversized pure-ts replay fails from the truncated fetch, before any unbounded read") {
    // when the capped cap+1 key fetch already proves the strictly-before
    // prefix exceeds the cap (every fetched key is strictly before the
    // committed ts), the cap error must fire THERE — the unbounded
    // re-read would collect onto the driver exactly the range the cap
    // exists to keep off it
    def counting(inner: ChunkSource, unbounded: () => Unit) = new ChunkSource {
      override def timestampCol: String = inner.timestampCol
      override def incrementingCol: Option[String] = inner.incrementingCol
      override def chunk(lower: Option[JdbcOffset], upper: Option[Timestamp],
                         limit: Option[Int]): DataFrame = {
        if (limit.isEmpty && upper.isDefined) unbounded()
        inner.chunk(lower, upper, limit)
      }
      override def rangeFetcher: Option[ChunkFetcher] = inner.rangeFetcher
    }
    val snap = table((1L to 50L).map(i => (i, 1000L * i)): _*)
    // the equal-ts boundary run (the documented uncapped contract) still
    // reaches the unbounded read and replays completely
    val run = table((1L to 30L).map(i => (i, 1000L)): _*)
    for (((kind, src), (_, runSrc)) <- bothKinds(snap).zip(bothKinds(run))) {
      var unbounded = 0
      val s = stream(counting(src, () => unbounded += 1), snap.schema,
        "maxRowsPerPoll" -> "10")
      val e = intercept[IllegalArgumentException] {
        s.planInputPartitions(range(50000L)._1, range(50000L)._2)
      }
      assert(e.getMessage.contains("driver cap"), s"$kind: ${e.getMessage}")
      assert(unbounded == 0,
        s"$kind: the cap must fail from the truncated fetch; an unbounded re-read ran first")
      val runStream = stream(runSrc, run.schema, "maxRowsPerPoll" -> "10")
      val (lo, hi) = range(1000L)
      assert(drain(runStream, runStream.planInputPartitions(lo, hi)) == (1L to 30L), kind)
    }
  }

  test("key replay cap counts only the committed range, both source kinds") {
    // COMPOSITE: rows appended at the boundary timestamp AFTER the commit
    // (the coarse-ts regime composite mode exists for) land in the ts<=end
    // fetch but are beyond the committed range — they must not trip the
    // cap. 15 strict-before rows + 25 boundary-ts rows, committed id=20:
    // the range is 20 rows (== cap), the fetch is 40.
    val comp = table(((1L to 15L).map(i => (i, 1000L * i)) ++
      (16L to 40L).map(i => (i, 16000L))): _*)
    // PURE-TS: an equal-ts run is delivered uncapped by design on the
    // forward path (an offset can only land on a distinct-ts edge), so a
    // committed 30-row run past the 20-row cap must stay replayable.
    val run = table((1L to 30L).map(i => (i, 1000L)): _*)
    for (((kind, compSrc), (_, runSrc)) <- bothKinds(comp, Some("id")).zip(bothKinds(run))) {
      val compStream = stream(compSrc, comp.schema, "maxRowsPerPoll" -> "10")
      val (clo, chi) = range(16000L, Some(20L))
      assert(drain(compStream, compStream.planInputPartitions(clo, chi)) == (1L to 20L), kind)
      val runStream = stream(runSrc, run.schema, "maxRowsPerPoll" -> "10")
      val (rlo, rhi) = range(1000L)
      assert(drain(runStream, runStream.planInputPartitions(rlo, rhi)) == (1L to 30L), kind)
    }
  }

  test("fetcher and no-fetcher sources give identical batches and partitions") {
    // equal-ts runs (cut by the cap and by the split), NULL timestamps,
    // both modes: only where the rows are read may differ
    val snap = tableWithNulls(((1L to 9L).map(i => (i, Some(1000L))) ++
      Seq((10L, None), (11L, Some(2000L)), (12L, None)) ++
      (13L to 30L).map(i => (i, Some(3000L + i / 4)))): _*)
    for (mode <- Seq(None, Some("id"))) {
      val runs = bothKinds(snap, mode).map { case (kind, src) =>
        val batches = scala.collection.mutable.ArrayBuffer.empty[(Seq[Long], Int)]
        val q = readStream(handle(src), "maxRowsPerPoll" -> "7", "rowsPerPartition" -> "3")
          .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
            val ids = b.select("id").as[Long].collect().sorted.toSeq
            if (ids.nonEmpty) batches.synchronized { batches += ids -> b.rdd.getNumPartitions }
            ()
          }.start()
        try q.processAllAvailable() finally q.stop()
        kind -> batches.toVector
      }
      val (_, noFetcher) = runs.head
      val (_, withFetcher) = runs.last
      assert(noFetcher == withFetcher, s"mode=$mode")
      assert(noFetcher.flatMap(_._1).sorted ==
        ((1L to 9L) ++ Seq(11L) ++ (13L to 30L)), s"mode=$mode: exactly once, no NULL timestamps")
      assert(noFetcher.size > 1 && noFetcher.exists(_._2 > 1),
        s"mode=$mode: expected capped multi-partition batches, got $noFetcher")
    }
  }

  test("an INTEGER incrementing column reads as a long key: probe, fetch, stream") {
    // Postgres SERIAL / INTEGER ids arrive as IntegerType
    val ts = (ms: Long) => new Timestamp(ms)
    val snap = Seq((1, ts(1000L)), (2, ts(1000L)), (3, ts(2000L)), (4, ts(2000L)))
      .toDF("id", "dt_update")
    val src = new SnapshotChunkSource(() => snap, incrementingCol = Some("id"))
    assert(src.chunkKeys(None, None, None).toSeq ==
      Seq(1L -> 1000L, 2L -> 1000L, 3L -> 2000L, 4L -> 2000L)
        .map { case (id, ms) => JdbcOffset(ts(ms), Some(id)) })
    val sliced = ArrayChunkFetcher(snap.collect().toIndexedSeq).fetch(snap.schema,
      "dt_update", Some("id"), Some(JdbcOffset(ts(1000L), Some(1L))),
      JdbcOffset(ts(2000L), Some(3L)))
    assert(sliced.map(_.getInt(0)).toSeq == Seq(2, 3))
    for ((kind, s) <- bothKinds(snap, Some("id"))) {
      val q = graft.streaming.Pipelines.startMemorySink(
        readStream(handle(s), "maxRowsPerPoll" -> "3"), s"gjs_int_${kind.replace(' ', '_')}")
      try {
        q.processAllAvailable()
        assert(spark.table(s"gjs_int_${kind.replace(' ', '_')}").select("id").as[Int]
          .collect().sorted.toSeq == Seq(1, 2, 3, 4), kind)
      } finally q.stop()
    }
  }

  test("the stream rejects a non-integral id column and non-positive row counts") {
    val snap = table((1L, 1000L))
    val src = new SnapshotChunkSource(() => snap)
    for ((opt, v) <- Seq("maxRowsPerPoll" -> "0", "maxRowsPerPoll" -> "-1",
                         "rowsPerPartition" -> "0", "rowsPerPartition" -> "-1")) {
      val e = intercept[IllegalArgumentException](stream(src, snap.schema, opt -> v))
      assert(e.getMessage.contains(s"'$opt'") && e.getMessage.contains(v), e.getMessage)
    }
    val named = Seq(("a", new Timestamp(1000L))).toDF("id", "dt_update")
    val e = intercept[IllegalArgumentException](stream(
      new SnapshotChunkSource(() => named, incrementingCol = Some("id")), named.schema))
    assert(e.getMessage.contains("'id'") && e.getMessage.contains("STRING"), e.getMessage)
  }

  test("offset json round-trips both modes") {
    import graft.sources.JdbcOffset
    val src = new SnapshotChunkSource(() => table((1L, 1000L)))
    GraftJdbcStream.registry.put("spec_off", src)
    val ts = new Timestamp(1704067200123L); ts.setNanos(123456789)
    // reflective access via the spec package is deliberate: offset
    // serialization is the restart contract
    val stream = new graft.sources.GraftJdbcMicroBatchStream(
      table((1L, 1000L)).schema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("sourceHandle", "spec_off")))
    val composite = graft.sources.GraftJdbcOffset(Some(JdbcOffset(ts, Some(42L))))
    assert(stream.deserializeOffset(composite.json()) == composite)
    val pure = graft.sources.GraftJdbcOffset(Some(JdbcOffset(ts, None)))
    assert(stream.deserializeOffset(pure.json()) == pure)
    val begin = graft.sources.GraftJdbcOffset(None)
    assert(stream.deserializeOffset(begin.json()) == begin)
  }
}

/** Mutable row store behind [[SharedRowsFetcher]] — lets a restart test
  * insert rows "into the table" while the stream is down without
  * reserializing the fetcher (same JVM in local mode).
  */
object GraftJdbcStreamSpecRows {
  val data = new java.util.concurrent.ConcurrentHashMap[
    String, IndexedSeq[org.apache.spark.sql.Row]]()
}

case class SharedRowsFetcher(key: String) extends ChunkFetcher {
  override def fetch(schema: org.apache.spark.sql.types.StructType,
                     timestampCol: String, incrementingCol: Option[String],
                     lower: Option[JdbcOffset], upper: JdbcOffset) =
    ArrayChunkFetcher(GraftJdbcStreamSpecRows.data.get(key))
      .fetch(schema, timestampCol, incrementingCol, lower, upper)
}
