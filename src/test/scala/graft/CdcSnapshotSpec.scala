package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.CdcSnapshot

class CdcSnapshotSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmp(name: String): String =
    tempDir(name).toString

  private def initial(keys: Seq[Long]) =
    keys.map(k => (k, "O", k * 10.0)).toDF("key", "status", "price")

  private def readBack(dir: String): Map[Long, (String, Double)] =
    CdcSnapshot.read(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap

  private def bucketFiles(dir: String): Map[String, Set[String]] = {
    val root = new java.io.File(dir)
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(d => d.getName -> d.listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).toSet).toMap
  }

  test("applyBatch: U/D/I latest-wins semantics across two batches") {
    val dir = tmp("cdc_sem")
    CdcSnapshot.init(initial(1L to 8L), dir, buckets = 4)
    // batch 1: update 2, delete 3, insert 99
    CdcSnapshot.applyBatch(spark, dir,
      Seq((2L, 1L, "U:X"), (3L, 1L, "D:"), (99L, 1L, "I:N"))
        .toDF("key", "seq", "payload"), buckets = 4)
    val after1 = readBack(dir)
    assert(after1.keySet == (Set(1L, 2L, 4L, 5L, 6L, 7L, 8L, 99L)))
    assert(after1(2L) == (("X", 20.0)))
    assert(after1(99L) == (("N", 99.0 % 997)))
    assert(after1(1L) == (("O", 10.0)))
    // batch 2: two updates to key 2 in one batch — seq 2 wins; update the
    // inserted key
    CdcSnapshot.applyBatch(spark, dir,
      Seq((2L, 1L, "U:A"), (2L, 2L, "U:B"), (99L, 1L, "U:Z"))
        .toDF("key", "seq", "payload"), buckets = 4)
    val after2 = readBack(dir)
    assert(after2(2L) == (("B", 20.0)))
    assert(after2(99L) == (("Z", 99.0)))
    assert(after2(5L) == (("O", 50.0)))
  }

  test("applyBatch rewrites ONLY touched buckets; emptied buckets are dropped") {
    val dir = tmp("cdc_cow")
    val keys = 1L to 16L
    CdcSnapshot.init(initial(keys), dir, buckets = 8)
    val bucketOf = keys.map(k => k ->
      spark.range(1).select(CdcSnapshot.bucketCol(lit(k), 8)).head().getInt(0)
    ).toMap
    val before = bucketFiles(dir)
    // touch exactly one key
    val k = 7L
    CdcSnapshot.applyBatch(spark, dir,
      Seq((k, 1L, "U:X")).toDF("key", "seq", "payload"), buckets = 8)
    val after = bucketFiles(dir)
    val touched = s"bucket=${bucketOf(k)}"
    assert(after(touched) != before(touched), "touched bucket not rewritten")
    (before.keySet - touched).foreach { b =>
      assert(after(b) == before(b), s"untouched bucket $b was rewritten")
    }
    // delete EVERY key of one bucket -> its partition dir must disappear
    val victims = keys.filter(x => bucketOf(x) == bucketOf(k))
    CdcSnapshot.applyBatch(spark, dir,
      victims.map(v => (v, 1L, "D:")).toDF("key", "seq", "payload"),
      buckets = 8)
    assert(!bucketFiles(dir).contains(touched),
      "emptied bucket partition survived the merge")
    assert(readBack(dir).keySet == keys.toSet -- victims)
  }

  test("compact: only fragmented buckets rewritten, one sorted file each") {
    val dir = tmp("cdc_compact")
    val keys = 1L to 32L
    // single-task init -> exactly one file per bucket; a merge then
    // fragments ONLY its touched bucket into one file per shuffle task
    // (that per-rewrite parallelism is precisely the fragmentation
    // compaction exists to undo)
    CdcSnapshot.init(initial(keys).coalesce(1), dir, buckets = 2)
    val bucketOf = keys.map(k => k ->
      spark.range(1).select(CdcSnapshot.bucketCol(lit(k), 2)).head().getInt(0)
    ).toMap
    val hot = 11L
    // AQE would coalesce the tiny merge to one output file and hide the
    // fragmentation this fixture exists to create
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesceKey, "false")
    try CdcSnapshot.applyBatch(spark, dir,
      Seq((hot, 1L, "U:X")).toDF("key", "seq", "payload"), buckets = 2)
    finally spark.conf.set(coalesceKey, "true")
    val before = bucketFiles(dir)
    val hotDir = s"bucket=${bucketOf(hot)}"
    assert(before(hotDir).size > 1, s"fixture not fragmented: $before")
    val compacted = CdcSnapshot.compact(spark, dir, maxFiles = 1)
    assert(compacted == Seq(bucketOf(hot)))
    val after = bucketFiles(dir)
    assert(after(hotDir).size == 1, s"hot bucket not coalesced: $after")
    (before.keySet - hotDir).foreach { b =>
      assert(after(b) == before(b), s"untouched bucket $b was rewritten")
    }
    // contents survive, hot bucket file is key-sorted
    val s = readBack(dir)
    assert(s.keySet == keys.toSet && s(hot)._1 == "X")
    val hotRows = spark.read
      .parquet(s"$dir/$hotDir/${after(hotDir).head}")
      .select(col("key")).collect().map(_.getLong(0)).toSeq
    assert(hotRows == hotRows.sorted, s"not key-sorted: $hotRows")
  }

  test("applyBatch retry is idempotent (foreachBatch at-least-once safety)") {
    val dir = tmp("cdc_idem")
    CdcSnapshot.init(initial(1L to 8L), dir, buckets = 4)
    val batch = Seq((2L, 1L, "U:X"), (3L, 1L, "D:"), (99L, 1L, "I:N"))
    CdcSnapshot.applyBatch(spark, dir,
      batch.toDF("key", "seq", "payload"), buckets = 4)
    val once = readBack(dir)
    CdcSnapshot.applyBatch(spark, dir,
      batch.toDF("key", "seq", "payload"), buckets = 4)
    assert(readBack(dir) == once, "replaying the same batch changed state")
  }

  test("startCdcMergeSink: change stream kept applied across micro-batches") {
    val dir = tmp("cdc_stream")
    CdcSnapshot.init(initial(1L to 6L), dir, buckets = 4)
    val mem = MemoryStream[(Long, Long, String)]
    val q = CdcSnapshot.startCdcMergeSink(
      mem.toDF().toDF("key", "seq", "payload"), dir, tmp("cdc_ckpt"),
      buckets = 4)
    try {
      mem.addData((1L, 1L, "U:X"), (2L, 1L, "D:"))
      q.processAllAvailable()
      val s1 = readBack(dir)
      assert(s1(1L) == (("X", 10.0)) && !s1.contains(2L))
      mem.addData((1L, 2L, "U:Y"), (50L, 1L, "I:N"))
      q.processAllAvailable()
      val s2 = readBack(dir)
      assert(s2(1L) == (("Y", 10.0)))
      assert(s2(50L) == (("N", 50.0)))
      assert(s2.keySet == Set(1L, 3L, 4L, 5L, 6L, 50L))
    } finally q.stop()
  }
}
