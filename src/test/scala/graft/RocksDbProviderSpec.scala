package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{CdcSnapshot, Pipelines}

/** Every STATEFUL pipeline run once on the RocksDB state-store provider —
  * the store that actually holds 100 TB-scale state (the default
  * HDFS-backed provider keeps every key in executor heap; RocksDB spills
  * to local disk with changelog checkpointing). Sessionization has run on
  * RocksDB since round 7 (`StreamingSpec`); this suite extends the
  * discipline to the round-8 stateful additions — windowed manifest,
  * windowed KMV distinct sketch, windowed source drift (chained aggs),
  * and the CDC merge sink topology — pinning for each that (a) the query
  * really executed on RocksDB (provider-specific custom metrics present
  * for stateful operators) and (b) the emissions are IDENTICAL to the
  * in-memory-provider results the batch-exactness specs pin.
  */
class RocksDbProviderSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withRocksDb[T](body: => T): T = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  private def assertRanOnRocksDb(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ops = q.lastProgress.stateOperators
    assert(ops.nonEmpty, "no stateful operator in the query progress")
    assert(ops.forall(_.customMetrics.containsKey("rocksdbFilesCopied")),
      "RocksDB custom metrics absent — query did not run on the provider")
  }

  test("streaming manifest on RocksDB: same per-window release as batch") {
    import graft.operators.CorpusOps
    val rows = (0L until 40L).map(i =>
      (i, s"alpha beta doc$i content", "en", if (i % 2 == 0) "s_a" else "s_b", 4L))
    val expected = CorpusOps.manifest(
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    withRocksDb {
      val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
      val q = Pipelines.startMemorySink(
        Pipelines.streamingManifest(
          mem.toDF().toDF("doc_id", "text", "source", "ts"), "1 hour", "1 minute"),
        "manifest_rocks_t", OutputMode.Append)
      try {
        val ts = new java.sql.Timestamp(30000L)
        val (b1, b2) = rows.map(r => (r._1, r._2, r._4, ts)).splitAt(15)
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
        mem.addData((9999L, "late window advance", "s_x",
          new java.sql.Timestamp(ts.getTime + 2 * 3600L * 1000L)))
        q.processAllAvailable()
        val got = spark.table("manifest_rocks_t")
          .filter($"source".startsWith("s_"))
          .select($"source", $"n_docs", $"n_tokens", $"content_xor")
          .as[(String, Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
        assert(got.view.filterKeys(Set("s_a", "s_b")).toMap ==
          expected.view.filterKeys(Set("s_a", "s_b")).toMap,
          s"RocksDB manifest drifted: $got vs $expected")
        assertRanOnRocksDb(q)
      } finally q.stop()
    }
  }

  test("streaming cluster labels on RocksDB: provisional ids batch-exact vs persisted state") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.length
    val sf = "/root/testdata/sf0.001"
    val bandIdx = Dedup.lshBandIndex(spark, sf).filter($"doc_id" % 10 < 8)
    val shIdx = Dedup.shingleIndex(spark, sf).filter($"doc_id" % 10 < 8)
    val labels = Dedup.clusterLabelIndex(spark, sf, 3, 0.8)
    // a known old-slice document re-arriving with case/punct noise: same
    // normalized shingles → exact jaccard 1.0 → its component's label
    val corpusDoc = Tables.load(spark, sf, "documents")
      .filter($"doc_id" % 10 < 8 && length($"text") > 50)
      .select($"doc_id", $"text").orderBy($"doc_id").limit(1).collect()(0)
    val oldLab = labels.filter($"doc_id" === corpusDoc.getLong(0))
      .select($"cluster_id").as[Long].head()
    val ts = new java.sql.Timestamp(1000000L)
    val arrivals = Seq(
      (900001L, corpusDoc.getString(1).toUpperCase + "!!", ts),
      (900002L, "zxqv wkjh plmn qrst uvwx yzab cdef ghij klmn opqr", ts))
    // the batch face of the SAME chain is the expected emission set — and
    // on a fixture with no same-batch near-dups it is exactly what the
    // nightly Dedup.incrementalClusterLabels merge would assign these docs
    val expected = Pipelines.streamingClusterLabels(
      arrivals.toDF("doc_id", "text", "ts"), bandIdx, shIdx, labels,
      "ts", "1 minute")
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toSet
    assert(expected == Set(
      (900001L, math.min(900001L, oldLab)), (900002L, 900002L)),
      s"batch face drifted: $expected (old label $oldLab)")
    withRocksDb {
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
      val q = Pipelines.startMemorySink(
        Pipelines.streamingClusterLabels(
          mem.toDF().toDF("doc_id", "text", "ts"), bandIdx, shIdx, labels,
          "ts", "1 minute"),
        "cluster_labels_t", OutputMode.Append)
      try {
        mem.addData(arrivals.toIndexedSeq)
        q.processAllAvailable()
        mem.addData((999999L, "window advance",
          new java.sql.Timestamp(ts.getTime + 3600L * 1000L)))
        q.processAllAvailable()
        val got = spark.table("cluster_labels_t")
          .filter($"doc_id" < 999999L)
          .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toSet
        assert(got == expected, s"replay drifted: $got vs $expected")
        assertRanOnRocksDb(q)
      } finally q.stop()
    }
  }

  test("streaming windowed KMV on RocksDB: sketch state batch-exact") {
    val all = (0 until 100).map(u =>
      (new java.sql.Timestamp(30000L + u), 1000L + u, "click"))
    val expected = graft.operators.Relational.kmvDistinctByGroup(
      all.toDF("ts", "user_id", "event_type"), "event_type",
      col("user_id"), 16)
      .select($"est_distinct").as[Double].head()
    withRocksDb {
      val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
      val q = Pipelines.startMemorySink(
        Pipelines.streamingDistinctUsers(
          mem.toDF().toDF("ts", "user_id", "event_type"),
          "1 hour", "1 minute", 16),
        "kmv_rocks_t", OutputMode.Append)
      try {
        val (b1, b2) = all.splitAt(40)
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
        mem.addData((new java.sql.Timestamp(30000L + 2 * 3600L * 1000L), 9L, "late"))
        q.processAllAvailable()
        val got = spark.table("kmv_rocks_t")
          .filter($"event_type" === "click")
          .select($"n_sketch", $"est_distinct").as[(Long, Double)].collect()
        assert(got.length == 1 && got.head == ((16L, expected)),
          s"RocksDB KMV drifted: ${got.toSeq} vs (16, $expected)")
        assertRanOnRocksDb(q)
      } finally q.stop()
    }
  }

  test("streaming source drift on RocksDB: chained windowed aggs batch-exact") {
    import graft.operators.CorpusOps
    val bulk = (0L until 30L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again", "s_bulk"))
    val shift = (100L until 105L).map(i =>
      (i, "zeta omega phi chi psi rho sigma tau upsilon nu", "s_shift"))
    val corpus = (bulk ++ shift).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
    val expected = CorpusOps.sourceDrift(corpus, 1024).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val model = CorpusOps.bigramBucketModel(corpus, 1024)
    val consts = CorpusOps.bigramModelConstants(model)
    withRocksDb {
      val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
      val q = Pipelines.startMemorySink(
        Pipelines.streamingSourceDrift(
          mem.toDF().toDF("doc_id", "text", "source", "ts"), model, consts,
          "ts", "1 minute", "30 seconds", 1024),
        "drift_rocks_t", OutputMode.Append)
      try {
        val ts = new java.sql.Timestamp(60000L)
        mem.addData((bulk ++ shift).map { case (id, text, src) =>
          (id, text, src, ts) }: _*)
        q.processAllAvailable()
        mem.addData((999L, bulk.head._2, "s_bulk",
          new java.sql.Timestamp(ts.getTime + 600000L)))
        q.processAllAvailable()
        val got = spark.table("drift_rocks_t")
          .select($"source", $"n_feats", $"kl_scaled_micro", $"kl")
          .collect().map(r => r.getString(0) ->
            ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
        assert(got == expected, s"RocksDB drift drifted: $got vs $expected")
        assertRanOnRocksDb(q)
      } finally q.stop()
    }
  }

  test("CDC merge sink topology runs under the RocksDB provider config") {
    // the sink itself is a stateless foreachBatch (the COW table IS the
    // state), so no state-store metrics exist to assert — this pins that
    // the topology is provider-agnostic: flipping the session to RocksDB
    // (as a 100 TB deployment would, globally) changes nothing.
    def tmp(n: String) = tempDir(n).toString
    withRocksDb {
      val dir = tmp("cdc_rocks")
      CdcSnapshot.init(
        (1L to 6L).map(k => (k, "O", k * 10.0)).toDF("key", "status", "price"),
        dir, buckets = 4)
      val mem = MemoryStream[(Long, Long, String)]
      val q = CdcSnapshot.startCdcMergeSink(
        mem.toDF().toDF("key", "seq", "payload"), dir, tmp("cdc_rocks_ckpt"),
        buckets = 4)
      try {
        mem.addData((1L, 1L, "U:X"), (2L, 1L, "D:"))
        q.processAllAvailable()
        mem.addData((1L, 2L, "U:Y"), (50L, 1L, "I:N"))
        q.processAllAvailable()
        val s = CdcSnapshot.read(spark, dir).collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
        assert(s(1L) == (("Y", 10.0)) && s(50L) == (("N", 50.0)))
        assert(s.keySet == Set(1L, 3L, 4L, 5L, 6L, 50L))
      } finally q.stop()
    }
  }
}
