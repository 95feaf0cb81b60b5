package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.functions.{AvroCodec, StaticRegistry}
import graft.sources.{GraftJdbcStream, SnapshotChunkSource}
import graft.streaming.{CdcSnapshot, Pipelines}

/** The composed reference-topology analog, end to end from ONE driven
  * query ([[graft.streaming.Pipelines.startReferenceTopology]]): the
  * incremental `graft-jdbc` DSv2 source feeds Confluent-framed Avro
  * records written under TWO interleaved writer-schema versions; the
  * topology registry-dispatches the decode, dead-letters the malformed
  * record, applies the curation gates (language, quality, in-batch AND
  * cross-batch fingerprint dedup), maintains the bucket-scoped
  * copy-on-write snapshot, and emits per-batch release-manifest rows —
  * all asserted from the one topology's outputs. This is the streaming
  * twin of the batch `corpus_incremental_curation` query.
  */
class ReferenceTopologySpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val wireV1 = StructType(Seq( // early writer: no lang column
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType), StructField("dt_update", LongType)))
  private val wireV2 = wireV1.add(StructField("lang", StringType))
  private val reader = wireV2
  private val registry = StaticRegistry(Map(1 -> wireV1, 2 -> wireV2))

  private val goodEn = ("the cat and the dog sat on a mat of straw " * 12).trim
  private val otherEn = ("a bird and the fish swim to the old red barn " * 12).trim
  private val updatedEn = ("the small black cat now sits by the warm fire " * 12).trim
  private val thirdEn = ("you can see the green hill past the long river " * 12).trim
  private val german = ("der hund und die katze ist nicht ein zu mit auf " * 12).trim
  private val junk = "!!! ??? !! ?"

  /** Confluent-framed Avro bytes for one doc row under schema `id`. */
  private def enc(id: Int, docId: Long, text: String, source: String,
                  ms: Long, lang: Option[String]): Array[Byte] = {
    val (schema, row) = lang match {
      case Some(l) => (wireV2, Seq((docId, text, source, ms, l))
        .toDF("doc_id", "text", "source", "dt_update", "lang"))
      case None => (wireV1, Seq((docId, text, source, ms))
        .toDF("doc_id", "text", "source", "dt_update"))
    }
    row.select(AvroCodec.avroEncode(
        struct(row.columns.map(col): _*), schema, Some(id)).as("v"))
      .as[Array[Byte]].head()
  }

  test("jdbc → evolving avro → curation → CDC snapshot + manifest, one topology") {
    def rec(bytes: Array[Byte], ms: Long) = (bytes, new Timestamp(ms))
    val phase1 = Seq(
      rec(enc(2, 1L, goodEn, "web", 1000L, Some("en")), 1000L), // survives
      rec(enc(2, 2L, goodEn, "web", 2000L, Some("en")), 2000L), // in-batch dup
      rec(enc(2, 3L, german, "web", 3000L, Some("de")), 3000L), // lang gate
      rec(enc(2, 4L, junk, "web", 4000L, Some("en")), 4000L), // quality gate
      rec(enc(1, 5L, otherEn, "api", 5000L, None), 5000L), // v1 writer, survives
      rec(Array[Byte](0, 0, 0, 0, 99, 12, 34), 5500L)) // unknown id → dead letter
    val phase2 = Seq(
      rec(enc(2, 1L, updatedEn, "web", 10000L, Some("en")), 10000L), // update doc 1
      rec(enc(2, 6L, goodEn, "web", 11000L, Some("en")), 11000L), // cross-batch dup
      rec(enc(1, 7L, thirdEn, "api", 12000L, None), 12000L)) // new, survives

    @volatile var feed = phase1
    GraftJdbcStream.registry.put("spec_ref_topology",
      new SnapshotChunkSource(() => feed.toDF("value", "dt_update")))
    val out = tempDir("graft_reftopo").toString
    val q = Pipelines.startReferenceTopology(
      spark.readStream.format("graft-jdbc")
        .option("sourceHandle", "spec_ref_topology").load(),
      reader, registry, Seq(1, 2), out,
      tempDir("graft_reftopo_ckpt").toString,
      buckets = 8, queryName = "spec_ref_topology_q")
    try {
      q.processAllAvailable()
      // phase 1 applied: the two survivors, v1 record's lang resolved null
      val s1 = CdcSnapshot.readUpsert(spark, s"$out/snapshot")
        .select($"doc_id", $"text", $"source").as[(Long, String, String)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(s1.keySet == Set(1L, 5L), s"phase-1 snapshot keys: ${s1.keySet}")
      assert(s1(1L) == ((goodEn, "web")) && s1(5L) == ((otherEn, "api")))
      feed = feed ++ phase2
      q.processAllAvailable()
      val s2 = CdcSnapshot.readUpsert(spark, s"$out/snapshot")
        .select($"doc_id", $"text", $"source").as[(Long, String, String)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(s2.keySet == Set(1L, 5L, 7L), s"phase-2 snapshot keys: ${s2.keySet}")
      assert(s2(1L) == ((updatedEn, "web")), "doc 1 update not applied")
      assert(s2(7L) == ((thirdEn, "api")))
    } finally q.stop()

    // dead letter: exactly the malformed record, byte-identical
    val dead = spark.read.parquet(s"$out/dead_letter")
      .select($"value").as[Array[Byte]].collect()
    assert(dead.length == 1 &&
      dead.head.sameElements(Array[Byte](0, 0, 0, 0, 99, 12, 34)),
      s"dead letter contents: ${dead.map(_.toSeq).toSeq}")

    // manifest: per-batch release rows aggregate to the manifest of ALL
    // released rows (doc 1 was released twice — original then update —
    // so the ingest manifest counts both versions; counts/sums add, the
    // content checksum xor-folds)
    val released = Seq(
      (1L, goodEn, "web"), (5L, otherEn, "api"),
      (1L, updatedEn, "web"), (7L, thirdEn, "api"))
      .toDF("doc_id", "text", "source")
    val expected = graft.operators.CorpusOps.manifest(released)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = spark.read.parquet(s"$out/manifest")
      .groupBy($"source")
      .agg(sum($"n_docs").as("n_docs"), sum($"n_tokens").as("n_tokens"),
        expr("bit_xor(content_xor)").as("content_xor"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected, s"manifest drifted: $got vs $expected")
  }

  test("topology restart on its checkpoint: offsets resume, outputs stay exact") {
    // the operational story at 100 TB: the driving query dies (deploy,
    // preemption) and a NEW query starts from the same checkpoint — the
    // source must resume past phase 1's offsets (no re-ingest: cross-batch
    // dedup would mask re-decode but batch_id dirs would duplicate), and
    // the snapshot/manifest must end exactly as an uninterrupted run's.
    def rec(bytes: Array[Byte], ms: Long) = (bytes, new Timestamp(ms))
    val phase1 = Seq(
      rec(enc(2, 1L, goodEn, "web", 1000L, Some("en")), 1000L),
      rec(enc(1, 5L, otherEn, "api", 5000L, None), 5000L))
    val phase2 = Seq(
      rec(enc(2, 1L, updatedEn, "web", 10000L, Some("en")), 10000L),
      rec(enc(1, 7L, thirdEn, "api", 12000L, None), 12000L))
    @volatile var feed = phase1
    GraftJdbcStream.registry.put("spec_ref_restart",
      new SnapshotChunkSource(() => feed.toDF("value", "dt_update")))
    val out = tempDir("graft_restart").toString
    val ckpt = tempDir("graft_restart_ck").toString
    def start() = Pipelines.startReferenceTopology(
      spark.readStream.format("graft-jdbc")
        .option("sourceHandle", "spec_ref_restart").load(),
      reader, registry, Seq(1, 2), out, ckpt,
      buckets = 8, queryName = "spec_ref_restart_q")
    // batch dirs live under the checkpoint generation's run=<id> namespace
    def batchDirs() = {
      val root = new java.io.File(s"$out/manifest")
      root.listFiles().filter(_.isDirectory).flatMap(run =>
        run.listFiles().filter(_.isDirectory)
          .map(b => s"${run.getName}/${b.getName}")).toSet
    }
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val batchDirsAfter1 = batchDirs()
    feed = feed ++ phase2
    val q2 = start() // NEW query, SAME checkpoint
    try q2.processAllAvailable() finally q2.stop()
    val s = CdcSnapshot.readUpsert(spark, s"$out/snapshot")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(s == Map(1L -> updatedEn, 5L -> otherEn, 7L -> thirdEn),
      s"restart diverged: ${s.keySet}")
    // phase-1 batch dirs untouched, phase-2 landed under NEW batch ids
    // in the SAME run namespace (same checkpoint → same query id)
    val batchDirsAfter2 = batchDirs()
    assert(batchDirsAfter1.subsetOf(batchDirsAfter2), "phase-1 manifests lost")
    assert(batchDirsAfter2.size > batchDirsAfter1.size, "phase 2 not ingested")
    assert(q2.id == q1.id, s"restart changed the query id: ${q1.id} → ${q2.id}")
    assert(batchDirsAfter2.map(_.takeWhile(_ != '/')) == Set(s"run=${q1.id}"),
      s"run namespaces: $batchDirsAfter2")
    // manifest totals = all released rows, counted once each
    val released = Seq((1L, goodEn, "web"), (5L, otherEn, "api"),
      (1L, updatedEn, "web"), (7L, thirdEn, "api"))
      .toDF("doc_id", "text", "source")
    val expected = graft.operators.CorpusOps.manifest(released)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = spark.read.parquet(s"$out/manifest")
      .groupBy($"source")
      .agg(sum($"n_docs").as("d"), sum($"n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, s"manifest double-counted across restart: $got vs $expected")
  }

  test("batch replay after a committed upsert keeps the manifest (crash window)") {
    // the round-9 advisory fix, pinned: foreachBatch retries a batch when
    // the job died BETWEEN the snapshot write and the checkpoint commit.
    // The old code recomputed the batch on replay — the cross-batch fp
    // anti-join then saw the batch's own fingerprints already in the
    // snapshot, curated an EMPTY frame, and overwrote manifest/batch_id=N
    // with nothing. The staged-commit protocol re-drives manifest+upsert
    // from stage/batch_id=N instead.
    val out = tempDir("graft_replay").toString
    val snap = s"$out/snapshot"
    val recs = Seq(
      enc(2, 1L, goodEn, "web", 1000L, Some("en")),
      enc(1, 5L, otherEn, "api", 5000L, None)).toDF("value")
    val batch = recs.select($"value",
      AvroCodec.avroDecodeEvolving($"value", reader, registry, Seq(1, 2)).as("r"))
    def manifestRows() = spark.read.parquet(s"$out/manifest/run=direct/batch_id=0")
      .select($"source", $"n_docs", $"n_tokens", $"content_xor")
      .collect().map(_.toSeq).toSet
    def snapshotRows() = CdcSnapshot.readUpsert(spark, snap)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap

    Pipelines.referenceTopologyBatch(batch, 0L, out, snap, 8, "en", 0.7)
    val m1 = manifestRows(); val s1 = snapshotRows()
    assert(m1.nonEmpty && s1.keySet == Set(1L, 5L), s"first run: $m1 / $s1")

    // crash window: snapshot committed, checkpoint not — simulated by
    // removing the applied marker and re-driving the same (batch, id)
    val marker = new java.io.File(s"$out/stage/run=direct/batch_id=0/_GRAFT_APPLIED")
    assert(marker.exists(), "staged-commit marker missing after success")
    // replay detection keys on the engine's own staged marker, not the
    // committer's _SUCCESS (object-store deployments often disable
    // marksuccessfuljobs — the protocol must not depend on it)
    val stagedMarker = new java.io.File(s"$out/stage/run=direct/batch_id=0/_GRAFT_STAGED")
    assert(stagedMarker.exists(), "explicit staged marker missing")
    new java.io.File(s"$out/stage/run=direct/batch_id=0/_SUCCESS").delete()
    assert(marker.delete())
    Pipelines.referenceTopologyBatch(batch, 0L, out, snap, 8, "en", 0.7)
    assert(manifestRows() == m1,
      s"replay lost the manifest: ${manifestRows()} vs $m1")
    assert(snapshotRows() == s1, "replay changed the snapshot")

    // replay of a FULLY committed batch (marker present): pure no-op
    Pipelines.referenceTopologyBatch(batch, 0L, out, snap, 8, "en", 0.7)
    assert(manifestRows() == m1 && snapshotRows() == s1)
  }

  /** Starts the topology on `ckpt` over `out`, feeds it `recs` through a
    * new MemoryStream and stops it; returns the query. A run without
    * records commits no offset, so a later run on the same checkpoint
    * reads its own new stream from the start.
    */
  private def runTopology(out: String, ckpt: String,
                          recs: Seq[Array[Byte]]): StreamingQuery = {
    val mem = MemoryStream[Array[Byte]]
    val q = Pipelines.startReferenceTopology(mem.toDF(), reader, registry,
      Seq(1, 2), out, ckpt, buckets = 8)
    try if (recs.nonEmpty) { mem.addData(recs); q.processAllAvailable() }
    finally q.stop()
    q
  }

  test("fresh-checkpoint restart against an existing outDir is not skipped") {
    // batch ids restart at 0 on a fresh checkpoint: an un-namespaced
    // batch 0 would match the previous run's _GRAFT_APPLIED marker and be
    // dropped (rows consumed, nothing written). Each checkpoint carries
    // its own query id, so each run gets its own namespace.
    val out = tempDir("graft_gen").toString
    val qa = runTopology(out, tempDir("graft_gen_cka").toString,
      Seq(enc(2, 1L, goodEn, "web", 1000L, Some("en"))))
    val qb = runTopology(out, tempDir("graft_gen_ckb").toString,
      Seq(enc(2, 7L, thirdEn, "api", 2000L, Some("en"))))
    assert(qa.id != qb.id, s"two checkpoints share query id ${qa.id}")
    val runs = new java.io.File(s"$out/manifest").list().toSet
    assert(runs == Set(s"run=${qa.id}", s"run=${qb.id}"), s"run namespaces: $runs")
    runs.foreach { r =>
      assert(new java.io.File(s"$out/manifest/$r/batch_id=0").isDirectory,
        s"$r has no batch 0 manifest")
    }
    val s = CdcSnapshot.readUpsert(spark, s"$out/snapshot")
      .select($"doc_id").as[Long].collect().toSet
    assert(s == Set(1L, 7L), s"the second checkpoint's batch was skipped: $s")
  }

  test("legacy un-namespaced outDir blocks a first start") {
    // pre-namespace layouts wrote stage/batch_id=N with no run= segment. A
    // namespaced run can't re-drive that crash window, so a first start
    // (no Spark `metadata` in the checkpoint yet) over such an outDir
    // must fail loudly.
    val out = tempDir("graft_legacy").toString
    val ck = tempDir("graft_legacy_ck").toString
    new java.io.File(s"$out/stage/batch_id=3").mkdirs()
    val e = intercept[IllegalArgumentException] {
      runTopology(out, ck, Nil)
    }
    assert(e.getMessage.contains("pre-upgrade"), e.getMessage)
    assert(!new java.io.File(s"$ck/metadata").exists())
    // a checkpoint a started query already wrote was born namespaced:
    // legacy dirs next to it belong to another producer and must not
    // block its restart
    val ckStarted = tempDir("graft_legacy_ck_started").toString
    val clean = tempDir("graft_legacy_clean").toString
    val q1 = runTopology(clean, ckStarted, Nil)
    assert(new java.io.File(s"$ckStarted/metadata").exists())
    new java.io.File(s"$clean/manifest/batch_id=3").mkdirs()
    val q2 = runTopology(clean, ckStarted,
      Seq(enc(2, 1L, goodEn, "web", 1000L, Some("en"))))
    assert(q2.id == q1.id)
    assert(new java.io.File(s"$clean/manifest/run=${q1.id}").isDirectory)
    // namespaced dirs alone never block a first start
    val out2 = tempDir("graft_legacy2").toString
    new java.io.File(s"$out2/stage/run=genA/batch_id=3").mkdirs()
    Pipelines.requireNoLegacyStage(spark, out2, tempDir("graft_legacy_ck2").toString)
  }

  test("applyUpsert disk face equals the pure upsertResult merge") {
    val dir = tempDir("graft_upsert_pure").toString
    val init = Seq((1L, 0L, "a"), (2L, 0L, "b"), (9L, 0L, "z"))
      .toDF("key", "seq", "text")
    val b1 = Seq((1L, 5L, "a1"), (3L, 2L, "c")).toDF("key", "seq", "text")
    val b2 = Seq((1L, 3L, "stale"), (2L, 9L, "b2")).toDF("key", "seq", "text")
    CdcSnapshot.applyUpsert(spark, dir, init, 4)
    CdcSnapshot.applyUpsert(spark, dir, b1, 4)
    CdcSnapshot.applyUpsert(spark, dir, b2, 4)
    val disk = CdcSnapshot.readUpsert(spark, dir)
      .select($"key", $"seq", $"text").collect().map(_.toSeq).toSet
    val pure = CdcSnapshot.upsertResult(CdcSnapshot.upsertResult(init, b1), b2)
      .collect().map(_.toSeq).toSet
    assert(disk == pure && pure.size == 4, s"disk=$disk pure=$pure")
  }

  test("applyUpsert: late lower-seq row loses; replay is idempotent; COW bucket-scoped") {
    val dir = tempDir("graft_upsert").toString
    def batch(rows: (Long, Long, String)*): DataFrame =
      rows.toDF("key", "seq", "text")
    CdcSnapshot.applyUpsert(spark, dir, batch((1L, 10L, "a"), (2L, 10L, "b")), 4)
    // stale update (seq 5 < 10) must lose; fresh one wins
    CdcSnapshot.applyUpsert(spark, dir, batch((1L, 5L, "stale"), (2L, 20L, "b2")), 4)
    val s = CdcSnapshot.readUpsert(spark, dir)
      .select($"key", $"text").as[(Long, String)].collect().toMap
    assert(s == Map(1L -> "a", 2L -> "b2"), s"got $s")
    // replay the same batch: contents unchanged (foreachBatch retry safety)
    CdcSnapshot.applyUpsert(spark, dir, batch((1L, 5L, "stale"), (2L, 20L, "b2")), 4)
    assert(CdcSnapshot.readUpsert(spark, dir)
      .select($"key", $"text").as[(Long, String)].collect().toMap == s)
    // bucket-scoped: touching one key leaves other buckets' files alone
    def files(): Map[String, Set[String]] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = files()
    val b1 = spark.range(1).select(CdcSnapshot.bucketCol(lit(1L), 4)).head().getInt(0)
    val b2 = spark.range(1).select(CdcSnapshot.bucketCol(lit(2L), 4)).head().getInt(0)
    assume(b1 != b2, "fixture needs the two keys in different buckets")
    CdcSnapshot.applyUpsert(spark, dir, batch((1L, 30L, "a3")), 4)
    val after = files()
    assert(after(s"bucket=$b1") != before(s"bucket=$b1"), "touched bucket not rewritten")
    assert(after(s"bucket=$b2") == before(s"bucket=$b2"), "untouched bucket rewritten")
  }
}
