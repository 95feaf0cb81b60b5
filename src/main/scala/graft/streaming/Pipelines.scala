package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.operators.ReferenceQueries

/** Minimal event row for the custom-state operator. */
case class UserEvent(user_id: Long, ts_ms: Long)

/** Running per-user state emitted by [[Pipelines.userRunningState]]. */
case class UserRunning(user_id: Long, n_events: Long, last_ms: Long)

/** [[UserEvent]] plus its event-time column (for watermarked typed ops). */
case class UserEventTimed(user_id: Long, ts_ms: Long, ts: java.sql.Timestamp)

/** A closed user session: [start, end] with its event count. */
case class UserSession(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

/** [[Pipelines.userSessions]] state: every session still inside the
  * watermark horizon — the open one and any gap-breached sessions whose
  * `end + gap` the watermark has not passed yet (a late event could still
  * legally merge into them, so emitting earlier would allow overlapping
  * sessions in append output).
  */
case class SessionBuffer(sessions: Seq[UserSession])

/** Streaming topologies of the reference pipeline, Spark-native.
  *
  * The reference runs four ksqlDB persistent queries over Kafka topics and
  * lands results in S3 via Connect sinks (SURVEY.md §3.3). Here the same
  * dataflow is Structured Streaming: any streaming DataFrame with the
  * customer schema (rate-source generator, MemoryStream in tests, Kafka in
  * production) → the [[ReferenceQueries]] transforms (identical plans in
  * batch and streaming) → file/kafka/console sinks.
  *
  * Semantics parity notes (SURVEY.md §7.5):
  *  - ksqlDB emits per-record (cache=0; reference `docker-compose.yml:100`);
  *    Spark emits per micro-batch. Same changelog, coarser cadence.
  *  - The windowed count table (`idadecont`, reference README.md:271-277)
  *    uses update output mode — Spark's file sinks are append-only, so the
  *    changelog lands via foreachBatch, keys (idadecat, window bounds)
  *    kept as columns exactly like the S3 JSON sink stored Kafka keys
  *    (reference `connect_s3_sink_count.config:18`).
  */
object Pipelines {

  // ------------------------------------------------------------ derive

  /** `jovens` stream (reference README.md:233-239), append semantics. */
  def jovens(customers: DataFrame): DataFrame = ReferenceQueries.jovens(customers)

  /** `idadeclass` stream (reference README.md:258-265), append semantics. */
  def idadeclass(customers: DataFrame): DataFrame = ReferenceQueries.idadeclass(customers)

  /** `idadecont` windowed count table (reference README.md:271-277).
    * The watermark bounds aggregation state exactly like ksqlDB's default
    * 24 h grace (SURVEY.md §2.3 A5) — without it, update-mode window state
    * grows forever.
    */
  def idadecont(customers: DataFrame, grace: String = "24 hours"): DataFrame =
    ReferenceQueries.idadecont(
      idadeclass(customers).withWatermark("dt_update", grace))

  // ------------------------------------------------------------- sinks

  /** What a `file:` checkpoint's `start()` runs with: [[ConnectLayout.FileOverlay]]
    * plus the checkpoint file manager that writes through `FileSystem`,
    * and so through `fs.file.impl`, where the stock one writes through
    * `FileContext`.
    */
  private val CheckpointKeys: Map[String, String] = ConnectLayout.FileOverlay +
    ("spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** Held while the session conf carries the checkpoint keys, so no
    * other query started through [[startCheckpointed]] sees them.
    */
  private val StartLock = new Object

  /** Starts `build(ds.writeStream)` with `checkpoint` as its checkpoint
    * location; every `start*` below that takes a checkpoint starts here.
    *
    * A query captures its session's conf at `start()`: the session is
    * cloned there, and the offset, commit and metadata logs and the HDFS
    * or RocksDB state-store files are all written through the clone's
    * Hadoop conf. When `checkpoint` resolves to the `file:` scheme (a
    * path without a scheme takes the session's default file system),
    * `start()` runs with [[CheckpointKeys]] set on `spark.conf`. The
    * checkpoint and state files then go through [[PosixLocalFileSystem]]
    * and set their modes with `chmod(2)` instead of one spawned `chmod`
    * process each; names, modes and `.crc` sidecars are the stock ones,
    * so checkpoints written by a plain `start()` restart here and back.
    *
    * The keys are set, `start()` runs and, in a `finally`, each key gets
    * back its prior value (or is unset if it had none), all under one
    * lock: a query started through here concurrently never sees another
    * start's keys, whatever its scheme. A plain `writeStream.start()` on
    * the same session does not take the lock. Checkpoints on any other
    * scheme start with the session conf as it is.
    */
  private[graft] def startCheckpointed[T](ds: Dataset[T], checkpoint: String)(
      build: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val writer = build(ds.writeStream).option("checkpointLocation", checkpoint)
    val spark = ds.sparkSession
    val scheme = Option(new Path(checkpoint).toUri.getScheme).getOrElse(
      FileSystem.getDefaultUri(spark.sessionState.newHadoopConf()).getScheme)
    StartLock.synchronized {
      if (scheme != "file") writer.start()
      else {
        val prior = CheckpointKeys.keys.map(k => k -> spark.conf.getOption(k))
        try {
          CheckpointKeys.foreach { case (k, v) => spark.conf.set(k, v) }
          writer.start()
        } finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
    }
  }

  // ----------------------------- Connect S3 object-layout sinks (K3/K4)

  /** K3 with the reference's EXACT S3 object layout
    * (`connect_s3_sink_jovens.config:10-14`: `topics.dir=raw-data/kafka`,
    * ParquetFormat, flush.size 10): objects land under
    * `<s3Dir>/<topicsDir>/<topic>/partition=<p>/` named
    * `<topic>+<partition>+<startOffset>.parquet` — the Confluent S3 sink's
    * DefaultPartitioner path and object naming. `jovens` is unkeyed on a
    * single-partition topic, so everything is partition 0. Each task of
    * the micro-batch writes its objects under names derived from the batch
    * id, so a replayed micro-batch overwrites its own objects
    * ([[ConnectLayout.writeObjects]] with [[ConnectLayout.Parquet]]);
    * `flushSize` must be positive. Starts
    * through [[startCheckpointed]], under its lock: no `chmod` spawns for
    * a `file:` checkpoint, session conf restored even if `start()` throws.
    */
  def startConnectParquetSink(df: DataFrame, s3Dir: String, topic: String,
                              checkpoint: String, flushSize: Int = 10,
                              topicsDir: String = "raw-data/kafka",
                              trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    require(flushSize > 0, s"flushSize must be > 0, got $flushSize")
    startCheckpointed(df, checkpoint)(
      connectParquetWriter(s3Dir, topic, flushSize, topicsDir, trigger))
  }

  /** [[startConnectParquetSink]]'s query, without its checkpoint. */
  private[graft] def connectParquetWriter(s3Dir: String, topic: String, flushSize: Int,
                                          topicsDir: String, trigger: Trigger)(
      w: DataStreamWriter[Row]): DataStreamWriter[Row] =
    w.outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ConnectLayout.writeObjects(
          batch, ConnectLayout.Parquet, s"$s3Dir/$topicsDir/$topic", topic, flushSize, batchId)
      }

  /** K4 with the reference's layout AND sidecar key objects
    * (`connect_s3_sink_count.config`: JsonFormat, `store.kafka.keys=true`,
    * `keys.format.class=JsonFormat`, flush.size 10): each data object
    * `<topic>+<p>+<offset>.json` has a sibling
    * `<topic>+<p>+<offset>.keys.json` holding the record keys,
    * record-aligned line by line — exactly how the S3 sink stores Kafka
    * keys as separate objects. Partition = md5-hash of the key mod
    * `numPartitions` (the off-broker analog of Kafka's key partitioner;
    * deterministic, so results are reproducible). The tasks of the
    * micro-batch's state stage write the objects, with the parquet sink's
    * naming and publishing ([[ConnectLayout.writeObjects]] with
    * [[ConnectLayout.Json]]). `numPartitions` and `flushSize` must
    * be positive. Starts
    * through [[startCheckpointed]], under its lock: no `chmod` spawns for
    * a `file:` checkpoint, session conf restored even if `start()` throws.
    */
  def startConnectJsonSink(agg: DataFrame, s3Dir: String, topic: String,
                           keyCols: Seq[String], checkpoint: String,
                           numPartitions: Int = 1, flushSize: Int = 10,
                           topicsDir: String = "raw-data/kafka",
                           trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    require(flushSize > 0, s"flushSize must be > 0, got $flushSize")
    startCheckpointed(agg, checkpoint)(
      connectJsonWriter(s3Dir, topic, keyCols, numPartitions, flushSize, topicsDir, trigger))
  }

  /** [[startConnectJsonSink]]'s query, without its checkpoint. */
  private[graft] def connectJsonWriter(s3Dir: String, topic: String, keyCols: Seq[String],
                                       numPartitions: Int, flushSize: Int,
                                       topicsDir: String, trigger: Trigger)(
      w: DataStreamWriter[Row]): DataStreamWriter[Row] = {
    val format = ConnectLayout.Json(keyCols, numPartitions)
    w.outputMode(OutputMode.Update)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ConnectLayout.writeObjects(
          batch, format, s"$s3Dir/$topicsDir/$topic", topic, flushSize, batchId)
      }
  }

  /** S4/P3: console push-query (`select * ... emit changes` /
    * `print <topic>`, reference README.md:180,204).
    */
  def startConsole(df: DataFrame, numRows: Int = 20): StreamingQuery =
    df.writeStream.format("console")
      .option("numRows", numRows)
      .outputMode(OutputMode.Append)
      .start()

  /** In-memory sink for tests / interactive push queries: materializes the
    * stream into a queryable temp view.
    */
  def startMemorySink(df: DataFrame, name: String,
                      mode: OutputMode = OutputMode.Append): StreamingQuery =
    df.writeStream.format("memory")
      .queryName(name)
      .outputMode(mode)
      .start()

  // ------------------------------------------- stateful extensions

  /** Streaming exact dedup: drop rows whose key columns repeat within the
    * watermark horizon — the streaming face of Dedup.exactDedup. State per
    * distinct key is evicted once the watermark passes, so memory is
    * bounded by the dedup horizon, not the stream length.
    */
  def streamingDedup(df: DataFrame, keyCols: Seq[String],
                     eventTimeCol: String, delay: String): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming INCREMENTAL INGEST — the streaming face of
    * [[graft.operators.Dedup.incrementalIngest]]: arriving documents are
    * fingerprinted, dropped if their fingerprint is already in the
    * PERSISTED corpus index via a STREAM-STATIC anti-join, then deduped
    * within the stream's own watermark horizon.
    *
    * Scale: a stream-static join keeps ZERO streaming state for the
    * static side (Spark re-plans the static relation per micro-batch, so
    * a bucketed index scan stays a bucketed scan); the only state is
    * [[streamingDedup]]'s watermark-bounded fingerprint set. This is the
    * daily-append pipeline running continuously: the 100 TB accumulated
    * corpus participates as an on-disk index, never as stream state.
    */
  def streamingIncrementalIngest(docs: DataFrame, index: DataFrame,
                                 eventTimeCol: String,
                                 delay: String): DataFrame = {
    val fp = docs.withColumn("fp",
      graft.functions.GraftFunctions.fingerprint(col("text")))
    streamingDedup(fp.join(index.select(col("fp")), Seq("fp"), "left_anti"),
      Seq("fp"), eventTimeCol, delay)
  }

  /** Streaming NEAR-dup flagging — the LSH face of
    * [[streamingIncrementalIngest]]: each arriving document is checked
    * against the PERSISTED corpus band index
    * ([[graft.operators.Dedup.lshBandIndex]]) and emitted as
    * (doc_id, matched_doc_id, est_sim) for every corpus document whose
    * minhash-signature estimate clears `threshold`. Exact dedup catches
    * byte-identical re-crawls; THIS catches the boilerplate variants a
    * training pipeline actually drowns in, at ingest time.
    *
    * Scale shape: the stream side computes signatures per row
    * (scan-fused) and explodes Bands band keys; the stream-static join
    * probes the index ON ITS BUCKETED KEY with zero streaming state for
    * the corpus side — the accumulated 100 TB participates as an on-disk
    * index, never as state, exactly like the exact-dedup ingest path.
    * Verification is the constant-work signature-slot estimate
    * ([[graft.operators.Dedup.sigEstimate]] — no corpus re-shingling, no
    * gram arrays on the wire); the only stateful operator is the final
    * watermark-bounded per-(doc, match) dedup (a doc sharing several
    * band keys with the same corpus doc must flag once).
    */
  def streamingNearDupMatches(docs: DataFrame, index: DataFrame,
                              eventTimeCol: String, delay: String,
                              n: Int = 3,
                              threshold: Double = 0.8): DataFrame = {
    import graft.operators.Dedup
    Dedup.withBandedSignature(docs, n)
      .select(col("doc_id"), col(eventTimeCol), col("sig"), col("bk"))
      .join(index.select(col("bk"),
        col("doc_id").as("matched_doc_id"), col("sig").as("m_sig")), Seq("bk"))
      .select(col("doc_id"), col("matched_doc_id"),
        Dedup.sigEstimate(col("sig"), col("m_sig")).as("est_sim"),
        col(eventTimeCol))
      .filter(col("est_sim") >= threshold)
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(Seq("doc_id", "matched_doc_id"))
  }

  /** Streaming CLUSTER-LABEL MAINTENANCE — the streaming face of
    * [[graft.operators.Dedup.incrementalClusterLabels]]: every arriving
    * document gets a PROVISIONAL cluster id against yesterday's
    * persisted state — the minimum of its own id and the labels of every
    * old component it verifiably near-dups into. Matching is the
    * [[streamingNearDupMatches]] band-probe pattern (stream-static join
    * on the bucketed band index, zero streaming state for the corpus),
    * but verification is the EXACT jaccard of [[Dedup.minhashLshPairs]]
    * against the persisted shingle index — the same edge relation the
    * batch incremental op uses, so for an arriving doc with no
    * same-batch near-dups the provisional label IS the batch
    * incremental's answer (the nightly [[Dedup.incrementalClusterLabels]]
    * run refines the remaining case: merges that need new-new edges or
    * multi-hop closure, which no per-record pass can see).
    *
    * Scale shape: both static sides are persisted bucketed indexes read
    * from disk per micro-batch; the arriving doc's shingles ride its own
    * row (computed scan-fused, never joined back — a join-back would be
    * a stream-stream self-join). The only stateful operator is the
    * watermark-bounded per-(doc, event-time) min aggregation.
    */
  def streamingClusterLabels(docs: DataFrame, bandIndex: DataFrame,
                             shingleIndex: DataFrame, labels: DataFrame,
                             eventTimeCol: String, delay: String,
                             n: Int = 3, threshold: Double = 0.8): DataFrame = {
    import graft.operators.Dedup
    import graft.functions.GraftFunctions.{normalizeText, shinglesFromTokens, tokens}
    // one tokenize + shingle pass: the band stage and the verify read
    // the same gram column
    val probes = Dedup.banded(
        docs.withColumn("__tk", tokens(normalizeText(col("text"))))
          .withColumn("__ns", shinglesFromTokens(col("__tk"), n)), "__ns")
      .select(col("doc_id"), col(eventTimeCol), col("__ns").as("ns"),
        size(col("__ns")).cast("long").as("nsz"), col("bk"))
    val verified = probes
      .join(bandIndex.select(col("bk"), col("doc_id").as("m_id")), Seq("bk"), "left")
      .join(shingleIndex.select(col("doc_id").as("m_id"),
        col("shingles").as("os")), Seq("m_id"), "left")
      .withColumn("inter",
        size(array_intersect(col("ns"), col("os"))).cast("long"))
      .withColumn("ok", col("m_id").isNotNull && col("inter").cast("double")
        / (col("nsz") + size(col("os")).cast("long")
          - col("inter")).cast("double") >= threshold)
      .join(labels.select(col("doc_id").as("m_id"),
        col("cluster_id").as("m_lab")), Seq("m_id"), "left")
    verified
      .withWatermark(eventTimeCol, delay)
      .groupBy(col("doc_id"), col(eventTimeCol))
      .agg(min(when(col("ok"), col("m_lab"))).as("m_min"))
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("m_min"), col("doc_id")))
          .as("cluster_id"),
        col(eventTimeCol))
  }

  /** Streaming CONTAINMENT MAINTENANCE — the directed-overlap face of
    * [[graft.operators.Dedup.incrementalContainmentReport]], completing
    * the day+night story for the containment family the way
    * [[streamingClusterLabels]] does for labels: every arriving document
    * is checked against the accumulated corpus's persisted containment
    * indexes and emits the EXACT directed cross edges
    * (contained, container, containment ≥ t) between itself and old
    * docs, both directions. Same-day (new-new) containment is the
    * nightly [[graft.operators.Dedup.incrementalContainmentReport]]
    * run's job — no per-record pass can see pairs whose second member
    * hasn't arrived — so the composed state equals a full recompute
    * (spec-pinned) while the stream's own flags are already exact, not
    * estimates: quarantine decisions taken at ingest never need to be
    * walked back.
    *
    * Candidate generation is gated in BOTH directions so the join never
    * expands hot-gram postings corpus-wide:
    *  - NEW-contained-in-OLD: the arrival's pigeonhole probe set — ANY
    *    min(sz, 2m+1)-subset of its grams keeps the completeness
    *    guarantee (miss at most m ⇒ at least m+1 of any 2m+1 in the
    *    container), and the batch op ranks by global df only to shrink
    *    candidate volume. A stream can't rank per-doc against the
    *    vocabulary-sized df model without a second stateful pass, so the
    *    probe subset is chosen per-row in (hot?, gram-HASH) order
    *    (deterministic, scan-fused): `hotGrams` — the df model's top-K
    *    hottest grams, bounded and broadcast as a literal
    *    ([[graft.operators.Dedup.hottestGrams]]) — are picked LAST, so
    *    on a hot-vocabulary corpus the probe subset costs cold-tail
    *    postings instead of the hottest (the failure shape the batch
    *    op's 1-match prefix had pre-gate); with `hotGrams` empty the
    *    order degrades to pure gram-hash — average-df postings, the
    *    documented zero-model trade. Either way completeness holds:
    *    any probe subset of the pigeonhole length is complete.
    *  - OLD-contained-in-NEW: the arrival's full grams match the
    *    persisted PROBE index (each old doc's rarest ~2m+1 grams with
    *    its own budget riding the row) — the same gate the batch op's
    *    cand2 uses, ~plen rows per old doc.
    * Gate evidence collapses to DISTINCT candidates (a, event-time, x)
    * BEFORE the verify — the batch op's cands.distinct() discipline — so
    * a pair matched by k probe grams pays the shingle join and the
    * intersection ONCE, not k times; the same collapse applies the
    * batch op's MATCH-COUNT pigeonhole filters (≥ plen−m matches per
    * direction — [[graft.operators.Dedup.incrementalContainmentReport]]'s
    * cand1/cand2 gates), so one-shared-gram coincidences never reach
    * the verify. Each distinct candidate then
    * verifies EXACTLY against the persisted shingle index
    * (`array_intersect` with the arrival's own gram array, which rides
    * its row — never a stream-stream join), so emitted containments are
    * the batch op's values to the same 4-place rounding. Scale shape:
    * all three static sides are persisted bucketed indexes read from
    * disk per micro-batch — the accumulated 100 TB participates as
    * on-disk state, never as streaming state; the only stateful operator
    * is the watermark-bounded evidence collapse (its state carries the
    * arrival's gram array per CANDIDATE — bounded by the gate's
    * candidate volume, and what lets the verify run post-collapse).
    */
  def streamingContainmentFlags(docs: DataFrame, posting: DataFrame,
                                probeIdx: DataFrame, shingleIdx: DataFrame,
                                eventTimeCol: String, delay: String,
                                n: Int = 3,
                                threshold: Double = 0.9,
                                hotGrams: Option[Seq[String]] = None): DataFrame = {
    // DEFAULT path derives the avoid-list from the posting index itself
    // (r14 verdict: the hash-order fallback is the 56,407-row regime on
    // hot vocabularies, and the df model the probe order needs is already
    // implied by the posting relation). One bounded aggregate + ≤256-row
    // collect at pipeline CONSTRUCTION time — driver-side, once per
    // stream start, never per micro-batch. Callers opt out explicitly
    // with Some(Nil) (pure gram-hash order, the documented zero-model
    // trade) or supply their own ranked list with Some(grams).
    val hot = hotGrams.getOrElse(derivedHotGrams(posting))
    val cands = streamingContainmentCandidates(docs, posting, probeIdx,
      eventTimeCol, delay, n, threshold, hot)
    // one row per candidate in, one row per candidate out — the verify
    // needs no post-join re-aggregation
    val scored = cands
      .join(shingleIdx.select(col("doc_id").as("x"),
        col("shingles").as("os")), Seq("x"))
      .select(col("a"), col(eventTimeCol), col("x"), col("sza"),
        size(col("os")).cast("long").as("szx"),
        size(array_intersect(col("ns"), col("os"))).cast("long").as("inter"))
    // both directions emit from the one exact intersection, the batch
    // op's generator-expression shape
    val ca = col("inter").cast("double") / col("sza").cast("double")
    val cx = col("inter").cast("double") / col("szx").cast("double")
    scored
      .select(col(eventTimeCol), explode(filter(array(
        struct(col("a").as("d"), col("x").as("c"), ca.as("v")),
        struct(col("x").as("d"), col("a").as("c"), cx.as("v"))),
        s => s.getField("v") >= threshold)).as("p"))
      .select(col("p.d").as("contained"), col("p.c").as("container"),
        round(col("p.v"), 4).as("containment"), col(eventTimeCol))
  }

  /** Source-compatibility overload for pre-round-15 callers that passed
    * the avoid-list as a plain `Seq[String]` (the parameter is
    * `Option[Seq[String]]` since the derived-default change): delegates
    * `grams` → `Some(grams)`, so a caller that passed `Nil` keeps the
    * DOCUMENTED zero-model behavior (pure gram-hash probe order) instead
    * of silently inheriting the derived avoid-list — the r15 advisory's
    * default-flip hazard. New callers: pass `None` for the derived
    * default, `Some(Nil)` to opt out, `Some(grams)` for a custom list.
    */
  @deprecated("pass Option[Seq[String]]: None = derived avoid-list, " +
    "Some(Nil) = zero-model gram-hash order, Some(grams) = custom", "round 16")
  def streamingContainmentFlags(docs: DataFrame, posting: DataFrame,
                                probeIdx: DataFrame, shingleIdx: DataFrame,
                                eventTimeCol: String, delay: String,
                                n: Int, threshold: Double,
                                hotGrams: Seq[String]): DataFrame =
    streamingContainmentFlags(docs, posting, probeIdx, shingleIdx,
      eventTimeCol, delay, n, threshold, Some(hotGrams))

  /** The hot-gram avoid-list [[streamingContainmentFlags]] derives when
    * the caller passes none: the df model aggregated from the persisted
    * posting index, ranked by [[graft.operators.Dedup.hottestGrams]]
    * (bounded ≤256 rows, relative-df floored). Factored `private[graft]`
    * so the gate spec can pin that the DEFAULT path's avoid-list is
    * non-empty on a hot-vocabulary corpus and buys the measured
    * gate-volume reduction without caller opt-in.
    */
  private[graft] def derivedHotGrams(posting: DataFrame): Seq[String] =
    graft.operators.Dedup.hottestGrams(
      posting.groupBy(col("g")).agg(count(lit(1)).as("df")))

  /** The CANDIDATE GATE of [[streamingContainmentFlags]], factored so
    * its volume is measurable on its own (the hot-gram spec runs it in
    * batch mode, where the watermark is a no-op, and counts rows):
    * distinct (a, event-time, x) candidate pairs between arrivals and
    * accumulated docs, each carrying the arrival's gram array + size for
    * the downstream exact verify. Both pigeonhole directions, evidence
    * collapsed under the watermark; see the flags op for the gate
    * semantics and the `hotGrams` probe-ordering trade.
    */
  def streamingContainmentCandidates(docs: DataFrame, posting: DataFrame,
                                     probeIdx: DataFrame,
                                     eventTimeCol: String, delay: String,
                                     n: Int = 3, threshold: Double = 0.9,
                                     hotGrams: Seq[String] = Nil): DataFrame = {
    val base = streamingGramBase(docs, eventTimeCol, delay, n)
    val ev1 = streamingProbeSubset(docs, eventTimeCol, delay, n, threshold,
      hotGrams)
      .join(posting.select(col("doc_id").as("x"), col("g")), Seq("g"))
      .select(col("a"), col(eventTimeCol), col("ns"), col("sza"), col("x"),
        lit(1L).as("pm1"), lit(0L).as("pm2"),
        lit(null).cast("long").as("xplen"), lit(null).cast("long").as("xm"))
    val ev2 = base
      .select(col("a"), col(eventTimeCol), col("ns"), col("sza"),
        explode(col("ns")).as("g"))
      .join(probeIdx.select(col("doc_id").as("x"), col("g"),
        col("plen").as("xplen"), col("m").as("xm")), Seq("g"))
      .select(col("a"), col(eventTimeCol), col("ns"), col("sza"), col("x"),
        lit(0L).as("pm1"), lit(1L).as("pm2"), col("xplen"), col("xm"))
    // the MATCH-COUNT pigeonhole filters — the batch op's cand1/cand2
    // gates, folded into the same watermark-bounded collapse that dedups
    // evidence: direction new-in-old needs ≥ plen−m of the ARRIVAL's
    // probe subset in x's postings (shingles are distinct, so the
    // per-(a,x) evidence count IS the batch pm), direction old-in-new
    // needs ≥ xplen−xm of x's own probe rows matched (x's budget rides
    // the index rows). One-shared-gram coincidences — the candidate
    // term that explodes on hot vocabularies — die here, before the
    // shingle join ever ships a gram array.
    val agg = ev1.unionByName(ev2)
      .groupBy(col("a"), col(eventTimeCol), col("x"))
      .agg(first(col("ns")).as("ns"), first(col("sza")).as("sza"),
        sum(col("pm1")).as("pm1"), sum(col("pm2")).as("pm2"),
        max(col("xplen")).as("xplen"), max(col("xm")).as("xm"))
    val (mA, plenA) = graft.operators.Dedup.pigeonhole(col("sza"), threshold)
    agg
      .filter(col("pm1") >= plenA - mA ||
        (col("xplen").isNotNull && col("pm2") >= col("xplen") - col("xm")))
      .select(col("a"), col(eventTimeCol), col("x"), col("ns"), col("sza"))
  }

  /** Arrivals with their gram set: (a, event-time, ns, sza), watermarked
    * at the source, gram-less docs dropped (never a containment side).
    */
  private def streamingGramBase(docs: DataFrame, eventTimeCol: String,
                                delay: String, n: Int): DataFrame = {
    import graft.functions.GraftFunctions.{normalizeText, shinglesFromTokens, tokens}
    // watermark at the SOURCE, before the gate joins: an arrival that
    // matches nothing still advances the watermark (an inner-join-side
    // watermark would stall append emission until a matching doc arrives)
    docs
      .withWatermark(eventTimeCol, delay)
      .withColumn("__tk", tokens(normalizeText(col("text"))))
      .withColumn("__ns", shinglesFromTokens(col("__tk"), n))
      .drop("__tk")
      .select(col("doc_id").as("a"), col(eventTimeCol), col("__ns").as("ns"),
        size(col("__ns")).cast("long").as("sza"))
      .filter(col("sza") > 0)
  }

  /** The arrival-side PROBE SUBSET, exploded: one (a, event-time, ns,
    * sza, g) row per chosen probe gram. Ordering is (hot?, gram-hash) —
    * `hotGrams` sort behind every cold gram, so they are picked only
    * when the doc lacks enough cold grams to fill its pigeonhole budget.
    * Factored `private[graft]` so the hot-vocabulary spec can measure
    * the gate-join volume this subset buys against the posting index.
    */
  private[graft] def streamingProbeSubset(docs: DataFrame,
                                          eventTimeCol: String, delay: String,
                                          n: Int, threshold: Double,
                                          hotGrams: Seq[String]): DataFrame = {
    val base = streamingGramBase(docs, eventTimeCol, delay, n)
    val (_, plen) = graft.operators.Dedup.pigeonhole(col("sza"), threshold)
    val hot = typedLit(hotGrams)
    base.withColumn("pg",
      slice(array_sort(transform(col("ns"),
        g => struct(
          when(array_contains(hot, g), 1).otherwise(0).as("hotg"),
          xxhash64(g).as("h"), g.as("g")))), lit(1), plen.cast("int")))
      .select(col("a"), col(eventTimeCol), col("ns"), col("sza"),
        explode(col("pg.g")).as("g"))
  }

  /** Streaming SIMILARITY ALERTS — the ANN twin of
    * [[streamingNearDupMatches]]: a stream of query vectors probes the
    * PERSISTED partitioned ANN index
    * ([[graft.operators.Similarity.partitionedAnnIndex]]) by SRP bucket
    * and emits every index vector whose exact cosine clears the
    * threshold, deduped per (query, match) within the watermark.
    *
    * Scale shape: the stream side computes its bucket scan-fused per
    * row; the stream-static equi-join keeps ZERO streaming state for
    * the corpus — the accumulated index participates from disk, exactly
    * like the near-dup and exact-ingest paths, and candidate volume per
    * query is its bucket's occupancy (~n/2^planes), never the corpus.
    * The only stateful operator is the watermark-bounded dedup.
    */
  def streamingAnnMatches(queries: DataFrame, index: DataFrame,
                          eventTimeCol: String, delay: String,
                          planes: Int = 4, dims: Int = 64,
                          threshold: Double = 0.6): DataFrame = {
    import graft.operators.Similarity
    import graft.functions.GraftFunctions
    queries
      .withColumn("q_bucket",
        Similarity.srpBucket(col("embedding"), planes, dims).cast("int"))
      .join(index.select(col("bucket"), col("vec_id").as("match_vec_id"),
        col("embedding").as("m_embedding")), col("q_bucket") === col("bucket"))
      .select(col("q_id"), col("match_vec_id"),
        round(GraftFunctions.cosineSimilarity(
          col("embedding"), col("m_embedding")), 4).as("cos_sim"),
        col(eventTimeCol))
      .filter(col("cos_sim") >= threshold)
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(Seq("q_id", "match_vec_id"))
  }

  /** Streaming QUALITY SCORING against the TRAINED unigram model — the
    * train-batch/serve-stream half of [[graft.operators.TextAnalysis
    * .unigramSurprisal]]: the model (tok → tf, persisted once per corpus
    * via `unigramModelTable`) joins each arriving document's exploded
    * tokens and the per-doc micro-nat totals aggregate under the
    * watermark. Scores agree EXACTLY with the batch op for documents
    * whose tokens the model covers (same quantized-log discipline);
    * out-of-vocabulary tokens drop at the join — the standard
    * OOV-excluded scoring policy, stated rather than smoothed, so the
    * stream cannot silently shift the corpus distribution the model was
    * trained on.
    *
    * Scale shape: the model participates as a STATIC vocabulary-bounded
    * side (broadcast when small, shuffled hash join otherwise) — zero
    * streaming state for the corpus statistics; the only stateful
    * operator is the per-(doc, event-time) aggregation, bounded by the
    * watermark. `qlnTotal` is the corpus constant, read once batch-side
    * ([[graft.operators.TextAnalysis.unigramQlnTotal]]), inlined as a
    * literal — no per-batch job.
    */
  def streamingSurprisal(docs: DataFrame, model: DataFrame, qlnTotal: Long,
                         eventTimeCol: String, delay: String): DataFrame = {
    import graft.operators.TextAnalysis
    import graft.functions.GraftFunctions.{normalizeText, tokens}
    val nllMicro = col("n_tokens") * qlnTotal - col("sum_qln_tf")
    docs
      .select(col("doc_id"), col(eventTimeCol),
        explode(tokens(normalizeText(col("text")))).as("tok"))
      .join(model.select(col("tok"), TextAnalysis.qlnOfTf(col("tf")).as("qln_tf")),
        Seq("tok"))
      .withWatermark(eventTimeCol, delay)
      .groupBy(col("doc_id"), col(eventTimeCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("qln_tf")).as("sum_qln_tf"))
      .select(col("doc_id"), col(eventTimeCol), col("n_tokens"),
        nllMicro.as("nll_micro"),
        round(nllMicro.cast("double") / col("n_tokens").cast("double") / 1e6, 4)
          .as("avg_nll"))
  }

  /** Streaming PERCEPTUAL image dedup — the multimodal twin of
    * `streamingIncrementalIngest`: arriving image payloads DECODE in
    * the stream (the same `mapPartitions` real-codec pass as the batch
    * op), hash to their 56-bit dHash, and anti-join the PERSISTED
    * corpus hash index
    * ([[graft.operators.Multimodal.dhashIndexTable]]) — recompressed
    * or brightness-shifted re-uploads of corpus images are dropped at
    * ingest even though their bytes (and md5) differ. Zero streaming
    * state for the corpus side: it participates as an on-disk table of
    * one long per distinct corpus image; the join strategy is left to
    * the planner — a forced broadcast would ship the whole index into
    * every executor at billion-image scale, where a shuffled anti-join
    * on the 8-byte key is the right plan (and below the broadcast
    * threshold Spark broadcasts it anyway).
    */
  def streamingPerceptualDedup(assets: DataFrame,
                               index: DataFrame): DataFrame =
    graft.operators.Multimodal.imageDHash(assets).toDF()
      .join(index, Seq("dhash"), "left_anti")

  /** Streaming per-(source, event-time window) RELEASE MANIFEST — the
    * ingest integrity monitor twin of
    * [[graft.operators.CorpusOps.manifest]]: per window, each source's
    * doc count, token total and order-independent `bit_xor` content
    * checksum accumulate as streaming aggregation state (count/sum/xor
    * all merge associatively across micro-batches, so a replayed window
    * reproduces the batch manifest EXACTLY — spec-pinned). The
    * continuously-emitted manifest is what a downstream consumer
    * compares against the producer's, per window, to catch
    * drops/duplications in transit; state per (source, window) is three
    * longs.
    */
  def streamingManifest(docs: DataFrame, windowDur: String = "1 hour",
                        delay: String = "1 minute"): DataFrame = {
    import graft.functions.DetHash
    import graft.functions.GraftFunctions.{normalizeText, tokens}
    docs
      .select(col("ts"), col("source"),
        size(tokens(normalizeText(col("text")))).cast("long").as("n_tokens"),
        DetHash.base60(concat(col("doc_id").cast("string"), lit(":"),
          col("text"))).as("fp"))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowDur), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        bit_xor(col("fp")).as("content_xor"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("source"), col("n_docs"), col("n_tokens"), col("content_xor"))
  }

  /** Streaming per-(event-time window, group) DISTINCT-COUNT sketches —
    * the KMV `TypedImperativeAggregate` as STREAMING AGGREGATION STATE:
    * each (window, group)'s state is the bounded k-long sketch, merged
    * associatively across micro-batches by the aggregate's own merge
    * (union + clamp), NEVER the distinct keys — `count(distinct)` is
    * not even expressible in a streaming aggregation, and the exact
    * dedup-then-count alternative holds every distinct key in the state
    * store. State per window×group is k longs, independent of stream
    * cardinality; the estimate projection is shared with the batch ops
    * so a window replaying batch data reproduces the batch estimate
    * EXACTLY (spec-pinned).
    */
  def streamingDistinctUsers(events: DataFrame, windowDur: String = "1 hour",
                             delay: String = "1 minute",
                             k: Int = 64): DataFrame = {
    import graft.functions.DetHash
    import graft.operators.Relational
    events
      .select(col("ts"), col("event_type"),
        DetHash.base60(col("user_id").cast("string")).as("h"))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(graft.functions.KmvSketch.column(col("h"), k).as("ks"))
      .select(Seq(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type")) ++ Relational.kmvEstimateCols(k): _*)
  }

  /** Streaming kσ ANOMALY flags — the stream twin of
    * [[graft.operators.Relational.valueAnomalies]], the
    * train-batch/serve-stream tier for metric outliers: arriving events
    * probe the PERSISTED per-group baseline stats
    * ([[graft.operators.Relational.valueStatsTable]]: exact decimal
    * (n, Σv, Σv²) per event_type) and flag through the SAME
    * cross-multiplied exact-decimal identity, so a stream replaying the
    * training events flags EXACTLY the batch op's rows (spec-pinned).
    *
    * Scale shape: completely STATELESS — one broadcast static join
    * against the group-bounded stats table, a scan-fused quantize +
    * filter, no watermark, no state store, per-event emission in append
    * mode. The baseline refreshes by rebuilding the persisted table
    * batch-side, never by streaming state.
    */
  def streamingAnomalies(events: DataFrame, stats: DataFrame,
                         k: Int = 3): DataFrame = {
    import graft.operators.Relational
    Relational.flagAnomalies(Relational.quantizedValues(events), stats, k)
      .select(col("event_id"), col("event_type"), col("ts"), col("vq"))
  }

  /** Streaming DISTRIBUTION-DRIFT monitor — the stream twin of
    * [[graft.operators.CorpusOps.sourceDrift]], scoring each
    * (source, event-time window) of arriving documents against the
    * PERSISTED corpus bigram model
    * ([[graft.operators.CorpusOps.bigramModelTable]]): the alarm that
    * fires when a crawl's content distribution shifts mid-ingest.
    *
    * Exactness: the same scaled-KL integer identity as the batch op,
    * restructured for the observed support — missing-bucket terms fold
    * into the corpus constant `S_all = Σ_b qln(cc_b+1)` (read once
    * batch-side via `bigramModelConstants`, inlined as literals), so a
    * window that replays the training corpus reproduces the batch KL
    * EXACTLY (spec-pinned). Stream buckets outside the corpus support
    * drop at the model join — the batch op's domain, by construction.
    *
    * Scale shape: this is the CHAINED-STATEFUL-AGGREGATION pattern
    * (per-(source, window, bucket) counts → model join → per-(source,
    * window) KL), legal in append mode because both aggs share the
    * event-time window. State is bounded by |sources|·D per window; the
    * model joins as a broadcast static side — zero streaming state for
    * the corpus statistics.
    */
  def streamingSourceDrift(docs: DataFrame, model: DataFrame,
                           consts: (Long, Long, Long),
                           eventTimeCol: String, windowDur: String,
                           delay: String, dims: Int = 1024): DataFrame = {
    import graft.operators.TextAnalysis
    import graft.functions.GraftFunctions.{normalizeText, tokens}
    val (tc, d, sAll) = consts
    def qln(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val occ = docs
      .select(col("source"), col(eventTimeCol),
        tokens(normalizeText(col("text"))).as("tk"))
      .select(col("source"), col(eventTimeCol),
        explode(TextAnalysis.gramOccurrences(col("tk"), 2)).as("g"))
      .select(col("source"), col(eventTimeCol),
        (graft.functions.DetHash.base60(col("g")) % dims).as("f"))
      .withWatermark(eventTimeCol, delay)
    val perBucket = occ
      .groupBy(col("source"), window(col(eventTimeCol), windowDur), col("f"))
      .agg(count(lit(1)).as("cs"))
    val tsd = col("ts_w") + d
    val kScaled = col("s_obs") - sAll + col("q_obs") -
      tsd * (qln(tsd) - lit(math.floor(math.log((tc + d).toDouble) * 1e6 + 0.5).toLong))
    perBucket
      .join(broadcast(model.select(col("f"), qln(col("cc") + 1).as("qcc"))), Seq("f"))
      .groupBy(col("source"), col("window"))
      .agg(sum((col("cs") + 1) * (qln(col("cs") + 1) - col("qcc"))).as("s_obs"),
        sum(col("qcc")).as("q_obs"),
        sum(col("cs")).as("ts_w"))
      .select(col("source"), col("window"),
        col("ts_w").as("n_feats"),
        kScaled.as("kl_scaled_micro"),
        round(kScaled.cast("double") / tsd.cast("double") / 1e6, 4).as("kl"))
  }

  /** The north-star COMPOSITION: corpus curation ON the stream — an
    * incremental documents frame (the `graft-jdbc` DSv2 source in
    * production, any streaming frame in tests) → join-free
    * language+quality scoring → survivor guard → watermarked fingerprint
    * dedup → Connect S3 parquet object layout. Every stage is an
    * operator the batch engine oracle-checks on its own
    * ([[graft.operators.Curation.curate]] is the batch twin); this wires
    * them through a real micro-batch executor with checkpointed
    * exactly-once delivery into the reference's sink layout.
    *
    * The survivor guard rides a GENERATOR expression
    * (`explode_outer(when(keep, array(fp)))`, then a filter on the
    * generator-output attribute) exactly like the batch chain: a
    * `.filter` on the derived pred_lang/quality columns would be
    * substituted through the scoring projections and re-run them per row
    * inside the pushed predicate — the measured-10× Catalyst trap
    * [[graft.operators.Curation]] documents.
    *
    * Scale shape: scoring and the guard are per-row projections fused
    * into the source scan; the ONLY stateful exchange is the dedup's
    * key-hash shuffle, whose state is watermark-bounded. The sink writes
    * executor-side objects per micro-batch; the query starts through
    * [[startConnectParquetSink]], and so through [[startCheckpointed]].
    */
  def startStreamingCuration(docs: DataFrame, s3Dir: String, topic: String,
                             checkpoint: String,
                             lang: String = "en", minQuality: Double = 0.7,
                             eventTimeCol: String = "dt_update",
                             delay: String = "1 hour",
                             flushSize: Int = 10): StreamingQuery = {
    import graft.operators.TextAnalysis
    val keep = col("pred_lang") === lang && col("quality") >= minQuality
    val survivors = TextAnalysis.withPredLangAndQuality(docs)
      .select(
        explode_outer(when(keep,
          array(graft.functions.GraftFunctions.fingerprint(col("text"))))).as("fp"),
        col("*"))
      .filter(col("fp").isNotNull)
    val curated = streamingDedup(survivors, Seq("fp"), eventTimeCol, delay)
      .drop("fp", "pred_lang", "quality")
    startConnectParquetSink(curated, s3Dir, topic, checkpoint, flushSize)
  }

  /** Per-user running aggregate via mapGroupsWithState — the custom-state
    * escape hatch for logic windowed aggregations can't express (here:
    * lifetime event count + last-seen timestamp, emitted per micro-batch
    * in update mode). State lives in the state store (RocksDB/HDFS-backed),
    * partitioned by key — same shuffle geometry as any keyed aggregation.
    */
  def userRunningState(events: org.apache.spark.sql.Dataset[UserEvent]): org.apache.spark.sql.Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0L))
          // single O(1)-memory pass: never materialize the group (a hot key
          // can carry millions of rows per trigger)
          val (n, last) = rows.foldLeft((prev.n_events, prev.last_ms)) {
            case ((c, m), e) => (c + 1, math.max(m, e.ts_ms))
          }
          val next = UserRunning(user, n, last)
          state.update(next)
          next
      }
  }

  /** The session merge shared by BOTH sessionization APIs: events join
    * as 1-element sessions, then one sorted fold merges every chain of
    * sessions whose gap-windows touch (late events extend backwards; a
    * bridging event merges two pending sessions).
    */
  private[streaming] def mergeSessions(user: Long, prev: Seq[UserSession],
                                       eventTs: Iterator[Long],
                                       gapMs: Long): Seq[UserSession] =
    (prev ++ eventTs.map(t => UserSession(user, t, t, 1L)))
      .sortBy(s => (s.start_ms, s.end_ms))
      .foldLeft(List.empty[UserSession]) { (acc, s) =>
        acc match {
          case h :: t if s.start_ms - h.end_ms <= gapMs =>
            UserSession(user, h.start_ms, math.max(h.end_ms, s.end_ms),
              h.n_events + s.n_events) :: t
          case _ => s :: acc
        }
      }.reverse

  /** [[userRunningState]] on `transformWithState` — Spark 4's arbitrary
    * stateful processing v2 (the API that supersedes
    * mapGroupsWithState): named state variables from a
    * `StatefulProcessorHandle` instead of one opaque state object, with
    * per-variable encoders, optional TTL, and timers decoupled from the
    * state value. Requires the RocksDB state-store provider (the v2
    * operator is built on its changelog); the spec runs it there and
    * pins row parity with the v1 pipeline. At scale the v2 operator is
    * what enables state schema evolution and per-variable TTL eviction
    * without hand-rolled timestamp bookkeeping.
    */
  class RunningStateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserRunning] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[UserRunning] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserRunning]("running",
        org.apache.spark.sql.Encoders.product[UserRunning], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
                                 timers: TimerValues): Iterator[UserRunning] = {
      val prev = if (state.exists()) state.get() else UserRunning(user, 0L, 0L)
      // same single O(1)-memory pass as the v1 operator
      val next = rows.foldLeft(prev) { (acc, e) =>
        UserRunning(user, acc.n_events + 1, math.max(acc.last_ms, e.ts_ms))
      }
      state.update(next)
      Iterator.single(next)
    }
  }

  def userRunningStateV2(events: org.apache.spark.sql.Dataset[UserEvent]): org.apache.spark.sql.Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningStateProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** [[userSessions]] on `transformWithState` — the v2 twin of the
    * flatMapGroupsWithState sessionization, same watermark-gated append
    * semantics (STRICT release gate, sessions wait in state until the
    * watermark passes end+gap) expressed in the v2 vocabulary: the
    * pending-session buffer is a named [[org.apache.spark.sql.streaming.ListState]]
    * instead of an opaque case-class blob, and the close condition is an
    * explicit EVENT-TIME TIMER (re-armed at min(end)+gap on every
    * invocation) instead of a GroupState timeout. The merge fold is
    * literally shared with v1 ([[mergeSessions]]), so the two APIs
    * cannot drift semantically; the spec runs the v1 scenarios against
    * v2 and asserts identical emissions.
    */
  class SessionProcessorV2(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEventTimed, UserSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var buf: ListState[UserSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[UserSession]("sessions",
        org.apache.spark.sql.Encoders.product[UserSession], TTLConfig.NONE)

    /** Same strict gate as v1's release; state + timer rebuilt from the
      * surviving sessions (one timer per key at min(end)+gap).
      */
    private def release(wm: Long, sessions: Seq[UserSession]): Iterator[UserSession] = {
      val (ripe, rest) = sessions.partition(_.end_ms + gapMs < wm)
      buf.clear()
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (rest.nonEmpty) {
        buf.put(rest.toArray)
        getHandle.registerTimer(rest.map(_.end_ms).min + gapMs)
      }
      ripe.sortBy(s => (s.start_ms, s.end_ms)).iterator
    }

    private def pending: Seq[UserSession] =
      if (buf.exists()) buf.get().toSeq else Seq.empty

    override def handleInputRows(user: Long, rows: Iterator[UserEventTimed],
                                 timers: TimerValues): Iterator[UserSession] =
      release(timers.getCurrentWatermarkInMs(),
        Pipelines.mergeSessions(user, pending, rows.map(_.ts_ms), gapMs))

    override def handleExpiredTimer(user: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[UserSession] =
      release(timers.getCurrentWatermarkInMs(), pending)
  }

  def userSessionsV2(events: org.apache.spark.sql.Dataset[UserEvent],
                     gapMs: Long = 1800000L,
                     delay: String = "1 minute"): org.apache.spark.sql.Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", delay)
      .as[UserEventTimed]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessorV2(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Event-time SESSIONIZATION via flatMapGroupsWithState — the
    * full-control custom-state API (vs [[userRunningState]]'s
    * one-in-one-out mapGroupsWithState): per user, events within `gapMs`
    * of a session's nearest edge merge into it (late events extend it
    * BACKWARDS; a late event bridging two sessions merges them — true
    * session-window semantics). Append mode: a session is emitted ONLY
    * once the WATERMARK passes its `end + gap`, because until then a
    * still-admissible late event could legally merge into it — emitting
    * on the in-batch gap breach (the pre-round-6 behavior) could put two
    * OVERLAPPING sessions for one user into append output. Gap-breached
    * sessions therefore wait in state ([[SessionBuffer]]) and leave via
    * EventTimeTimeout (or inline, when the batch's watermark has already
    * passed them — a timeout timestamp must stay above the watermark).
    *
    * State is the open session plus the gap-breached sessions inside the
    * watermark horizon — bounded by active-user cardinality times the
    * sessions one user can start within `delay` (eviction is by
    * watermark, exactly like a windowed aggregation's state). The
    * per-trigger sort is over ONE user's events in ONE micro-batch
    * (bounded by trigger interval, not stream length).
    */
  def userSessions(events: org.apache.spark.sql.Dataset[UserEvent],
                   gapMs: Long = 1800000L,
                   delay: String = "1 minute"): org.apache.spark.sql.Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    // emit everything the watermark has sealed; keep (and re-arm the
    // timeout for) the rest. STRICT inequality, uniform with the
    // event-time-timeout path (which fires only for ts < wm): at
    // wm == end+gap the session stays one more batch. Measured Spark
    // 4.1.2 semantics (spec-pinned in the boundary test): the late
    // filter drops events with ts <= watermark, so an equal-boundary
    // event can never arrive to merge — strictness is belt-and-braces
    // against the late-filter watermark lagging the eviction watermark
    // by one batch, and costs only that one batch of latency.
    def release(state: GroupState[SessionBuffer], wm: Long,
                sessions: Seq[UserSession]): Iterator[UserSession] = {
      val (ripe, rest) = sessions.partition(_.end_ms + gapMs < wm)
      if (rest.isEmpty) { if (state.exists) state.remove() }
      else {
        state.update(SessionBuffer(rest))
        state.setTimeoutTimestamp(rest.map(_.end_ms).min + gapMs)
      }
      ripe.sortBy(s => (s.start_ms, s.end_ms)).iterator
    }

    events
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", delay)
      .as[UserEventTimed]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuffer, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[UserEventTimed], state: GroupState[SessionBuffer]) =>
          val wm = state.getCurrentWatermarkMs()
          if (state.hasTimedOut) {
            release(state, wm, state.get.sessions)
          } else {
            val prev = state.getOption.map(_.sessions).getOrElse(Seq.empty)
            release(state, wm, Pipelines.mergeSessions(user, prev,
              rows.map(_.ts_ms), gapMs))
          }
      }
  }

  /** Watermarked stream-stream inner join: events from `left` matched to
    * events from `right` for the same key within `withinMs` AFTER the left
    * event. Both sides carry watermarks so the join state for rows outside
    * the time bound is evicted — bounded state at any stream length (the
    * unbounded-state trap of un-watermarked stream joins).
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
                       leftTs: String, rightTs: String,
                       withinMs: Long, delay: String = "1 minute",
                       joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, delay).alias("l")
    val r = right.withWatermark(rightTs, delay).alias("r")
    // outer variants emit the null-padded row only once the WATERMARK
    // proves no in-bound match can still arrive — the time bound below is
    // what makes that decidable (an un-bounded outer stream join could
    // never emit)
    l.join(r,
      col(s"l.$key") === col(s"r.$key")
        && col(s"r.$rightTs") >= col(s"l.$leftTs")
        && col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $withinMs MILLISECONDS"),
      joinType)
  }

  /** Stream-static join: a streaming frame enriched from a batch dimension
    * (broadcast per micro-batch — no streaming state at all).
    */
  def streamStaticJoin(stream: DataFrame, dim: DataFrame, streamKey: String,
                       dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  // ------------------------------------------------- kafka (K1/K2 shape)

  /** True iff the spark-sql-kafka connector is loadable. The build sandbox
    * ships no Kafka artifacts at all — not in `/opt/spark/jars`, not in the
    * offline coursier cache (probe recorded in `KAFKA_PROBE.md`) — so the
    * four `format("kafka")` builders below would otherwise fail deep inside
    * DataSource resolution at `.load()`/`.start()` time with a generic
    * DATA_SOURCE_NOT_FOUND. Checked eagerly at builder-call time instead,
    * with an error that names the exact artifacts to add.
    */
  def kafkaConnectorAvailable: Boolean =
    try {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider",
        false, getClass.getClassLoader)
      true
    } catch { case _: ClassNotFoundException => false }

  /** The exact option sets the four kafka builders configure — factored
    * pure so the broker-free contract spec can pin them (the only lines
    * of the §2 Kafka surface no test could otherwise reach: the sandbox
    * ships no connector, so `.load()`/`.start()` can never run). Keys
    * mirror the reference deployment: `kafka.bootstrap.servers` ↔
    * docker-compose's KSQL_BOOTSTRAP_SERVERS, `subscribe`/`topic` ↔ the
    * connector configs' `topics`, plus Spark's checkpointLocation.
    */
  private[graft] def kafkaSourceOptions(topic: String,
                                        bootstrapServers: String): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrapServers, "subscribe" -> topic)

  private[graft] def kafkaSinkOptions(topic: String, bootstrapServers: String,
                                      checkpoint: String): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrapServers, "topic" -> topic,
      "checkpointLocation" -> checkpoint)

  /** Configured-but-unloaded kafka reader/writer — provider resolution
    * happens at `.load()`/`.start()`, so these build fine without the
    * connector on the classpath and the contract spec can extract their
    * options without a broker.
    */
  private[graft] def kafkaReader(spark: SparkSession, topic: String,
                                 bootstrapServers: String): org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream.format("kafka")
      .options(kafkaSourceOptions(topic, bootstrapServers))

  private[graft] def kafkaWriter(records: DataFrame, topic: String,
                                 bootstrapServers: String, checkpoint: String,
                                 mode: OutputMode): DataStreamWriter[Row] =
    records.writeStream.format("kafka")
      .options(kafkaSinkOptions(topic, bootstrapServers, checkpoint))
      .outputMode(mode)

  private def requireKafkaConnector(site: String): Unit =
    if (!kafkaConnectorAvailable)
      throw new IllegalStateException(
        s"$site requires the spark-sql-kafka connector on the classpath: " +
          "add org.apache.spark:spark-sql-kafka-0-10_2.13 (same version as " +
          "Spark) and its org.apache.kafka:kafka-clients dependency — e.g. " +
          "spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:" +
          org.apache.spark.SPARK_VERSION + ". This build sandbox has no " +
          "Kafka artifacts (KAFKA_PROBE.md), so the path is untestable here.")

  /** The CSAS/CTAS topic record projection — EXACTLY the (key, value)
    * binary columns the Kafka writer ships: value = JSON-encoded row, key
    * = '|'-joined key columns (the reference's changelog key: group key +
    * window start, `connect_s3_sink_count.config:18`). Factored out of
    * [[kafkaSinkWriter]] so the wire encoding is assertable broker-free.
    */
  def kafkaRecords(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.select(
      concat_ws("|", keyCols.map(col): _*).cast("binary").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).cast("binary").as("value"))

  /** K1's actual wire format: Avro-binary values
    * (reference `README.md:233-239` CSAS over an AVRO stream) with
    * optional Confluent framing — [[kafkaRecords]] with the value encoded
    * by the native [[graft.functions.AvroEncode]] expression instead of
    * JSON. `wireSchema` field order must match `df`'s column order.
    */
  def kafkaAvroRecords(df: DataFrame, keyCols: Seq[String],
                       wireSchema: org.apache.spark.sql.types.StructType,
                       schemaId: Option[Int] = None): DataFrame =
    df.select(
      concat_ws("|", keyCols.map(col): _*).cast("binary").as("key"),
      graft.functions.AvroCodec.avroEncode(
        struct(df.columns.toIndexedSeq.map(col): _*), wireSchema, schemaId).as("value"))

  /** K1/K2: CSAS/CTAS-shaped Kafka sink writer over [[kafkaRecords]].
    * Built but not started: no broker exists in the build sandbox
    * (SURVEY.md §7.5.1); callers `.start()` against a real cluster. The
    * record encoding itself is unit-tested via [[kafkaRecords]].
    */
  def kafkaSinkWriter(df: DataFrame, topic: String, bootstrapServers: String,
                      keyCols: Seq[String], checkpoint: String,
                      mode: OutputMode = OutputMode.Append): DataStreamWriter[Row] = {
    requireKafkaConnector("kafkaSinkWriter")
    kafkaWriter(kafkaRecords(df, keyCols), topic, bootstrapServers,
      checkpoint, mode)
  }

  /** S2: Kafka source with an explicit schema applied to JSON values —
    * for topics carrying JSON. Built but not bound to a broker in the
    * sandbox.
    */
  def kafkaJsonSource(spark: SparkSession, topic: String,
                      bootstrapServers: String,
                      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    requireKafkaConnector("kafkaJsonSource")
    kafkaReader(spark, topic, bootstrapServers)
      .load()
      .select(from_json(col("value").cast("string"), schema).as("r"))
      .select(col("r.*"))
  }

  /** S2, the reference's actual wire format: Avro binary values
    * (`README.md:186` `value_format='AVRO'`) in Confluent Schema-Registry
    * framing (AvroConverter + schema-registry URL,
    * `docker-compose.yml:78-79`). Decoding is the native
    * [[graft.functions.AvroDecode]] expression — no registry round-trip
    * (the wire schema is pinned, like ksqlDB's CREATE STREAM ... WITH
    * (value_format='AVRO') against a known subject); malformed records
    * decode to a NULL row instead of failing the stream. Built but not
    * bound to a broker in the sandbox; the codec round-trips in
    * AvroCodecSpec.
    */
  def kafkaAvroSource(spark: SparkSession, topic: String,
                      bootstrapServers: String,
                      wireSchema: org.apache.spark.sql.types.StructType,
                      confluentFraming: Boolean = true): DataFrame = {
    requireKafkaConnector("kafkaAvroSource")
    kafkaReader(spark, topic, bootstrapServers)
      .load()
      .select(graft.functions.AvroCodec.avroDecode(
        col("value"), wireSchema, confluentFraming).as("r"))
      .select(col("r.*"))
  }

  /** The registry-driven EVOLVING ingest topology, composed end to end:
    * Confluent-framed binary records whose writer versions interleave →
    * writer schemas resolved ONCE at plan-build through the
    * [[graft.functions.SchemaRegistryClient]] seam (HTTP registry in
    * production, loopback/static in tests — same call) → per-record
    * schema-id dispatch + name-based resolution onto `readerSchema` →
    * good rows to a parquet sink, undecodable records (unknown id,
    * malformed body) to a binary dead-letter sidecar for replay/audit.
    *
    * One source pass per micro-batch (the decoded frame is cached for
    * the two writes), and both outputs are idempotent per batch: each
    * micro-batch OVERWRITES its own `batch_id=N` directory, so failure
    * replay rewrites identical files instead of appending them twice.
    * At 100 TB the decode is a narrow codegen'd projection (no shuffle,
    * no registry call on the hot path); throughput is bounded by the
    * parquet write, exactly as it should be.
    *
    * `records` must carry the Kafka wire column `value: binary`
    * ([[kafkaAvroSourceEvolving]]'s input shape, MemoryStream in tests). Starts
    * through [[startCheckpointed]], under its lock: no `chmod` spawns for
    * a `file:` checkpoint, session conf restored even if `start()` throws.
    */
  def startEvolvingIngestSink(records: DataFrame,
                              readerSchema: org.apache.spark.sql.types.StructType,
                              registry: graft.functions.SchemaRegistryClient,
                              ids: Seq[Int], path: String,
                              deadLetterPath: String, checkpoint: String,
                              trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    startCheckpointed(records
      .select(col("value"), graft.functions.AvroCodec.avroDecodeEvolving(
        col("value"), readerSchema, registry, ids).as("r")), checkpoint)(_
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val staged = batch.persist()
        try {
          staged.filter(col("r").isNotNull).select(col("r.*"))
            .write.mode("overwrite").parquet(s"$path/batch_id=$batchId")
          val dead = staged.filter(col("r").isNull).select(col("value"))
          if (!dead.isEmpty)
            dead.write.mode("overwrite")
              .parquet(s"$deadLetterPath/batch_id=$batchId")
        } finally { staged.unpersist(); () }
      })

  /** The FULL reference-topology analog composed as ONE driven pipeline —
    * every tier the reference wires through Kafka/Connect/ksqlDB,
    * end-to-end in a single streaming query (the streaming twin of
    * `corpus_incremental_curation`):
    *
    *   incremental source (graft-jdbc DSv2 or any stream carrying
    *   `value: binary`) → per-record EVOLVING Avro decode (Confluent
    *   framing, registry schema-id dispatch; undecodable records to a
    *   dead-letter sidecar) → curation gates (language-ID + quality +
    *   fingerprint dedup, in-batch AND against everything already
    *   ingested) → bucket-scoped copy-on-write CDC snapshot (latest-wins
    *   upsert by doc_id) + per-batch release-manifest rows.
    *
    * Per micro-batch, one source pass (the decoded frame is persisted for
    * its three consumers), and the whole batch is EXACTLY-ONCE under
    * foreachBatch replay via a staged-commit discipline: the curated rows
    * are first written to `stage/run=Q/batch_id=N` (this write doubles as
    * the plan pin the previous localCheckpoint provided — the upsert
    * overwrites the snapshot files the anti-join scanned), then manifest
    * and snapshot derive from the STAGE, and an `_GRAFT_APPLIED` marker
    * commits the batch. A replay (crash between the snapshot write and
    * the checkpoint commit) finds the stage's `_GRAFT_STAGED` marker and
    * re-drives manifest + upsert from the staged rows instead of
    * recomputing — recomputing would anti-join against the
    * already-updated snapshot, yield an EMPTY curated frame, and
    * overwrite `manifest/run=Q/batch_id=N` with nothing, permanently
    * losing that batch's release accounting. A replay that finds the
    * applied marker skips the batch outright.
    *
    * The run namespace `Q` is Spark's query id: Spark writes it to the
    * checkpoint's `metadata` file on the first start, reads it back on
    * every restart, and sets it as the `sql.streaming.queryId` local
    * property of the thread that runs `foreachBatch`. Batch ids restart
    * at 0 on a fresh checkpoint, so a fresh checkpoint over an existing
    * outDir gets a new id and never meets the previous run's markers,
    * while a restart on the same checkpoint re-drives its own crash
    * window. A first start over an outDir holding un-namespaced
    * artifacts fails ([[requireNoLegacyStage]]).
    *
    * Scale shape: decode + gates are narrow codegen'd projections fused
    * into the batch scan; the in-batch dedup is one fp-keyed exchange
    * over the batch (never the corpus); the cross-batch dedup is an
    * anti-join against a COLUMN-PRUNED scan of the snapshot's `fp`
    * column (at 100 TB swap in the bucketed fp index of
    * [[streamingIncrementalIngest]] — same join, indexed build side);
    * the snapshot write rewrites only the buckets the batch touches
    * ([[CdcSnapshot.applyUpsert]]); the manifest is a |sources|-row
    * aggregate. Nothing driver-side but the bounded bucket-id list.
    *
    * `records` must carry `value: binary` (Confluent-framed Avro);
    * `readerSchema` needs `doc_id long, text string, source string,
    * dt_update long` (epoch ms — the Avro wire primitive for timestamps,
    * as in [[graft.functions.AvroCodec.customerWireSchema]]); extra
    * reader fields (e.g. `lang`) ride along and old writer versions
    * without them decode to null there. Starts
    * through [[startCheckpointed]], under its lock: no `chmod` spawns for
    * a `file:` checkpoint, session conf restored even if `start()` throws.
    */
  def startReferenceTopology(records: DataFrame,
                             readerSchema: org.apache.spark.sql.types.StructType,
                             registry: graft.functions.SchemaRegistryClient,
                             ids: Seq[Int], outDir: String, checkpoint: String,
                             buckets: Int = 16, lang: String = "en",
                             minQuality: Double = 0.7,
                             queryName: String = "reference_topology",
                             trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    val snapshotDir = s"$outDir/snapshot"
    requireNoLegacyStage(records.sparkSession, outDir, checkpoint)
    startCheckpointed(records
      .select(col("value"), graft.functions.AvroCodec.avroDecodeEvolving(
        col("value"), readerSchema, registry, ids).as("r")), checkpoint)(_
      .queryName(queryName)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val queryId = batch.sparkSession.sparkContext
          .getLocalProperty("sql.streaming.queryId")
        require(queryId != null,
          "Spark set no sql.streaming.queryId on the foreachBatch thread")
        referenceTopologyBatch(batch, batchId, outDir, snapshotDir,
          buckets, lang, minQuality, streamId = queryId)
      })
  }

  /** UPGRADE GUARD: pre-namespace layouts wrote `stage/batch_id=N`
    * directly under outDir (no `run=` segment). A namespaced run cannot
    * adopt them: the replay probe looks under `run=<id>/`, so it would
    * recompute a batch whose stage already exists (the empty-curated-frame
    * hazard the staged-commit protocol documents), and its manifests would
    * double-count next to the legacy `manifest/batch_id=N` dirs. A
    * checkpoint that already holds Spark's `metadata` file was started
    * namespaced, and legacy dirs next to it belong to some other producer.
    * A first start over legacy artifacts fails loudly, naming the
    * migration, instead of silently opening a second accounting namespace.
    */
  private[graft] def requireNoLegacyStage(spark: SparkSession,
                                          outDir: String,
                                          checkpoint: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val started = p(s"$checkpoint/metadata")
    if (started.getFileSystem(hconf).exists(started)) return
    val fs = p(outDir).getFileSystem(hconf)
    val legacy = Seq("stage", "manifest", "dead_letter").flatMap { d =>
      val dir = p(s"$outDir/$d")
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq
        .map(_.getPath.getName).filter(_.startsWith("batch_id="))
        .map(n => s"$d/$n")
    }
    require(legacy.isEmpty,
      s"outDir '$outDir' holds pre-upgrade artifacts written without a " +
        s"run= namespace (${legacy.take(3).mkString(", ")}${
          if (legacy.size > 3) ", ..." else ""}) and checkpoint " +
        s"'$checkpoint' has no metadata yet: a namespaced restart " +
        "cannot re-drive the legacy crash window. Drain and commit the " +
        "stream under the pre-upgrade binary, or move the legacy " +
        "stage/manifest/dead_letter batch_id= dirs aside before starting")
  }

  /** One [[startReferenceTopology]] micro-batch, factored so the replay
    * spec can drive it directly against the crash window foreachBatch
    * retries expose (committed snapshot, uncommitted checkpoint).
    * Staged-commit protocol per batch N:
    *
    *   dead letters → curated rows to `stage/run=S/batch_id=N`
    *   (overwrite) → `_GRAFT_STAGED` marker → manifest FROM THE STAGE →
    *   snapshot upsert FROM THE STAGE → `_GRAFT_APPLIED` marker in the
    *   stage dir.
    *
    * Every per-batch artifact path (stage, manifest, dead letters) lies
    * under `run=S`, where `S` = `streamId`: the query id when driven by
    * [[startReferenceTopology]], since batch ids are only unique within
    * one checkpoint.
    *
    * Replay cases: applied marker present → fully committed, skip;
    * `_GRAFT_STAGED` present (an explicit marker written after the stage
    * parquet — NOT the committer's `_SUCCESS`, which object-store
    * deployments often disable via marksuccessfuljobs=false) but no
    * applied marker → re-drive manifest + upsert from the staged rows
    * (both idempotent: overwrite of the same dir, latest-wins merge of
    * identical rows) — NEVER recompute, because the cross-batch
    * anti-join would now see this batch's own fingerprints in the
    * snapshot and curate an empty frame over the good manifest; no stage
    * → first attempt, compute from the batch. All paths use the
    * path-derived FileSystem so `s3a://` out dirs resolve correctly.
    */
  private[graft] def referenceTopologyBatch(batch: DataFrame, batchId: Long,
                                            outDir: String, snapshotDir: String,
                                            buckets: Int, lang: String,
                                            minQuality: Double,
                                            streamId: String = "direct"): Unit = {
    import graft.operators.{CorpusOps, TextAnalysis}
    val spark = batch.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val stageDir = s"$outDir/stage/run=$streamId/batch_id=$batchId"
    val fs = p(stageDir).getFileSystem(hconf)
    val appliedMarker = p(s"$stageDir/_GRAFT_APPLIED")
    val stagedMarker = p(s"$stageDir/_GRAFT_STAGED")
    if (fs.exists(appliedMarker)) return // replay of a committed batch
    val staged = batch.persist()
    // the rate source's immediate trigger (and a quiet topic) produce
    // empty batches — skip all writes rather than commit empty
    // artifacts (no `return`: that would be a non-local return issue
    // inside foreachBatch closures; here we are a plain method)
    try {
      val replayFromStage = fs.exists(stagedMarker)
      if (!replayFromStage && staged.isEmpty) return
      if (!replayFromStage) {
        val dead = staged.filter(col("r").isNull).select(col("value"))
        if (!dead.isEmpty)
          dead.write.mode("overwrite")
            .parquet(s"$outDir/dead_letter/run=$streamId/batch_id=$batchId")
        val docs = staged.filter(col("r").isNotNull).select(col("r.*"))
          .withColumn("dt_update", timestamp_millis(col("dt_update")))
        // curation gates + IN-BATCH fingerprint dedup (earliest wins)
        val keep = col("pred_lang") === lang && col("quality") >= minQuality
        val gated = TextAnalysis.withPredLangAndQuality(docs)
          .filter(keep)
          .withColumn("fp",
            graft.functions.GraftFunctions.fingerprint(col("text")))
          .drop("pred_lang", "quality")
        val inBatch = gated
          .groupBy(col("fp"))
          .agg(min_by(struct(gated.columns.filter(_ != "fp").map(col): _*),
            struct(col("dt_update"), col("doc_id"))).as("d"))
          .select(col("fp") +: gated.columns.filter(_ != "fp")
            .map(f => col(s"d.$f")): _*)
        // CROSS-BATCH dedup: drop fingerprints already ingested (the
        // snapshot stores fp, so this is a column-pruned scan of it)
        val fresh =
          if (CdcSnapshot.hasContent(spark, snapshotDir))
            inBatch.join(
              CdcSnapshot.readUpsert(spark, snapshotDir).select(col("fp")),
              Seq("fp"), "left_anti")
          else inBatch
        // the stage write materializes `fresh` BEFORE the upsert
        // overwrites the snapshot files its anti-join scanned (the plan
        // pin the previous localCheckpoint provided, now durable so a
        // replay can re-drive the batch without recomputing)
        fresh.write.mode("overwrite").parquet(stageDir)
        fs.create(stagedMarker, true).close()
      }
      val curated = spark.read.parquet(stageDir)
      CorpusOps.manifest(curated)
        .write.mode("overwrite")
        .parquet(s"$outDir/manifest/run=$streamId/batch_id=$batchId")
      CdcSnapshot.applyUpsert(spark, snapshotDir,
        curated.select(
          col("doc_id").as("key"),
          unix_millis(col("dt_update")).as("seq"),
          col("doc_id"), col("text"), col("source"),
          col("dt_update"), col("fp")),
        buckets)
      fs.create(appliedMarker, true).close()
    } finally { staged.unpersist(); () }
  }

  /** S2 against a REGISTRY-BACKED topic where records written under
    * evolving schema versions interleave: each record's framed Confluent
    * schema id routes it to its writer schema, then resolves onto
    * `readerSchema` by field name ([[graft.functions.AvroDecodeEvolving]]).
    * Unknown ids and malformed bodies become NULL rows (kept, so the
    * pipeline can count/dead-letter them; filter on a reader column's
    * non-nullness to drop). Built but not bound to a broker in the
    * sandbox; two-id interleave round-trips in AvroCodecSpec.
    */
  def kafkaAvroSourceEvolving(spark: SparkSession, topic: String,
                              bootstrapServers: String,
                              readerSchema: org.apache.spark.sql.types.StructType,
                              writerSchemas: Map[Int, org.apache.spark.sql.types.StructType]): DataFrame = {
    requireKafkaConnector("kafkaAvroSourceEvolving")
    kafkaReader(spark, topic, bootstrapServers)
      .load()
      .select(graft.functions.AvroCodec.avroDecodeEvolving(
        col("value"), readerSchema, writerSchemas).as("r"))
      .select(col("r.*"))
  }
}
