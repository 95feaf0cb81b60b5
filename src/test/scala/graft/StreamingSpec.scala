package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.ReferenceQueries
import graft.sources.FakeData
import graft.streaming.{Pipelines, UserEvent, UserRunning, UserSession}

/** Customer row as it appears on the decoded stream (SURVEY.md §1.2). */
case class Cust(nome: String, telefone: String, email: String,
                nascimento: Date, idade_extra: String, dt_update: Timestamp)

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def mkCust(nome: String, nasc: String, tsMillis: Long) =
    Cust(nome, "(11) 91234-5678", s"$nome@example.org",
      Date.valueOf(nasc), "x", new Timestamp(tsMillis))

  private val rows = Seq(
    mkCust("ana", "2001-05-05", 10_000L),   // JOVEM, window [0,30)
    mkCust("bia", "1969-12-31", 12_000L),   // ADULTO (pre-epoch), window [0,30)
    mkCust("caio", "2000-01-01", 31_000L),  // JOVEM boundary, window [30,60)
    mkCust("davi", "1999-12-31", 59_000L))  // ADULTO boundary, window [30,60)

  test("jovens stream: append mode filters by formatted birthdate") {
    val mem = MemoryStream[Cust]
    val q = Pipelines.startMemorySink(Pipelines.jovens(mem.toDF()), "jovens_t")
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("jovens_t").select("nome").as[String].collect().toSet
      assert(got == Set("ana", "caio")) // >= 2000-01-01 inclusive
    } finally q.stop()
  }

  test("idadecont stream: update-mode windowed counts match batch plan") {
    val mem = MemoryStream[Cust]
    val q = Pipelines.startMemorySink(
      Pipelines.idadecont(mem.toDF()), "idadecont_t", OutputMode.Update)
    try {
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      q.processAllAvailable()
      // update mode re-emits refined rows; latest state per key must match
      // the batch computation over the same input
      val streamed = spark.table("idadecont_t")
        .groupBy("window_start", "idadecat")
        .agg(org.apache.spark.sql.functions.max("contagem").as("contagem"))
        .as[(Timestamp, String, Long)].collect().toSet
      val batch = ReferenceQueries.idadecont(
        ReferenceQueries.idadeclass(rows.toDF()))
        .select($"window_start", $"idadecat", $"contagem")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch == Set(
        (new Timestamp(0L), "JOVEM", 1L),
        (new Timestamp(0L), "ADULTO", 1L),
        (new Timestamp(30_000L), "JOVEM", 1L),
        (new Timestamp(30_000L), "ADULTO", 1L)))
    } finally q.stop()
  }

  test("late rows within the grace period still update their window") {
    val mem = MemoryStream[Cust]
    // tight 1-minute grace so the watermark semantics are observable
    val q = Pipelines.startMemorySink(
      Pipelines.idadecont(mem.toDF(), grace = "1 minute"), "late_t",
      OutputMode.Update)
    try {
      // advance event time to 95s → watermark 95-60 = 35s
      mem.addData(mkCust("eva", "2001-01-01", 95_000L))
      q.processAllAvailable()
      // late row at 40s: within grace (>= 35s watermark) → its [30,60)
      // window must still be updated (ksqlDB 24h-grace analog, A5)
      mem.addData(mkCust("gil", "2001-01-01", 40_000L))
      q.processAllAvailable()
      val lateWindow = spark.table("late_t")
        .filter($"window_start" === new Timestamp(30_000L))
        .as[(Timestamp, Timestamp, String, Long)].collect()
      assert(lateWindow.map(_._4).max == 1L)
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark repeats across batches") {
    val mem = MemoryStream[Cust]
    val deduped = Pipelines.streamingDedup(
      mem.toDF(), Seq("email"), "dt_update", "1 hour")
    val q = Pipelines.startMemorySink(deduped, "dedup_t")
    try {
      mem.addData(rows(0), rows(0)) // in-batch duplicate
      q.processAllAvailable()
      mem.addData(rows(0), rows(1)) // cross-batch duplicate + new row
      q.processAllAvailable()
      val emails = spark.table("dedup_t").select("email").as[String].collect()
      assert(emails.length == 2) // ana once, bia once
      assert(emails.toSet == Set("ana@example.org", "bia@example.org"))
    } finally q.stop()
  }

  test("streaming incremental ingest: indexed fps dropped via stream-static anti-join") {
    import org.apache.spark.sql.functions.col
    case class Doc(doc_id: Long, text: String, ts: Timestamp)
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ts")
    // the persisted-corpus stand-in: fingerprints of two already-ingested
    // texts (case/whitespace variants must still hit the index)
    val index = Seq("seed one", "seed two").toDF("text")
      .select(graft.functions.GraftFunctions.fingerprint(col("text")).as("fp"))
    val q = Pipelines.startMemorySink(
      Pipelines.streamingIncrementalIngest(docs, index, "ts", "1 hour"),
      "inc_ingest_t")
    try {
      mem.addData(
        (1L, "Seed ONE", new Timestamp(1_000L)),   // already in the index
        (2L, "fresh text", new Timestamp(2_000L)), // new
        (3L, "fresh  text", new Timestamp(3_000L)))// in-batch dup of 2
      q.processAllAvailable()
      mem.addData(
        (4L, "fresh text", new Timestamp(4_000L)), // cross-batch dup of 2
        (5L, "another new doc", new Timestamp(5_000L)))
      q.processAllAvailable()
      val kept = spark.table("inc_ingest_t").select("doc_id")
        .as[Long].collect().toSet
      assert(kept == Set(2L, 5L),
        s"expected only first-seen un-indexed docs, got $kept")
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    val mem = MemoryStream[UserEvent]
    val q = Pipelines.startMemorySink(
      Pipelines.userRunningState(mem.toDS()).toDF(), "state_t",
      OutputMode.Update)
    try {
      mem.addData(UserEvent(1, 100), UserEvent(1, 200), UserEvent(2, 50))
      q.processAllAvailable()
      mem.addData(UserEvent(1, 300))
      q.processAllAvailable()
      val latest = spark.table("state_t")
        .groupBy("user_id")
        .agg(org.apache.spark.sql.functions.max("n_events").as("n"),
          org.apache.spark.sql.functions.max("last_ms").as("last"))
        .as[(Long, Long, Long)].collect().toSet
      assert(latest == Set((1L, 3L, 300L), (2L, 1L, 50L))) // state survived batch 1→2
    } finally q.stop()
  }

  test("two topologies run concurrently off one source (multi-sink parity)") {
    val mem = MemoryStream[Cust]
    val src = mem.toDF()
    val q1 = Pipelines.startMemorySink(Pipelines.jovens(src), "multi_jovens")
    val q2 = Pipelines.startMemorySink(Pipelines.idadecont(src), "multi_cont",
      OutputMode.Update)
    try {
      mem.addData(rows: _*)
      q1.processAllAvailable(); q2.processAllAvailable()
      assert(spark.table("multi_jovens").count() == 2)
      assert(spark.table("multi_cont")
        .agg(org.apache.spark.sql.functions.sum("contagem"))
        .as[Long].collect()(0) >= 4)
      assert(spark.streams.active.length >= 2) // I3 introspection live
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming session windows merge within gap and split past it") {
    val mem = MemoryStream[UserEvent]
    val sessions = mem.toDF()
      .select($"user_id", org.apache.spark.sql.functions.timestamp_millis($"ts_ms").as("ts"))
      .withWatermark("ts", "10 minutes")
      .groupBy(org.apache.spark.sql.functions.session_window($"ts", "5 minutes"), $"user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .select($"user_id", $"session_window.start".as("s"), $"n")
    // session aggregations only support append mode: sessions emit once
    // the watermark passes their end
    val q = Pipelines.startMemorySink(sessions, "sess_t", OutputMode.Append)
    try {
      mem.addData(UserEvent(1, 0), UserEvent(1, 200_000), UserEvent(1, 600_000))
      q.processAllAvailable()
      // watermark-advancing flush events finalize user 1's sessions
      mem.addData(UserEvent(2, 2_000_000))
      q.processAllAvailable()
      mem.addData(UserEvent(2, 2_100_000))
      q.processAllAvailable()
      val got = spark.table("sess_t").where($"user_id" === 1)
        .as[(Long, Timestamp, Long)].collect().toSet
      assert(got == Set(
        (1L, new Timestamp(0L), 2L),        // 0s + 200s merge (gap < 5 min)
        (1L, new Timestamp(600_000L), 1L))) // 400s silence > gap → new session
    } finally q.stop()
  }

  test("stream-stream join matches pairs within the time bound only") {
    val purchases = MemoryStream[UserEvent]
    val views = MemoryStream[UserEvent]
    val p = purchases.toDF()
      .select($"user_id", org.apache.spark.sql.functions.timestamp_millis($"ts_ms").as("p_ts"))
    val v = views.toDF()
      .select($"user_id", org.apache.spark.sql.functions.timestamp_millis($"ts_ms").as("v_ts"))
    val joined = Pipelines.streamStreamJoin(p, v, "user_id", "p_ts", "v_ts",
      withinMs = 10_000L)
      .selectExpr("l.user_id AS user_id", "v_ts")
    val q = Pipelines.startMemorySink(joined, "ss_t")
    try {
      purchases.addData(UserEvent(1, 10_000))
      views.addData(UserEvent(1, 12_000))  // +2s → in window
      views.addData(UserEvent(1, 25_000))  // +15s → out of window
      views.addData(UserEvent(2, 12_000))  // other user
      q.processAllAvailable()
      val got = spark.table("ss_t").as[(Long, Timestamp)].collect().toSeq
      assert(got == Seq((1L, new Timestamp(12_000L))))
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched rows once the watermark decides") {
    val purchases = MemoryStream[UserEvent]
    val views = MemoryStream[UserEvent]
    val p = purchases.toDF()
      .select($"user_id", org.apache.spark.sql.functions.timestamp_millis($"ts_ms").as("p_ts"))
    val v = views.toDF()
      .select($"user_id", org.apache.spark.sql.functions.timestamp_millis($"ts_ms").as("v_ts"))
    val joined = Pipelines.streamStreamJoin(p, v, "user_id", "p_ts", "v_ts",
      withinMs = 10_000L, delay = "5 seconds", joinType = "left_outer")
      .select($"l.user_id", $"r.v_ts")
    val q = Pipelines.startMemorySink(joined, "sso_t")
    try {
      purchases.addData(UserEvent(1, 100_000), UserEvent(2, 100_000))
      views.addData(UserEvent(1, 105_000)) // user 1 matches; user 2 never will
      q.processAllAvailable()
      // ride the watermark far past 100000+10000+delay, then an extra
      // batch so the outer state flushes
      purchases.addData(UserEvent(9, 500_000))
      views.addData(UserEvent(9, 500_000))
      q.processAllAvailable()
      views.addData(UserEvent(9, 600_000))
      purchases.addData(UserEvent(9, 600_000))
      q.processAllAvailable()
      val got = spark.table("sso_t").as[(Long, Option[Timestamp])].collect().toSet
      assert(got.contains((1L, Some(new Timestamp(105_000L)))), s"got=$got")
      assert(got.contains((2L, None)), s"unmatched purchase never flushed: got=$got")
    } finally q.stop()
  }

  test("stream-static join enriches from a broadcast dimension, stateless") {
    val mem = MemoryStream[UserEvent]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("d_user", "tier")
    val joined = Pipelines.streamStaticJoin(mem.toDF(), dim, "user_id", "d_user")
      .select($"user_id", $"tier")
    val q = Pipelines.startMemorySink(joined, "sd_t")
    try {
      mem.addData(UserEvent(1, 1), UserEvent(3, 2))
      q.processAllAvailable()
      val got = spark.table("sd_t").as[(Long, Option[String])].collect().toSet
      assert(got == Set((1L, Some("gold")), (3L, None))) // left join keeps unmatched
    } finally q.stop()
  }

  test("generator stream: rate-source rows carry the 9-column schema") {
    val df = FakeData.customerStream(spark, rowsPerSecond = 100)
    assert(df.isStreaming)
    assert(df.columns.toSeq == Seq("nome", "sexo", "endereco", "telefone",
      "email", "foto", "nascimento", "profissao", "dt_update"))
  }

  test("end-to-end streaming curation: jdbc source → score → dedup → connect layout") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.sources.{GraftJdbcStream, SnapshotChunkSource}

    val goodEn = ("the cat and the dog sat on a mat of straw " * 12).trim
    val otherEn = ("a bird and the fish swim to the old red barn " * 12).trim
    val german = ("der hund und die katze ist nicht ein zu mit auf " * 12).trim
    val junk = "!!! ??? !! ?"
    def doc(id: Long, text: String, ms: Long) =
      (id, "xx", s"web-$id", text, new Timestamp(ms))
    val snap = Seq(
      doc(1L, goodEn, 1000L),  // survives
      doc(2L, goodEn, 5000L),  // same fingerprint → dedup drops
      doc(3L, german, 6000L),  // language filter drops
      doc(4L, junk, 7000L),    // quality filter drops
      doc(5L, otherEn, 8000L)  // survives
    ).toDF("doc_id", "lang", "source", "text", "dt_update")
    GraftJdbcStream.registry.put("spec_curation_docs",
      new SnapshotChunkSource(() => snap))

    val out = tempDir("graft_cur_s3_").toString
    val docsStream = spark.readStream.format("graft-jdbc")
      .option("sourceHandle", "spec_curation_docs").load()
    val q = Pipelines.startStreamingCuration(docsStream, out, "curated",
      checkpoint = tempDir("graft_cur_ckp_").toString)
    try q.processAllAvailable() finally q.stop()

    // reference object layout: topics.dir/<topic>/partition=N/<topic>+N+off
    val partDir = Paths.get(out, "raw-data", "kafka", "curated", "partition=0")
    assert(Files.isDirectory(partDir), s"missing connect layout under $out")
    val objects = Files.list(partDir).iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
    assert(objects.nonEmpty && objects.forall(_.matches("curated\\+0\\+\\d+\\.parquet")))

    // contents: only the two distinct en/quality survivors, helper
    // columns (fp/pred_lang/quality) dropped, source columns intact
    val curated = spark.read.parquet(
      objects.map(o => partDir.resolve(o).toString): _*)
    assert(curated.columns.sorted.toSeq ==
      Seq("doc_id", "dt_update", "lang", "source", "text"))
    assert(curated.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 5L))
  }

  test("batch generator: deterministic, epoch round-trip exact, pre-1970 covered") {
    val a = FakeData.customers(spark, 500)
    val b = FakeData.customers(spark, 500)
    assert(a.collect().toSet == b.collect().toSet)
    val rt = FakeData.fromEpochRecords(FakeData.toEpochRecords(a))
    assert(rt.collect().toSet == a.collect().toSet)
    val negDays = FakeData.toEpochRecords(a)
      .filter($"nascimento" < 0).count()
    assert(negDays > 0) // pre-1970 births exist → F1 negative-day edge live
  }

  test("flatMapGroupsWithState sessionization: in-batch gap split and timeout close") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val mem = MemoryStream[UserEvent]
    val q = Pipelines.startMemorySink(
      Pipelines.userSessions(mem.toDS(), gapMs = 30000L, delay = "10 seconds").toDF(),
      "sessions_t", OutputMode.Append)
    try {
      // base offset: a ts at exactly the initial watermark (epoch 0) is
      // dropped as late — use times well past it, as any real stream has
      val t0 = 1000000L
      // two events 10 s apart: one open session, nothing emitted yet
      mem.addData(UserEvent(1, t0), UserEvent(1, t0 + 10000))
      q.processAllAvailable()
      assert(spark.table("sessions_t").isEmpty)
      // 90 s later: breaches the 30 s gap. The session emits within the
      // same processAllAvailable — not because of the breach, but because
      // this batch pushes the watermark (t0+90000) past end+gap and the
      // no-data micro-batch fires the event-time timeout. Emission is
      // WATERMARK-gated: see the late-merge test for the case where the
      // watermark has not sealed the breached session yet.
      mem.addData(UserEvent(1, t0 + 100000))
      q.processAllAvailable()
      assert(spark.table("sessions_t").as[UserSession].collect().toSet ==
        Set(UserSession(1L, t0, t0 + 10000, 2L)))
      // watermark rides a far-future event past the OPEN session's
      // end+gap; the extra batch lets the timeout fire
      mem.addData(UserEvent(2, t0 + 200000))
      q.processAllAvailable()
      mem.addData(UserEvent(2, t0 + 201000))
      q.processAllAvailable()
      val got = spark.table("sessions_t").as[UserSession].collect().toSet
      // user 1's open session emitted by TIMEOUT, with no further user-1 data
      assert(got.contains(UserSession(1L, t0 + 100000, t0 + 100000, 1L)), s"got=$got")
    } finally q.stop()
  }

  test("sessionization merges a cross-batch late event backwards into the session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val mem = MemoryStream[UserEvent]
    val q = Pipelines.startMemorySink(
      Pipelines.userSessions(mem.toDS(), gapMs = 30000L, delay = "1 minute").toDF(),
      "sessions_late_t", OutputMode.Append)
    try {
      val t0 = 1000000L
      mem.addData(UserEvent(1, t0 + 20000))
      q.processAllAvailable()
      // late (allowed by the 1 min delay) and OLDER than the open start:
      // must extend the session backwards, not leave start at t0+20000
      mem.addData(UserEvent(1, t0))
      q.processAllAvailable()
      // breach the gap, then ride the watermark past end+gap and give the
      // event-time timeout a batch to fire (append emits only once the
      // watermark seals the session)
      mem.addData(UserEvent(1, t0 + 200000))
      q.processAllAvailable()
      mem.addData(UserEvent(2, t0 + 400000))
      q.processAllAvailable()
      mem.addData(UserEvent(2, t0 + 401000))
      q.processAllAvailable()
      val got = spark.table("sessions_late_t").as[UserSession].collect().toSet
      assert(got.contains(UserSession(1L, t0, t0 + 20000, 2L)), s"got=$got")
    } finally q.stop()
  }

  test("sessionization: a late event merges into a gap-breached session (no overlap)") {
    // the append-mode anomaly this guards: emitting a session on the
    // in-batch gap breach lets a still-admissible late event (within
    // gapMs of the emitted end) start a SECOND session overlapping the
    // first. Breached sessions must wait in state until the watermark
    // passes end+gap.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val mem = MemoryStream[UserEvent]
    val q = Pipelines.startMemorySink(
      Pipelines.userSessions(mem.toDS(), gapMs = 30000L, delay = "1 minute").toDF(),
      "sessions_merge_t", OutputMode.Append)
    try {
      val t0 = 1000000L
      mem.addData(UserEvent(1, t0 + 20000))
      q.processAllAvailable()
      // breaches the 30 s gap: [t0+20000] is now pending-closed
      mem.addData(UserEvent(1, t0 + 100000))
      q.processAllAvailable()
      assert(spark.table("sessions_merge_t").isEmpty)
      // late (watermark is t0+40000) but within gapMs of the pending
      // session's end -> must MERGE into it, not open a third session
      mem.addData(UserEvent(1, t0 + 45000))
      q.processAllAvailable()
      // ride the watermark past everything and let the timeout fire
      mem.addData(UserEvent(2, t0 + 400000))
      q.processAllAvailable()
      mem.addData(UserEvent(2, t0 + 401000))
      q.processAllAvailable()
      val got = spark.table("sessions_merge_t").as[UserSession].collect()
        .filter(_.user_id == 1L).toSet
      assert(got == Set(
        UserSession(1L, t0 + 20000, t0 + 45000, 2L),
        UserSession(1L, t0 + 100000, t0 + 100000, 1L)), s"got=$got")
      // sessions of one user are separated by more than the gap
      val sorted = got.toSeq.sortBy(_.start_ms)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(b.start_ms - a.end_ms > 30000L, s"$a overlaps $b")
        case _ => ()
      }
    } finally q.stop()
  }

  test("sessionization: session with end+gap == watermark is NOT released (boundary)") {
    // The inline release uses STRICT inequality (end+gap < wm), uniform
    // with the event-time-timeout path (which fires only for ts < wm).
    // Measured Spark 4.1.2 semantics, pinned here: (a) at wm == end+gap
    // the session stays in state — a non-strict release would emit it one
    // batch early; (b) an event at exactly ts == the late-filter watermark
    // is DROPPED (the filter discards ts <= wm), so the kept session can
    // never be merged by an equal-boundary event — strictness costs one
    // batch of latency at the exact boundary and nothing else.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val mem = MemoryStream[UserEvent]
    val q = Pipelines.startMemorySink(
      Pipelines.userSessions(mem.toDS(), gapMs = 30000L, delay = "1 minute").toDF(),
      "sessions_boundary_t", OutputMode.Append)
    try {
      val t0 = 1000000L
      // session A = [t0, t0]
      mem.addData(UserEvent(1, t0))
      q.processAllAvailable()
      // ride the watermark to EXACTLY A.end + gap: wm = t0+90000 - 60000
      mem.addData(UserEvent(2, t0 + 90000))
      q.processAllAvailable()
      // invoke user 1's function while wm == t0+30000 == A.end+gap; a
      // non-strict release would emit A here. (ts stays <= t0+90000 so the
      // watermark itself does not advance.)
      mem.addData(UserEvent(1, t0 + 85000))
      q.processAllAvailable()
      assert(spark.table("sessions_boundary_t").isEmpty,
        "session released inline at end+gap == wm (release must be strict)")
      // ts == the late-filter watermark: dropped, must NOT merge into A
      mem.addData(UserEvent(1, t0 + 30000))
      q.processAllAvailable()
      // ride the watermark past everything and let timeouts fire
      mem.addData(UserEvent(2, t0 + 300000))
      q.processAllAvailable()
      mem.addData(UserEvent(2, t0 + 301000))
      q.processAllAvailable()
      val got = spark.table("sessions_boundary_t").as[UserSession].collect()
        .filter(_.user_id == 1L).toSet
      assert(got == Set(
        UserSession(1L, t0, t0, 1L),
        UserSession(1L, t0 + 85000, t0 + 85000, 1L)), s"got=$got")
      got.toSeq.sortBy(_.start_ms).sliding(2).foreach {
        case Seq(a, b) => assert(b.start_ms - a.end_ms > 30000L, s"$a overlaps $b")
        case _ => ()
      }
    } finally q.stop()
  }

  test("streaming near-dup flags arrivals against the persisted LSH band index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val sf = "/root/testdata/sf0.001"
    val index = operators.Dedup.lshBandIndex(spark, sf)
    // a known corpus document, re-arriving with case/punct noise: same
    // normalized shingles -> identical signature -> est 1.0
    val corpusDoc = Tables.load(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.length($"text") > 50)
      .select($"doc_id", $"text")
      .orderBy($"doc_id").limit(1).collect()(0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts")
    val q = Pipelines.startMemorySink(
      Pipelines.streamingNearDupMatches(stream, index, "ts", "1 minute",
        n = 3, threshold = 0.9),
      "neardup_t", OutputMode.Append)
    try {
      val ts = new java.sql.Timestamp(1000000L)
      mem.addData(
        (900001L, corpusDoc.getString(1).toUpperCase + "!!", ts),
        (900002L, "zxqv wkjh plmn qrst uvwx yzab cdef ghij klmn opqr", ts))
      q.processAllAvailable()
      // the same pair arriving again inside the watermark stays deduped
      mem.addData((900001L, corpusDoc.getString(1).toUpperCase + "??", ts))
      q.processAllAvailable()
      val got = spark.table("neardup_t")
        .select($"doc_id", $"matched_doc_id", $"est_sim")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // the re-arrival matched its corpus original at estimate 1.0, once
      assert(got.count(m => m._1 == 900001L
        && m._2 == corpusDoc.getLong(0) && m._3 == 1.0) == 1, s"got=${got.toSeq}")
      // the novel document matched nothing
      assert(!got.exists(_._1 == 900002L), s"got=${got.toSeq}")
    } finally q.stop()
  }

  test("streaming ANN alerts probe the persisted index, dedupe in-watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val sf = "/root/testdata/sf0.001"
    val index = operators.Similarity.partitionedAnnIndex(spark, sf, 4, 64)
    // a known corpus vector arriving as a query: same bucket, cosine 1.0
    val q0 = Tables.load(spark, sf, "embeddings")
      .filter($"vec_id" === 0L).select($"embedding")
      .collect()(0).getSeq[Float](0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val stream = mem.toDF().toDF("q_id", "embedding", "ts")
    val q = Pipelines.startMemorySink(
      Pipelines.streamingAnnMatches(stream, index, "ts", "1 minute",
        planes = 4, dims = 64, threshold = 0.99),
      "ann_alerts_t", OutputMode.Append)
    try {
      val ts = new java.sql.Timestamp(1000000L)
      mem.addData((7001L, q0, ts))
      q.processAllAvailable()
      // the same query re-arriving inside the watermark stays deduped
      mem.addData((7001L, q0, ts))
      q.processAllAvailable()
      val got = spark.table("ann_alerts_t")
        .select($"q_id", $"match_vec_id", $"cos_sim")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.count(m => m._1 == 7001L && m._2 == 0L && m._3 == 1.0) == 1,
        s"got=${got.toSeq}")
      assert(got.forall(_._3 >= 0.99)) // nothing below the gate leaks
    } finally q.stop()
  }

  test("streaming surprisal scores arrivals with the persisted unigram model, batch-exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val sf = "/root/testdata/sf0.001"
    val model = operators.TextAnalysis.unigramModelTable(spark, sf)
    val qlnTotal = operators.TextAnalysis.unigramQlnTotal(model)
    // expected: the batch op's row for a corpus document — streaming the
    // same text must reproduce it exactly (full vocabulary coverage)
    val corpusDocs = Tables.load(spark, sf, "documents")
    val probe = corpusDocs.filter(org.apache.spark.sql.functions.length($"text") > 50)
      .select($"doc_id", $"text").orderBy($"doc_id").limit(1).collect()(0)
    val expected = operators.TextAnalysis.unigramSurprisal(corpusDocs)
      .filter($"doc_id" === probe.getLong(0))
      .select($"n_tokens", $"nll_micro", $"avg_nll").collect()(0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts")
    val q = Pipelines.startMemorySink(
      Pipelines.streamingSurprisal(stream, model, qlnTotal, "ts", "1 minute"),
      "surprisal_t", OutputMode.Append)
    try {
      val ts = new java.sql.Timestamp(1000000L)
      mem.addData(
        (900001L, probe.getString(1), ts),
        (900002L, "zxqv wkjh plmn qrst uvwx yzab", ts)) // fully OOV
      q.processAllAvailable()
      // advance the watermark past ts so the first batch's groups emit
      mem.addData((900003L, probe.getString(1),
        new java.sql.Timestamp(ts.getTime + 600000L)))
      q.processAllAvailable()
      val got = spark.table("surprisal_t")
        .select($"doc_id", $"n_tokens", $"nll_micro", $"avg_nll")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      assert(got(900001L) ==
        ((expected.getLong(0), expected.getLong(1), expected.getDouble(2))),
        s"stream score drifted from batch: ${got.get(900001L)} vs $expected")
      // the fully-OOV document scores nothing (join drops every token)
      assert(!got.contains(900002L), s"OOV doc scored: $got")
    } finally q.stop()
  }

  test("streaming perceptual dedup drops recompressed corpus images at ingest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.operators.Multimodal
    val sf = "/root/testdata/sf0.001"
    val index = Multimodal.dhashIndexTable(spark, sf)
    // a corpus image RECOMPRESSED to the other codec: bytes + md5 differ,
    // dhash matches -> must be dropped
    val corpusRow = Multimodal.imageAssetsTable(spark, sf)
      .orderBy($"asset_id").limit(1).collect()(0)
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(corpusRow.getAs[Array[Byte]]("content")))
    val otherFmt = if (corpusRow.getAs[String]("format") == "png") "bmp" else "png"
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(decoded, otherFmt, bos))
    val recompressed = bos.toByteArray
    assert(!java.util.Arrays.equals(recompressed, corpusRow.getAs[Array[Byte]]("content")))
    // a genuinely novel image (checkerboard — no corpus gradient hashes it)
    val img = new java.awt.image.BufferedImage(
      20, 14, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 14; x <- 0 until 20) {
      val v = if ((x + y) % 2 == 0) 255 else 0
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos2 = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos2))
    val fresh = bos2.toByteArray
    // expected survivors per the BATCH formulation of the same frame
    val batchFrame = Seq((9001L, recompressed), (9002L, fresh))
      .toDF("asset_id", "content")
    val expected = Multimodal.imageDHash(batchFrame).toDF()
      .join(index, Seq("dhash"), "left_anti")
      .select($"asset_id").as[Long].collect().toSet
    assert(!expected.contains(9001L)) // the recompression is a dup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = Pipelines.startMemorySink(
      Pipelines.streamingPerceptualDedup(
        mem.toDF().toDF("asset_id", "content"), index),
      "pdedup_t", OutputMode.Append)
    try {
      mem.addData((9001L, recompressed), (9002L, fresh))
      q.processAllAvailable()
      val got = spark.table("pdedup_t").select($"asset_id").as[Long].collect().toSet
      assert(got == expected, s"stream=$got batch=$expected")
    } finally q.stop()
  }

  test("streaming manifest: count/sum/xor state merges across batches, batch-exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.operators.CorpusOps
    val rows = (0L until 40L).map(i =>
      (i, s"alpha beta doc$i content", "en", if (i % 2 == 0) "s_a" else "s_b", 4L))
    val batchDf = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val expected = CorpusOps.manifest(batchDf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val stream = mem.toDF().toDF("doc_id", "text", "source", "ts")
    val q = Pipelines.startMemorySink(
      Pipelines.streamingManifest(stream, "1 hour", "1 minute"),
      "manifest_t", OutputMode.Append)
    try {
      val ts = new java.sql.Timestamp(30000L)
      val all = rows.map(r => (r._1, r._2, r._4, ts))
      val (b1, b2) = all.splitAt(15)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      mem.addData((9999L, "late window advance", "s_x",
        new java.sql.Timestamp(ts.getTime + 2 * 3600L * 1000L)))
      q.processAllAvailable()
      val got = spark.table("manifest_t")
        .filter($"source".startsWith("s_"))
        .select($"source", $"n_docs", $"n_tokens", $"content_xor")
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got.view.filterKeys(Set("s_a", "s_b")).toMap ==
        expected.view.filterKeys(Set("s_a", "s_b")).toMap,
        s"stream manifest drifted: $got vs $expected")
    } finally q.stop()
  }

  test("streaming windowed KMV: sketch state merges across batches, batch-exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.functions.{window => winF, col}
    // 100 distinct users (> k=16 -> estimation engages) split across two
    // micro-batches inside ONE window: the final sketch must equal the
    // batch sketch over the union — the cross-batch merge is the point
    val all = (0 until 100).map(u => (new java.sql.Timestamp(30000L + u), 1000L + u, "click"))
    val (b1, b2) = all.splitAt(40)
    val batchDf = all.toDF("ts", "user_id", "event_type")
    val expected = graft.operators.Relational.kmvDistinctByGroup(
      batchDf, "event_type", col("user_id"), 16)
      .select($"est_distinct").as[Double].head()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val stream = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = Pipelines.startMemorySink(
      Pipelines.streamingDistinctUsers(stream, "1 hour", "1 minute", 16),
      "kmv_win_t", OutputMode.Append)
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      // advance the watermark past the window to release it
      mem.addData((new java.sql.Timestamp(30000L + 2 * 3600L * 1000L), 9L, "late"))
      q.processAllAvailable()
      val got = spark.table("kmv_win_t")
        .filter($"event_type" === "click")
        .select($"n_sketch", $"est_distinct").as[(Long, Double)].collect()
      assert(got.length == 1, s"expected one sealed window row: ${got.toSeq}")
      assert(got.head == ((16L, expected)),
        s"stream sketch drifted from batch: ${got.head} vs (16, $expected)")
    } finally q.stop()
  }

  test("streaming anomalies flag arrivals against the persisted baseline, batch-exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val sf = "/root/testdata/sf0.001"
    val stats = operators.Relational.valueStatsTable(spark, sf)
    val events = Tables.load(spark, sf, "events")
    val expected = operators.Relational.valueAnomalies(events, 3)
      .select($"event_id").as[Long].collect().toSet
    assert(expected.nonEmpty) // the exponential-ish value column has >3σ tails
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val stream = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = Pipelines.startMemorySink(
      Pipelines.streamingAnomalies(stream, stats, 3), "anoms_t", OutputMode.Append)
    try {
      val rows = events.select($"event_id", $"ts", $"event_type", $"value")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))
      mem.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("anoms_t").select($"event_id").as[Long].collect().toSet
      assert(got == expected,
        s"stream flags drifted from batch: extra=${got -- expected} missing=${expected -- got}")
    } finally q.stop()
  }

  test("streaming drift window replaying the corpus reproduces batch KL exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.operators.CorpusOps
    // the fixture from the batch sourceDrift spec: a dominant corpus-like
    // source and a vocabulary-shifted one
    val bulk = (0L until 30L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again", "s_bulk"))
    val shift = (100L until 105L).map(i =>
      (i, "zeta omega phi chi psi rho sigma tau upsilon nu", "s_shift"))
    val corpus = (bulk ++ shift).toDF("doc_id", "text", "source")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    val expected = CorpusOps.sourceDrift(corpus, 1024)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val model = CorpusOps.bigramBucketModel(corpus, 1024)
    val consts = CorpusOps.bigramModelConstants(model)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val stream = mem.toDF().toDF("doc_id", "text", "source", "ts")
    val q = Pipelines.startMemorySink(
      Pipelines.streamingSourceDrift(stream, model, consts,
        "ts", "1 minute", "30 seconds", 1024),
      "drift_t", OutputMode.Append)
    try {
      val ts = new java.sql.Timestamp(60000L)
      mem.addData((bulk ++ shift).map { case (id, text, src) =>
        (id, text, src, ts) }: _*)
      q.processAllAvailable()
      // advance the watermark past the window so the windows emit
      mem.addData((999L, bulk.head._2, "s_bulk",
        new java.sql.Timestamp(ts.getTime + 600000L)))
      q.processAllAvailable()
      val got = spark.table("drift_t")
        .select($"source", $"n_feats", $"kl_scaled_micro", $"kl")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      // one emitted window per source, each EXACTLY the batch op's row
      assert(got == expected, s"stream=$got batch=$expected")
    } finally q.stop()
  }

  test("sessionization runs unchanged on the RocksDB state store provider") {
    // the 100 TB stateful path: the default HDFS-backed store keeps every
    // key in executor memory; RocksDB spills to local disk. The provider
    // is config, not code — this pins that the pipeline actually runs on
    // it and emits the same sessions.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[UserEvent]
    val q = Pipelines.startMemorySink(
      Pipelines.userSessions(mem.toDS(), gapMs = 30000L, delay = "10 seconds").toDF(),
      "sessions_rocks_t", OutputMode.Append)
    try {
      val t0 = 1000000L
      mem.addData(UserEvent(1, t0), UserEvent(1, t0 + 10000))
      q.processAllAvailable()
      mem.addData(UserEvent(1, t0 + 100000))
      q.processAllAvailable()
      mem.addData(UserEvent(2, t0 + 200000))
      q.processAllAvailable()
      mem.addData(UserEvent(2, t0 + 201000))
      q.processAllAvailable()
      val got = spark.table("sessions_rocks_t").as[UserSession].collect().toSet
      assert(got.contains(UserSession(1L, t0, t0 + 10000, 2L)), s"got=$got")
      assert(got.contains(UserSession(1L, t0 + 100000, t0 + 100000, 1L)), s"got=$got")
      // and it really ran on RocksDB
      assert(q.lastProgress.stateOperators.head.customMetrics
        .containsKey("rocksdbFilesCopied"), "RocksDB metrics absent")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("sessionization on transformWithState (v2): same emissions as v1") {
    // the v1 scenarios — watermark-gated emission, timeout close,
    // cross-batch late merge into a pending session — replayed on the
    // ListState + event-time-timer processor (RocksDB provider, which
    // the v2 operator requires)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[UserEvent]
    val q = Pipelines.startMemorySink(
      Pipelines.userSessionsV2(mem.toDS(), gapMs = 30000L, delay = "1 minute").toDF(),
      "sessions_v2_t", OutputMode.Append)
    try {
      val t0 = 1000000L
      mem.addData(UserEvent(1, t0 + 20000))
      q.processAllAvailable()
      // gap breached: the session is pending, NOT emitted (append gate)
      mem.addData(UserEvent(1, t0 + 100000))
      q.processAllAvailable()
      assert(spark.table("sessions_v2_t").isEmpty)
      // late event within gap of the pending session's end: MERGES it
      mem.addData(UserEvent(1, t0 + 45000))
      q.processAllAvailable()
      // ride the watermark past everything; event-time timers close all
      mem.addData(UserEvent(2, t0 + 400000))
      q.processAllAvailable()
      mem.addData(UserEvent(2, t0 + 401000))
      q.processAllAvailable()
      val got = spark.table("sessions_v2_t").as[UserSession].collect()
        .filter(_.user_id == 1L).toSet
      assert(got == Set(
        UserSession(1L, t0 + 20000, t0 + 45000, 2L),
        UserSession(1L, t0 + 100000, t0 + 100000, 1L)), s"got=$got")
      got.toSeq.sortBy(_.start_ms).sliding(2).foreach {
        case Seq(a, b) => assert(b.start_ms - a.end_ms > 30000L, s"$a overlaps $b")
        case _ => ()
      }
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState (arbitrary state v2) matches the v1 running aggregate") {
    // the successor API to mapGroupsWithState: named state variables with
    // their own encoders from a StatefulProcessorHandle. Built on the
    // RocksDB provider's changelog — set it like the session test does.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[UserEvent]
    val q = Pipelines.startMemorySink(
      Pipelines.userRunningStateV2(mem.toDS()).toDF(),
      "running_v2_t", OutputMode.Update)
    try {
      mem.addData(UserEvent(1, 100), UserEvent(1, 50), UserEvent(2, 10))
      q.processAllAvailable()
      mem.addData(UserEvent(1, 200), UserEvent(3, 5))
      q.processAllAvailable()
      // per user, the LAST update-mode row is the running total — exactly
      // what the v1 operator emits for the same inputs
      val got = spark.table("running_v2_t").as[UserRunning].collect()
        .groupBy(_.user_id).map { case (_, rows) => rows.maxBy(_.n_events) }.toSet
      assert(got == Set(
        UserRunning(1L, 3L, 200L),
        UserRunning(2L, 1L, 10L),
        UserRunning(3L, 1L, 5L)), s"got=$got")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("day+night label composition: stream provisional + nightly incremental == full recompute") {
    // the end-to-end contract a 100 TB pipeline actually runs: during the
    // day, arriving docs get PROVISIONAL labels from the persisted-index
    // stream probe (zero corpus-side state); nightly,
    // incrementalClusterLabels merges the day's batch into the persisted
    // label table. Composed, the final state must equal a full recompute
    // of the closure — and the provisional answers must be sound interim
    // labels: they only ever MERGE DOWNWARD overnight, and they are
    // already final for every doc whose component gained no second batch
    // doc (the refinement gap the operator's scaladoc scopes to same-
    // batch duplicates and multi-hop closure).
    import graft.operators.Dedup
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, sf, "documents")
    val batchIds = docs.filter($"doc_id" % 10 >= 8)
      .select($"doc_id").as[Long].collect().toSet
    val bandIdx = Dedup.lshBandIndex(spark, sf).filter($"doc_id" % 10 < 8)
    val shIdx = Dedup.shingleIndex(spark, sf).filter($"doc_id" % 10 < 8)
    val oldLabels = Dedup.clusterLabelIndex(spark, sf, 3, 0.8)

    // DAY: the whole batch arrives on a real stream, two micro-batches
    val ts = new java.sql.Timestamp(1000000L)
    val arrivals = docs.filter($"doc_id" % 10 >= 8)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => (id, t, ts) }.toIndexedSeq
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = Pipelines.startMemorySink(
      Pipelines.streamingClusterLabels(
        mem.toDF().toDF("doc_id", "text", "ts"), bandIdx, shIdx, oldLabels,
        "ts", "1 minute"),
      "compose_labels_t", OutputMode.Append)
    val provisional = try {
      val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      mem.addData((99999999L, "window advance",
        new java.sql.Timestamp(ts.getTime + 3600L * 1000L)))
      q.processAllAvailable()
      spark.table("compose_labels_t").filter($"doc_id" =!= 99999999L)
        .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    } finally q.stop()
    assert(provisional.keySet == batchIds,
      s"stream must label every arriving doc: ${batchIds -- provisional.keySet}")

    // NIGHT: the incremental merge; the composed state == full recompute
    val nightly = Dedup.incrementalClusterLabels(spark, sf, 3, 0.8)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.clusters(docs, 3, 0.8)
      .as[(Long, Long)].collect().toMap
    assert(nightly == full,
      s"composed state diverges from the full recompute: ${
        nightly.toSet.diff(full.toSet).take(5)}")

    // provisional soundness: overnight refinement only merges downward
    batchIds.foreach { id =>
      assert(nightly(id) <= provisional(id),
        s"doc $id: nightly ${nightly(id)} > provisional ${provisional(id)}")
    }
    // exactness wherever the final component holds no OTHER batch doc
    val members = nightly.groupBy(_._2).view.mapValues(_.keySet).toMap
    val alone = batchIds.filter(id => members(nightly(id)).count(batchIds) == 1)
    assert(alone.nonEmpty, "fixture lost its singleton-batch components")
    alone.foreach { id =>
      assert(provisional(id) == nightly(id),
        s"doc $id (no same-batch peer): provisional ${provisional(id)} != final ${nightly(id)}")
    }
  }

  test("day+night containment composition: stream exact cross flags + nightly incremental == full recompute") {
    // the directed-overlap sibling of the label composition above:
    // during the day, arriving docs probe the persisted containment
    // indexes (posting + probe + shingles, zero corpus-side streaming
    // state) and emit directed containment edges against the
    // accumulated corpus; nightly, incrementalContainmentReport merges
    // the day's batch into the persisted report. The stream's flags are
    // EXACT (gated candidates, array-intersect verify), not estimates —
    // they must equal the full relation's cross (batch↔old) slice to
    // the containment value, and the composed nightly state must equal
    // a full recompute. Same-batch (new-new) pairs are the nightly
    // run's refinement gap by construction; the fixture must exercise
    // it (sf0.001 at t=0.9 holds 24 cross pairs and 2 new-new pairs).
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{count, lit}
    val sf = "/root/testdata/sf0.001"
    val t = 0.9
    val docs = Tables.load(spark, sf, "documents")
    val isBatch = $"doc_id" % 10 >= 8
    val old = docs.filter(!isBatch)
    val posting = Dedup.containmentPostingFrame(old, 3)
    val dfModel = posting.groupBy($"g").agg(count(lit(1)).as("df"))
    val probeIdx = Dedup.containmentProbeFrame(posting, dfModel, t)
    val shIdx = Dedup.shingleIndex(spark, sf, 3).filter($"doc_id" % 10 < 8)
    val batchIds = docs.filter(isBatch).select($"doc_id").as[Long].collect().toSet

    // DAY: the batch arrives on a real stream, two micro-batches
    val ts = new Timestamp(1000000L)
    val arrivals = docs.filter(isBatch)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, tx) => (id, tx, ts) }.toIndexedSeq
    val mem = MemoryStream[(Long, String, Timestamp)]
    // DEFAULT hot-gram-avoiding probe order through a REAL micro-batch
    // run (r15: the composition no longer opts in — the flags op derives
    // the avoid-list from the posting index itself): the flags must be
    // identical to hash order (any-subset completeness) — the batch-mode
    // equivalence and the derived-list/gate-volume pins live in
    // StreamingContainmentGateSpec, this exercises the ordering +
    // match-count gates under streaming aggregation semantics
    assert(Pipelines.derivedHotGrams(posting).nonEmpty,
      "the composition's default avoid-list must be non-empty on this fixture")
    val q = Pipelines.startMemorySink(
      Pipelines.streamingContainmentFlags(
        mem.toDF().toDF("doc_id", "text", "ts"), posting, probeIdx, shIdx,
        "ts", "1 minute", 3, t),
      "compose_containment_t", OutputMode.Append)
    val streamed = try {
      val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      mem.addData((99999999L, "window advance",
        new Timestamp(ts.getTime + 3600L * 1000L)))
      q.processAllAvailable()
      spark.table("compose_containment_t")
        .select($"contained", $"container", $"containment")
        .as[(Long, Long, Double)].collect().toSet
    } finally q.stop()

    // the stream's contract: EXACTLY the cross slice of the full
    // directed relation — recall by the pigeonhole gates (any
    // min(sz, 2m+1)-subset completeness + the persisted probe index),
    // precision by the array-intersect verify
    val full = Dedup.containmentPairs(docs, 3, t)
      .as[(Long, Long, Double)].collect().toSet
    val cross = full.filter { case (a, b, _) => batchIds(a) != batchIds(b) }
    val newNew = full.filter { case (a, b, _) => batchIds(a) && batchIds(b) }
    assert(cross.nonEmpty, "fixture lost its cross containment pairs")
    assert(newNew.nonEmpty,
      "fixture lost its same-batch pairs — the nightly refinement gap is unexercised")
    assert(streamed == cross,
      s"stream flags diverge from the exact cross relation: missing=${
        (cross -- streamed).take(5)} extra=${(streamed -- cross).take(5)}")

    // NIGHT: the incremental merge == a full recompute of the report
    val nightly = Dedup.incrementalContainmentReport(spark, sf, 3, t)
      .as[(Long, Long, Long, Double)].collect().toSet
    val fullReport = Dedup.containmentReport(docs, 3, t)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(nightly == fullReport,
      s"composed nightly state diverges from the full recompute: ${
        nightly.diff(fullReport).take(5)} / ${fullReport.diff(nightly).take(5)}")
  }
}
