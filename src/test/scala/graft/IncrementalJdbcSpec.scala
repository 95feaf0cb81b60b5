package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import graft.sources.{ChunkSource, IncrementalJdbc, JdbcOffset, SnapshotChunkSource}

/** Chunk probing ([[IncrementalJdbc.chunkKeysProbe]]) and the remote SQL
  * it ships. Each "poll" is one probe resuming at the previous probe's
  * offset — what the `graft-jdbc` stream does once per micro-batch.
  */
class IncrementalJdbcSpec extends SparkSpec {
  import spark.implicits._

  private def table(rows: (Long, Long)*): DataFrame =
    rows.map { case (id, ms) => (id, new Timestamp(ms)) }
      .toDF("id", "dt_update")

  private def tableWithNulls(rows: (Long, Option[Long])*): DataFrame =
    rows.map { case (id, ms) => (id, ms.map(new Timestamp(_)).orNull) }
      .toDF("id", "dt_update")

  private def source(df: DataFrame, incrementingCol: Option[String] = None) =
    new SnapshotChunkSource(() => df, incrementingCol = incrementingCol)

  /** Successive probes from `from` until one comes back empty: each
    * chunk's keys and the offset it advanced to.
    */
  private def polls(src: ChunkSource, maxRows: Int = Int.MaxValue,
                    from: Option[JdbcOffset] = None)
      : Vector[(Seq[JdbcOffset], JdbcOffset)] =
    Iterator.unfold(from) { pos =>
      val (keys, next) = IncrementalJdbc.chunkKeysProbe(src, pos, None, maxRows)
      if (keys.isEmpty) { assert(next.isEmpty); None }
      else Some(((keys.toSeq, next.get), next))
    }.toVector

  private def ms(keys: Seq[JdbcOffset]): Seq[Long] = keys.map(_.ts.getTime)
  private def ids(keys: Seq[JdbcOffset]): Seq[Long] = keys.flatMap(_.id)
  private def at(millis: Long, id: Option[Long] = None) = JdbcOffset(new Timestamp(millis), id)

  test("timestamp-mode polling: first poll full snapshot, then strict increments") {
    @volatile var snap = table((1L, 1000L), (2L, 2000L))
    val src = new SnapshotChunkSource(() => snap)
    val chunks = polls(src)
    assert(chunks.map(c => ms(c._1)) == Vector(Seq(1000L, 2000L)))
    val offset = chunks.head._2
    assert(offset == at(2000L))
    // nothing new → an empty probe, no offset advance
    assert(polls(src, from = Some(offset)).isEmpty)
    // an insert arrives, and only the insert
    snap = table((1L, 1000L), (2L, 2000L), (3L, 3000L))
    assert(polls(src, from = Some(offset)) == Vector((Seq(at(3000L)), at(3000L))))
  }

  test("capped backfill reassembles a large table across polls, offsets strictly advance") {
    val src = source(table((1L to 25L).map(i => (i, i * 1000L)): _*))
    val chunks = polls(src, maxRows = 10)
    assert(chunks.map(_._1.size) == Vector(10, 10, 5))
    // lossless, ordered reassembly: the chunks in sequence ARE the table
    assert(chunks.flatMap(c => ms(c._1)) == (1L to 25L).map(_ * 1000L))
    // each chunk's offset is its last key, and offsets strictly advance
    assert(chunks.forall { case (keys, o) => keys.last == o })
    val offsets = chunks.map(_._2.ts)
    assert(offsets.zip(offsets.tail).forall { case (a, b) => b.after(a) })
    // backfill done: a further probe is empty
    assert(polls(src, 10, Some(chunks.last._2)).isEmpty)
  }

  test("pure timestamp mode: an equal-ts run larger than the cap is delivered whole") {
    val src = source(table((1L to 12L).map(i => (i, 5000L)): _*))
    // the strictly-greater resume filter cannot split the run, so the
    // whole run arrives in one chunk even though it exceeds the cap
    val chunks = polls(src, maxRows = 5)
    assert(chunks.map(_._1.size) == Vector(12))
    assert(chunks.head._2 == at(5000L))
  }

  test("pure timestamp mode: a cap cutting mid-run backs off to the previous distinct ts") {
    val src = source(table((1L, 1000L), (2L, 1000L), (3L, 1000L), (4L, 2000L), (5L, 2000L)))
    // 4 fetched keys would split the ts=2000 run → back off to ts=1000
    val chunks = polls(src, maxRows = 4)
    assert(chunks.map(c => ms(c._1)) ==
      Vector(Seq(1000L, 1000L, 1000L), Seq(2000L, 2000L)))
    assert(chunks.map(_._2) == Vector(at(1000L), at(2000L)))
  }

  test("composite timestamp+incrementing mode: equal-ts runs split losslessly at the cap") {
    val src = source(table((1L to 12L).map(i => (i, 5000L)): _*), Some("id"))
    val chunks = polls(src, maxRows = 5)
    assert(chunks.map(c => ids(c._1)) == Vector(1L to 5L, 6L to 10L, 11L to 12L))
    // the offset carries the id tiebreak, so the run resumes MID-timestamp
    assert(chunks.map(_._2) ==
      Vector(at(5000L, Some(5L)), at(5000L, Some(10L)), at(5000L, Some(12L))))
  }

  test("composite mode also chunks across distinct timestamps") {
    val src = source(table((1L, 1000L), (2L, 1000L), (3L, 2000L), (4L, 2000L), (5L, 3000L)),
      Some("id"))
    val chunks = polls(src, maxRows = 2)
    assert(chunks.map(c => ids(c._1)) == Vector(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)))
    assert(chunks.last._2 == at(3000L, Some(5L)))
  }

  test("NULL-timestamp rows are never delivered, capped or not") {
    val snap = tableWithNulls(
      (1L, Some(1000L)), (2L, None), (3L, Some(2000L)), (4L, None))
    for (mode <- Seq(None, Some("id")); cap <- Seq(Int.MaxValue, 1)) {
      val got = polls(source(snap, mode), cap).flatMap(_._1)
      assert(ms(got) == Seq(1000L, 2000L), s"mode=$mode cap=$cap")
      mode.foreach(_ => assert(ids(got) == Seq(1L, 3L)))
    }
  }

  test("delay interval holds back rows newer than now - delay") {
    // the stream bounds each probe by the driver's wall clock minus the
    // delay, so rows are dated relative to now: one due in a few seconds
    // (arrives once the clock passes it + delay) and one an hour ahead
    // (held back throughout; without a delay it would be read at once)
    val now = System.currentTimeMillis()
    val snap = table((1L, now - 3600000L), (2L, now - 60000L),
      (3L, now + 3000L), (4L, now + 3600000L))
    val key = "incremental_delay_spec"
    graft.sources.GraftJdbcStream.registry.put(key, source(snap))
    val q = graft.streaming.Pipelines.startMemorySink(
      spark.readStream.format("graft-jdbc").option("sourceHandle", key)
        .option("delayIntervalMs", "1000").load(), "incremental_delay_t")
    def seen() = spark.table("incremental_delay_t").select("id").as[Long]
      .collect().sorted.toSeq
    try {
      q.processAllAvailable()
      assert(seen().take(2) == Seq(1L, 2L))
      assert(!seen().contains(4L))
      val deadline = System.currentTimeMillis() + 60000L
      while (!seen().contains(3L) && System.currentTimeMillis() < deadline) {
        Thread.sleep(200L)
        q.processAllAvailable()
      }
      assert(seen() == Seq(1L, 2L, 3L)) // each once; row 4 still held back
    } finally q.stop()
  }

  test("chunkSql inlines bounds, order and limit into the remote statement") {
    val t0 = new Timestamp(1704067200000L) // 2024-01-01 00:00:00 UTC
    // first poll, pure timestamp mode
    assert(IncrementalJdbc.chunkSql("public.customers", "dt_update", None,
      None, None, Some(101)) ==
      "(SELECT * FROM public.customers WHERE dt_update IS NOT NULL " +
        "ORDER BY dt_update ASC LIMIT 101) __graft_chunk")
    // resume with delay bound, pure timestamp mode
    val sql = IncrementalJdbc.chunkSql("t", "ts", None,
      Some(JdbcOffset(t0)), Some(new Timestamp(t0.getTime + 1000)), Some(11))
    assert(sql.contains("ts IS NOT NULL"))
    assert(sql.contains(s"ts > TIMESTAMP '${t0.toString}'"))
    assert(sql.contains("ORDER BY ts ASC LIMIT 11"))
    // composite resume: the id tiebreak reopens the boundary timestamp
    val comp = IncrementalJdbc.chunkSql("t", "ts", Some("id"),
      Some(JdbcOffset(t0, Some(42L))), None, Some(11))
    assert(comp.contains(
      s"(ts > TIMESTAMP '${t0.toString}' OR (ts = TIMESTAMP '${t0.toString}' AND id > 42))"))
    assert(comp.contains("ORDER BY ts ASC, id ASC LIMIT 11"))
  }

  test("rangeSql bounds a slice by inclusive upper key, both modes") {
    val t0 = new Timestamp(1704067200000L) // 2024-01-01 00:00:00 UTC
    val t1 = new Timestamp(t0.getTime + 3600000L)
    // pure timestamp: (lo.ts, hi.ts] on ts alone
    assert(IncrementalJdbc.rangeSql("t", "ts", None,
      Some(JdbcOffset(t0)), JdbcOffset(t1)) ==
      s"SELECT * FROM t WHERE ts IS NOT NULL AND ts > TIMESTAMP '${t0.toString}' " +
        s"AND ts <= TIMESTAMP '${t1.toString}' ORDER BY ts ASC")
    // composite: lexicographic (ts, id) bounds, upper id INCLUSIVE
    val comp = IncrementalJdbc.rangeSql("t", "ts", Some("id"),
      Some(JdbcOffset(t0, Some(7L))), JdbcOffset(t1, Some(9L)))
    assert(comp.contains(
      s"(ts > TIMESTAMP '${t0.toString}' OR (ts = TIMESTAMP '${t0.toString}' AND id > 7))"))
    assert(comp.contains(
      s"(ts < TIMESTAMP '${t1.toString}' OR (ts = TIMESTAMP '${t1.toString}' AND id <= 9))"))
    assert(comp.endsWith("ORDER BY ts ASC, id ASC"))
    // batch start (lower = None): only the NULL guard and the upper bound
    assert(IncrementalJdbc.rangeSql("t", "ts", None, None, JdbcOffset(t1)) ==
      s"SELECT * FROM t WHERE ts IS NOT NULL AND ts <= TIMESTAMP '${t1.toString}' ORDER BY ts ASC")
  }

  test("chunkKeys probes only the key columns, same order and cap") {
    val snap = table((3L, 3000L), (1L, 1000L), (2L, 2000L))
    val src = new SnapshotChunkSource(() => snap, incrementingCol = Some("id"))
    val keys = src.chunkKeys(None, None, Some(2))
    assert(keys.toSeq == Seq(JdbcOffset(new Timestamp(1000L), Some(1L)),
      JdbcOffset(new Timestamp(2000L), Some(2L))))
  }
}
