package graft.sources

import java.sql.Timestamp
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resume position of an incremental table poll.
  *
  * Pure timestamp mode carries only `ts` (Connect's `mode=timestamp`,
  * reference `connect_postgres.config:9-10`); composite mode additionally
  * carries the incrementing id of the last delivered row (Connect's
  * `mode=timestamp+incrementing` — its documented escape hatch for
  * coarse-granularity timestamp columns, where many rows share one
  * timestamp value).
  */
final case class JdbcOffset(ts: Timestamp, id: Option[Long] = None)

/** A bounded, ordered slice of the source table. Implementations MUST
  * apply the bounds, ordering and limit AT THE SOURCE (remote SQL for
  * JDBC): the whole point of chunked polling is that a poll never
  * transfers more than ~`limit` rows from the database.
  *
  * Contract of [[ChunkSource.chunk]]:
  *  - rows strictly past `lower`: `ts > lower.ts` in pure timestamp mode;
  *    `ts > lower.ts OR (ts = lower.ts AND id > lower.id)` when
  *    [[ChunkSource.incrementingCol]] is set,
  *  - `ts <= upper` when `upper` is given (the delay bound),
  *  - rows with a NULL timestamp are never returned (Connect's WHERE
  *    clause has the same property — NULL compares UNKNOWN — and emitting
  *    them would re-deliver them every poll since the offset can never
  *    advance past them),
  *  - ascending `(ts)` / `(ts, id)` order, at most `limit` rows.
  */
trait ChunkSource {
  def timestampCol: String
  def incrementingCol: Option[String]
  def chunk(lower: Option[JdbcOffset], upper: Option[Timestamp],
            limit: Option[Int]): DataFrame

  /** Keys-only probe: the (ts[, id]) keys of the chunk's rows, in chunk
    * order — what the parallel planner materializes on the driver instead
    * of full rows, so the driver's footprint per poll is two narrow
    * columns regardless of row width. The default derives from [[chunk]]
    * with a keys projection (the column pruning reaches a V1 JDBC scan's
    * remote SELECT list; over parquet/memory frames only the key columns
    * are read).
    */
  def chunkKeys(lower: Option[JdbcOffset], upper: Option[Timestamp],
                limit: Option[Int]): Array[JdbcOffset] = {
    val keyCols = col(timestampCol) +: incrementingCol.map(col).toSeq
    chunk(lower, upper, limit).select(keyCols: _*).collect().map { r =>
      JdbcOffset(r.getTimestamp(0),
        incrementingCol.map(_ => r.getAs[Number](1).longValue))
    }
  }

  /** Serializable executor-side fetcher for `(lower, upper]` row ranges:
    * the `graft-jdbc` stream's tasks read their own slices through it.
    * None (the default) makes the planner read each slice on the driver
    * instead, into an [[ArrayChunkFetcher]] holding only that slice.
    */
  def rangeFetcher: Option[ChunkFetcher] = None
}

/** [[ChunkSource]] over any snapshot-frame factory — the offline/test
  * implementation (no database in the build sandbox, SURVEY.md §7.5.1),
  * and the fallback for sources that cannot accept injected SQL. Without
  * a `fetcher`, the `graft-jdbc` planner reads each partition's slice
  * from the frame on the driver, bounded by the slice's key count.
  *
  * Bounds are applied as DataFrame predicates on the provided frame: over
  * a parquet/memory frame they evaluate where the data lives; over a V1
  * `spark.read.jdbc` frame the PREDICATES push into the remote WHERE but
  * the sort+limit do NOT (V1 JDBC pushes filters only — the top-k runs as
  * a local TakeOrderedAndProject over everything past the offset, so a
  * full backfill re-scans the remainder each chunk: O(N²/cap) remote rows
  * read). Production JDBC polling should use
  * [[IncrementalJdbc.jdbcChunkSource]], which inlines the whole chunk
  * query — bounds, order AND limit — into the remote statement.
  */
final class SnapshotChunkSource(
    provider: () => DataFrame,
    val timestampCol: String = "dt_update",
    val incrementingCol: Option[String] = None,
    fetcher: Option[ChunkFetcher] = None) extends ChunkSource {

  override def rangeFetcher: Option[ChunkFetcher] = fetcher

  override def chunk(lower: Option[JdbcOffset], upper: Option[Timestamp],
                     limit: Option[Int]): DataFrame = {
    val ts = col(timestampCol)
    val lowerBounded = (lower, incrementingCol) match {
      case (Some(o), Some(idCol)) =>
        val idBound = o.id.map(i => (ts === lit(o.ts)) && (col(idCol) > lit(i)))
          .getOrElse(lit(false))
        provider().filter(ts > lit(o.ts) || idBound)
      case (Some(o), None) => provider().filter(ts > lit(o.ts))
      case (None, _) => provider().filter(ts.isNotNull)
    }
    val bounded = upper.map(u => lowerBounded.filter(ts <= lit(u)))
      .getOrElse(lowerBounded)
    val ordered = incrementingCol match {
      case Some(idCol) => bounded.sort(ts.asc, col(idCol).asc)
      case None => bounded.sort(ts.asc)
    }
    limit.map(ordered.limit).getOrElse(ordered)
  }
}

/** Incremental "timestamp-mode" table reads — the engine's analog of the
  * reference's Kafka Connect JDBC source (`connect_postgres.config:4-14`:
  * `mode=timestamp`, `timestamp.column.name=dt_update`,
  * `poll.interval.ms=500`), driven by the `graft-jdbc` stream
  * ([[GraftJdbcStream]]).
  *
  * Semantics copied from the reference (README.md:136): every batch holds
  * rows strictly past the last committed offset — new inserts only,
  * updates to old rows are not re-captured. The offset is the position of
  * the last delivered row, exactly the Connect task's stored offset.
  */
object IncrementalJdbc {

  /** Finite by default: an uncapped probe is an unbounded driver collect
    * on the initial backfill. 100k keys ≈ a few MB.
    */
  val DefaultMaxRowsPerPoll: Int = 100000

  /** The keys of the next chunk past `lower` and the advanced offset (None
    * when the chunk is empty): at most ~`maxRows` (ts[, id]) keys in
    * ascending order, and only the keys cross to the driver.
    *
    * The cap bounds the driver-side materialization of the INITIAL
    * backfill against a large pre-existing table (the reference's Connect
    * task streams that snapshot through a JDBC cursor; the stream spreads
    * it across micro-batches): a chunk that would exceed it ends at the
    * chunk boundary, and the next probe resumes there.
    *
    * Chunk-boundary semantics by mode:
    *  - COMPOSITE (`incrementingCol` set, Connect's
    *    `timestamp+incrementing`): `(ts, id)` totally orders rows, so the
    *    cap cuts anywhere — every chunk is exactly ≤ cap keys, including
    *    runs of equal timestamps larger than the cap (they span chunks,
    *    resumed by the id tiebreak). Prefer this mode for
    *    coarse-granularity timestamp columns (second-precision at high
    *    ingest), where a single equal-ts run can be arbitrarily large.
    *  - PURE TIMESTAMP: resume is a strictly-greater ts filter, so a
    *    boundary may only land on a DISTINCT-timestamp edge — splitting an
    *    equal-ts run would silently skip its tail. When the cap cuts
    *    mid-run we back off to the previous distinct timestamp; if every
    *    fetched key shares ONE timestamp the whole run is delivered in
    *    this chunk, EXCEEDING the cap via an unbounded read — the
    *    unavoidable pure-timestamp corner (same as Connect). With a
    *    coarse timestamp column this re-opens the OOM the cap exists to
    *    prevent: use composite mode there.
    *
    * The over-fetch of one key (cap+1) distinguishes "exactly the cap"
    * from "truncated at the cap" without a second round-trip.
    */
  def chunkKeysProbe(source: ChunkSource, lower: Option[JdbcOffset],
                     upper: Option[Timestamp], maxRows: Int)
      : (Array[JdbcOffset], Option[JdbcOffset]) = {
    val capped = maxRows < Int.MaxValue
    val fetched = source.chunkKeys(lower, upper,
      if (capped) Some(maxRows + 1) else None)
    val keys =
      if (!capped || fetched.length <= maxRows) fetched
      else if (source.incrementingCol.isDefined) fetched.take(maxRows)
      else {
        val chunkMax = fetched.last.ts // ascending order
        val beforeMax = fetched.filter(_.ts.before(chunkMax))
        if (beforeMax.nonEmpty) beforeMax
        // every fetched key shares chunkMax: deliver the full equal-ts
        // run so the strictly-greater resume filter cannot skip its tail
        else source.chunkKeys(lower, Some(chunkMax), None)
      }
    (keys, keys.lastOption)
  }

  /** The executor-side range statement: all rows in `(lower, upper]` by
    * (ts[, id]) order — [[chunkSql]]'s WHERE shape with an INCLUSIVE
    * upper KEY in place of the LIMIT, so each of N tasks streams exactly
    * its planned slice of one micro-batch straight from the database.
    * Pure function, golden-tested without a database.
    */
  def rangeSql(table: String, timestampCol: String,
               incrementingCol: Option[String],
               lower: Option[JdbcOffset], upper: JdbcOffset): String =
    orderedSelect(table, timestampCol, incrementingCol, lower,
      Some(keyPred(timestampCol, incrementingCol, upper, "<", "<=")))

  /** The remote chunk statement, inlined as a dbtable subquery. Pure
    * function so the exact SQL a probe ships to the database is
    * unit-testable without a database.
    *
    * Timestamp literals use the ANSI `TIMESTAMP '...'` form with
    * `java.sql.Timestamp.toString` bodies (microsecond-precise,
    * quote-free); `LIMIT n` is the PostgreSQL/MySQL spelling — the
    * reference's database is Postgres (`connect_postgres.config:6`).
    * Other dialects (SQL Server TOP, Oracle FETCH FIRST) would swap this
    * builder, same as Connect's per-dialect query builders.
    */
  def chunkSql(table: String, timestampCol: String,
               incrementingCol: Option[String],
               lower: Option[JdbcOffset], upper: Option[Timestamp],
               limit: Option[Int]): String = {
    val upperPred = upper.map(u =>
      keyPred(timestampCol, incrementingCol, JdbcOffset(u), "<", "<="))
    val lim = limit.map(n => s" LIMIT $n").getOrElse("")
    s"(${orderedSelect(table, timestampCol, incrementingCol, lower, upperPred)}$lim) __graft_chunk"
  }

  /** `SELECT *` of the non-NULL-timestamp rows strictly past `lower`
    * (plus `upperPred`) in ascending (ts[, id]) order — the statement
    * shape [[chunkSql]] and [[rangeSql]] share.
    */
  private def orderedSelect(table: String, timestampCol: String,
                            incrementingCol: Option[String],
                            lower: Option[JdbcOffset],
                            upperPred: Option[String]): String = {
    val preds = Seq(s"$timestampCol IS NOT NULL") ++
      lower.map(keyPred(timestampCol, incrementingCol, _, ">", ">")) ++ upperPred
    val order = (timestampCol +: incrementingCol.toSeq).map(_ + " ASC").mkString(", ")
    s"SELECT * FROM $table WHERE ${preds.mkString(" AND ")} ORDER BY $order"
  }

  /** `(ts[, id])` compared with `key`: `ts <tie> key.ts` on ts alone
    * (pure timestamp mode, or a key without an id), else
    * `ts <strict> key.ts OR (ts = key.ts AND id <tie> key.id)`.
    */
  private def keyPred(timestampCol: String, incrementingCol: Option[String],
                      key: JdbcOffset, strict: String, tie: String): String = {
    val ts = s"TIMESTAMP '${key.ts.toString}'"
    (incrementingCol, key.id) match {
      case (Some(idCol), Some(i)) =>
        s"($timestampCol $strict $ts OR ($timestampCol = $ts AND $idCol $tie $i))"
      case _ => s"$timestampCol $tie $ts"
    }
  }

  /** Production provider (reference `connect_postgres.config:6-8,11` —
    * url/user/password + table whitelist): each chunk is ONE remote
    * statement carrying the WHERE bounds, the ORDER BY and the LIMIT via
    * [[chunkSql]], so the database streams at most `limit` rows per probe —
    * a true remote top-k, never a full scan. (Spark's V1 JDBC relation
    * pushes only predicates, which is why the limit is inlined into the
    * dbtable subquery instead of composed as `.sort.limit` on the frame.)
    */
  def jdbcChunkSource(spark: SparkSession, url: String, table: String,
                      props: Properties,
                      timestampColName: String = "dt_update",
                      incrementingColName: Option[String] = None): ChunkSource =
    new ChunkSource {
      val timestampCol: String = timestampColName
      val incrementingCol: Option[String] = incrementingColName
      def chunk(lower: Option[JdbcOffset], upper: Option[Timestamp],
                limit: Option[Int]): DataFrame =
        spark.read.jdbc(url,
          chunkSql(table, timestampCol, incrementingCol, lower, upper, limit),
          props)
      override def rangeFetcher: Option[ChunkFetcher] = {
        import scala.jdk.CollectionConverters._
        val propMap = props.stringPropertyNames().asScala
          .map(k => k -> props.getProperty(k)).toMap
        Some(JdbcRangeFetcher(url, table, propMap))
      }
    }

  /** K5: the generator's append write (reference `make_fake_data.py:76`). */
  def appendJdbc(df: DataFrame, url: String, table: String,
                 props: Properties): Unit =
    df.write.mode("append").jdbc(url, table, props)
}
