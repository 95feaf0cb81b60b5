package graft.sources

import java.sql.{DriverManager, ResultSet, Timestamp}
import java.util.Properties

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Executor-side row fetch for one `(lower, upper]` offset range of an
  * incremental table — the multi-task half of the `graft-jdbc` source.
  *
  * The driver's probe ([[IncrementalJdbc.chunkKeysProbe]]) materializes
  * only (ts[, id]) KEYS; each planned [[GraftJdbcRangePartition]] then
  * carries a serialized fetcher plus its range bounds, and the task reads
  * its own slice where it runs — for JDBC, as a remote range statement
  * ([[IncrementalJdbc.rangeSql]]). This is the shape Kafka Connect's
  * single-task JDBC source (`tasks.max=1`, reference
  * `connect_postgres.config:5`) cannot reach: a 100 TB backfill streams
  * through N executor connections instead of the driver.
  *
  * Contract: return exactly the rows with `lower < (ts[, id]) <= upper`
  * under the mode's ordering (pure timestamp: ts alone; composite:
  * (ts, id) lexicographic), NULL-timestamp rows excluded — the same
  * predicate shape as [[ChunkSource.chunk]], with an inclusive upper KEY
  * instead of a LIMIT. Determinism across retries and restarts relies on
  * timestamp mode's append-only assumption (rows at or before a committed
  * offset never change).
  */
trait ChunkFetcher extends Serializable {
  def fetch(schema: StructType, timestampCol: String,
            incrementingCol: Option[String],
            lower: Option[JdbcOffset], upper: JdbcOffset): Iterator[Row]
}

object ChunkFetcher {
  /** `a` strictly after `b` in the mode's key order: ts alone in pure
    * timestamp mode, (ts, id) lexicographic in composite mode. A key
    * without an id covers its whole timestamp (the SQL bounds compare ts
    * alone then), so nothing at that timestamp is after it.
    */
  private[graft] def after(a: JdbcOffset, b: JdbcOffset,
                           composite: Boolean): Boolean =
    a.ts.after(b.ts) || (composite && a.ts.equals(b.ts) &&
      b.id.exists(hi => a.id.exists(_ > hi)))

  /** The `(lower, upper]` range predicate on a materialized row — one
    * definition shared by the in-memory fetcher and the specs, mirroring
    * the SQL [[IncrementalJdbc.rangeSql]] ships to a database.
    */
  private[graft] def inRange(ts: Timestamp, id: Option[Long],
                             lower: Option[JdbcOffset], upper: JdbcOffset,
                             composite: Boolean): Boolean = {
    val key = JdbcOffset(ts, id)
    ts != null && lower.forall(after(key, _, composite)) &&
      !after(key, upper, composite)
  }
}

/** In-memory fetcher over a serialized row seq — the offline/test
  * executor path (no database in the sandbox, SURVEY.md §7.5.1).
  * Partitions still carry only range bounds; each task filters its own
  * `(lower, upper]` slice, exercising exactly the planner/reader
  * machinery the remote fetcher uses.
  */
final case class ArrayChunkFetcher(rows: IndexedSeq[Row]) extends ChunkFetcher {
  override def fetch(schema: StructType, timestampCol: String,
                     incrementingCol: Option[String],
                     lower: Option[JdbcOffset], upper: JdbcOffset): Iterator[Row] = {
    val tsIdx = schema.fieldIndex(timestampCol)
    val idIdx = incrementingCol.map(schema.fieldIndex)
    rows.iterator.filter { r =>
      val ts = if (r.isNullAt(tsIdx)) null else r.getTimestamp(tsIdx)
      val id = idIdx.filterNot(r.isNullAt).map(r.getAs[Number](_).longValue)
      ChunkFetcher.inRange(ts, id, lower, upper, idIdx.isDefined)
    }
  }
}

/** Production fetcher: one remote range statement per task over a plain
  * JDBC connection ([[IncrementalJdbc.rangeSql]] — WHERE bounds + ORDER
  * BY, no LIMIT needed since the upper key bounds the slice). The range
  * is bounded by the planner at ~`rowsPerPartition` rows, so the
  * per-task materialization here is small by construction.
  *
  * Spec-exercised against an in-process `java.sql.Driver` serving the
  * engine's own range grammar over in-memory tables (GraftMemJdbcSpec —
  * the java.sql twin of the schema-registry HTTP stub): the
  * DriverManager → Statement → ResultSet path here runs for real,
  * offline, including the composite tiebreak boundary, NULL-timestamp
  * exclusion and connection hygiene.
  */
final case class JdbcRangeFetcher(url: String, table: String,
                                  props: Map[String, String]) extends ChunkFetcher {
  override def fetch(schema: StructType, timestampCol: String,
                     incrementingCol: Option[String],
                     lower: Option[JdbcOffset], upper: JdbcOffset): Iterator[Row] = {
    val p = new Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val conn = DriverManager.getConnection(url, p)
    try {
      val sql = IncrementalJdbc.rangeSql(table, timestampCol, incrementingCol,
        lower, upper)
      val rs = conn.createStatement().executeQuery(sql)
      val buf = Vector.newBuilder[Row]
      while (rs.next()) buf += rowOf(rs, schema)
      buf.result().iterator // materialized so the connection can close
    } finally conn.close()
  }

  private def rowOf(rs: ResultSet, schema: StructType): Row = Row.fromSeq(
    schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      val v: Any = f.dataType match {
        case TimestampType => rs.getTimestamp(i + 1)
        case LongType => rs.getLong(i + 1)
        case IntegerType => rs.getInt(i + 1)
        case ShortType => rs.getShort(i + 1)
        case DoubleType => rs.getDouble(i + 1)
        case FloatType => rs.getFloat(i + 1)
        case BooleanType => rs.getBoolean(i + 1)
        case StringType => rs.getString(i + 1)
        case DateType => rs.getDate(i + 1)
        case BinaryType => rs.getBytes(i + 1)
        case _: DecimalType => rs.getBigDecimal(i + 1)
        case _ => rs.getObject(i + 1)
      }
      if (rs.wasNull()) null else v
    })
}
