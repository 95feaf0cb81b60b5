package graft.sources

import java.sql.Timestamp
import java.util.Properties

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.readStream.format("graft-jdbc")` — the incremental JDBC source
  * as a REAL Structured Streaming source (DSv2 `MicroBatchStream`),
  * SURVEY.md §2.1 S1 option (b): offsets are the (timestamp[, id])
  * watermark of [[IncrementalJdbc]], checkpointed as JSON by the engine,
  * so restarts resume exactly where the last committed batch ended and a
  * replayed batch re-reads exactly its own (start, end] range — the
  * delivery guarantees Connect stores in its offset topic, inherited here
  * from the Structured Streaming commit log for free.
  *
  * One delivery path. At each trigger the driver probes only the
  * (ts[, id]) KEYS of the next chunk ([[IncrementalJdbc.chunkKeysProbe]],
  * bounded by `maxRowsPerPoll`); the planner picks split keys every
  * `rowsPerPartition` rows and plans one [[GraftJdbcRangePartition]] per
  * `(lo, hi]` slice. Each task reads its own slice through the source's
  * [[ChunkSource.rangeFetcher]] where it runs — for JDBC, a remote range
  * statement ([[IncrementalJdbc.rangeSql]]) over the task's own
  * connection, so the driver never holds a batch's rows. A source without
  * a fetcher (the frame-backed [[SnapshotChunkSource]] of specs and
  * offline runs) has each slice read on the driver at plan time into an
  * [[ArrayChunkFetcher]] holding only that slice.
  *
  * A replay after restart re-derives the checkpointed (start, end] keys
  * from the source — correct under timestamp-mode's append-only
  * assumption (rows at or before a committed offset never change;
  * README.md:136) — and fails loudly past a cap of 2×`maxRowsPerPoll`.
  *
  * Options:
  *  - `url`, `table`, `user`, `password`: the JDBC path (builds
  *    [[IncrementalJdbc.jdbcChunkSource]], remote-pushed chunk SQL).
  *  - `sourceHandle`: key into [[GraftJdbcStream.registry]] — a
  *    driver-registered [[ChunkSource]], the offline/test path (no
  *    database in the sandbox; the streaming machinery is identical).
  *  - `timestampColumn` (default dt_update), `incrementingColumn`
  *    (enables composite mode; must be an integral column),
  *    `maxRowsPerPoll` (default 100k), `delayIntervalMs` (Connect's
  *    `timestamp.delay.interval.ms`: rows newer than the driver's wall
  *    clock minus the delay wait for a later batch, so a transaction
  *    committing late with an older `dt_update` is not skipped; a driver
  *    clock ahead of the database's erodes it), `rowsPerPartition` (split
  *    granularity, default 10k). Both row counts must be positive.
  */
class GraftJdbcStream extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-jdbc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftJdbcStream.resolveSource(options).chunk(None, None, Some(1)).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftJdbcTable(schema, new CaseInsensitiveStringMap(properties))
}

object GraftJdbcStream {
  /** Driver-side [[ChunkSource]] handles for the `sourceHandle` option. */
  val registry = new java.util.concurrent.ConcurrentHashMap[String, ChunkSource]()

  private[graft] def resolveSource(options: CaseInsensitiveStringMap): ChunkSource = {
    val handle = options.get("sourceHandle")
    if (handle != null) {
      val src = registry.get(handle)
      require(src != null, s"no ChunkSource registered under '$handle'")
      src
    } else {
      val url = options.get("url")
      require(url != null, "graft-jdbc needs either 'sourceHandle' or 'url'")
      val props = new Properties()
      Option(options.get("user")).foreach(props.setProperty("user", _))
      Option(options.get("password")).foreach(props.setProperty("password", _))
      IncrementalJdbc.jdbcChunkSource(SparkSession.active, url,
        options.get("table"), props,
        options.getOrDefault("timestampColumn", "dt_update"),
        Option(options.get("incrementingColumn")))
    }
  }
}

private[graft] class GraftJdbcTable(tableSchema: StructType,
                                      options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    Option(options.get("table")).orElse(Option(options.get("sourceHandle")))
      .map("graft-jdbc:" + _).getOrElse("graft-jdbc")
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftJdbcMicroBatchStream(tableSchema, options)
      }
    }
}

/** JSON-checkpointable stream offset: None = beginning of table. */
private[graft] case class GraftJdbcOffset(pos: Option[JdbcOffset]) extends Offset {
  override def json(): String = pos match {
    case None => """{"start":true}"""
    case Some(o) =>
      val id = o.id.map(i => s""","id":$i""").getOrElse("")
      s"""{"ms":${o.ts.getTime},"ns":${o.ts.getNanos}$id}"""
  }
}

private[graft] object GraftJdbcOffset {
  private val Ms = """"ms":(-?\d+)""".r
  private val Ns = """"ns":(\d+)""".r
  private val Id = """"id":(-?\d+)""".r
  def fromJson(json: String): GraftJdbcOffset =
    if (json.contains("\"start\"")) GraftJdbcOffset(None)
    else {
      val ts = new Timestamp(Ms.findFirstMatchIn(json).get.group(1).toLong)
      Ns.findFirstMatchIn(json).foreach(m => ts.setNanos(m.group(1).toInt))
      GraftJdbcOffset(Some(JdbcOffset(ts,
        Id.findFirstMatchIn(json).map(_.group(1).toLong))))
    }
}

private[graft] class GraftJdbcMicroBatchStream(
    schema: StructType, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val source = GraftJdbcStream.resolveSource(options)
  private val composite = source.incrementingCol.isDefined
  private val fetcher = source.rangeFetcher

  private def positive(option: String, default: Int): Int = {
    val v = options.getInt(option, default)
    require(v > 0, s"graft-jdbc option '$option' must be positive, got $v")
    v
  }
  private val maxRows = positive("maxRowsPerPoll", IncrementalJdbc.DefaultMaxRowsPerPoll)
  private val rowsPerPartition = positive("rowsPerPartition", 10000)
  private val delayMs = options.getLong("delayIntervalMs", 0L)

  source.incrementingCol.foreach { c =>
    val t = schema(c).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"graft-jdbc incrementing column '$c' must be integral, got ${t.sql}")
  }

  /** The last probe's keys and the (start, end] range they cover. */
  @volatile private var probed: Option[(GraftJdbcOffset, GraftJdbcOffset, Array[JdbcOffset])] = None

  override def initialOffset(): Offset = GraftJdbcOffset(None)

  override def deserializeOffset(json: String): Offset = GraftJdbcOffset.fromJson(json)

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "graft-jdbc is probed through latestOffset(start, limit)")

  /** Probes the next chunk past `start`: the end of the last planned
    * batch, which Spark recovers from the offset log on a restart. (A
    * stream-held cursor would be empty when Spark first asks after a
    * restart, and a capped probe from the table start would end below
    * the committed offset and re-deliver rows.)
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = this.synchronized {
    val from = start.asInstanceOf[GraftJdbcOffset]
    val upper =
      if (delayMs > 0) Some(new Timestamp(System.currentTimeMillis() - delayMs))
      else None
    val (keys, next) =
      IncrementalJdbc.chunkKeysProbe(source, from.pos, upper, maxRows)
    next.fold(from) { o =>
      val end = GraftJdbcOffset(Some(o))
      probed = Some((from, end, keys))
      end
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[GraftJdbcOffset], end.asInstanceOf[GraftJdbcOffset])
    val keys = this.synchronized {
      probed match {
        case Some((ps, pe, k)) if ps == s && pe == e => k
        case _ => replayKeys(s, e) // restart: re-derive (start, end]
      }
    }
    rangePartitions(s, keys)
  }

  /** Split one batch's keys into ~`rowsPerPartition` slices: a boundary
    * every `rowsPerPartition` keys plus the batch end. Pure-timestamp
    * bounds compare ts alone, so a boundary inside an equal-ts run moves
    * to the run's end: the run lands WHOLE in one partition (skew, never
    * duplication or loss); composite (ts, id) keys cut exactly.
    */
  private def rangePartitions(s: GraftJdbcOffset,
                              keys: Array[JdbcOffset]): Array[InputPartition] = {
    if (keys.isEmpty) return Array.empty
    val cuts = (rowsPerPartition until keys.length by rowsPerPartition) :+ keys.length
    val ends = cuts.foldLeft(Vector.empty[Int]) { (acc, c) =>
      if (acc.lastOption.exists(_ >= c)) acc
      else {
        val next = keys.indexWhere(ChunkFetcher.after(_, keys(c - 1), composite), c)
        acc :+ (if (next < 0) keys.length else next)
      }
    }
    (0 +: ends.init).zip(ends).map { case (from, until) =>
      val lo = if (from == 0) s.pos else Some(keys(from - 1))
      val hi = keys(until - 1)
      val f = fetcher.getOrElse(ArrayChunkFetcher(
        source.chunk(lo, Some(hi.ts), Some(until - from)).collect().toIndexedSeq))
      GraftJdbcRangePartition(f, source.timestampCol, source.incrementingCol,
        lo, hi): InputPartition
    }.toArray
  }

  /** Restart path: re-derive the committed range's keys so the replayed
    * batch re-plans the same slices — deterministic under append-only.
    *
    * A committed range is probe-sized (≤ maxRowsPerPoll plus an equal-ts
    * run) under append-only, so the re-read is capped at 2×maxRowsPerPoll
    * keys and anything past the cap fails LOUDLY: it means the
    * append-only assumption broke (rows inserted below a committed offset)
    * or maxRowsPerPoll was lowered across a restart, and replanning an
    * arbitrarily large range would hold it on the driver (and, without a
    * fetcher, its rows) instead of naming the misconfiguration.
    *
    * The cap counts only keys the COMMITTED RANGE itself holds — what the
    * forward path could legitimately have delivered in one probe:
    *
    *  - COMPOSITE mode: the fetch's upper bound is the coarse `ts`, so
    *    boundary-timestamp rows appended AFTER the commit (id > end id —
    *    the regime composite mode exists for) land in the fetch but are
    *    beyond the range. They trim away BEFORE the length check; the
    *    (ts, id) ordering makes the committed range a PREFIX of the
    *    fetch, so a trimmed prefix within the cap is complete whenever
    *    the fetch was not truncated or saw a beyond-range key.
    *  - PURE-TIMESTAMP mode: an offset may only land on a distinct-ts
    *    edge, and the forward path delivers an equal-ts boundary run
    *    UNCAPPED by design ([[IncrementalJdbc.chunkKeysProbe]]). The
    *    replay honors the same contract: only keys STRICTLY before the
    *    committed ts count against the cap. A truncated fetch whose keys
    *    are all strictly before it already proves the overflow and fails
    *    before any unbounded read; otherwise the range is re-read
    *    unbounded and the prefix is checked again.
    */
  private def replayKeys(s: GraftJdbcOffset, e: GraftJdbcOffset): Array[JdbcOffset] =
    e.pos match {
      case None => Array.empty
      case Some(endPos) =>
        val cap = 2 * maxRows
        def check(keys: Array[JdbcOffset]): Array[JdbcOffset] = {
          require(keys.length <= cap,
            s"graft-jdbc replay exceeded its driver cap ($cap keys) for " +
              s"range (${s.json()}, ${e.json()}]: the source violated the " +
              "append-only assumption or maxRowsPerPoll was lowered across " +
              "a restart; restore the original maxRowsPerPoll")
          keys
        }
        val inRange = source.chunkKeys(s.pos, Some(endPos.ts), Some(cap + 1))
          .filterNot(ChunkFetcher.after(_, endPos, composite))
        if (composite || inRange.length <= cap) check(inRange)
        else {
          check(inRange.filter(_.ts.before(endPos.ts)))
          val all = source.chunkKeys(s.pos, Some(endPos.ts), None)
          check(all.filter(_.ts.before(endPos.ts)))
          all
        }
    }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftJdbcReaderFactory(schema)

  override def commit(end: Offset): Unit = this.synchronized {
    probed = probed.filterNot(_._2 == end) // batch served; free the keys
  }

  override def stop(): Unit = ()
}

/** One `(lower, upper]` slice of a batch: NO rows ride along — only the
  * bounds plus the serialized fetcher; the task reads its own slice where
  * it runs (a remote range statement for JDBC).
  */
private[graft] case class GraftJdbcRangePartition(
    fetcher: ChunkFetcher, timestampCol: String,
    incrementingCol: Option[String],
    lower: Option[JdbcOffset], upper: JdbcOffset)
    extends InputPartition

private[graft] case class GraftJdbcReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftJdbcRangePartition]
    val rows = p.fetcher.fetch(schema, p.timestampCol, p.incrementingCol,
      p.lower, p.upper)
    new PartitionReader[InternalRow] {
      private val conv = CatalystTypeConverters.createToCatalystConverter(schema)
      private var cur: Row = _
      override def next(): Boolean =
        if (rows.hasNext) { cur = rows.next(); true } else false
      override def get(): InternalRow = conv(cur).asInstanceOf[InternalRow]
      override def close(): Unit = ()
    }
  }
}
