package graft

import java.sql.{DriverManager, Timestamp}
import java.util.Properties

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.{ArrayChunkFetcher, IncrementalJdbc, JdbcOffset, JdbcRangeFetcher}

/** An in-process JDBC driver speaking exactly the statement grammar the
  * engine emits ([[IncrementalJdbc.rangeSql]]) over in-memory tables —
  * the java.sql twin of the HTTP schema-registry stub: it lets the REAL
  * production code path (`DriverManager.getConnection` → `executeQuery`
  * → `ResultSet` row materialization in [[JdbcRangeFetcher]]) execute
  * offline. Statements outside the recognized grammar fail LOUDLY — this
  * is a protocol stub, not a database.
  */
object GraftMemJdbc {
  val Prefix = "jdbc:graftmem:"
  val opened = new java.util.concurrent.atomic.AtomicInteger
  val closed = new java.util.concurrent.atomic.AtomicInteger
  private val tables =
    scala.collection.concurrent.TrieMap[String, (StructType, IndexedSeq[Row])]()

  def register(table: String, schema: StructType, rows: IndexedSeq[Row]): Unit =
    tables.put(table, (schema, rows))

  private def proxy[T](cls: Class[T])(
      handler: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    java.lang.reflect.Proxy.newProxyInstance(cls.getClassLoader, Array[Class[_]](cls),
      (_, m, args) => {
        val a = if (args == null) Array.empty[AnyRef] else args
        handler.applyOrElse((m.getName, a), (miss: (String, Array[AnyRef])) =>
          throw new UnsupportedOperationException(s"graftmem jdbc: ${miss._1}"))
      }).asInstanceOf[T]

  // ------------------------------------------------- statement grammar

  // the three statement families the engine emits:
  //  1. rangeSql:  SELECT * FROM t WHERE <bounds> ORDER BY ...
  //  2. chunkSql via spark.read.jdbc — Spark wraps the subquery:
  //     SELECT <cols|*> FROM (SELECT * FROM t WHERE ... ORDER BY ...
  //     [LIMIT n]) __graft_chunk [WHERE 1=0]   (1=0 is the schema probe)
  private val outerRe =
    """(?s)^SELECT\s+(.*?)\s+FROM\s+\((.*)\)\s+__graft_chunk(?:\s+WHERE\s+\(?1=0\)?)?\s*$""".r
  private val probeRe = """(?s).*WHERE\s+\(?1=0\)?\s*$""".r
  private val fromRe =
    """(?s)^SELECT \* FROM (\w+) WHERE (.*) ORDER BY (.*?)(?: LIMIT (\d+))?\s*$""".r
  private val lowerCompositeRe =
    """\((\w+) > TIMESTAMP '([^']+)' OR \(\1 = TIMESTAMP '\2' AND (\w+) > (\d+)\)\)""".r
  private val upperCompositeRe =
    """\((\w+) < TIMESTAMP '([^']+)' OR \(\1 = TIMESTAMP '\2' AND (\w+) <= (\d+)\)\)""".r
  private val lowerPlainRe = """(\w+) > TIMESTAMP '([^']+)'""".r
  private val upperPlainRe = """(\w+) <= TIMESTAMP '([^']+)'""".r

  /** Evaluate one inner (unwrapped) range statement. The upper bound is
    * optional here: chunkSql omits it when no delay interval is set.
    */
  private def evalInner(sql: String): (StructType, IndexedSeq[Row]) = sql.trim match {
    case fromRe(table, where, order, limit) =>
      val (schema, rows) = tables.getOrElse(table,
        throw new java.sql.SQLException(s"graftmem: unknown table '$table'"))
      val tsCol = order.split(",")(0).trim.split(" ")(0)
      val idCol = order.split(",").drop(1).headOption.map(_.trim.split(" ")(0))
      val tsIdx = schema.fieldIndex(tsCol)
      val idIdx = idCol.map(schema.fieldIndex)
      // the plain lower pattern also occurs INSIDE the composite one, so
      // it is only consulted when the composite pattern is absent (the
      // composite upper contains no '> TIMESTAMP' text, so no false hit)
      val lower =
        lowerCompositeRe.findFirstMatchIn(where)
          .map(m => JdbcOffset(Timestamp.valueOf(m.group(2)), Some(m.group(4).toLong)))
          .orElse(lowerPlainRe.findFirstMatchIn(where)
            .map(m => JdbcOffset(Timestamp.valueOf(m.group(2)), None)))
      val upper =
        upperCompositeRe.findFirstMatchIn(where)
          .map(m => JdbcOffset(Timestamp.valueOf(m.group(2)), Some(m.group(4).toLong)))
          .orElse(upperPlainRe.findFirstMatchIn(where)
            .map(m => JdbcOffset(Timestamp.valueOf(m.group(2)), None)))
      if (lower.isEmpty && upper.isEmpty && !where.contains("IS NOT NULL"))
        throw new java.sql.SQLException(s"graftmem: unrecognized statement: $sql")
      val composite = idIdx.isDefined
      // absent upper bound (chunkSql without a delay interval) → +inf key
      val hi = upper.getOrElse(
        JdbcOffset(new Timestamp(Long.MaxValue), idCol.map(_ => Long.MaxValue)))
      val selected = rows.filter { r =>
        val ts = if (r.isNullAt(tsIdx)) null else r.getTimestamp(tsIdx)
        val id = idIdx.filterNot(r.isNullAt).map(r.getLong)
        graft.sources.ChunkFetcher.inRange(ts, id, lower, hi, composite)
      }.sortBy { r =>
        (r.getTimestamp(tsIdx).getTime, idIdx.map(r.getLong).getOrElse(0L))
      }
      val limited = Option(limit).map(n => selected.take(n.toInt)).getOrElse(selected)
      (schema, limited)
    case other => throw new java.sql.SQLException(
      s"graftmem: unrecognized statement: $other")
  }

  /** Evaluate any recognized statement (wrapped or bare). */
  private def run(sql: String): (StructType, IndexedSeq[Row]) = sql.trim match {
    case outerRe(cols, inner) =>
      val (schema, rows) = evalInner(inner)
      val probe = probeRe.pattern.matcher(sql.trim).matches()
      if (cols.trim == "*") (schema, if (probe) IndexedSeq.empty else rows)
      else {
        val names = cols.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        val idx = names.map(schema.fieldIndex)
        val projected = StructType(idx.map(schema.fields))
        val prows =
          if (probe) IndexedSeq.empty
          else rows.map(r => Row.fromSeq(idx.toIndexedSeq.map(r.get)))
        (projected, prows)
      }
    case _ => evalInner(sql)
  }

  /** ResultSetMetaData over a StructType — what Spark's JDBC relation
    * reads to resolve the frame schema from the WHERE 1=0 probe.
    */
  private def metaData(schema: StructType): java.sql.ResultSetMetaData = {
    def sqlType(dt: DataType): (Int, String, Int) = dt match {
      case LongType => (java.sql.Types.BIGINT, "BIGINT", 19)
      case IntegerType => (java.sql.Types.INTEGER, "INTEGER", 10)
      case StringType => (java.sql.Types.VARCHAR, "VARCHAR", 255)
      case TimestampType => (java.sql.Types.TIMESTAMP, "TIMESTAMP", 29)
      case DoubleType => (java.sql.Types.DOUBLE, "DOUBLE", 17)
      case BooleanType => (java.sql.Types.BOOLEAN, "BOOLEAN", 1)
      case DateType => (java.sql.Types.DATE, "DATE", 10)
      case BinaryType => (java.sql.Types.BINARY, "BINARY", 0)
      case other => throw new java.sql.SQLException(s"graftmem: no sql type for $other")
    }
    def at(a: Array[AnyRef]) = schema(a(0).asInstanceOf[Integer] - 1)
    proxy(classOf[java.sql.ResultSetMetaData]) {
      case ("getColumnCount", _) => Int.box(schema.length)
      case ("getColumnLabel", a) => at(a).name
      case ("getColumnName", a) => at(a).name
      case ("getColumnType", a) => Int.box(sqlType(at(a).dataType)._1)
      case ("getColumnTypeName", a) => sqlType(at(a).dataType)._2
      case ("getPrecision", a) => Int.box(sqlType(at(a).dataType)._3)
      case ("getScale", _) => Int.box(0)
      case ("isSigned", _) => java.lang.Boolean.TRUE
      case ("isNullable", _) =>
        Int.box(java.sql.ResultSetMetaData.columnNullable)
    }
  }

  private def resultSet(schema: StructType, rows: IndexedSeq[Row]): java.sql.ResultSet = {
    var cursor = -1
    var wasNull = false
    def value(i: Int): AnyRef = {
      val v = rows(cursor).get(i - 1)
      wasNull = v == null
      v.asInstanceOf[AnyRef]
    }
    proxy(classOf[java.sql.ResultSet]) {
      case ("getMetaData", _) => metaData(schema)
      case ("isClosed", _) => java.lang.Boolean.FALSE
      case ("next", _) =>
        cursor += 1; java.lang.Boolean.valueOf(cursor < rows.length)
      case ("wasNull", _) => java.lang.Boolean.valueOf(wasNull)
      case ("close", _) => null
      case ("getTimestamp", a) => value(a(0).asInstanceOf[Integer])
      case ("getString", a) => value(a(0).asInstanceOf[Integer])
      case ("getDate", a) => value(a(0).asInstanceOf[Integer])
      case ("getBytes", a) => value(a(0).asInstanceOf[Integer])
      case ("getBigDecimal", a) => value(a(0).asInstanceOf[Integer])
      case ("getObject", a) => value(a(0).asInstanceOf[Integer])
      case ("getLong", a) =>
        val v = value(a(0).asInstanceOf[Integer])
        java.lang.Long.valueOf(if (v == null) 0L else v.asInstanceOf[java.lang.Long].longValue)
      case ("getInt", a) =>
        val v = value(a(0).asInstanceOf[Integer])
        java.lang.Integer.valueOf(if (v == null) 0 else v.asInstanceOf[java.lang.Integer].intValue)
      case ("getDouble", a) =>
        val v = value(a(0).asInstanceOf[Integer])
        java.lang.Double.valueOf(if (v == null) 0.0 else v.asInstanceOf[java.lang.Double].doubleValue)
      case ("getBoolean", a) =>
        val v = value(a(0).asInstanceOf[Integer])
        java.lang.Boolean.valueOf(v != null && v.asInstanceOf[java.lang.Boolean])
    }
  }

  private def statement(): java.sql.Statement =
    proxy(classOf[java.sql.Statement]) {
      case ("executeQuery", a) =>
        val (schema, rows) = run(a(0).asInstanceOf[String])
        resultSet(schema, rows)
      case ("setQueryTimeout", _) | ("setFetchSize", _) | ("close", _) => null
      case ("isClosed", _) => java.lang.Boolean.FALSE
    }

  // table-exists probe (Spark's write path): SELECT 1 FROM t WHERE 1=0
  private val existsRe = """(?s)^SELECT \S+ FROM (\w+) WHERE 1=0\s*$""".r
  // Spark's generated append statement: INSERT INTO t ("a","b") VALUES (?,?)
  private val insertRe =
    """(?s)^INSERT INTO (\w+) \(([^)]*)\) VALUES \([?,\s]*\)\s*$""".r

  /** Spark's JDBC relation prepares its statements (schema probe, scan,
    * table-exists, batched INSERT) instead of using plain statements —
    * the sql rides the prepare call; INSERT adds parameter binding and
    * batch state.
    */
  private def prepared(sql: String): java.sql.PreparedStatement = sql.trim match {
    case existsRe(table) =>
      proxy(classOf[java.sql.PreparedStatement]) {
        case ("executeQuery", _) =>
          val (schema, _) = tables.getOrElse(table,
            throw new java.sql.SQLException(s"graftmem: unknown table '$table'"))
          resultSet(schema, IndexedSeq.empty)
        case ("setQueryTimeout", _) | ("close", _) => null
      }
    case insertRe(table, colList) =>
      val (schema, _) = tables.getOrElse(table,
        throw new java.sql.SQLException(s"graftmem: unknown table '$table'"))
      val names = colList.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      require(names.toSeq == schema.fieldNames.toSeq,
        s"graftmem: insert columns $colList != table schema")
      val params = new Array[Any](names.length)
      val batch = scala.collection.mutable.ArrayBuffer[Row]()
      def bind(a: Array[AnyRef]): AnyRef = {
        params(a(0).asInstanceOf[Integer] - 1) = a(1); null
      }
      val setters = Set("setLong", "setString", "setTimestamp", "setInt",
        "setDouble", "setBoolean", "setDate", "setBytes", "setBigDecimal")
      proxy(classOf[java.sql.PreparedStatement]) {
        case (m, a) if setters(m) => bind(a)
        case ("setNull", a) => params(a(0).asInstanceOf[Integer] - 1) = null; null
        case ("addBatch", _) =>
          batch += Row.fromSeq(params.toIndexedSeq); null
        case ("executeBatch", _) =>
          val n = batch.length
          tables.updateWith(table)(_.map { case (s, rs) => (s, rs ++ batch) })
          batch.clear()
          Array.fill(n)(1)
        case ("setQueryTimeout", _) | ("clearParameters", _) | ("close", _) => null
      }
    case _ =>
      proxy(classOf[java.sql.PreparedStatement]) {
        case ("executeQuery", _) =>
          val (schema, rows) = run(sql)
          resultSet(schema, rows)
        case ("setQueryTimeout", _) | ("setFetchSize", _) | ("close", _) => null
        case ("isClosed", _) => java.lang.Boolean.FALSE
        case ("getMetaData", _) => metaData(run(sql)._1)
      }
  }

  private def databaseMetaData(): java.sql.DatabaseMetaData =
    proxy(classOf[java.sql.DatabaseMetaData]) {
      case ("supportsTransactions", _) => java.lang.Boolean.TRUE
      case ("supportsDataManipulationTransactionsOnly", _) => java.lang.Boolean.FALSE
      case ("supportsTransactionIsolationLevel", _) => java.lang.Boolean.TRUE
      case ("getDatabaseProductName", _) => "graftmem"
    }

  private[graft] def connection(): java.sql.Connection = {
    opened.incrementAndGet()
    proxy(classOf[java.sql.Connection]) {
      case ("createStatement", _) => statement()
      case ("prepareStatement", a) => prepared(a(0).asInstanceOf[String])
      case ("close", _) => closed.incrementAndGet(); null
      case ("isClosed", _) => java.lang.Boolean.FALSE
      case ("setAutoCommit", _) | ("commit", _) | ("rollback", _) |
           ("setTransactionIsolation", _) => null
      case ("getAutoCommit", _) => java.lang.Boolean.TRUE
      case ("getMetaData", _) => databaseMetaData()
    }
  }

  lazy val ensureRegistered: Unit =
    DriverManager.registerDriver(new GraftMemDriver)
}

/** TOP-LEVEL driver class: Spark resolves the driver by
  * `DriverManager.getDriver(url).getClass.getCanonicalName` and then
  * `Class.forName`s that name — which only round-trips for a class whose
  * canonical and binary names coincide (a nested Scala object's do not).
  */
class GraftMemDriver extends java.sql.Driver {
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(GraftMemJdbc.Prefix)
  override def connect(url: String, info: Properties): java.sql.Connection =
    if (!acceptsURL(url)) null else GraftMemJdbc.connection()
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def getPropertyInfo(url: String, info: Properties) = Array.empty
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger =
    throw new java.sql.SQLFeatureNotSupportedException()
}

class GraftMemJdbcSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("nome", StringType),
    StructField("dt_update", TimestampType)))

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)

  private val rows: IndexedSeq[Row] = IndexedSeq(
    Row(1L, "ana", ts(10)),
    Row(2L, "bia", ts(20)),
    Row(3L, "caio", ts(20)), // equal-ts run: composite tiebreak territory
    Row(4L, "dani", ts(30)),
    Row(5L, "eva", null),    // NULL timestamp: never delivered
    Row(6L, "fred", ts(40)))

  GraftMemJdbc.ensureRegistered
  GraftMemJdbc.register("customers", schema, rows)

  private val url = GraftMemJdbc.Prefix + "db"

  test("JdbcRangeFetcher runs its real java.sql path against the in-process driver") {
    val fetcher = JdbcRangeFetcher(url, "customers", Map.empty)
    // composite range (lower exclusive by (ts, id), upper inclusive):
    // splits the equal-ts run on the id tiebreak — the exact boundary
    // the mode exists for
    val got = fetcher.fetch(schema, "dt_update", Some("id"),
      Some(JdbcOffset(ts(20), Some(2L))), JdbcOffset(ts(30), Some(4L))).toVector
    assert(got.map(_.getLong(0)) == Vector(3L, 4L))
    // parity with the in-memory fetcher on the same bounds
    val mem = ArrayChunkFetcher(rows).fetch(schema, "dt_update", Some("id"),
      Some(JdbcOffset(ts(20), Some(2L))), JdbcOffset(ts(30), Some(4L))).toVector
    assert(got == mem)
  }

  test("pure-timestamp range over real JDBC: strict lower, inclusive upper, no NULLs") {
    val fetcher = JdbcRangeFetcher(url, "customers", Map.empty)
    val got = fetcher.fetch(schema, "dt_update", None,
      Some(JdbcOffset(ts(10))), JdbcOffset(ts(40))).toVector
    assert(got.map(_.getLong(0)) == Vector(2L, 3L, 4L, 6L))
    assert(!got.exists(_.getLong(0) == 5L), "NULL-timestamp row leaked")
    // full backfill: no lower bound
    val all = fetcher.fetch(schema, "dt_update", None,
      None, JdbcOffset(ts(40))).toVector
    assert(all.map(_.getLong(0)) == Vector(1L, 2L, 3L, 4L, 6L))
  }

  test("every connection the fetcher opens is closed, even across fetches") {
    val before = (GraftMemJdbc.opened.get, GraftMemJdbc.closed.get)
    val fetcher = JdbcRangeFetcher(url, "customers", Map.empty)
    fetcher.fetch(schema, "dt_update", None, None, JdbcOffset(ts(40))).toVector
    fetcher.fetch(schema, "dt_update", None, None, JdbcOffset(ts(20))).toVector
    val after = (GraftMemJdbc.opened.get, GraftMemJdbc.closed.get)
    assert(after._1 - before._1 == 2)
    assert(after._2 - before._2 == 2, "connection leak")
  }

  test("jdbcChunkSource polls through spark.read.jdbc against the in-process driver") {
    // the PRODUCTION driver-side probe: every chunk is one remote
    // statement (bounds + ORDER BY + LIMIT inlined as a dbtable
    // subquery), resolved through Spark's V1 JDBC relation — schema
    // probe (WHERE 1=0 + ResultSetMetaData) and scan both execute
    // against the in-process driver
    val src = IncrementalJdbc.jdbcChunkSource(spark, url, "customers",
      new Properties(), "dt_update", Some("id"))
    // chunked backfill: 2 + 2 + 1 keys in (ts, id) order, NULL ts absent
    val polls = Iterator.unfold(Option.empty[JdbcOffset]) { pos =>
      val (keys, next) = IncrementalJdbc.chunkKeysProbe(src, pos, None, 2)
      if (keys.isEmpty) None else Some((keys.toSeq, next))
    }.toVector
    assert(polls.map(_.flatMap(_.id)) == Vector(Seq(1L, 2L), Seq(3L, 4L), Seq(6L)),
      s"polls=$polls")
    assert(polls.last.last == JdbcOffset(ts(40), Some(6L)))
    // schema came through the JDBC metadata probe, not a guess
    val schemaGot = src.chunk(None, None, Some(1)).schema
    assert(schemaGot.fieldNames.toSeq == Seq("id", "nome", "dt_update"))
    assert(schemaGot("dt_update").dataType == TimestampType)
  }

  test("graft-jdbc STREAM runs end-to-end over the in-process driver (url path)") {
    // the full production wiring with zero seams: readStream url option →
    // jdbcChunkSource → spark.read.jdbc keys probe on the driver +
    // JdbcRangeFetcher range statements on the tasks, all against the
    // in-process java.sql driver
    GraftMemJdbc.register("stream_tbl", schema, rows.take(4)) // 1,2,3,4
    val q = graft.streaming.Pipelines.startMemorySink(
      spark.readStream.format("graft-jdbc")
        .option("url", url)
        .option("table", "stream_tbl")
        .option("incrementingColumn", "id")
        .load(),
      "graftmem_stream_t")
    try {
      q.processAllAvailable()
      val first = spark.table("graftmem_stream_t").collect().map(_.getLong(0)).toSet
      assert(first == Set(1L, 2L, 3L, 4L), s"got=$first")
      // mid-stream inserts arrive through the K5 WRITE path — appendJdbc
      // drives Spark's batched INSERT statements through the same driver
      import spark.implicits._
      IncrementalJdbc.appendJdbc(
        Seq((7L, "gui", ts(50)), (8L, "hana", ts(60)))
          .toDF("id", "nome", "dt_update"),
        url, "stream_tbl", new Properties())
      q.processAllAvailable()
      val all = spark.table("graftmem_stream_t").collect().map(_.getLong(0)).toSeq
      assert(all.sorted == Seq(1L, 2L, 3L, 4L, 7L, 8L),
        s"exactly-once violated: $all")
    } finally q.stop()
  }

  test("statements outside the engine's grammar fail loudly (stub, not a database)") {
    GraftMemJdbc.ensureRegistered
    val conn = DriverManager.getConnection(url, new Properties())
    try {
      intercept[java.sql.SQLException] {
        conn.createStatement().executeQuery("SELECT 1")
      }
      intercept[java.sql.SQLException] {
        conn.createStatement().executeQuery(
          IncrementalJdbc.rangeSql("no_such_table", "dt_update", None,
            None, JdbcOffset(ts(1))))
      }
    } finally conn.close()
  }
}
