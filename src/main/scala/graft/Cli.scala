package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interactive SQL client — the engine's analog of the reference's
  * `ksql` CLI session (reference README.md:147-179: `docker exec -it
  * ksqldb-cli ksql http://ksqldb-server:8088` followed by SHOW/PRINT/
  * CREATE/SELECT statements). Reads semicolon-terminated statements from
  * stdin, executes each through [[KsqlDdl.Session]] (so the full ksqlDB
  * statement surface works verbatim: SHOW STREAMS/TOPICS, PRINT,
  * CREATE STREAM/TABLE ... WITH/AS SELECT, SELECT ... EMIT CHANGES) and
  * falls through to plain Spark SQL for everything else — every testdata
  * table is pre-registered and the engine functions are installed, so
  * `SELECT datetostring(...) FROM customer` works immediately.
  *
  * Batch results print a bounded head (the CLI is a tail/peek surface,
  * never a data mover — a 100 TB result stays distributed; exporting is
  * what the sinks are for). Streaming statements start their console
  * sink and return control, mirroring ksqlDB push queries.
  *
  * Usage: `sbt "runMain graft.Cli [sfDir]"` — or pipe a script:
  * `echo "show streams; select 1;" | sbt "runMain graft.Cli"`.
  */
object Cli {

  /** Index of the first statement-terminating ';' in `s` — one outside
    * any single-quoted literal, double-quoted string, backtick-quoted
    * identifier, `--`-to-end-of-line comment, or (nestable, as Spark's
    * lexer allows) bracketed comment — or -1. SQL's '' escape inside a
    * literal is just two adjacent literals to this scan, so it falls out
    * correctly, and Spark's backslash escapes (`\'` inside a single-
    * quoted literal) skip the escaped character rather than closing the
    * region. A raw indexOf split `select ';' as x;` mid-literal into two
    * garbage fragments; an unterminated quote or comment keeps
    * accumulating lines, exactly like a real SQL shell waiting for the
    * closing delimiter.
    */
  private[graft] def terminatorIndex(s: CharSequence): Int = {
    var i = 0
    var quote: Char = 0 // 0 = outside any quoted region
    var comment = 0 // bracketed-comment nesting depth
    var lineComment = false
    while (i < s.length) {
      val c = s.charAt(i)
      val next = if (i + 1 < s.length) s.charAt(i + 1) else 0.toChar
      if (lineComment) { if (c == '\n') lineComment = false }
      else if (comment > 0) {
        if (c == '*' && next == '/') { comment -= 1; i += 1 }
        else if (c == '/' && next == '*') { comment += 1; i += 1 }
      } else if (quote != 0) {
        // backslash escapes apply inside string literals only; backtick
        // identifiers escape via doubled backticks (two adjacent regions)
        if (c == '\\' && quote != '`') i += 1
        else if (c == quote) quote = 0
      }
      else if (c == '\'' || c == '"' || c == '`') quote = c
      else if (c == '-' && next == '-') { lineComment = true; i += 1 }
      else if (c == '/' && next == '*') { comment = 1; i += 1 }
      else if (c == ';') return i
      i += 1
    }
    -1
  }

  /** Statement loop, factored for tests: consumes `in` until EOF or
    * `exit;`/`quit;`, writes results/errors to `out`, returns the
    * number of successfully executed statements.
    */
  def run(spark: SparkSession, session: KsqlDdl.Session,
          in: java.io.BufferedReader, out: java.io.PrintStream): Int = {
    val buf = new StringBuilder
    var executed = 0
    var line = in.readLine()
    var done = false
    while (!done && line != null) {
      buf.append(line).append('\n')
      // execute every complete statement accumulated so far (a line may
      // carry several, or a statement may span many lines)
      while (terminatorIndex(buf) >= 0) {
        val cut = terminatorIndex(buf)
        val stmt = buf.substring(0, cut + 1).trim
        buf.delete(0, cut + 1)
        if (stmt.stripSuffix(";").trim.toLowerCase.matches("exit|quit")) {
          done = true
        } else if (stmt.stripSuffix(";").trim.nonEmpty) {
          try {
            val df = execute(spark, session, stmt)
            if (!df.isStreaming) showHead(df, out)
            else out.println(s"[cli] streaming query started: " +
              s"${spark.streams.active.length} active")
            executed += 1
          } catch {
            case e: Exception =>
              out.println(s"[cli] error: ${Option(e.getMessage).getOrElse(e).toString.linesIterator.next()}")
          }
        }
      }
      line = if (done) null else in.readLine()
    }
    executed
  }

  /** ksqlDB statements go through the session (verbatim reference
    * surface); anything it rejects is retried as plain Spark SQL.
    */
  private def execute(spark: SparkSession, session: KsqlDdl.Session,
                      stmt: String): DataFrame =
    try session.execute(stmt)
    catch {
      case _: IllegalArgumentException => spark.sql(stmt.stripSuffix(";"))
    }

  /** Bounded textual head — the peek surface. `show()` goes to real
    * stdout; format to the caller's stream instead so tests (and a
    * future socket wrapper) capture it.
    */
  private def showHead(df: DataFrame, out: java.io.PrintStream,
                       n: Int = 20): Unit = {
    val rows = df.take(n + 1)
    out.println(df.columns.mkString(" | "))
    rows.take(n).foreach(r => out.println(r.toSeq.map {
      case null => "NULL"
      case b: Array[Byte] => s"<${b.length} bytes>"
      case v => v.toString
    }.mkString(" | ")))
    out.println(
      if (rows.length > n) s"(first $n rows)" else s"(${rows.length} rows)")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Bench.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    Engine.init(spark, sfDir)
    // topics resolve to registered views (batch peek) — the reference's
    // generator topic name maps to the customer generator's output shape
    val session = KsqlDdl.session(spark, name => {
      val t = if (name == "psg-customers") "graft_customers" else name
      if (name == "psg-customers" &&
          !spark.catalog.tableExists("graft_customers"))
        sources.FakeData.customers(spark, 100)
          .createOrReplaceTempView("graft_customers")
      try Some(spark.table(t)) catch { case _: Exception => None }
    })
    val out = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    out.println(s"graft sql client — tables from $sfDir; " +
      "ksqlDB statements + Spark SQL; 'exit;' to leave")
    val n = run(spark, session,
      new java.io.BufferedReader(new java.io.InputStreamReader(System.in)), out)
    out.println(s"[cli] $n statements executed")
    spark.stop()
  }
}
