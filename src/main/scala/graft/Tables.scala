package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Loaders for the driver's parquet testdata tables (TESTDATA.md).
  *
  * Scale notes: the parquet scan is the only data entry point the engine
  * uses in batch mode, so every query benefits from Spark's vectorized
  * reader, predicate pushdown and column pruning automatically. At 100 TB
  * the same loaders work unchanged — partition parallelism comes from
  * `spark.sql.files.maxPartitionBytes`, not from anything here.
  *
  * Each path's schema is inferred once: [[load]] memoizes it against the
  * path's listing, so repeated loads of an unchanged table start no Spark
  * job. Relational tables are read as they are; only `documents` and
  * `embeddings`, whose consumers run per-row UDF kernels, are fanned out.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose consumers run per-row UDF kernels (text normalization,
    * gram hashing, embedding). The testdata parquet files are one row
    * group each, so such a scan yields a single partition and the kernels
    * serialize on one core; these tables are round-robined across the
    * cluster when (and only when) the scan has fewer partitions than the
    * configured parallelism. At production scale a table has thousands of
    * splits and this is a no-op. Relational tables are never fanned out:
    * their queries shuffle on their own keys anyway, and a round-robin
    * exchange under them would only add a stage.
    */
  private val fanOutTables = Set("documents", "embeddings")

  /** What reading one table path learned: the listing it read, the schema
    * Spark inferred from it, and (fan-out tables only) the scan's
    * partition count. Holds no DataFrame and no session.
    */
  private final case class Resolved(stamp: Seq[(String, Long, Long)],
                                    schema: StructType, scanPartitions: Option[Int])

  /** path -> the latest [[Resolved]]; an entry is used only while the
    * path's listing still matches its stamp, so a rewritten table is
    * re-inferred (schema and fan-out verdict alike).
    */
  private val resolved = new java.util.concurrent.ConcurrentHashMap[String, Resolved]()

  /** File names, lengths and mtimes of the path's top-level listing (the
    * path itself when it is a file; a directory's mtime moves when an
    * entry is added or removed). Empty when the path does not exist, so
    * the read below raises Spark's own missing-path error.
    */
  private def listingStamp(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** A fresh relation over `path` (new file listing, new expression IDs),
    * read with the memoized schema while the listing is unchanged, plus
    * the scan's partition count for fan-out tables.
    */
  private def scan(spark: SparkSession, name: String,
                   path: String): (DataFrame, Option[Int]) = {
    val stamp = listingStamp(spark, path)
    Option(resolved.get(path)).filter(_.stamp == stamp) match {
      case Some(r) => (spark.read.schema(r.schema).parquet(path), r.scanPartitions)
      case None =>
        val df = spark.read.parquet(path)
        // `rdd.getNumPartitions` builds a physical plan but runs no job
        val parts = if (fanOutTables(name)) Some(df.rdd.getNumPartitions) else None
        // events.ts resolves as LongType only while another thread's
        // nanosEvents holds the legacy flag; that schema is unreadable
        // once the flag is restored, so it is not kept
        if (!(name == "events" && df.schema("ts").dataType == LongType))
          resolved.put(path, Resolved(stamp, df.schema, parts))
        (df, parts)
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // The driver's generator has shipped events.ts in two physical forms
    // across rounds; normalize both to TimestampType so every downstream
    // plan sees one schema:
    //  - timestamp[us] (current): reads natively as TIMESTAMP_NTZ; under
    //    the engine's pinned UTC session zone the NTZ→TIMESTAMP cast is
    //    value-identical (and matches what DuckDB sees as naive µs).
    //  - TIMESTAMP(NANOS) (older rounds): no native Spark type. If the
    //    session-wide nanosAsLong flag happens to be set (another thread
    //    mid-nanosEvents), the plain read SUCCEEDS with ts as LongType —
    //    dispatching on the resolved schema (not on whether the read threw)
    //    keeps that path correct: long nanos are truncated to µs here too.
    //    Integer `div` (not `/`, which is double and loses precision above
    //    2^53 — epoch-nanos are ~1.7e18) keeps this exact. Only when the
    //    flag is unset does the read throw (at schema conversion), and only
    //    that specific failure falls back to the legacy-flag read; anything
    //    else (missing file, IO error) propagates as the real root cause.
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      try {
        val df = scan(spark, name, path)._1
        df.schema("ts").dataType match {
          case LongType =>
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _ =>
            df.withColumn("ts", col("ts").cast(TimestampType))
        }
      } catch {
        case e: Exception if isNanosSchemaError(e) => nanosEvents(spark, dir)
      }
    } else {
      val (df, parts) = scan(spark, name, path)
      val p = spark.sparkContext.defaultParallelism
      if (parts.exists(_ < p)) df.repartition(p) else df
    }
  }

  /** True only for the schema-conversion failure Spark raises when a parquet
    * TIMESTAMP(NANOS) column is read without the legacy nanosAsLong flag
    * (PARQUET_TYPE_ILLEGAL / "Illegal Parquet type"). Every other failure —
    * missing file, corrupt footer, IO — must surface as-is, not be masked
    * by a retry through the legacy path.
    */
  private def isNanosSchemaError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { t =>
      val m = Option(t.getMessage).getOrElse("")
      m.contains("PARQUET_TYPE_ILLEGAL") || m.contains("Illegal Parquet type") ||
        m.contains("TIMESTAMP(NANOS")
    }

  /** Fallback read for older testdata where events.ts is TIMESTAMP(NANOS),
    * which Spark has no native type for — read it as long nanos under the
    * legacy flag and truncate to µs TimestampType.
    *
    * nanosAsLong is a SESSION-WIDE flag, so it is restored to its prior
    * value once the relation is resolved: leaving it set would silently
    * change how any later TIMESTAMP(NANOS) parquet column is read
    * elsewhere in the session. Scan execution is unaffected by the
    * restore — the scan captures its Hadoop conf (including this flag)
    * when the relation is created, not when the query later runs.
    * The set→resolve→restore window is serialized under a lock: two
    * concurrent events loads otherwise race (one restores while the
    * other is mid-resolution → PARQUET_TYPE_ILLEGAL), which Verify's
    * 4-way pool hits in practice.
    */
  private def nanosEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.synchronized {
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try {
        spark.read.parquet(s"$dir/events.parquet")
          .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      } finally {
        prior match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }

  /** Register every table as a temp view so spark.sql(...) works. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Per-session root for write-time-persisted derived tables (bucketed
    * fact tables, the partitioned ANN index). The applicationId in the
    * path keeps concurrent JVMs/users from colliding on one shared
    * tmpdir location — the in-process locks only serialize one JVM. The
    * first call for a SparkContext registers a [[PersistedRootCleanup]]
    * on it, so the root goes when the application ends.
    */
  def persistedTableRoot(spark: SparkSession): String = {
    val sc = spark.sparkContext
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_persisted_${sc.applicationId}"
    if (CleanedRoots.add(root)) sc.addSparkListener(new PersistedRootCleanup(root, sc.hadoopConfiguration))
    root
  }

  private val CleanedRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Deletes a persisted-table root, recursively and through `conf`'s file
    * system (the one its tables were written with), when the application
    * ends: `SparkContext.stop`, which Spark's shutdown hook also runs.
    */
  private[graft] final class PersistedRootCleanup(root: String, conf: Configuration)
      extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
      val path = new Path(root)
      path.getFileSystem(conf).delete(path, true)
    }
  }

  /** Ensure-once for a persisted derived table: reuse the catalog entry
    * only if its data is actually readable and non-empty (a persistent
    * metastore can outlive a cleaned tmpdir, leaving an entry whose files
    * are gone — that must trigger a rebuild, not an empty scan). Our
    * derived tables are never legitimately empty, so `limit(1)` doubles
    * as the files-exist probe while reading at most one row. Files
    * deleted under a live session stay in its cached listing, so the
    * driver first checks that every listed file still exists: the probe
    * never launches tasks on deleted files. Files that exist but cannot
    * be read make the probe throw, which also triggers the rebuild.
    */
  def ensurePersisted(spark: SparkSession, name: String)
                     (write: String => Unit): DataFrame = {
    def listedFilesExist(t: DataFrame): Boolean = {
      val conf = spark.sessionState.newHadoopConf()
      t.inputFiles.forall { f =>
        val p = new Path(f)
        p.getFileSystem(conf).exists(p)
      }
    }
    val healthy = spark.catalog.tableExists(name) &&
      (try {
        val t = spark.table(name)
        listedFilesExist(t) && t.limit(1).count() == 1
      } catch { case _: Exception => false })
    if (!healthy) {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      write(s"${persistedTableRoot(spark)}/$name")
    }
    spark.table(name)
  }

  /** The hex tag that keeps one source's persisted tables apart from
    * another's (sf0.001 / sf0.01 / sf0.1): the low 32 bits of
    * [[graft.functions.DetHash.base60]] of `key`, usually the corpus dir.
    */
  def persistTag(key: String): String =
    java.lang.Long.toHexString(graft.functions.DetHash.base60(key) & 0xffffffffL)

  private object PersistLock

  /** The persisted derived table `prefix + persistTag(key)`, built once
    * per session through [[ensurePersisted]]: `build` is written with
    * `layout` (bucketing, partitioning) at the table's per-session path,
    * mode overwrite, `saveAsTable`. Every check and build runs under one
    * lock, so two queries never build the same table at once; a build
    * may ensure another table inside `build` (the lock is re-entrant).
    */
  def persisted(spark: SparkSession, key: String, prefix: String,
                layout: DataFrameWriter[Row] => DataFrameWriter[Row] = w => w)
               (build: => Dataset[_]): DataFrame =
    PersistLock.synchronized {
      val name = prefix + persistTag(key)
      ensurePersisted(spark, name) { path =>
        layout(build.toDF().write).option("path", path).mode("overwrite").saveAsTable(name)
      }
    }
}
