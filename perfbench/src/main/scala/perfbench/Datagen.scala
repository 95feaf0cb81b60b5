package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic stand-in for the TPC-H-ish parquet tables the engine's
  * batch queries read (`region nation customer supplier part orders
  * lineitem events documents embeddings`), with the same column names,
  * types and value ranges.
  *
  * Every field is a pure function of (data seed, row id, field salt)
  * through `xxhash64`, so the tables do not depend on partitioning or on
  * the machine, and one data seed always yields byte-identical rows. Each
  * table lands as one single-file `<name>.parquet`, the shape the
  * engine's `graft.Tables.load` and the DuckDB oracle both read.
  */
object Datagen {

  /** Rows per table at scale factor 1 (lineitem comes out at ~4 × orders). */
  private val base = Map(
    "customer" -> 150000L, "supplier" -> 10000L, "part" -> 200000L,
    "orders" -> 1500000L, "lineitem" -> 6000000L, "events" -> 1000000L,
    "users" -> 15000L, "documents" -> 50000L, "embeddings" -> 20000L)

  val vocabulary: Seq[String] = Seq("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  final case class Spec(dataSeed: Long, sf: Double) {
    def rows(table: String): Long = math.max(1L, math.round(base(table) * sf))
  }

  /** Uniform [0, 1) draw for one (row, field). */
  private def u(seed: Long, id: Column, salt: String): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1L << 52)).cast("double") / (1L << 52).toDouble

  private def int(seed: Long, id: Column, salt: String, n: Long): Column =
    floor(u(seed, id, salt) * n).cast("long")

  private def pick(seed: Long, id: Column, salt: String, pool: Seq[String]): Column =
    element_at(array(pool.map(lit): _*), (int(seed, id, salt, pool.size) + 1).cast("int"))

  private def money(seed: Long, id: Column, salt: String, lo: Double, hi: Double): Column =
    round(lit(lo) + u(seed, id, salt) * (hi - lo), 2)

  private def dayTs(seed: Long, id: Column, salt: String, from: String, days: Int): Column =
    date_add(lit(java.sql.Date.valueOf(from)), int(seed, id, salt, days).cast("int"))
      .cast("timestamp_ntz")

  def tables(spark: SparkSession, s: Spec): Map[String, DataFrame] = {
    val seed = s.dataSeed
    val id = col("id")
    def range(t: String) = spark.range(s.rows(t))
    val nCust = s.rows("customer"); val nPart = s.rows("part")
    val nSupp = s.rows("supplier"); val nOrd = s.rows("orders")
    Map(
      "region" -> spark.createDataFrame(Seq(
        (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")))
        .toDF("r_regionkey", "r_name"),
      "nation" -> spark.range(25).select(
        id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "customer" -> range("customer").select(
        id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        int(seed, id, "c_nation", 25).cast("int").as("c_nationkey"),
        money(seed, id, "c_acctbal", -999.99, 9999.99).as("c_acctbal"),
        pick(seed, id, "c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "supplier" -> range("supplier").select(
        id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        int(seed, id, "s_nation", 25).cast("int").as("s_nationkey"),
        money(seed, id, "s_acctbal", -999.99, 9999.99).as("s_acctbal")),
      "part" -> range("part").select(
        id.as("p_partkey"),
        concat(
          pick(seed, id, "p_adj", Seq("large", "hot", "blue", "old", "cold", "red", "small", "green")),
          lit(" "),
          pick(seed, id, "p_noun", Seq("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")))
          .as("p_name"),
        concat(lit("Brand#"), (int(seed, id, "p_brand", 25) + 1).cast("string")).as("p_brand"),
        pick(seed, id, "p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
          .as("p_type"),
        (int(seed, id, "p_size", 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (id % 1000) * 0.1, 1).as("p_retailprice")),
      "orders" -> range("orders").select(
        id.as("o_orderkey"),
        // a third of the customers (keys ≡ 0 mod 3) never order, as in TPC-H
        pmod(int(seed, id, "o_cust", nCust) + (int(seed, id, "o_cust", nCust) % 3 === 0)
          .cast("long"), lit(nCust)).as("o_custkey"),
        pick(seed, id, "o_status", Seq("F", "O", "P")).as("o_orderstatus"),
        money(seed, id, "o_total", 1000.0, 500000.0).as("o_totalprice"),
        dayTs(seed, id, "o_date", "1995-01-01", 2404).as("o_orderdate"),
        pick(seed, id, "o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "lineitem" -> range("lineitem").select(
        int(seed, id, "l_order", nOrd).as("l_orderkey"),
        int(seed, id, "l_part", nPart).as("l_partkey"),
        int(seed, id, "l_supp", nSupp).as("l_suppkey"),
        (int(seed, id, "l_line", 7) + 1).cast("int").as("l_linenumber"),
        (int(seed, id, "l_qty", 50) + 1).cast("double").as("l_quantity"),
        money(seed, id, "l_price", 900.0, 105000.0).as("l_extendedprice"),
        (int(seed, id, "l_disc", 11).cast("double") / 100).as("l_discount"),
        (int(seed, id, "l_tax", 9).cast("double") / 100).as("l_tax"),
        pick(seed, id, "l_rflag", Seq("A", "N", "R")).as("l_returnflag"),
        pick(seed, id, "l_lstatus", Seq("F", "O")).as("l_linestatus"),
        dayTs(seed, id, "l_ship", "1995-01-02", 2498).as("l_shipdate")),
      "events" -> range("events").select(
        id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          int(seed, id, "e_ts", 30L * 86400L * 1000000L)).cast("timestamp_ntz").as("ts"),
        int(seed, id, "e_user", s.rows("users")).as("user_id"),
        pick(seed, id, "e_type", Seq("click", "error", "purchase", "signup", "view"))
          .as("event_type"),
        round(-lit(80.0) * ln(lit(1.0) - u(seed, id, "e_value")), 2).as("value"),
        concat(lit("{\"k\": "), int(seed, id, "e_props", 100).cast("string"), lit("}"))
          .as("props")),
      "documents" -> documents(spark, s),
      "embeddings" -> embeddings(spark, s))
  }

  /** Bag-of-words documents over a 30-word vocabulary, 10..100 words each.
    * About 5 % are near-duplicates: an earlier document's text plus a
    * trailing " dup" token, which is what the near-dup chains look for.
    */
  private def documents(spark: SparkSession, s: Spec): DataFrame = {
    val seed = s.dataSeed
    val id = col("id")
    val isDup = id > 0 && u(seed, id, "d_isdup") < 0.05
    val src = when(isDup, pmod(int(seed, id, "d_src", 1L << 40), greatest(id, lit(1L)))).otherwise(id)
    val len = (int(seed, col("src"), "d_len", 91) + 10).cast("int")
    val vocab = array(vocabulary.map(lit): _*)
    val words = transform(sequence(lit(0), len - 1), k =>
      element_at(vocab, (pmod(xxhash64(lit(seed), lit("d_word"), col("src"), k),
        lit(vocabulary.size.toLong)) + 1).cast("int")))
    spark.range(s.rows("documents"))
      .withColumn("src", src)
      .withColumn("dup", isDup)
      .select(
        id.as("doc_id"),
        concat(array_join(words, " "), when(col("dup"), lit(" dup")).otherwise(lit("")))
          .as("text"),
        pick(seed, id, "d_lang", Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-d unit vectors around 10 labelled centres. */
  private def embeddings(spark: SparkSession, s: Spec): DataFrame = {
    val seed = s.dataSeed
    val id = col("id")
    val label = int(seed, id, "v_label", 10)
    def centred(k: Column): Column =
      (u(seed, label * 1000 + k, "v_centre") - 0.5) * 2.0 +
        (u(seed, id * 1000 + k, "v_noise") - 0.5) * 1.0
    spark.range(s.rows("embeddings"))
      .select(id.as("vec_id"), label.cast("int").as("label"),
        transform(sequence(lit(0L), lit(63L)), k => centred(k)).as("raw"))
      .select(col("vec_id"),
        transform(col("raw"), x =>
          (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y))).cast("float"))
          .as("embedding"),
        col("label"))
  }

  /** Materializes the tables once per directory; returns the time spent
    * generating them (0 when they were already there).
    */
  def ensure(spark: SparkSession, s: Spec, dir: Path, names: Seq[String]): Double = {
    val done = dir.resolve("_COMPLETE")
    if (Files.exists(done)) 0.0
    else {
      val t0 = Clock.nowMs
      Fs.deleteTree(dir)
      write(spark, s, dir, names)
      Files.createFile(done)
      Clock.nowMs - t0
    }
  }

  /** Materialize `names` as `<dir>/<name>.parquet` single files. */
  def write(spark: SparkSession, s: Spec, dir: Path, names: Seq[String]): Unit = {
    Files.createDirectories(dir)
    val all = tables(spark, s)
    names.foreach { n =>
      val tmp = dir.resolve(s".$n.tmp")
      all(n).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(s"$n.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Fs.deleteTree(tmp)
    }
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** (file count, total bytes) of regular files under `p`, skipping the
    * Hadoop `.crc` sidecars.
    */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.filter(x => Files.isRegularFile(x) &&
          !x.getFileName.toString.endsWith(".crc")).toArray.map(_.asInstanceOf[Path])
        (files.length.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
}
