package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Relational}
import graft.sources.FakeData

class CatalogAndRelationalSpec extends SparkSpec {
  import spark.implicits._

  test("every declared query has exactly one oracle entry (driver contract)") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("typed Dataset API: Customer encoder round-trips the generator") {
    val ds = FakeData.typedCustomers(spark, 50)
    val rows = ds.collect()
    assert(rows.length == 50)
    assert(rows.forall(c => c.email.endsWith("@example.org")))
    // typed transforms work (filter on a field, map to a field)
    assert(ds.filter(_.sexo == "M").count() + ds.filter(_.sexo == "F").count() == 50)
  }

  test("catalog lists registered relations and active streams") {
    EngineCatalog.registerAll(spark, "/root/testdata/sf0.001")
    val names = EngineCatalog.listTables(spark).select("name").as[String].collect().toSet
    assert(Tables.all.toSet.subsetOf(names))
    assert(EngineCatalog.listStreams(spark).columns.toSeq == Seq("name", "id", "is_active"))
  }

  test("pivot counts partition the event count per user") {
    val df = Seq(
      (1L, new Timestamp(0), 10L, "click", 1.0, "{}"),
      (2L, new Timestamp(1), 10L, "click", 1.0, "{}"),
      (3L, new Timestamp(2), 10L, "error", 1.0, "{}"),
      (4L, new Timestamp(3), 20L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val p = Relational.userEventPivot(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(p(10L).getAs[Long]("click") == 2L)
    assert(p(10L).getAs[Long]("error") == 1L)
    assert(p(10L).getAs[Long]("view") == 0L) // absent combo filled with 0
    assert(p(20L).getAs[Long]("view") == 1L)
  }

  test("anomalies: only the >3σ point is flagged, per group independently") {
    // group A: ten 100.0s and one 200.0 — the 200 deviates ~3.02σ; group B
    // is tight around 50 with no outlier and must contribute no rows even
    // though A's outlier would dwarf B's spread if stats were global
    val rows =
      (1L to 10L).map(i => (i, new Timestamp(i), 1L, "a", 100.0, "{}")) :+
        ((11L, new Timestamp(11), 1L, "a", 200.0, "{}")) :+
        ((12L, new Timestamp(12), 1L, "b", 49.0, "{}")) :+
        ((13L, new Timestamp(13), 1L, "b", 50.0, "{}")) :+
        ((14L, new Timestamp(14), 1L, "b", 51.0, "{}"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Relational.valueAnomalies(df, 3)
      .select($"event_id", $"vq").as[(Long, Long)].collect().toSeq
    assert(got == Seq((11L, 200000000L)))
  }

  test("anomalies: group stats ride a broadcast join, no second shuffle") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val plan = Relational.valueAnomalies(df, 3).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("lattice quantile: p95 exact on clean buckets, per group, vs sort truth") {
    val rows = (1 to 20).map(k => (k.toLong, new Timestamp(k), 1L, "a", k.toDouble, "{}")) ++
      (1 to 10).map(k => (100L + k, new Timestamp(k), 1L, "b", 5.0, "{}"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Relational.valueQuantileByGroup(df, 0.95, 100)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // group a: 20 values 1..20 -> ceil(0.95*20)=19 -> 19.0; b constant -> 5.0
    assert(got("a") == ((20L, 19.0)))
    assert(got("b") == ((10L, 5.0)))
    // on real data the lattice value is EXACTLY the floor-bucket of the
    // ceil(q*n)-th order statistic (type-1 quantile, the definition the
    // lattice implements — NOT the interpolated percentile())
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val lattice = Relational.valueQuantileByGroup(ev, 0.95, 100)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val byType = ev.select($"event_type", $"value")
      .collect().groupBy(_.getString(0))
      .map { case (et, rs) =>
        val sorted = rs.map(_.getDouble(1)).sorted
        val k = math.ceil(0.95 * sorted.length).toInt
        et -> math.floor(sorted(k - 1) * 100) / 100
      }
    lattice.foreach { case (et, v) =>
      assert(v == byType(et), s"$et: lattice=$v type1=${byType(et)}")
    }
  }

  test("exact correlation: perfect +/-1, zero-variance null, matches builtin corr") {
    val rows = (0 until 24).flatMap { h =>
      val ts = new Timestamp(h * 3600L * 1000L)
      Seq(
        (h.toLong, ts, 1L, "up", 1.5 * h + 2.0, "{}"),     // r = +1
        (100L + h, ts, 1L, "down", -0.25 * h + 9.0, "{}"), // r = -1
        (200L + h, ts, 1L, "flat", 7.0, "{}"))             // zero variance
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Relational.valueHourCorrelation(df)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    assert(got("up") == ((24L, Some(1.0))))
    assert(got("down") == ((24L, Some(-1.0))))
    assert(got("flat") == ((24L, None)))
    // the exact path agrees with the float builtin on real data (to fp noise)
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val exact = Relational.valueHourCorrelation(ev)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val builtin = ev.groupBy($"event_type")
      .agg(corr($"value", hour($"ts").cast("double")).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (et, r) =>
      assert(math.abs(r - builtin(et)) < 1e-3, s"$et: exact=$r builtin=${builtin(et)}")
    }
  }

  test("quantiles: interpolated median over a known set") {
    val df = Seq((1L, 1L, "O", 10.0, new Timestamp(0), "p"),
      (2L, 1L, "O", 20.0, new Timestamp(0), "p"),
      (3L, 1L, "O", 40.0, new Timestamp(0), "p"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val r = Relational.orderValueQuantiles(df).collect()(0)
    assert(r.getAs[Double]("p50") == 20.0)
    assert(math.abs(r.getAs[Double]("p90") - 36.0) < 1e-9) // 20 + 0.8*(40-20)
  }

  test("approx distinct is within rsd bounds of exact distinct") {
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val approx = Relational.approxDistinctUsers(events).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      assert(math.abs(approx(t) - n).toDouble / n < 0.1,
        s"$t: approx=${approx(t)} exact=$n")
    }
  }

  test("char-shingle jaccard finds near-dups that word shingles also find") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en", "s"),
      (1L, "the quick brown fox jumps over the lazy dog!", "en", "s"),
      (2L, "entirely unrelated text with other words", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val pairs = Dedup.charJaccardPairs(docs, 5, 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("incremental aggregate: partial-merge equals monolithic, partials reused") {
    val sf = "/root/testdata/sf0.001"
    val inc = operators.Relational.revenueByStatusIncremental(spark, sf)
    val mono = operators.Relational.revenueByStatus(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    // decimal partial sums are exact and associative, so the merged result
    // must equal the full-corpus aggregation to the bit (double included)
    assert(rows(inc) == rows(mono))
    // the merged plan reads the PERSISTED partial table, not the history:
    // the only lineitem join is the batch slice's
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("graft_aggpart_rev_"),
      "incremental plan lost the persisted partials scan")
    assert("(?i)% 10\\) >= 8".r.findFirstIn(plan).isDefined
      || plan.contains("% 10) >= 8"),
      s"batch slice filter missing from plan")
    assert(!plan.contains("% 10) < 8"),
      "history slice is being recomputed — partials not reused")
  }

  test("cdcMergeApply: latest-wins U/D/I semantics on a handcrafted snapshot") {
    import spark.implicits._
    // snapshot keys 1..6; changes: key 2 updated twice (seq 2 wins),
    // key 3 deleted, key 4 updated once, key 99 inserted; 1/5/6 untouched
    val snap = Seq(
      (1L, "O", 10.0), (2L, "O", 20.0), (3L, "F", 30.0),
      (4L, "F", 40.0), (5L, "P", 50.0), (6L, "O", 60.0)
    ).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val ch = Seq(
      (2L, 1L, "U:X"), (2L, 2L, "U:Y"),
      (3L, 3L, "D:"), (4L, 1L, "U:X"), (99L, 1L, "I:N")
    ).toDF("key", "seq", "payload")
    val got = operators.Relational.cdcMergeApply(snap, ch).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // survivors: 1 O/10, 2 Y/20 (seq-2 update), 4 X/40, 5 P/50, 6 O/60,
    // 99 N/(99%997=99); 3 deleted
    assert(got == Map(
      "O" -> ((2L, 70.0)),
      "Y" -> ((1L, 20.0)),
      "X" -> ((1L, 40.0)),
      "P" -> ((1L, 50.0)),
      "N" -> ((1L, 99.0))))
  }

  test("cdcChangeset + cdcMergeApply over orders: deletes shrink, inserts add") {
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val merged = operators.Relational.cdcMergeApply(
      orders, operators.Relational.cdcChangeset(orders))
    val byStatus = merged.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = orders.count()
    val nDel = orders.filter(col("o_orderkey") % 7 === 3).count()
    val nIns = orders.filter(col("o_orderkey") % 97 === 0).count()
    assert(byStatus.values.sum == n - nDel + nIns)
    // every surviving %10==0 key carries the seq-2 status Y (latest wins)
    val nY = orders.filter(col("o_orderkey") % 10 === 0 &&
      col("o_orderkey") % 7 =!= 3).count()
    assert(byStatus("Y") == nY)
    assert(byStatus("N") == nIns)
  }

  /** Writes `df` as ONE parquet file at `path` (the testdata layout),
    * replacing whatever file is there.
    */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staging = tempDir("graft_stage").resolve("t")
    df.coalesce(1).write.parquet(staging.toString)
    val part = staging.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  /** Spark jobs started on this thread while `body` ran. Listener events
    * arrive asynchronously but in order, so once a sentinel job run after
    * `body` has been seen, every job `body` started has been counted.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.spec.tag"
    val tag = s"jobs-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, s"$tag-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(s"$tag-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$tag-end"), "the listener never saw the sentinel job")
      seen.toArray.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }

  test("Tables.load: a second load of a resolved table starts no Spark job") {
    val dir = tempDir("graft_memo").toString
    writeSingleFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), s"$dir/t.parquet")
    assert(jobsStartedBy(Tables.load(spark, dir, "t")) >= 1,
      "the first load infers the schema with a job (else this spec tests nothing)")
    assert(jobsStartedBy(Tables.load(spark, dir, "t")) == 0)
    assert(Tables.load(spark, dir, "t").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("Tables.load: a table rewritten with an extra column is seen on the next load") {
    val dir = tempDir("graft_memo").toString
    val path = s"$dir/t.parquet"
    writeSingleFile(Seq((1L, "a")).toDF("k", "v"), path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    writeSingleFile(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "w"), path)
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq == Seq("k", "v", "w"))
    assert(again.as[(Long, String, Int)].collect().sorted.toSeq ==
      Seq((1L, "a", 10), (2L, "b", 20)))
  }

  test("Tables.load: two loads of one table are independent relations (self-join)") {
    val dir = tempDir("graft_memo").toString
    writeSingleFile(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), s"$dir/t.parquet")
    Tables.load(spark, dir, "t") // resolves the path: both loads below hit the memo
    val a = Tables.load(spark, dir, "t")
    val b = Tables.load(spark, dir, "t").filter(col("k") > 1)
    val got = a.join(b, a("k") === b("k"))
      .select(a("k"), a("v"), b("v")).as[(Long, String, String)].collect().sorted.toSeq
    assert(got == Seq((2L, "b", "b"), (3L, "c", "c")))
  }

  private def roundRobin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")

  test("Tables.load fans out documents but never a relational table") {
    val sf = "/root/testdata/sf0.001"
    assert(!roundRobin(Tables.load(spark, sf, "lineitem")))
    assert(roundRobin(Tables.load(spark, sf, "documents")),
      "the single-row-group documents scan lost its fan-out")
  }

  test("Tables.load: the fan-out verdict follows a rewritten table") {
    val dir = tempDir("graft_memo").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    writeSingleFile(docs, s"$dir/documents.parquet")
    assert(roundRobin(Tables.load(spark, dir, "documents")))
    // one file per scan partition: enough splits, no fan-out
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/documents.parquet"))
    docs.repartition(8).write.parquet(s"$dir/documents.parquet")
    val split = Tables.load(spark, dir, "documents")
    assert(!roundRobin(split), "a stale fan-out verdict survived the rewrite")
    assert(split.count() == docs.count())
  }
}
