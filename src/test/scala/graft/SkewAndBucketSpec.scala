package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

class SkewAndBucketSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("AQE splits a skewed join partition at runtime (the non-salted path)") {
    // one hot key carrying ~100x the median partition size, thresholds
    // lowered so the sf-free fixture trips the skew detector
    val conf = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.range(200000)
        .select(when($"id" % 2 === 0, 1L).otherwise($"id").as("k"),
          $"id".as(("payload")))
      val dim = spark.range(100000).select($"id".as("bk"), ($"id" * 2).as("v"))
      val joined = fact.join(dim, $"k" === $"bk")
        .groupBy($"k" % 10).count()
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // AQE marked the join skewed and split the hot partition — the
      // runtime answer to skew when write-time salting isn't in the plan
      assert(plan.contains("skew=true"), s"expected a skew-split join:\n$plan")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join is row-identical to the plain join") {
    val lineitem = Tables.load(spark, sf, "lineitem")
    val orders = Tables.load(spark, sf, "orders")
    val plain = lineitem.join(orders, $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber", $"o_orderstatus")
    val salted = Skew.saltedJoin(lineitem, orders,
      "l_orderkey", "o_orderkey", "l_partkey")
      .select($"l_orderkey", $"l_linenumber", $"o_orderstatus")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salted join keeps fact rows whose salt-seed id is NULL") {
    val fact = Seq((Some(1L), 10L), (None, 20L), (None, 30L))
      .toDF("fid", "k")
    val build = Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("bk", "v")
    val joined = Skew.saltedJoin(fact, build, "k", "bk", "fid", 4)
      .select($"k", $"v").as[(Long, String)].collect().toSet
    // a NULL fid must not drop the row — md5(NULL) is NULL and an
    // un-coalesced NULL salt never equi-matches the replicated side
    assert(joined == Set((10L, "a"), (20L, "b"), (30L, "c")))
  }

  test("salt spreads a hot key over multiple buckets deterministically") {
    val hot = Seq.tabulate(1000)(i => (1L, i.toLong)).toDF("k", "id")
    val spread = hot.select(Skew.salt($"id", 8).as("s"))
      .distinct().count()
    assert(spread == 8) // all 8 buckets hit
    // deterministic: same inputs → same salts
    val a = hot.select(Skew.salt($"id", 8)).as[Int].collect().toSeq
    val b = hot.select(Skew.salt($"id", 8)).as[Int].collect().toSeq
    assert(a == b)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val wh = tempDir("graft_wh_").toString
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables.load(spark, sf, "lineitem")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    Tables.load(spark, sf, "orders")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_b").saveAsTable("ord_b")
    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus").count()
    joined.collect() // finalize AQE
    val plan = joined.queryExecution.executedPlan.toString
    // bucketing provides the hash distribution: the join itself needs no
    // exchange (only the final 1-group aggregation may)
    val joinSection = plan.split("HashAggregate").last
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"))
    assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"))
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
  }

  /** Failed or killed tasks of the Spark jobs `body` starts on this
    * thread. Listener events arrive asynchronously but in order, so once
    * a sentinel job run after `body` has been seen, every task of
    * `body`'s jobs has been counted.
    */
  private def failedTasksOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val key = "graft.spec.tag"
    val tag = s"tasks-${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val failed = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(key))).foreach { t =>
          if (t == tag) j.stageIds.foreach(stages.add(_))
          if (t == s"$tag-end") sentinelSeen = true
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.reason != org.apache.spark.Success) {
          failed.incrementAndGet(); ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, s"$tag-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "the listener never saw the sentinel job")
      (out, failed.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The data directory of the `planes`-plane ANN index over `sf`. */
  private def annIndexDir(planes: Int): java.io.File = {
    val tag = java.lang.Long.toHexString(
      graft.functions.DetHash.base60(sf) & 0xffffffffL)
    new java.io.File(s"${Tables.persistedTableRoot(spark)}/graft_ann_p${planes}_$tag")
  }

  private def parquetFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles.toSeq.flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Nil

  test("ensurePersisted rebuilds when the catalog entry's files are gone") {
    import graft.operators.Similarity
    // a 3-plane index: no other suite reads it, so deleting its files
    // cannot pull data out from under a query in the same test JVM (the
    // default 4-plane index backs StreamingSpec's ANN-alerts stream)
    val idx = Similarity.partitionedAnnIndex(spark, sf, planes = 3)
    val n = idx.count()
    assert(n > 0)
    // simulate a cleaned tmpdir under a persistent metastore: the catalog
    // entry survives, and so does the session's cached file listing, but
    // the data directory is gone
    val loc = annIndexDir(planes = 3)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(); ()
    }
    assert(loc.isDirectory, s"expected index data at $loc")
    rm(loc)
    val (rebuilt, failed) = failedTasksOf(Similarity.partitionedAnnIndex(spark, sf, planes = 3))
    assert(failed == 0, "the health check must not launch tasks on the deleted files")
    assert(rebuilt.count() == n, "missing files must trigger a rebuild")
  }

  test("ensurePersisted rebuilds when the catalog entry's files are unreadable") {
    import graft.operators.Similarity
    // a 2-plane index, likewise read by no other suite
    val n = Similarity.partitionedAnnIndex(spark, sf, planes = 2).count()
    assert(n > 0)
    val files = parquetFiles(annIndexDir(planes = 2))
    assert(files.nonEmpty, "expected index data files")
    // the files are still listed and still exist, but none is parquet
    files.foreach(f => java.nio.file.Files.write(f.toPath, "not parquet".getBytes))
    val rebuilt = Similarity.partitionedAnnIndex(spark, sf, planes = 2)
    assert(rebuilt.count() == n, "unreadable files must trigger a rebuild")
  }

  test("a persisted-table root is deleted when its application ends") {
    import java.nio.file.Files
    import org.apache.spark.scheduler.SparkListenerApplicationEnd
    // the live session's root is one path per application, whoever asks
    assert(Tables.persistedTableRoot(spark) == Tables.persistedTableRoot(spark.newSession()))
    assert(Tables.persistedTableRoot(spark).endsWith(spark.sparkContext.applicationId))
    // a stand-in root with a bucketed table's nested layout
    val root = tempDir("graft_persisted_")
    val table = Files.createDirectories(root.resolve("graft_bucketed_x/part=0"))
    Files.write(table.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    val cleanup = new Tables.PersistedRootCleanup(root.toString, spark.sparkContext.hadoopConfiguration)
    cleanup.onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(!Files.exists(root))
  }
}
