package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Measured shuffle costs behind the scale-design claims: not just which
  * exchanges exist (PlanShapeSpec), but how many records they carried.
  */
class PlanMetricsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("write-time bucketing removes the fact-table shuffle, measured in records") {
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force shuffle joins: at this fixture size the plain join would
    // auto-broadcast, hiding the exchange that exists at fact-fact scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (nPlain, plain) = PlanMetrics.measure(
        Relational.revenueByStatus(spark, sf))
      val (nBucketed, bucketed) = PlanMetrics.measure(
        Relational.revenueByStatusBucketed(spark, sf))
      assert(nPlain == nBucketed)
      // plain: both fact tables cross the wire; bucketed: only the
      // 3-group aggregate partials do
      val lineitemRows = Tables.load(spark, sf, "lineitem").count()
      assert(plain.recordsWritten > lineitemRows,
        s"plain join should shuffle the fact tables: $plain")
      assert(bucketed.recordsWritten < 200,
        s"bucketed join should shuffle only agg partials: $bucketed")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("bloom pre-filter cuts the probe side's shuffled records") {
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force shuffle joins so probe-side pruning is visible on the wire
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cust = Tables.load(spark, sf, "customer")
        .filter($"c_mktsegment" === "AUTOMOBILE").select($"c_custkey")
      val orders = Tables.load(spark, sf, "orders")
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.join(cust, $"o_custkey" === $"c_custkey")
          .groupBy($"o_orderpriority").agg(count(lit(1)).as("order_cnt"))
      val (nPlain, plain) = PlanMetrics.measure(agg(orders))
      val pruned = orders
        .crossJoin(broadcast(Relational.bloomBuild(cust, $"c_custkey")))
        .filter(Relational.bloomMightContain($"o_custkey", $"bloom"))
        .drop("bloom")
      val (nBloom, bloom) = PlanMetrics.measure(agg(pruned))
      assert(nPlain == nBloom)
      assert(bloom.recordsWritten < plain.recordsWritten,
        s"bloom should cut shuffled records: $bloom vs $plain")
      // ~1/5 segment selectivity on the probe side; the customer side,
      // agg partials and the bloom build ride along as fixed costs at
      // this fixture size (the ratio sharpens as the fact side grows)
      assert(bloom.recordsWritten.toDouble / plain.recordsWritten < 0.75,
        s"bloom pruning too weak: $bloom vs $plain")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("indexed near-dup probe shuffles batch-sized band rows, never the corpus") {
    val docs = Tables.load(spark, sf, "documents")
    val total = docs.count()
    val batch = docs.filter($"doc_id" % 10 >= 8).count()
    val (_, stats) = PlanMetrics.measure(
      operators.Dedup.indexedNearDupMatches(spark, sf))
    // wire budget: the batch's band rows into the index layout plus the
    // candidate-pair distinct — both sized by the BATCH (bands × batch
    // plus the near-dup pairs), far under even one corpus-sized pass.
    // The corpus participates through its bucketed on-disk index only.
    assert(stats.recordsWritten < total,
      s"probe must not shuffle a corpus-sized relation: $stats total=$total")
    assert(stats.recordsWritten <= batch * operators.Dedup.Bands * 2,
      s"probe wire cost should be batch-sized: $stats batch=$batch")
  }

  test("skewed corpus: the near-identical clique emits its quadratic truth, wire stays bounded") {
    import graft.operators.Dedup
    val docs = Tables.load(spark, sf, "documents")
    val skew = Dedup.skewedDocs(docs)
    val m = docs.filter($"doc_id" % 10 === 0).count()
    val clique = m * (m - 1) / 2
    assert(m >= 4, s"fixture too small for a clique: m=$m")
    // the near-identical tier is a true clique: ALL of its pairs are
    // found (its band buckets collapse to one hot bucket per band, the
    // O(m²) work happens inside the bucket join) and emitted — the
    // quadratic output is the CORRECT answer for near-identical docs
    val found = Dedup.charLshPairs(skew, 5, 0.8)
      .filter($"a" % 10 === 0 && $"b" % 10 === 0).count()
    assert(found == clique, s"clique pairs: found $found of $clique")
    // wire cost: band rows (n × Bands, same as the unskewed run) plus
    // passing pairs (≤ Bands duplicates into the distinct) — the hot
    // bucket's quadratic join happens INSIDE a task, never on an exchange
    val (_, plain) = PlanMetrics.measure(Dedup.charLshPairs(docs, 5, 0.8))
    val (vSkew, skewStats) = PlanMetrics.measure(Dedup.charLshPairs(skew, 5, 0.8))
    // the output is clique-dominated (tier docs REPLACED their text, so
    // some unskewed pairs legitimately disappear — only the clique bound
    // is monotone)
    assert(vSkew >= clique)
    assert(skewStats.recordsWritten <=
      plain.recordsWritten + (Dedup.Bands + 1) * vSkew,
      s"skew leaked onto the wire: $skewStats vs $plain (pairs=$vSkew)")
  }

  test("duplicate collapse exchanges carry hash keys, never document bodies") {
    // the round-10 advisory fix, pinned: editClusters/semanticClusters'
    // exact-duplicate collapse used to key its window by the full text /
    // embedding array, shipping every document body through the collapse
    // exchange. collapseByValue keys by (xxhash64, murmur3) instead —
    // each distinct value crosses once (map-side-combined min_by), all
    // other exchange rows are (id, 12-byte key).
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // incompressible ~1 KB bodies (hex), 5 distinct texts over 400 docs,
      // 2 map partitions — so "text on the wire" would be unmissable in
      // compressed shuffle bytes while keys + 10 partial structs are tiny
      val md = java.security.MessageDigest.getInstance("MD5")
      def hex(s: String) = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val body = (0 until 32).map(i => hex("body" + i)).mkString(" ")
      val n = 400
      val docs = spark.range(n).coalesce(2)
        .select($"id".as("doc_id"),
          concat(lit(body), lit(" v"), ($"id" % 5).cast("string")).as("text"))
      val (reps, members) = operators.Dedup.collapseByValue(docs)
      val (cnt, stats) = PlanMetrics.measure(members)
      assert(cnt == n)
      val corpusBytes = n.toLong * body.length
      assert(stats.bytesWritten < corpusBytes / 4,
        s"collapse shipped document bodies: $stats vs corpus $corpusBytes B")
      // and the collapse itself is exact: 5 min-id representatives
      val repIds = reps.select($"doc_id").as[Long].collect().sorted.toSeq
      assert(repIds == Seq(0L, 1L, 2L, 3L, 4L), s"reps: $repIds")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("curation chain shuffles only survivor fingerprints") {
    val docs = Tables.load(spark, sf, "documents")
    val (kept, stats) = PlanMetrics.measure(
      operators.Curation.curate(docs, "en", 0.7))
    val total = docs.count()
    assert(stats.exchanges == 1, s"expected the single dedup exchange: $stats")
    // the exchange carries survivors (plus nothing else) — strictly fewer
    // than the corpus when the filters drop anything
    assert(stats.recordsWritten < total, s"stats=$stats total=$total")
    assert(stats.recordsWritten >= kept, s"stats=$stats kept=$kept")
  }

  test("plan census: whole-plan exchanges and gram sites, reused exchange once") {
    import graft.functions.{CharGramHashes, TextNorm}
    // not a local relation, whose projections the optimizer evaluates itself
    val docs = spark.range(1, 4).select($"id", concat(lit("a b "), ($"id" % 2).cast("string")).as("text"))
    val agg = docs.select($"id", TextNorm.tokensColumn($"text").as("t"),
        CharGramHashes.column(TextNorm.normalizeColumn($"text"), 3).as("g"))
      .groupBy(($"id" % 2).as("k")).agg(count("*").as("n"), max(size($"t")), max(size($"g")))
    agg.collect()
    assert(PlanMetrics.census(agg) == PlanMetrics.PlanCensus(1, 1, 1))
    // the second branch's aggregate reads the first one's exchange: no new
    // exchange and no new gram site
    val both = agg.union(agg)
    both.collect()
    assert(both.queryExecution.executedPlan.toString.contains("ReusedExchange"))
    assert(PlanMetrics.census(both) == PlanMetrics.PlanCensus(1, 1, 1))
  }
}
