package graft

import graft.operators.{CorpusOps, Dedup, Relational, Similarity}

/** Regression guards on PHYSICAL PLAN SHAPE — the properties that keep
  * these operators viable at 100 TB (SURVEY.md §4, build-prompt scale
  * rules). A refactor that silently turns a broadcast join into a
  * sort-merge (or a pruned scan into a full scan) passes value tests but
  * fails here.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("star join broadcasts every dimension; no sort-merge join") {
    val p = plan(Relational.ordersByRegion(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val p = plan(Relational.pricingSummary(Tables.load(spark, sf, "lineitem")))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("pricing summary prunes to the 5 referenced columns") {
    val q = Relational.pricingSummary(Tables.load(spark, sf, "lineitem"))
    val scans = q.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(s => s.contains("l_quantity") && !s.contains("l_comment")))
  }

  test("top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.topOrders(Tables.load(spark, sf, "orders")))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("brute-force similarity broadcasts the 1-row query side and heap-selects top-k") {
    val p = plan(Similarity.bruteForceTopK(Tables.load(spark, sf, "embeddings")))
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("similarity scoring stays inside whole-stage codegen (native VectorDot)") {
    val q = Similarity.bruteForceTopK(Tables.load(spark, sf, "embeddings"))
    assert(plan(q).contains("vector_dot"))
    // codegen view: the scoring projection must live in a codegen'd subtree
    // (run first — AQE only finalizes codegen stages on execution)
    q.collect()
    val cg = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen"))
    assert(cg.contains("vector_dot") || cg.contains("VectorDot"))
  }

  test("partitioned ANN index: the scan is dynamically pruned to the query's bucket") {
    val df = Similarity.annTopKPartitioned(spark, sf)
    val p = plan(df)
    // the probe-side equi-join key is the index's partition column, so the
    // 1-row broadcast query side becomes a runtime partition filter — the
    // scan reads ONE bucket directory of 2^planes, metadata-only pruning
    assert(p.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning on the index scan:\n$p")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // and the pruning actually bites: post-execution, the index scan read
    // at most one partition directory's files
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("graft_ann_")).get
    assert(scan.contains("dynamicpruningexpression"))
  }

  test("partitioned IVF index: the scan prunes to the probed list directories") {
    val df = Similarity.ivfTopKPartitioned(spark, sf)
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("graft_ivf_")).get
    assert(scan.contains("dynamicpruningexpression"),
      s"expected dynamic partition pruning on the IVF index scan:\n$scan")
    // and the values agree with the un-indexed formulation
    val flat = Similarity.ivfTopK(Tables.load(spark, sf, "embeddings"))
    assert(df.exceptAll(flat).isEmpty && flat.exceptAll(df).isEmpty)
  }

  test("jaccard pairs never degrades to a cartesian product") {
    val p = plan(Dedup.jaccardPairs(Tables.load(spark, sf, "documents")))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("containment pairs: no cartesian, no array intersection in the verify") {
    val p = plan(Dedup.containmentPairs(Tables.load(spark, sf, "documents")))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("array_intersect"))
  }

  test("jaccard verify is count-based: no per-pair array intersection ships arrays") {
    val p = plan(Dedup.jaccardPairs(Tables.load(spark, sf, "documents")))
    // the verify stage group-counts narrow (a, b, gram) triples — a plan
    // that re-grows array_intersect would ship full gram arrays through
    // the verify joins (the 100 TB shuffle-width regression this guards)
    assert(!p.contains("array_intersect"))
  }

  test("semantic pairs embeds the corpus ONCE (ReusedExchange, not 4 subtrees)") {
    // the operator reads the derived embedding frame four times (two band
    // sides + two verify sides); without the in-operator repartition each
    // consumer would re-run hash_embed_counts over the whole corpus — 4×
    // the dominant CPU at scale. The executed plan must show a single
    // evaluation with the other consumers as ReusedExchange readers.
    val df = Dedup.semanticPairs(Tables.load(spark, sf, "documents"), 8, 16, 64, 0.95)
    df.collect() // AQE finalizes reuse decisions at execution
    // the adaptive toString appends the pre-execution "Initial Plan"
    // (whose subtrees are NOT deduplicated) — assert on the final part
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val evals = "hash_embed_counts".r.findAllIn(p).size
    assert(evals == 1, s"expected 1 hash_embed_counts evaluation, got $evals:\n$p")
    assert(p.contains("ReusedExchange"),
      s"expected the embedding exchange to be reused:\n$p")
  }

  test("fuzzy decontamination signatures each slice once, below the filter") {
    // the slice filters must push BELOW the minhash subplan: two
    // evaluations over DISJOINT row sets (train/eval), so no document is
    // signatured twice and no full-corpus exchange is added. A plan with
    // the filters stuck above one shared subtree would minhash the whole
    // corpus and then throw 95 % / 5 % away on each side.
    val df = Dedup.fuzzyDecontaminate(Tables.load(spark, sf, "documents"), 3, 0.8)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val evals = "minhash_slots".r.findAllIn(p).size
    assert(evals == 2, s"expected 2 disjoint-slice minhash evaluations, got $evals:\n$p")
    // each evaluation sits above a scan-adjacent pmod slice filter
    assert("pmod\\(doc_id".r.findAllIn(p).size >= 2, s"slice filters not pushed:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("banded SRP near-dup never degrades to a cross join") {
    val p = plan(Dedup.embeddingNearDupPairs(
      Tables.load(spark, sf, "embeddings"), 16, 16, 64, 0.35))
    // candidates must come from the band-key equi-join; a cross join here
    // is the quadratic all-pairs regression banding exists to prevent
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("as-of join costs exactly one hash exchange (the window sort)") {
    val q = graft.operators.Temporal.purchaseAttribution(
      Tables.load(spark, sf, "events"))
    val exchanges = q.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1)
  }

  test("ivf assignment is shuffle-free (broadcast centroids only)") {
    // iters = 0 isolates the ASSIGNMENT shape: the corpus side must never
    // shuffle. Training (iters > 0) adds bounded (c_id, dim) exchanges on
    // the broadcast SIDE INPUT only — K·dims groups, corpus-independent.
    val q = graft.operators.Similarity.ivfAssign(
      Tables.load(spark, sf, "embeddings"), iters = 0)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("bucketed revenue join: the only hash exchange is the final aggregation") {
    // disable auto-broadcast so the join must rely on the tables' bucket
    // distribution (at sf0.001 orders fits the broadcast threshold, which
    // would hide whether bucketing eliminated the shuffle — at warehouse
    // scale neither fact side broadcasts)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val q = Relational.revenueByStatusBucketed(spark, sf)
      q.collect() // finalize AQE
      val p = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head // executed stages only
      assert(p.contains("SortMergeJoin"))
      // no exchange on either join key: that shuffle is exactly what
      // write-time bucketing eliminates; only the 3-group agg repartitions
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"))
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"))
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1, s"expected only the agg exchange, got $exchanges")
    } finally spark.conf.set(key, prior)
  }

  test("exact dedup is a single-exchange aggregation") {
    val q = Dedup.exactDedup(Tables.load(spark, sf, "documents"))
    val exchanges = q.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1)
  }

  test("quota sample: rank-limit pushdown prunes map-side before one exchange") {
    val q = graft.operators.CorpusOps.quotaSample(
      Tables.load(spark, sf, "documents"), 25)
    val p = plan(q)
    // Catalyst's WindowGroupLimit must appear in BOTH phases: Partial
    // (per map partition, before the shuffle) and Final — this is what
    // bounds a source's reducer input to quota × maps instead of the
    // whole source
    assert(p.contains("WindowGroupLimit") && p.contains("Partial")
      && p.contains("Final"), "rank-limit pushdown did not fire")
    assert(!p.contains("Exchange SinglePartition"),
      "quota sample fell back to a global single-reducer window")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected one window exchange, saw $exchanges")
  }

  test("incremental ingest: index side is read pre-bucketed, batch shuffles once") {
    val q = Dedup.incrementalIngest(spark, sf)
    val p = plan(q)
    // the persisted fingerprint index must be consumed through its bucket
    // layout (no exchange above its scan at any corpus size)
    assert(p.contains("SelectedBucketsCount"),
      "fingerprint index lost its bucketed scan")
    // one hash exchange total: the batch into the index's bucket layout;
    // the keep-one agg must reuse that same (fp) partitioning
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected one batch-side exchange, saw $exchanges")
  }

  test("indexed near-dup probe: band index read pre-bucketed, batch shuffles once") {
    val q = Dedup.indexedNearDupMatches(spark, sf)
    val p = plan(q)
    // the persisted band index must be consumed through its bucket layout
    // even under the slice filter (a Filter keeps the scan's distribution)
    assert(p.contains("SelectedBucketsCount"),
      "band index lost its bucketed scan")
    // batch side into the index layout + the pair distinct — never a
    // corpus-sized exchange
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected batch-side exchanges only, saw $exchanges")
  }

  test("incremental cluster labels: history never feeds a shuffle exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val q = Dedup.incrementalClusterLabels(spark, sf, 3, 0.8)
    q.count() // finalize AQE so the executed plan is the real one
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a) ++ walk(a.executedPlan)
      case s: QueryStageExec => Seq(s) ++ walk(s.plan)
      case other => Seq(other) ++ other.children.flatMap(walk)
    }
    def lblScans(p: SparkPlan): Seq[FileSourceScanExec] =
      walk(p).collect {
        case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith("graft_lblidx")) => f
      }
    val all = walk(q.queryExecution.executedPlan)
    // the persisted label table is consumed by BOTH history fan-ins
    // (pass-through anti-join + touched remap)...
    assert(lblScans(q.queryExecution.executedPlan).size >= 2,
      "label-index scans missing from the final plan")
    // ...and NO shuffle exchange anywhere has it in its subtree: history
    // rows ride broadcast joins of the bounded touched-label map — a
    // hashpartitioning exchange here would re-shuffle the accumulated
    // corpus' labels on every daily increment
    val leaking = all.collect {
      case e: ShuffleExchangeLike if lblScans(e.child).nonEmpty => e
    }
    assert(leaking.isEmpty,
      s"history labels crossed a shuffle exchange:\n${leaking.mkString("\n")}")
  }

  test("indexed label consumers: maintained labels in, no closure recompute") {
    // the pipeline forms of the datasheet and the leakage-safe split read
    // the MAINTAINED label table; "no closure recompute" is pinned as: the
    // only document scans that read text are the daily-batch slice
    // (doc_id % 10 >= 8) — re-clustering the corpus would tokenize ALL text
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a) ++ walk(a.executedPlan)
      case s: QueryStageExec => Seq(s) ++ walk(s.plan)
      case other => Seq(other) ++ other.children.flatMap(walk)
    }
    def batchSliced(p: SparkPlan, guarded: Boolean): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => batchSliced(a.executedPlan, guarded)
        case s: QueryStageExec => batchSliced(s.plan, guarded)
        case f: FilterExec =>
          batchSliced(f.child,
            guarded || f.condition.sql.contains("% 10"))
        case sc: FileSourceScanExec
          if sc.relation.location.rootPaths.exists(
               _.toString.contains("documents.parquet")) &&
             sc.output.exists(_.name == "text") && !guarded &&
             !sc.dataFilters.exists(_.sql.contains("% 10")) => Seq(sc)
        case other => other.children.flatMap(batchSliced(_, guarded))
      }
    def pin(q: org.apache.spark.sql.DataFrame, labelShuffleForbidden: Boolean): Unit = {
      q.count() // finalize AQE
      val plan = q.queryExecution.executedPlan
      val all = walk(plan)
      val lblScans = all.collect {
        case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith("graft_lblidx")) => f
      }
      assert(lblScans.nonEmpty, "maintained label table missing from the plan")
      val unsliced = batchSliced(plan, guarded = false)
      assert(unsliced.isEmpty,
        s"full-corpus text scan found (closure recompute):\n${unsliced.mkString("\n")}")
      if (labelShuffleForbidden) {
        val leaking = all.collect {
          case e: ShuffleExchangeLike if walk(e.child).exists {
            case f: FileSourceScanExec =>
              f.tableIdentifier.exists(_.table.startsWith("graft_lblidx"))
            case _ => false
          } => e
        }
        assert(leaking.isEmpty,
          s"history labels crossed a shuffle exchange:\n${leaking.mkString("\n")}")
      }
    }
    // the split is a per-row predicate: history labels must stay
    // exchange-free end-to-end; the datasheet aggregates labels (two
    // hash aggs + one label-keyed join IS its advertised cost)
    pin(CorpusOps.leakageSafeSplit(
      Dedup.incrementalClusterLabels(spark, sf, 3, 0.8), 0.05),
      labelShuffleForbidden = true)
    pin(Dedup.familyStats(Tables.load(spark, sf, "documents"),
      Dedup.incrementalClusterLabels(spark, sf, 3, 0.8)),
      labelShuffleForbidden = false)
  }

  test("incremental containment: corpus-sized indexes never feed a shuffle exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val q = Dedup.incrementalContainmentReport(spark, sf, 3, 0.9)
    q.count() // finalize AQE
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a) ++ walk(a.executedPlan)
      case s: QueryStageExec => Seq(s) ++ walk(s.plan)
      case other => Seq(other) ++ other.children.flatMap(walk)
    }
    def idxScans(p: SparkPlan): Seq[FileSourceScanExec] =
      walk(p).collect {
        case f: FileSourceScanExec if f.tableIdentifier.exists(t =>
          t.table.startsWith("graft_cntpost") ||
            t.table.startsWith("graft_cntprobe")) => f
      }
    val all = walk(q.queryExecution.executedPlan)
    // the posting index is consumed by the two candidate gates and the
    // verify; the probe index by the old-side gate
    assert(idxScans(q.queryExecution.executedPlan).size >= 3,
      "containment index scans missing from the final plan")
    // ...and no shuffle exchange repartitions the RAW index: an index
    // scan reaching an exchange without crossing a join means the
    // accumulated corpus' postings re-exchange on a daily increment
    // (post-join shuffles are edge/candidate-sized — those are fine;
    // at probe scale the index rides broadcast joins, at corpus scale
    // the g-bucketed layout feeds the joins in place)
    def rawReach(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => Nil
      case f: FileSourceScanExec if f.tableIdentifier.exists(t =>
        t.table.startsWith("graft_cntpost") ||
          t.table.startsWith("graft_cntprobe")) => Seq(f)
      case a: AdaptiveSparkPlanExec => rawReach(a.executedPlan)
      case s: QueryStageExec => rawReach(s.plan)
      case other => other.children.flatMap(rawReach)
    }
    val leaking = all.collect {
      case e: ShuffleExchangeLike if rawReach(e.child).nonEmpty => e
    }
    assert(leaking.isEmpty,
      s"containment index re-shuffled raw:\n${leaking.mkString("\n")}")
  }

  test("bucketed CDC merge: snapshot scan prunes to touched bucket directories") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val q = Relational.cdcMergeApplyBucketed(spark, sf, 32)
    q.count() // finalize AQE
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a) ++ walk(a.executedPlan)
      case s: QueryStageExec => Seq(s) ++ walk(s.plan)
      case other => Seq(other) ++ other.children.flatMap(walk)
    }
    val plan = walk(q.queryExecution.executedPlan)
    val snapScans = plan.collect {
      case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.startsWith("graft_cdcsnap")) => f
    }
    // the merge's only snapshot consumer carries the touched-bucket
    // partition filter — untouched directories are pruned by METADATA,
    // never opened
    assert(snapScans.nonEmpty, "bucketed snapshot scan missing")
    assert(snapScans.forall(s => s.partitionFilters.exists(
      _.references.exists(_.name == "bucket"))),
      s"snapshot scan lost its bucket partition filter:\n${snapScans.mkString("\n")}")
    // untouched buckets' contribution comes from the persisted SUMMARY
    // table, not a second (unpruned) snapshot scan
    assert(plan.exists {
      case f: FileSourceScanExec =>
        f.tableIdentifier.exists(_.table.startsWith("graft_cdcsum"))
      case _ => false
    }, "persisted per-bucket summaries not consumed")
  }

  test("knn join: banded candidates only — no cartesian or nested-loop join") {
    val p = plan(Similarity.knnJoin(
      Tables.load(spark, sf, "embeddings"), 3, 8, 8, 64))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("SrpBandKeys") || p.contains("srp_band_keys"),
      "candidate generation lost the fused band-key expression")
  }

  test("dsir weights: the bucket model joins as a broadcast, never a shuffle join") {
    val p = plan(graft.operators.CorpusOps.dsirWeights(
      Tables.load(spark, sf, "documents"), "en", 1024))
    // the occurrence->model scoring join must broadcast the dims-bounded
    // model; a SortMergeJoin here would shuffle every (doc, bucket) row
    // against a 1024-row side
    assert(p.contains("BroadcastHashJoin"), "model join lost its broadcast")
    assert(!p.contains("SortMergeJoin"),
      "dims-bounded model is being shuffle-joined")
  }

  test("epoch replication plans zero exchanges (scan-fused projection + explode)") {
    val q = graft.operators.CorpusOps.epochSample(
      Tables.load(spark, sf, "documents"))
    q.count()
    val p = q.queryExecution.executedPlan.toString
    // the one repartition comes from Tables.load's fan-out of documents
    // (a UDF-kernel table; relational tables are not fanned out); beyond
    // it the operator itself must add NO exchange of any kind
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"epochSample added exchanges: $exchanges\n$p")
    assert(p.contains("Generate explode"), "replication lost the generator")
  }
}
