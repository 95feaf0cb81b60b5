package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a named operator chain from SURVEY.md §2
  * (reference-derived) or the north-star extension set (joins, dedup,
  * similarity, text analysis). Each has a DuckDB-equivalent in [[oracleSql]]
  * unless the operation is not SQL-expressible (noted inline).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A star join with broadcast dimensions + aggregation — exercises scan,
    * join, shuffle, agg in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.ordersByRegion(spark, "/root/testdata/sf0.001")

  type Q = (SparkSession, String) => DataFrame

  private def q(f: (SparkSession, String) => DataFrame): Q = f

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, Q] = Map(
    // --- reference-derived (ksqlDB surface, batch analog over events) ---
    "ref_projection" -> q((s, d) => ReferenceQueries.eventsProjection(Tables.load(s, d, "events"))),
    "ref_jovens_filter" -> q((s, d) => ReferenceQueries.eventsJovens(Tables.load(s, d, "events"))),
    "ref_case_class" -> q((s, d) =>
      ReferenceQueries.eventsClass(Tables.load(s, d, "events"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("idadecat"))),
    "ref_window_count" -> q((s, d) => ReferenceQueries.eventsWindowCount(Tables.load(s, d, "events"))),
    // --- relational extensions ---
    "q1_pricing_summary" -> q((s, d) => Relational.pricingSummary(Tables.load(s, d, "lineitem"))),
    "join_orders_by_region" -> q((s, d) => Relational.ordersByRegion(s, d)),
    "join_revenue_by_status" -> q((s, d) => Relational.revenueByStatus(s, d)),
    // write-time-bucketed variant: same rows, the join consumes the
    // tables' bucket distribution instead of shuffling (the oracle is the
    // same SQL — bucketing must be invisible in the result)
    "join_revenue_by_status_bucketed" -> q((s, d) => Relational.revenueByStatusBucketed(s, d)),
    // incremental aggregate maintenance: persisted per-status partials +
    // batch-only aggregation, merged — the oracle is the plain full-corpus
    // SQL (incrementality must be invisible in the result)
    "agg_incremental_revenue" -> q((s, d) => Relational.revenueByStatusIncremental(s, d)),
    "q3_shipping" -> q((s, d) => Relational.q3Shipping(s, d)),
    "q6_forecast" -> q((s, d) => Relational.q6Forecast(Tables.load(s, d, "lineitem"))),
    "q5_local_supplier" -> q((s, d) => Relational.q5LocalSupplier(s, d)),
    "topk_orders" -> q((s, d) => Relational.topOrders(Tables.load(s, d, "orders"))),
    "distinct_user_types" -> q((s, d) => Relational.distinctUserTypes(Tables.load(s, d, "events"))),
    "window_fn_user_rank" -> q((s, d) => Relational.userEventRank(Tables.load(s, d, "events"))),
    "rollup_orders" -> q((s, d) => Relational.ordersRollup(Tables.load(s, d, "orders"))),
    "semi_join_open_orders" -> q((s, d) => Relational.customersWithOpenOrders(s, d)),
    "anti_join_no_orders" -> q((s, d) => Relational.customersWithoutOrders(s, d)),
    "union_acctbal" -> q((s, d) => Relational.acctbalUnion(s, d)),
    // salted variant of the fact-fact join — same rows, hot keys spread
    // over 8 shuffle partitions (the oracle is the same SQL as the plain
    // join: salting must be invisible in the result)
    "join_salted_revenue" -> q((s, d) =>
      Skew.saltedJoin(Tables.load(s, d, "lineitem"), Tables.load(s, d, "orders"),
        "l_orderkey", "o_orderkey", "l_partkey")
        .groupBy(col("o_orderstatus"))
        .agg(sum(Relational.revenueTerm("l_extendedprice", "l_discount"))
          .cast("double").as("revenue"),
          count(lit(1)).as("line_cnt"))),
    "stats_quantiles" -> q((s, d) => Relational.orderValueQuantiles(Tables.load(s, d, "orders"))),
    // fact side pre-filtered by a declarative Bloom of the dim keys —
    // runtime row-level filtering with no driver collect (the oracle is
    // the plain join SQL: the bloom must be invisible in the result)
    "join_bloom_filtered" -> q((s, d) => Relational.revenueByPriorityBloom(s, d)),
    // KMV distinct sketch: bounded k-long state per map task, one
    // fixed-size sketch per partition on the exchange; estimate
    // bit-reproducible in DuckDB (unlike HLL++)
    "sketch_distinct_kmv" -> q((s, d) =>
      Relational.kmvDistinct(Tables.load(s, d, "lineitem"), col("l_orderkey"), 256)),
    // Count-Min heavy hitters: fixed depth×width counter grid (exchange
    // bounded by grid size, not key cardinality), min-over-depths probe;
    // deterministic affine hashes → bit-reproducible in DuckDB
    "sketch_heavy_hitters" -> q((s, d) =>
      Relational.cmsHeavyHitters(Tables.load(s, d, "events"), "user_id", 4, 64, 10)),
    // small-file compaction: 64-file fixture bin-packed to ~256 KB
    // outputs, file count from the listing alone, coalesce (no shuffle);
    // the oracle is the plain documents SQL — compaction invisible
    "corpus_compact" -> q((s, d) =>
      CorpusOps.compactDir(s, CorpusOps.smallFileDocs(s, d), 256L * 1024)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),
    // grouped KMV sketches: one bounded k-long sketch per (map task ×
    // group) on the wire — the rollup-able per-group cardinality shape
    // (count(distinct) by group would shuffle every distinct pair)
    "sketch_group_kmv" -> q((s, d) =>
      Relational.kmvDistinctByGroup(Tables.load(s, d, "events"), "event_type", col("user_id"), 64)),
    // KMV overlap estimate between the eval/train slices' distinct 8-gram
    // sets: the fixed-sketch-cost pre-check before exact decontamination
    "sketch_corpus_overlap" -> q((s, d) =>
      CorpusOps.kmvOverlap(Tables.load(s, d, "documents"), 8, 0.05, 256)),
    // per-group P95 on a fixed 1/100 lattice — bounded-memory grouped
    // percentile (percentile buffers whole groups, approx_percentile's
    // t-digest is engine-specific; this is exact at lattice resolution)
    "stats_group_p95" -> q((s, d) =>
      Relational.valueQuantileByGroup(Tables.load(s, d, "events"), 0.95, 100)),
    // per-group Pearson correlation with exact decimal accumulation —
    // builtin corr() is partition-order-dependent double summation;
    // this one is bit-reproducible (floats only in the final step)
    "stats_group_corr" -> q((s, d) =>
      Relational.valueHourCorrelation(Tables.load(s, d, "events"))),
    // per-group 3σ outlier flags with the kσ test cross-multiplied into
    // exact decimal(38,0) integer arithmetic — no float mean/variance
    // anywhere, so the flags are oracle-bit-exact under any partitioning
    "events_anomalies" -> q((s, d) =>
      Relational.valueAnomalies(Tables.load(s, d, "events"), 3)),
    // Morton (z-order) key per row — the 2-dim layout key; pure integer
    // mask ladder, re-derived by the oracle in SQL
    "zorder_key" -> q((s, d) => ZOrder.ordersZkeys(Tables.load(s, d, "orders"))),
    // rectangle predicate over BOTH dims served by the z-partitioned
    // table: covering-bucket IN-list prunes the scan to a few of 64
    // directories (the oracle is the plain filter — layout invisible)
    "zorder_pruned_scan" -> q((s, d) => ZOrder.prunedRectangle(s, d)),
    "cube_orders" -> q((s, d) => Relational.ordersCube(Tables.load(s, d, "orders"))),
    "json_props_stats" -> q((s, d) => Relational.jsonPropsStats(Tables.load(s, d, "events"))),
    "intersect_users" -> q((s, d) => Relational.usersInBothTypes(Tables.load(s, d, "events"), "purchase", "error")),
    // subtracted side time-restricted: with 150 users x 10k events every
    // user has every type, so an unrestricted EXCEPT is always empty
    "except_users" -> q((s, d) => {
      val ev = Tables.load(s, d, "events")
      ev.filter(col("event_type") === "purchase").select(col("user_id"))
        .except(ev.filter(col("event_type") === "error"
          && col("ts") >= lit("2024-01-29").cast("timestamp")).select(col("user_id")))
    }),
    "pivot_user_events" -> q((s, d) => Relational.userEventPivot(Tables.load(s, d, "events"))),
    "dedup_char_lsh" -> q((s, d) => Dedup.charLshPairs(Tables.load(s, d, "documents"), 5, 0.8)),
    // ADVERSARIAL fixture, two tiers: 10% of docs are NEAR-IDENTICAL
    // (band buckets collapse to one hot bucket per band — a true clique
    // whose quadratic pair set is the correct output) and another 10%
    // carry the same boilerplate as a prefix on real text (candidate
    // pressure without output). The bench row proves the hot-bucket
    // O(m²) join and the quadratic emit don't blow up the runtime
    "dedup_char_lsh_skewed" -> q((s, d) => Dedup.charLshPairs(Dedup.skewedDocs(Tables.load(s, d, "documents")), 5, 0.8)),
    // composed dedup funnel: raw -> exact keep-min -> cluster reps OVER
    // the exact survivors, per-tier survivor counts in one plan
    "dedup_funnel_report" -> q((s, d) =>
      Dedup.dedupFunnelReport(Tables.load(s, d, "documents"), 3, 0.8)),
    // per-source dedup datasheet: duplication + cross-source mirror
    // rates from cluster labels (persisted-table fed in a pipeline)
    "dedup_family_stats" -> q((s, d) => {
      val docs = Tables.load(s, d, "documents")
      Dedup.familyStats(docs, Dedup.clusters(docs, 3, 0.8))
    }),
    // the PIPELINE form: the datasheet reads the MAINTAINED label table
    // (incrementalClusterLabels over the persisted index) instead of
    // re-clustering the corpus inline — two hash aggs + one label-keyed
    // join; the only text work is the daily batch's (plan-pinned)
    "dedup_family_stats_indexed" -> q((s, d) => Dedup.familyStats(
      Tables.load(s, d, "documents"),
      Dedup.incrementalClusterLabels(s, d, 3, 0.8))),
    // DIRECTED containment |A∩B|/|A| >= 0.9 — quote/excerpt detection
    // jaccard can't express; only the contained side's rarest-gram
    // prefix probes the index, verify is the count-based posting join
    "dedup_containment" -> q((s, d) =>
      Dedup.containmentPairs(Tables.load(s, d, "documents"), 3, 0.9)),
    // bounded-output containment: per contained doc, container count +
    // strongest container — k-member duplicate families emit k rows
    // where the pair form emits k(k-1); exact-collapse-first keeps the
    // pair chain on unique texts (the 100 TB shape for directed overlap).
    // Auto-sliced past 65k docs (value-identical sequential container
    // slices), so the EXACT registered form completes at 100x instead
    // of disk-capping on the candidate/verify shuffle
    "dedup_containment_report" -> q((s, d) =>
      Dedup.containmentReportAuto(Tables.load(s, d, "documents"), 3, 0.9)),
    // the AT-SCALE twin of the report: banded minhash candidates (full
    // band-key collision, not shared-hot-gram) + exact containment
    // verify on survivors — the gate whose intermediates stay linear on
    // fixed-vocabulary corpora where the pigeonhole form's candidate
    // shuffle exceeds single-box disk at 100x; the exact form stays
    // registered for oracle-scale corpora
    "dedup_containment_report_lsh" -> q((s, d) =>
      Dedup.containmentReportLsh(Tables.load(s, d, "documents"), 3, 0.9)),
    // incremental maintenance of the report: today's batch probes the
    // persisted posting/probe/df indexes and MERGES into yesterday's
    // persisted report — per-batch cost sized by the batch's grams, the
    // corpus is never re-shingled; oracle = full recompute over all docs
    "dedup_containment_incremental" -> q((s, d) =>
      Dedup.incrementalContainmentReport(s, d, 3, 0.9)),
    // char-LSH candidates verified by EXACT levenshtein (few-character
    // edits, not shingle overlap): the DP runs only on gated pairs —
    // the tier-1 clique survives at dist <= 2, boilerplate-prefix
    // candidates verify out
    "dedup_edit_pairs" -> q((s, d) =>
      Dedup.editDistancePairs(Dedup.skewedDocs(Tables.load(s, d, "documents")), 5, 0.8, 2)),
    // the RECALL-FLOOR form (round 16): maxRowsPerBand = 4 pins the
    // char-LSH gate at the 4-slot width past RebandAt, holding the
    // pinned rp=4 near-threshold recall at any corpus size and paying
    // candidate volume instead (cappedRowsPerBand's cost model — the
    // measured 10x row quantifies the trade). Gate-invariant at oracle
    // scales (the auto schedule already resolves to 4 there), so the
    // oracle is the SAME exact-verify relation as dedup_edit_pairs
    "dedup_edit_pairs_recall_floor" -> q((s, d) =>
      Dedup.editDistancePairs(Dedup.skewedDocs(Tables.load(s, d, "documents")), 5, 0.8, 2,
        maxRowsPerBand = 4)),
    // substring-level dedup (Lee et al. 2021): maximal corpus-duplicated
    // 30-char runs per document, merged gaps-and-islands style
    "dedup_substring_spans" -> q((s, d) => Dedup.dupSpans(Tables.load(s, d, "documents"), 30)),
    // the destructive half: cut every corpus-duplicated 30-char run and
    // emit the cleaned corpus (untouched docs pass through)
    "dedup_substring_removed" -> q((s, d) => Dedup.substringRemoved(Tables.load(s, d, "documents"), 30)),
    // paragraph-level keep-first dedup over the injected-paragraph
    // fixture (the corpus is a flat word stream — structure is a pure
    // function of (doc_id, text), same discipline as text_scrub)
    "dedup_paragraphs" -> q((s, d) => Dedup.paragraphDedup(Dedup.withInjectedParagraphs(Tables.load(s, d, "documents")))),
    // the destructive complement: EVERY copy of a paragraph occurring
    // > 10 times corpus-wide is dropped (CCNet boilerplate rule) — same
    // injected-paragraph fixture, same two-exchange shape
    "dedup_boilerplate" -> q((s, d) => Dedup.boilerplateRemoved(Dedup.withInjectedParagraphs(Tables.load(s, d, "documents")), 10)),
    // --- temporal: as-of join, session windows, hopping windows ---
    "asof_attribution" -> q((s, d) => Temporal.purchaseAttribution(Tables.load(s, d, "events"))),
    // point-in-time variant: matches older than 10 minutes are stale and
    // null out — same one-shuffle as-of chain, per-row staleness gate
    "asof_attribution_tol" -> q((s, d) => Temporal.purchaseAttributionWithin(Tables.load(s, d, "events"), 600)),
    "session_counts" -> q((s, d) => Temporal.sessionCounts(Tables.load(s, d, "events"))),
    "hopping_counts" -> q((s, d) => Temporal.hoppingCounts(Tables.load(s, d, "events"))),
    // interval join without the inequality-join nested loop: equi-join on
    // (user, time-bucket) + in-join range verify (oracle: plain theta join)
    "range_join_prior_activity" -> q((s, d) => Temporal.priorActivityCounts(Tables.load(s, d, "events"))),
    // --- text analysis (documents) ---
    "text_language_id" -> q((s, d) => TextAnalysis.languageId(Tables.load(s, d, "documents"))),
    "text_quality" -> q((s, d) => TextAnalysis.qualityScores(Tables.load(s, d, "documents"))),
    // Gopher-style repetition filters: integer-count ratios only, fully
    // scan-fused (zero exchanges at any corpus size)
    "text_repetition" -> q((s, d) => TextAnalysis.repetitionSignals(Tables.load(s, d, "documents"))),
    "text_token_histogram" -> q((s, d) => TextAnalysis.tokenHistogram(Tables.load(s, d, "documents"))),
    // corpus document-frequency rarity signals (rarest-token df, hapax
    // count, mean df) per document
    "text_token_rarity" -> q((s, d) => TextAnalysis.tokenRarity(Tables.load(s, d, "documents"))),
    // TF-IDF keyword extraction: integer micro-nat idf so the tf·idf
    // ranking never touches a float; top-k window bounded per doc
    "text_tfidf_keywords" -> q((s, d) => TextAnalysis.tfidfKeywords(Tables.load(s, d, "documents"), 3)),
    // corpus-unigram-LM surprisal (the CCNet/Gopher quality-filter signal):
    // integer micro-nat logs, exact per-doc sums, one divide at the end
    "text_surprisal" -> q((s, d) => TextAnalysis.unigramSurprisal(Tables.load(s, d, "documents"))),
    // bigram-LM transition surprisal: the conditional upgrade (KenLM-tier
    // shape); prefix-count denominator so the conditional sums to 1
    "text_bigram_surprisal" -> q((s, d) => TextAnalysis.bigramSurprisal(Tables.load(s, d, "documents"))),
    // tokenizer-fitting artifact: top-V vocabulary via TakeOrderedAndProject
    "text_vocabulary" -> q((s, d) => TextAnalysis.vocabulary(Tables.load(s, d, "documents"), 256)),
    // per-source KL drift vs the corpus bigram-bucket model — the
    // continuous-ingest distribution alarm; integer micro-nat exactness
    "corpus_source_drift" -> q((s, d) => CorpusOps.sourceDrift(Tables.load(s, d, "documents"), 1024)),
    // fastText-shaped linear domain classifier: fused hashed counts ×
    // integer weight matrix, argmax + margin in one codegen'd projection —
    // zero exchanges; a trained model swaps the weight literals only
    "text_domain_classify" -> q((s, d) => TextAnalysis.domainClassify(Tables.load(s, d, "documents"))),
    "text_fingerprints" -> q((s, d) => TextAnalysis.fingerprints(Tables.load(s, d, "documents"))),
    "text_winnow_fp" -> q((s, d) => TextAnalysis.winnowingFingerprints(Tables.load(s, d, "documents"))),
    // the composed curation chain: language filter -> quality filter ->
    // exact-dedup keep-one, as a scan-fused projection + one shuffle
    "curate_corpus" -> q((s, d) => Curation.curate(Tables.load(s, d, "documents"), "en", 0.7)),
    // --- corpus assembly (documents) ---
    // deterministic hash-sampled train/eval split (md5 cell, no rand())
    "corpus_split" -> q((s, d) => CorpusOps.splitAssignments(Tables.load(s, d, "documents"), 0.05)),
    // leakage-safe variant: the split hashes the near-dup CLUSTER label,
    // so near-duplicate families never straddle train/eval (a daily
    // pipeline feeds the PERSISTED label table instead of recomputing)
    "corpus_split_leakage_safe" -> q((s, d) => CorpusOps.leakageSafeSplit(
      Dedup.clusters(Tables.load(s, d, "documents"), 3, 0.8), 0.05)),
    // the PIPELINE form: the split hashes labels from the MAINTAINED
    // table — a zero-shuffle per-row predicate over the label relation
    // (history labels never cross an exchange, plan-pinned)
    "corpus_split_leakage_safe_indexed" -> q((s, d) => CorpusOps.leakageSafeSplit(
      Dedup.incrementalClusterLabels(s, d, 3, 0.8), 0.05)),
    // per-domain weighted downsampling; scan-fused per-row predicate
    "corpus_mix" -> q((s, d) => CorpusOps.mixCorpus(Tables.load(s, d, "documents"))),
    // train docs sharing >=1 word 8-gram with the eval split (broadcast
    // eval-gram probe: the train side never shuffles its text)
    "corpus_decontaminate" -> q((s, d) => CorpusOps.decontaminate(Tables.load(s, d, "documents"), 8, 0.05)),
    // token-budget shard packing via two-phase distributed prefix sum
    // (oracle computes the same running sum with one global window)
    "corpus_pack_shards" -> q((s, d) => CorpusOps.packShards(Tables.load(s, d, "documents"), 1000L, 32)),
    // GPT-style concat-and-chunk dataloader map: which token slices of
    // which docs make up each fixed 512-token training sequence (same
    // prefix sum as pack_shards + a bounded per-doc chunk explode)
    "corpus_chunk_map" -> q((s, d) => CorpusOps.chunkMap(Tables.load(s, d, "documents"), 512L, 32)),
    // temperature (α=1/2) domain rebalancing with DATA-DERIVED rates:
    // sqrt(min_tok/tok_s) per source, threshold built in-plan (sqrt is
    // correctly rounded in both engines, so rates agree bit-for-bit)
    "corpus_mix_temperature" -> q((s, d) => CorpusOps.mixCorpusTemperature(Tables.load(s, d, "documents"))),
    // deterministic global shuffle into dataloader shards: md5 rank →
    // shard = rank mod 8 + dense in-shard position, reproducible on any
    // cluster size (no rand(), no sampled range boundaries)
    "corpus_shuffle" -> q((s, d) => CorpusOps.shuffleShards(Tables.load(s, d, "documents"), 8)),
    // release manifest: per-source counts + order-independent bit_xor
    // content checksum — integrity check without re-reading text
    "corpus_manifest" -> q((s, d) => CorpusOps.manifest(Tables.load(s, d, "documents"))),
    // stratified round-robin interleaving: sources maximally spread in
    // the training order, per-source windows only — never a global sort
    "corpus_interleave" -> q((s, d) => CorpusOps.interleave(Tables.load(s, d, "documents"))),
    // DSIR data-selection weights (2302.03169): hashed-bigram importance
    // log-ratios vs the lang='en' target slice, model joins broadcast
    "corpus_dsir_weights" -> q((s, d) => CorpusOps.dsirWeights(Tables.load(s, d, "documents"), "en", 1024)),
    // epoch-weighted replication ("2.5 epochs of wiki"): scan-fused
    // copies projection + explode, zero exchanges
    "corpus_epochs" -> q((s, d) => CorpusOps.epochSample(Tables.load(s, d, "documents"))),
    // per-eval-doc contamination audit: distinct leaked 8-grams + the
    // worst-offending train doc; a 4-gram rate-0.2 split so the synthetic
    // corpus actually exhibits leakage at oracle scale
    "corpus_contamination_report" -> q((s, d) =>
      CorpusOps.contaminationReport(Tables.load(s, d, "documents"), 4, 0.2)),
    // exact top-quota-per-source by quality: rank-limit pushdown
    // (WindowGroupLimit) prunes map-side, so no reducer sees a whole source
    "corpus_quota_sample" -> q((s, d) => CorpusOps.quotaSample(Tables.load(s, d, "documents"), 25)),
    // corpus-version diff by content fingerprint: only 16-byte md5s cross
    // the wire for the full outer join; 4-row datasheet out
    "corpus_snapshot_diff" -> q((s, d) =>
      CorpusOps.snapshotDiffFixture(Tables.load(s, d, "documents"))),
    // Gopher-style first-failing-rule funnel: one fused scan projection,
    // every ratio rule decided in cross-multiplied BIGINTs, ≤6-row agg
    "corpus_filter_funnel" -> q((s, d) =>
      CorpusOps.filterFunnel(Tables.load(s, d, "documents"))),
    // the composed incremental-ingest gate: version diff -> funnel pass
    // -> fingerprint dedup vs the prior version, one plan, fp/hash-only
    // wide ops (text stays inside the scan predicate)
    "corpus_incremental_curation" -> q((s, d) =>
      CorpusOps.incrementalCuration(Tables.load(s, d, "documents"))),
    // Efraimidis–Spirakis weighted sampling without replacement (weight =
    // n_chars), deterministic md5 draw, TakeOrderedAndProject top-k
    "corpus_weighted_sample" -> q((s, d) =>
      CorpusOps.weightedSample(Tables.load(s, d, "documents"), 100)),
    // BPE tokenizer training: one corpus pass builds the vocab-bounded
    // word table, then m driver-iterated tiny-aggregate merge rounds
    "text_bpe_merges" -> q((s, d) =>
      TextAnalysis.bpeMerges(Tables.load(s, d, "documents"), 10)),
    // train + segment in one query: learned merges enter the plan as
    // literal patterns; the segmentation pass itself has zero exchanges
    "text_bpe_token_counts" -> q((s, d) =>
      TextAnalysis.bpeSegmentCounts(Tables.load(s, d, "documents"), 10)),
    // per-doc memorization-risk scalar: fraction of distinct 8-grams
    // unique to the doc corpus-wide; gram stream exchanged once
    // (ReusedExchange) as 8-byte hash longs
    "text_novelty" -> q((s, d) =>
      TextAnalysis.novelty(Tables.load(s, d, "documents"), 8)),
    // MERGE INTO semantics on plain parquet: squash changeset to latest-
    // per-key (max_by), one full-outer apply join, per-status datasheet
    // bucket-pruned batch face: the snapshot lives partitionBy(bucket),
    // the bucket-sparse daily shard merges only its touched directories,
    // and persisted per-bucket summaries restore the global datasheet —
    // per-batch cost ∝ touched buckets, never snapshot size
    "cdc_merge_apply_bucketed" -> q((s, d) =>
      Relational.cdcMergeApplyBucketed(s, d, 32)),
    "cdc_merge_apply" -> q((s, d) => Relational.cdcMergeApply(
      Tables.load(s, d, "orders"),
      Relational.cdcChangeset(Tables.load(s, d, "orders")))),
    // whole-row latest-wins UPSERT (the merge inside the streaming COW
    // snapshot sink, CdcSnapshot.applyUpsert, exposed as its pure batch
    // face): customers seed the snapshot at seq 0, each order is an
    // upsert of its customer's price keyed by orderkey-as-seq — per key
    // the highest-seq row wins, order-independent (max_by on unique seq)
    "cdc_upsert_latest" -> q((s, d) => {
      import org.apache.spark.sql.functions.{col, lit}
      graft.streaming.CdcSnapshot.upsertResult(
        Tables.load(s, d, "customer").select(
          col("c_custkey").as("key"), lit(0L).as("seq"),
          col("c_acctbal").as("price")),
        Tables.load(s, d, "orders").select(
          col("o_custkey").as("key"), col("o_orderkey").as("seq"),
          col("o_totalprice").as("price")))
    }),
    // the COMPOSED batch assembly chain in one plan: curate (fused
    // scoring + dedup keep-one, quality carried through) → per-source
    // quota (rank-limit pushdown) → split label; two exchanges total
    "corpus_assemble" -> q((s, d) => CorpusOps.assemble(Tables.load(s, d, "documents"))),
    // the per-source corpus datasheet: one fused scoring projection, one
    // grouped aggregate (per-source partials only on the wire)
    "corpus_stats" -> q((s, d) => CorpusOps.corpusStats(Tables.load(s, d, "documents"))),
    // the registered 100 TB variant: histogram-grid median, bounded agg
    // state (Spark's `percentile` buffers every group member; DuckDB's
    // approx_quantile would never hash-match — this is exact in both)
    "corpus_stats_scalable" -> q((s, d) => CorpusOps.corpusStatsScalable(Tables.load(s, d, "documents"))),
    // URL/email/digit-run scrub with per-pattern counts; spans injected
    // deterministically from base columns (the synthetic corpus has none)
    // so the query is data-effective AND oracle-checkable
    "text_scrub" -> q((s, d) => TextAnalysis.scrubbed(TextAnalysis.withInjectedSpans(Tables.load(s, d, "documents")))),
    // BM25 top-k for a fixed query-term list: corpus stats reduce to ONE
    // broadcast row, scoring is a scan-fused projection → TakeOrdered.
    // idf is the log-free odds-ratio form (ln is not bit-reproducible
    // across engines — see TextAnalysis.bm25TopK)
    "text_bm25" -> q((s, d) => TextAnalysis.bm25TopK(Tables.load(s, d, "documents"))),
    // feature-hash (hashing-trick) embedding, integer-only sparse sketch;
    // the dense L2-normalized variant is spec-tested engine-side
    "text_hash_embedding" -> q((s, d) => TextAnalysis.hashEmbeddingSketch(Tables.load(s, d, "documents"))),
    // same sketch from the FUSED native expression (zero exchanges) —
    // same oracle SQL: fusion must be invisible in the result
    "text_hash_embedding_fused" -> q((s, d) => TextAnalysis.hashEmbeddingSketchFused(Tables.load(s, d, "documents"))),
    // --- deduplication (documents / embeddings) ---
    "dedup_exact_groups" -> q((s, d) => Dedup.exactGroups(Tables.load(s, d, "documents"))),
    "dedup_exact" -> q((s, d) => Dedup.exactDedup(Tables.load(s, d, "documents"))),
    // daily-append dedup: new batch anti-joined against the persisted
    // BUCKETED fingerprint index — only the batch ever shuffles
    "dedup_incremental" -> q((s, d) => Dedup.incrementalIngest(s, d)),
    // near-dup twin of dedup_incremental: the batch probes the persisted
    // LSH band index (read pre-bucketed), signature-estimate verified
    "dedup_indexed_matches" -> q((s, d) => Dedup.indexedNearDupMatches(s, d, 3, 0.8)),
    "dedup_minhash_sigs" -> q((s, d) => Dedup.minhashSignaturesStr(Tables.load(s, d, "documents"))),
    "dedup_lsh_pairs" -> q((s, d) => Dedup.minhashLshPairs(Tables.load(s, d, "documents"), 3, 0.8)),
    "dedup_jaccard_pairs" -> q((s, d) => Dedup.jaccardPairs(Tables.load(s, d, "documents"), 3, 0.8)),
    // char-gram exact jaccard at n=7/t=0.9: 7-grams keep the oracle's
    // full posting self-join tractable in DuckDB (measured 85 s at
    // sf0.1; n=5's hotter grams cost ~2x) — the Spark side prefix-filters
    // and is parameter-insensitive
    // auto-sliced past 65k docs (disjoint build-side slices, value-
    // identical union) — the exact PPJoin form's 100x path
    "dedup_char_jaccard_pairs" -> q((s, d) => Dedup.charJaccardPairsAuto(Tables.load(s, d, "documents"), 7, 0.9)),
    // bounded-output twin over the char-gram jaccard relation (the family
    // whose pair forms exhausted shuffle disk at 100×): component labels
    // with exact-collapse-first, so duplicate families cost one
    // representative in the posting chain and k label rows out
    "dedup_char_jaccard_clusters" -> q((s, d) => Dedup.charJaccardClusters(Tables.load(s, d, "documents"), 7, 0.9)),
    // the AT-SCALE twin of the cluster labels: edges from the banded
    // char-LSH gate (auto band width, constant-work signature verify)
    // instead of the exact PPJoin relation — candidate volume is band
    // collisions, never shared-hot-gram postings, so the intermediates
    // stay linear on the fixed-vocabulary corpus that disk-capped the
    // exact twin at 100x
    "dedup_char_jaccard_clusters_lsh" -> q((s, d) => Dedup.charLshClusters(Tables.load(s, d, "documents"), 7, 0.9)),
    "dedup_simhash" -> q((s, d) => Dedup.simhashSignatures(Tables.load(s, d, "documents"))),
    // pigeonhole block joins (Manku et al. WWW'07): hamming<=3 pairs via
    // 4 equality self-joins + popcount verify — never an all-pairs distance
    "dedup_simhash_pairs" -> q((s, d) => Dedup.simhashPairs(Tables.load(s, d, "documents"), 3)),
    // transitive near-dup clusters: min-label propagation to fixpoint
    // over the LSH pair graph (oracle: recursive-CTE transitive closure)
    "dedup_clusters" -> q((s, d) => Dedup.clusters(Tables.load(s, d, "documents"), 3, 0.8)),
    // adversarial long-chain component (diameter ~N/4) on the O(log d)
    // pointer-jumping loop — the plain O(d) loop would take ~60 rounds
    // at sf0.01 where this takes ~8
    "dedup_clusters_chain" -> q((s, d) => Dedup.clusters(Dedup.chainedDocs(Tables.load(s, d, "documents")), 3, 0.8)),
    // one surviving doc per near-dup cluster, chosen by token count
    // (RefinedWeb keep-the-longest policy), not min id
    "dedup_cluster_reps" -> q((s, d) => Dedup.clusterRepresentatives(Tables.load(s, d, "documents"), 3, 0.8)),
    // incremental cluster maintenance: today's batch (doc_id%10>=8)
    // updates yesterday's PERSISTED label table via band-index probe +
    // contracted-component merge — untouched history passes through
    // unshuffled; oracle = the full-recompute closure over all docs
    "dedup_clusters_incremental" -> q((s, d) => Dedup.incrementalClusterLabels(s, d, 3, 0.8)),
    // LSH-level train/eval decontamination: near-dup leakage that shares
    // few exact 8-grams still surfaces via signature similarity
    "corpus_decontaminate_fuzzy" -> q((s, d) => Dedup.fuzzyDecontaminate(Tables.load(s, d, "documents"), 3, 0.8)),
    // 16 bands x 16 planes/band: each band's buckets stay tiny (population
    // ∝ n/65536 — near-linear self-join at any scale) and the union over
    // bands recovers recall. threshold=0.35 sized to the testdata's cosine
    // distribution (max pairwise cos ≈ 0.51 at sf0.01): the banding emits a
    // small but non-empty verified pair set at both sf0.01 and sf0.1.
    "dedup_embedding_pairs" -> q((s, d) => Dedup.embeddingNearDupPairs(Tables.load(s, d, "embeddings"), 16, 16, 64, 0.35)),
    // SEMANTIC near-dups from RAW TEXT: fused feature-hash counts →
    // banded SRP → exact-cosine verify. Integer-exact end to end (the
    // ±1 dots are integer sums; sqrt is correctly rounded in both
    // engines), so the whole composed chain is oracle-checkable.
    // 8×16 banding: 10× fewer candidates than 8×8 on this corpus at
    // identical recall of the ≥0.95 pairs.
    "dedup_semantic_pairs" -> q((s, d) => Dedup.semanticPairs(Tables.load(s, d, "documents"), 8, 16, 64, 0.95)),
    // BOUNDED-OUTPUT twin of dedup_semantic_pairs: one labeled row per
    // doc instead of quadratic pairs; exact bag-of-words duplicates
    // collapse before the SRP self-join (provably closure-preserving —
    // the oracle clusters the UNCOLLAPSED pair graph)
    "dedup_semantic_clusters" -> q((s, d) => Dedup.semanticClusters(Tables.load(s, d, "documents"), 8, 16, 64, 0.95)),
    // bounded-output twin of dedup_edit_pairs on the SAME skewed fixture
    // whose boilerplate tiers make the pair output grow quadratically:
    // identical texts collapse to one representative before the gated DP
    "dedup_edit_clusters" -> q((s, d) => Dedup.editClusters(Dedup.skewedDocs(Tables.load(s, d, "documents")), 5, 0.8, 2)),
    // --- multimodal (binary payloads + typed metadata over documents) ---
    "mm_asset_stats" -> q((s, d) =>
      Multimodal.assetStats(Multimodal.assetsFromDocuments(Tables.load(s, d, "documents")))),
    "mm_frame_sample" -> q((s, d) =>
      Multimodal.frameSample(Multimodal.assetsFromDocuments(Tables.load(s, d, "documents")), 10000L)),
    "mm_resize" -> q((s, d) =>
      Multimodal.resize(Multimodal.assetsFromDocuments(Tables.load(s, d, "documents")), 640, 360)
        .select(col("asset_id"), col("kind"), col("meta.width").as("width"), col("meta.height").as("height"))),
    "mm_decode_features" -> q((s, d) => Multimodal.decodedFeatures(Tables.load(s, d, "documents"))),
    // REAL image decode: the persisted fixture holds actual PNG/BMP bytes
    // (deterministic pixels); the engine decodes them with javax.imageio
    // and sums the raster — the oracle recomputes the sums from the
    // closed-form pixel formula (lossless codecs ⇒ exactly equal)
    "mm_image_decode" -> q((s, d) =>
      Multimodal.decodeImageStats(Multimodal.imageAssetsTable(s, d)).toDF()),
    // real pixel resample on the decoded raster (nearest-neighbour 16x12)
    "mm_image_resample" -> q((s, d) =>
      Multimodal.resampleImageStats(Multimodal.imageAssetsTable(s, d), 16, 12).toDF()),
    // 56-bit perceptual difference hash from the DECODED raster — the
    // oracle recomputes it from the closed-form pixels, so a hash match
    // proves the real decode + integer resample chain
    "mm_image_dhash" -> q((s, d) =>
      Multimodal.imageDHash(Multimodal.imageAssetsTable(s, d)).toDF()),
    // perceptual dedup groups over the dhash (grouped shape — pairs
    // would go quadratic inside gradient-collision classes)
    "mm_image_dhash_groups" -> q((s, d) =>
      Multimodal.imageDHashGroups(Multimodal.imageAssetsTable(s, d))),
    // REAL WAV decode: AudioSystem parses the RIFF container and streams
    // 16-bit PCM frames; integer sample stats vs the closed-form oracle
    "mm_audio_decode" -> q((s, d) =>
      Multimodal.decodeAudioStats(Multimodal.audioAssetsTable(s, d)).toDF()),
    // temporal features over decoded samples: lag autocorrelations +
    // energy, integer-exact vs the closed-form oracle
    "mm_audio_autocorr" -> q((s, d) =>
      Multimodal.decodeAudioAutocorr(Multimodal.audioAssetsTable(s, d)).toDF()),
    // frame-sampled video decode: custom demux (no JDK video container),
    // REAL per-frame PNG decode; skipped frames skip cheaply (no decode)
    "mm_video_frames" -> q((s, d) =>
      Multimodal.decodeFrameStats(Multimodal.videoAssetsTable(s, d), 2).toDF()),
    // --- similarity search (embeddings) ---
    "sim_topk_bruteforce" -> q((s, d) => Similarity.bruteForceTopK(Tables.load(s, d, "embeddings"), 0L, 20)),
    // int8-quantized storage path: 4x smaller vectors; scales cancel in
    // cosine so the score is pure integer math (oracle-bit-exact)
    "sim_topk_quantized" -> q((s, d) => Similarity.quantizedTopK(Tables.load(s, d, "embeddings"), 0L, 20)),
    "sim_ann_topk" -> q((s, d) => Similarity.annTopK(Tables.load(s, d, "embeddings"), 0L, 20, 4, 64)),
    // radius query: EVERY vector above the similarity threshold — the
    // dedup/policy-gate shape a top-k cutoff silently truncates
    "sim_range_search" -> q((s, d) => Similarity.rangeSearch(Tables.load(s, d, "embeddings"), 0L, 0.2, 4, 64)),
    // persisted-index variant: same rows as sim_ann_topk, but the scan is
    // dynamically pruned to the query's bucket directory
    "sim_ann_topk_partitioned" -> q((s, d) => Similarity.annTopKPartitioned(s, d, 0L, 20, 4, 64)),
    "sim_bucket_histogram" -> q((s, d) => Similarity.bucketHistogram(Tables.load(s, d, "embeddings"))),
    // cached form: Lloyd training runs once at centroid-table build, not
    // per probe — values identical to in-query training (deterministic)
    "sim_ivf_topk" -> q((s, d) => Similarity.ivfTopKCached(s, d, 0L, 20, 16, 4)),
    // persisted IVF index: same rows as sim_ivf_topk, the scan reads
    // nprobe of numCentroids list directories via dynamic pruning
    "sim_ivf_topk_partitioned" -> q((s, d) => Similarity.ivfTopKPartitioned(s, d, 0L, 20, 16, 4)),
    // SAMPLED training: Lloyd rounds see only the deterministic
    // vec_id % 4 == 0 slice (the prescribed form past ~2^33 training
    // rows); the oracle trains the identical slice
    "sim_ivf_topk_sampled" -> q((s, d) => Similarity.ivfTopKSampled(Tables.load(s, d, "embeddings"), 0L, 20, 16, 4, 2, 4)),
    // index maintenance: today's batch assigned with the persisted
    // centroids and unioned with yesterday's lists — append == rebuild
    "sim_ivf_incremental" -> q((s, d) => Similarity.ivfIncrementalTopK(s, d, 0L, 20, 16, 4)),
    // approximate kNN SELF-join: every vector's top-3 neighbours from
    // banded-SRP candidates, exact-cosine ranked per vector. The band
    // width is corpus-size-ADAPTIVE: p = max(8, ceil(log2(n/8))) keeps
    // per-band bucket population flat as the corpus grows (round 8's
    // ScaleBench measured the fixed-width form 21x superlinear at 10x
    // rows; adaptive measures ~2x). At the oracle scales (n <= 2048) the
    // adaptive width floors to p = 8, so the fixed-parameter SQL below is
    // the exact oracle. The fixed-width form stays spec-level only
    // (DedupSimilaritySpec) as the contrast case.
    "sim_knn_join" -> q((s, d) => Similarity.knnJoinAuto(Tables.load(s, d, "embeddings"), 3, 8, 8, 64)),
    // PRODUCT QUANTIZATION: 16 subspace codebooks (16 codewords each,
    // trained by the shared integer Lloyd), 16-byte codes per vector
    // (16x compression), ADC scoring = m table lookups per vector
    "sim_topk_pq" -> q((s, d) => Similarity.pqTopK(Tables.load(s, d, "embeddings"), 0L, 20, 16, 16, 2, 64)),
    // IVFADC composed: coarse quantizer routes to nprobe lists, PQ codes
    // + ADC score only the listed vectors — the billion-scale serving
    // architecture (scan nprobe/K of the corpus at 16x compression)
    "sim_ivfpq_topk" -> q((s, d) => Similarity.ivfPqTopK(Tables.load(s, d, "embeddings"), 0L, 20, 16, 4, 16, 16, 2, 64)),
    // SemDeDup (arXiv:2303.09540): pairwise cosine only WITHIN each
    // trained IVF cluster — candidate volume Σ|cluster|²/2, never n²/2;
    // keep-first rule; reuses the persisted centroid table
    "corpus_semdedup" -> q((s, d) => Similarity.semDedup(s, d, 16, 2, 0.4)),
    // SSL-prototypes / D4 density pruning: drop the 20% most
    // centroid-hugging members of every cluster (zero-shuffle assignment
    // + per-cluster window; the one exchange is cluster-width-bounded)
    "corpus_prune_prototypes" -> q((s, d) => Similarity.prunePrototypes(s, d, 16, 2, 0.2)),
  )

  /** DuckDB-equivalent SQL per query (same parquet tables, same column
    * names — the driver sorts columns by name before hashing).
    */
  def oracleSql: Map[String, String] = Map(
    "ref_projection" ->
      """SELECT event_id, user_id, event_type,
         strftime(ts, '%Y-%m-%d') AS dt,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS dt_full
         FROM events""",
    "ref_jovens_filter" ->
      """SELECT event_id, user_id, event_type,
         strftime(ts, '%Y-%m-%d') AS dt,
         strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS dt_full
         FROM events WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-15'""",
    "ref_case_class" ->
      """SELECT event_id, user_id, event_type,
         CASE WHEN strftime(ts, '%Y-%m-%d') >= '2024-01-15' THEN 'JOVEM' ELSE 'ADULTO' END AS idadecat
         FROM events""",
    "ref_window_count" ->
      """SELECT strftime(time_bucket(INTERVAL 30 SECONDS, ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS window_start,
         CASE WHEN strftime(ts, '%Y-%m-%d') >= '2024-01-15' THEN 'JOVEM' ELSE 'ADULTO' END AS idadecat,
         count(*) AS contagem
         FROM events GROUP BY 1, 2""",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(12,4)) + CAST(l_tax AS DECIMAL(12,4))) AS DECIMAL(20,6))) AS DOUBLE) AS sum_charge,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / count(*) AS avg_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) / count(*) AS avg_price,
         CAST(sum(CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) / count(*) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q6_forecast" ->
      """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(l_discount AS DECIMAL(12,4)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "join_orders_by_region" ->
      """SELECT r_name, count(*) AS order_cnt,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS revenue
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "join_revenue_by_status" ->
      """SELECT o_orderstatus,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         count(*) AS line_cnt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus""",
    "join_revenue_by_status_bucketed" ->
      """SELECT o_orderstatus,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         count(*) AS line_cnt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus""",
    "agg_incremental_revenue" ->
      """SELECT o_orderstatus,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         count(*) AS line_cnt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus""",
    "q3_shipping" ->
      """SELECT l_orderkey,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
    "q5_local_supplier" ->
      """SELECT n_name,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name""",
    "topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "distinct_user_types" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "window_fn_user_rank" ->
      """SELECT * FROM (
           SELECT event_id, user_id, event_type,
             row_number() OVER w AS rn,
             lag(event_type, 1) OVER w AS prev_type,
             CAST(sum(CAST(value AS DECIMAL(12,4))) OVER w AS DOUBLE) AS running_value
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
         ) WHERE rn <= 5""",
    "rollup_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
    "semi_join_open_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""",
    "anti_join_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "union_acctbal" ->
      """SELECT kind, count(*) AS cnt, CAST(sum(CAST(acctbal AS DECIMAL(12,4))) AS DOUBLE) AS total_bal
         FROM (
           SELECT 'customer' AS kind, c_acctbal AS acctbal FROM customer
           UNION ALL
           SELECT 'supplier' AS kind, s_acctbal AS acctbal FROM supplier
         ) GROUP BY kind""",
    "cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    "zorder_key" -> OracleSqlGen.zorderKeySql,
    "zorder_pruned_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders
         WHERE o_custkey BETWEEN 100 AND 499
           AND o_totalprice >= 10000.0 AND o_totalprice <= 150000.0""",
    "json_props_stats" ->
      """SELECT event_type,
         CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
         count(*) AS cnt,
         CAST(sum(CAST(props->>'k' AS BIGINT)) AS DOUBLE) / count(*) AS avg_k
         FROM events GROUP BY event_type""",
    "intersect_users" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'error'""",
    "except_users" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
         EXCEPT
         SELECT user_id FROM events
         WHERE event_type = 'error' AND ts >= TIMESTAMP '2024-01-29'""",
    "join_salted_revenue" ->
      """SELECT o_orderstatus,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(12,4)) - CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         count(*) AS line_cnt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus""",
    "join_bloom_filtered" ->
      """SELECT o_orderpriority, count(*) AS order_cnt,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'AUTOMOBILE'
         GROUP BY o_orderpriority""",
    "sketch_distinct_kmv" -> OracleSqlGen.kmvDistinctSql(256),
    "sketch_heavy_hitters" -> OracleSqlGen.cmsHeavyHittersSql(4, 64, 10),
    "corpus_compact" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",
    "sketch_group_kmv" -> OracleSqlGen.kmvDistinctByGroupSql(64),
    "sketch_corpus_overlap" -> OracleSqlGen.kmvOverlapSql(8, 0.05, 256),
    "stats_group_p95" ->
      """WITH b AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS bucket,
           count(*) AS cnt FROM events GROUP BY 1, 2),
         c AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(cnt) OVER (PARTITION BY event_type) AS n FROM b)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           round(min(bucket)::DOUBLE / 100, 2) AS quantile_value
         FROM c WHERE cum >= ceil(0.95 * n) GROUP BY event_type""",
    "stats_group_corr" ->
      """WITH v AS (SELECT event_type,
           CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS x,
           CAST(hour(ts) AS BIGINT) AS y FROM events),
         a AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
           CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
           CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
           CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
           CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
           CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS syy
           FROM v GROUP BY event_type)
         SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 THEN NULL
                ELSE round((n * sxy - sx * sy)::DOUBLE /
                  (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)), 4)
           END AS corr_r
         FROM a""",
    // HUGEINT (int128) carries the same exact integer arithmetic the
    // Spark side does in decimal(38,0); both fit the < 1e36 bound
    "events_anomalies" ->
      """WITH v AS (SELECT event_id, event_type,
           CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vq FROM events),
         st AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
           CAST(sum(CAST(vq AS HUGEINT)) AS HUGEINT) AS s,
           CAST(sum(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT)) AS HUGEINT) AS q2
           FROM v GROUP BY event_type)
         SELECT event_id, event_type, vq FROM v JOIN st USING (event_type)
         WHERE (n * vq - s) * (n * vq - s) > 9 * (n * q2 - s * s)""",
    "stats_quantiles" ->
      """SELECT o_orderstatus,
         round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
         round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
         count(*) AS cnt
         FROM orders GROUP BY o_orderstatus""",
    "pivot_user_events" ->
      """SELECT user_id,
         count(*) FILTER (event_type = 'click') AS click,
         count(*) FILTER (event_type = 'view') AS view,
         count(*) FILTER (event_type = 'purchase') AS purchase,
         count(*) FILTER (event_type = 'signup') AS signup,
         count(*) FILTER (event_type = 'error') AS error
         FROM events GROUP BY user_id""",
    "dedup_char_lsh" -> OracleSqlGen.charLshPairsSql(5, 0.8),
    "dedup_char_lsh_skewed" -> OracleSqlGen.charLshPairsSkewedSql(5, 0.8),
    "dedup_edit_pairs" -> OracleSqlGen.editPairsSkewedSql(5, 0.8, 2),
    // gate-invariant at oracle scale: the recall-floor cap only binds
    // past RebandAt, so the oracle is the same exact-verify relation
    "dedup_edit_pairs_recall_floor" -> OracleSqlGen.editPairsSkewedSql(5, 0.8, 2),
    "dedup_containment" -> OracleSqlGen.containmentPairsSql(3, 0.9),
    "dedup_containment_report" -> OracleSqlGen.containmentReportDirSql(3, 0.9),
    "dedup_containment_report_lsh" -> OracleSqlGen.containmentReportLshSql(3, 0.9),
    "dedup_containment_incremental" -> OracleSqlGen.containmentReportDirSql(3, 0.9),
    "dedup_funnel_report" -> OracleSqlGen.dedupFunnelSql(3, 0.8),
    "dedup_family_stats" -> OracleSqlGen.familyStatsSql(3, 0.8),
    // the maintained-label form computes the SAME closure (the
    // incremental merge is oracle-equal to the full recompute, the
    // dedup_clusters_incremental contract), so the oracle is unchanged
    "dedup_family_stats_indexed" -> OracleSqlGen.familyStatsSql(3, 0.8),
    "dedup_substring_spans" -> OracleSqlGen.dupSpansSql(30),
    "dedup_substring_removed" -> OracleSqlGen.substringRemovedSql(30),
    "dedup_paragraphs" -> OracleSqlGen.paragraphDedupSql,
    "dedup_boilerplate" -> OracleSqlGen.boilerplateRemovedSql(10),
    "dedup_char_jaccard_pairs" -> OracleSqlGen.charJaccardPairsSql(7, 0.9),
    "dedup_char_jaccard_clusters" -> OracleSqlGen.charJaccardClustersSql(7, 0.9),
    "dedup_char_jaccard_clusters_lsh" -> OracleSqlGen.charLshClustersSql(7, 0.9),
    "asof_attribution" -> OracleSqlGen.asofAttributionSql,
    "asof_attribution_tol" -> OracleSqlGen.asofAttributionWithinSql(600),
    "session_counts" -> OracleSqlGen.sessionCountsSql(5),
    "hopping_counts" -> OracleSqlGen.hoppingCountsSql(60, 30),
    "range_join_prior_activity" -> OracleSqlGen.priorActivitySql(300000000L),
    // text analysis + dedup + similarity oracles are generated from the
    // same constants the Spark plans use — see OracleSqlGen.
    "text_language_id" -> OracleSqlGen.languageIdSql,
    "text_quality" -> OracleSqlGen.qualitySql,
    "text_repetition" -> OracleSqlGen.repetitionSignalsSql,
    "text_token_histogram" -> OracleSqlGen.tokenHistogramSql,
    "text_token_rarity" -> OracleSqlGen.tokenRaritySql,
    "text_tfidf_keywords" -> OracleSqlGen.tfidfKeywordsSql(3),
    "text_surprisal" -> OracleSqlGen.unigramSurprisalSql,
    "text_bigram_surprisal" -> OracleSqlGen.bigramSurprisalSql,
    "text_vocabulary" -> OracleSqlGen.vocabularySql(256),
    "corpus_source_drift" -> OracleSqlGen.sourceDriftSql(1024),
    "text_domain_classify" -> OracleSqlGen.domainClassifySql(64, 4),
    "text_fingerprints" -> OracleSqlGen.fingerprintsSql,
    "text_winnow_fp" -> OracleSqlGen.winnowingSql(5, 4),
    "curate_corpus" -> OracleSqlGen.curateSql("en", 0.7),
    "corpus_split" -> OracleSqlGen.splitAssignmentsSql(0.05),
    "corpus_split_leakage_safe" -> OracleSqlGen.leakageSafeSplitSql(3, 0.8, 0.05),
    "corpus_split_leakage_safe_indexed" -> OracleSqlGen.leakageSafeSplitSql(3, 0.8, 0.05),
    "corpus_mix" -> OracleSqlGen.mixCorpusSql(),
    "corpus_decontaminate" -> OracleSqlGen.decontaminateSql(8, 0.05),
    "corpus_pack_shards" -> OracleSqlGen.packShardsSql(1000L),
    "corpus_chunk_map" -> OracleSqlGen.chunkMapSql(512L),
    "corpus_mix_temperature" -> OracleSqlGen.mixCorpusTemperatureSql(),
    "corpus_shuffle" -> OracleSqlGen.shuffleShardsSql(8),
    "corpus_interleave" -> OracleSqlGen.interleaveSql(),
    "corpus_manifest" -> OracleSqlGen.manifestSql,
    "corpus_dsir_weights" -> OracleSqlGen.dsirWeightsSql("en", 1024),
    "corpus_epochs" -> OracleSqlGen.epochSampleSql(),
    "corpus_contamination_report" -> OracleSqlGen.contaminationReportSql(4, 0.2),
    "corpus_quota_sample" -> OracleSqlGen.quotaSampleSql(25),
    "corpus_snapshot_diff" -> OracleSqlGen.snapshotDiffSql,
    "corpus_filter_funnel" -> OracleSqlGen.filterFunnelSql,
    "corpus_weighted_sample" -> OracleSqlGen.weightedSampleSql(100),
    "corpus_incremental_curation" -> OracleSqlGen.incrementalCurationSql,
    "cdc_merge_apply" -> OracleSqlGen.cdcMergeSql,
    "cdc_merge_apply_bucketed" -> OracleSqlGen.cdcMergeSparseSql(32, 2),
    "cdc_upsert_latest" ->
      """WITH ch AS (SELECT o_custkey AS key, o_orderkey AS seq,
                 o_totalprice AS price FROM orders),
              l AS (SELECT key, max(seq) AS seq,
                 arg_max(price, seq) AS price FROM ch GROUP BY key)
         SELECT c.c_custkey AS key,
                CAST(coalesce(l.seq, 0) AS BIGINT) AS seq,
                coalesce(l.price, c.c_acctbal) AS price
         FROM customer c LEFT JOIN l ON c.c_custkey = l.key""",
    "text_bpe_merges" -> OracleSqlGen.bpeMergesSql(10),
    "text_bpe_token_counts" -> OracleSqlGen.bpeSegmentCountsSql(10),
    "text_novelty" -> OracleSqlGen.noveltySql(8),
    "corpus_assemble" -> OracleSqlGen.assembleSql("en", 0.7, 25, 0.05),
    "corpus_stats" -> OracleSqlGen.corpusStatsSql,
    "corpus_stats_scalable" -> OracleSqlGen.corpusStatsScalableSql(10000),
    "text_scrub" -> OracleSqlGen.textScrubSql,
    "text_bm25" -> OracleSqlGen.bm25TopKSql(),
    "text_hash_embedding" -> OracleSqlGen.hashEmbeddingSketchSql(64),
    "text_hash_embedding_fused" -> OracleSqlGen.hashEmbeddingSketchSql(64),
    "dedup_exact_groups" -> OracleSqlGen.exactGroupsSql,
    "dedup_exact" -> OracleSqlGen.exactDedupSql,
    "dedup_incremental" -> OracleSqlGen.incrementalIngestSql,
    "dedup_indexed_matches" -> OracleSqlGen.indexedNearDupSql(3, 0.8),
    "dedup_minhash_sigs" -> OracleSqlGen.minhashSigSql(3),
    "dedup_lsh_pairs" -> OracleSqlGen.lshPairsSql(3, 0.8),
    "dedup_jaccard_pairs" -> OracleSqlGen.jaccardPairsSql(3, 0.8),
    "dedup_simhash" -> OracleSqlGen.simhashSql,
    "dedup_simhash_pairs" -> OracleSqlGen.simhashPairsSql(3),
    "dedup_clusters" -> OracleSqlGen.clustersSql(3, 0.8),
    // the increment must land exactly on the full-recompute closure —
    // same oracle as dedup_clusters, driven through the persisted-state
    // update path instead
    "dedup_clusters_incremental" -> OracleSqlGen.clustersSql(3, 0.8),
    "dedup_clusters_chain" -> OracleSqlGen.clustersChainSql(3, 0.8),
    "dedup_cluster_reps" -> OracleSqlGen.clusterRepsSql(3, 0.8),
    "corpus_decontaminate_fuzzy" -> OracleSqlGen.fuzzyDecontaminateSql(3, 0.8),
    "dedup_embedding_pairs" -> OracleSqlGen.embeddingNearDupSql(16, 16, 64, 0.35),
    "dedup_semantic_pairs" -> OracleSqlGen.semanticPairsSql(8, 16, 64, 0.95),
    "dedup_semantic_clusters" -> OracleSqlGen.semanticClustersSql(8, 16, 64, 0.95),
    "dedup_edit_clusters" -> OracleSqlGen.editClustersSql(5, 0.8, 2),
    "mm_asset_stats" -> OracleSqlGen.assetStatsSql,
    "mm_frame_sample" -> OracleSqlGen.frameSampleSql(10000L),
    "mm_resize" -> OracleSqlGen.resizeSql(640, 360),
    "mm_decode_features" -> OracleSqlGen.decodeFeaturesSql(operators.Multimodal.EmbDims),
    "mm_image_decode" -> OracleSqlGen.imageDecodeSql,
    "mm_image_resample" -> OracleSqlGen.imageResampleSql(16, 12),
    "mm_image_dhash" -> OracleSqlGen.imageDHashSql,
    "mm_image_dhash_groups" -> OracleSqlGen.imageDHashGroupsSql,
    "mm_audio_decode" -> OracleSqlGen.audioDecodeSql,
    "mm_audio_autocorr" -> OracleSqlGen.audioAutocorrSql,
    "mm_video_frames" -> OracleSqlGen.videoFramesSql(2),
    "sim_topk_bruteforce" -> OracleSqlGen.bruteForceTopKSql(0L, 20, 64),
    "sim_topk_quantized" -> OracleSqlGen.quantizedTopKSql(0L, 20, 64),
    "sim_ann_topk" -> OracleSqlGen.annTopKSql(0L, 20, 4, 64),
    "sim_range_search" -> OracleSqlGen.rangeSearchSql(0L, 0.2, 4, 64),
    "sim_ann_topk_partitioned" -> OracleSqlGen.annTopKSql(0L, 20, 4, 64),
    "sim_bucket_histogram" -> OracleSqlGen.bucketHistogramSql(8, 64),
    "sim_ivf_topk" -> OracleSqlGen.ivfTopKSql(0L, 20, 16, 4, 64),
    "sim_ivf_topk_partitioned" -> OracleSqlGen.ivfTopKSql(0L, 20, 16, 4, 64),
    "sim_ivf_topk_sampled" -> OracleSqlGen.ivfTopKSql(0L, 20, 16, 4, 64, 2, 4),
    "sim_ivf_incremental" -> OracleSqlGen.ivfTopKSql(0L, 20, 16, 4, 64),
    "sim_knn_join" -> OracleSqlGen.knnJoinSql(3, 8, 8, 64),
    "sim_topk_pq" -> OracleSqlGen.pqTopKSql(0L, 20, 16, 16, 2, 64),
    "sim_ivfpq_topk" -> OracleSqlGen.ivfPqTopKSql(0L, 20, 16, 4, 16, 16, 2, 64),
    "corpus_semdedup" -> OracleSqlGen.semDedupSql(16, 2, 64, 0.4),
    "corpus_prune_prototypes" -> OracleSqlGen.prunePrototypesSql(16, 2, 64, 0.2),
  )
}
