package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Corpus-assembly operators for a training-data pipeline: deterministic
  * sampling (train/eval split, per-domain mixing), eval-set decontamination,
  * and token-budget shard packing (north-star extension surface — not in
  * the reference, which has no batch corpus operators at all; see
  * `/root/reference/README.md:204-277` for its entire query surface).
  *
  * Design rules shared by every operator here:
  *
  *  - **Determinism over randomness.** `rand()` would make the result
  *    unreproducible run-to-run and unverifiable against the DuckDB oracle;
  *    every sampling decision derives from `md5(salt ":" doc_id)`, so the
  *    same document lands in the same split/sample on every run, on any
  *    cluster size, in any engine that agrees on md5 (exactly the property
  *    a 100 TB pipeline needs to resume/backfill without reshuffling the
  *    world).
  *  - **No single-reducer stages.** The one operator that semantically
  *    needs a GLOBAL ordering (shard packing's running token sum) is built
  *    as a two-phase distributed prefix sum — per-range-partition window
  *    plus a broadcast of the tiny per-partition offsets — never a
  *    single-partition `Window.orderBy` over the corpus.
  */
object CorpusOps {

  // -------------------------------------------------------------------
  // Deterministic hash sampling
  // -------------------------------------------------------------------

  /** Threshold for "keep with probability `rate`" over the first 8 hex
    * chars of an md5: a rate-r sample keeps rows whose 8-hex-digit cell is
    * lexicographically below `floor(r * 16^8)` rendered as 8 lower-case
    * hex digits. Rates >= 1 map to "g" — greater than every hex digit
    * string, so the comparison keeps everything (and rates <= 0 map to
    * "00000000", which keeps nothing). Hex-string comparison is identical
    * byte-wise in the JVM and DuckDB, so the oracle reproduces the exact
    * sample.
    */
  def hexThreshold(rate: Double): String =
    if (rate >= 1.0) "g"
    else if (rate <= 0.0) "00000000"
    else f"${(rate * 4294967296.0).toLong}%08x"

  /** The sampling cell: first 8 hex chars of md5("salt:id"). */
  def hexCell(id: Column, salt: String): Column =
    substring(md5(concat(lit(salt + ":"), id.cast("string"))), 1, 8)

  /** Deterministic train/eval split assignment: (doc_id, split). The salt
    * isolates this decision from every other sampled decision in the
    * pipeline (mixing, subsampling) — re-using one hash for two decisions
    * correlates them.
    */
  def splitAssignments(docs: DataFrame, evalRate: Double,
                       salt: String = "split"): DataFrame =
    docs.select(col("doc_id"),
      when(hexCell(col("doc_id"), salt) < lit(hexThreshold(evalRate)), lit("eval"))
        .otherwise(lit("train")).as("split"))

  /** LEAKAGE-SAFE train/eval split: the assignment hashes the near-dup
    * CLUSTER label instead of the document id, so every member of a
    * near-duplicate family lands in the SAME split — the train/test
    * contamination guard [[splitAssignments]] cannot give (a doc and its
    * near-copy split independently put paraphrases of eval data in
    * train). `labels` is any (doc_id, cluster_id) relation —
    * [[graft.operators.Dedup.clusters]] for a from-scratch run, or the
    * persisted table [[graft.operators.Dedup.incrementalClusterLabels]]
    * maintains in a daily pipeline, where this op then adds ZERO work
    * beyond a scan: the split is a per-row hash predicate on the label
    * column, no shuffle, no state.
    *
    * Contract (spec-pinned): a singleton cluster has cluster_id ==
    * doc_id, so under the same salt its assignment is IDENTICAL to
    * [[splitAssignments]] — the leakage-safe split differs from the
    * naive one ONLY for documents inside multi-doc near-dup families.
    *
    * Over STREAMING provisional labels
    * ([[graft.streaming.Pipelines.streamingClusterLabels]]) the
    * assignment is exactly as provisional as the label: the nightly
    * merge only ever lowers a label, which can flip the split — a
    * routing decision is final precisely when the label is (final for
    * every doc whose component gained no same-batch near-dup, the
    * day+night composition spec's pinned refinement scope).
    */
  def leakageSafeSplit(labels: DataFrame, evalRate: Double,
                       salt: String = "split"): DataFrame =
    labels.select(col("doc_id"), col("cluster_id"),
      when(hexCell(col("cluster_id"), salt) < lit(hexThreshold(evalRate)),
        lit("eval")).otherwise(lit("train")).as("split"))

  /** Default per-domain mixing weights for the registered query: exercise
    * keep-all, heavy/light downsampling, and the default in one plan.
    * [[graft.OracleSqlGen.mixCorpusSql]] renders its CASE expression from
    * THIS map, so plan and oracle cannot drift.
    */
  val defaultMixWeights: Seq[(String, Double)] = Seq(
    "src0" -> 1.0, "src1" -> 0.25, "src2" -> 0.1, "src3" -> 0.75)
  val defaultMixRate = 0.5

  /** Per-domain weighted corpus mixing: keep each document with its
    * domain's probability, deterministically. This is the "2 epochs of
    * wiki, 0.3 of web" knob of a training-data pipeline (downsampling
    * half of it — upsampling is a copy, not a filter). Pure per-row
    * predicate on base columns: fuses into the scan, no shuffle, no
    * driver participation — embarrassingly parallel at any corpus size.
    */
  def mixCorpus(docs: DataFrame,
                weights: Seq[(String, Double)] = defaultMixWeights,
                defaultRate: Double = defaultMixRate,
                salt: String = "mix"): DataFrame = {
    val thr = weights.foldLeft(lit(hexThreshold(defaultRate))) {
      case (acc, (src, w)) =>
        when(col("source") === lit(src), lit(hexThreshold(w))).otherwise(acc)
    }
    docs.filter(hexCell(col("doc_id"), salt) < thr)
      .select(col("doc_id"), col("source"))
  }

  // -------------------------------------------------------------------
  // Per-source quality quota sampling
  // -------------------------------------------------------------------

  /** The `quota` highest-quality documents per source (ties broken by
    * doc_id): (doc_id, source, quality, rk). The "keep the best N of each
    * domain" knob of a corpus pipeline — mixing by count where
    * [[mixCorpus]] mixes by rate.
    *
    * Deliberately the PLAIN declarative window, because Catalyst's
    * rank-limit pushdown (`WindowGroupLimit`, Spark 3.5+) already turns
    * `row_number() ≤ quota` into a distributed two-phase top-N: a PARTIAL
    * group-limit prunes each MAP partition to its own top `quota` per
    * source BEFORE the shuffle, so a source's reducer receives at most
    * quota × num-map-partitions pre-pruned rows, never the whole source.
    * A hand-rolled salted two-phase ranking (the pre-3.5 recipe, built
    * and plan-compared during round 5) produces the same bound at the
    * cost of one EXTRA exchange — the optimizer's shape is strictly
    * better, and PlanShapeSpec pins it (Partial + Final WindowGroupLimit,
    * exactly one hash exchange, no SinglePartition sort).
    *
    * Quality evaluates once, scan-fused ([[TextAnalysis.withQuality]]),
    * before the shuffle; only (doc_id, source, quality) ever moves.
    */
  def quotaSample(docs: DataFrame, quota: Int = 25): DataFrame = {
    val scored = TextAnalysis.withQuality(docs)
      .select(col("doc_id"), col("source"), col("quality"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rk") <= quota)
  }

  // -------------------------------------------------------------------
  // Eval-set decontamination
  // -------------------------------------------------------------------

  /** Train-split documents sharing at least one word n-gram with the eval
    * split: (doc_id, n_shared_grams). The membership test every serious
    * training corpus runs before training (don't train on your benchmark).
    *
    * Scale shape: an eval set is a small constant (benchmarks are
    * thousands of documents, not terabytes), so its distinct gram set is
    * BROADCAST and the 100 TB train side never shuffles its text — the
    * scan explodes grams, probes the broadcast hash table, and only the
    * surviving (doc_id, 1) pairs reach the per-document count (whose
    * shuffle is proportional to the contamination, not the corpus).
    * Shingles are distinct per document ([[shinglesFromTokens]]), so
    * `count(*)` after the join IS the distinct shared-gram count — no
    * `countDistinct` expand needed.
    *
    * explode_outer (not explode): InferFiltersFromGenerate would bolt
    * `size(shingles) > 0` onto plain explode and predicate pushdown
    * re-inlines the whole shingle pipeline below the scan (pitfall
    * documented in [[Dedup.jaccardPairs]]).
    */
  def decontaminate(docs: DataFrame, n: Int = 8, evalRate: Double = 0.05,
                    salt: String = "split"): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        (hexCell(col("doc_id"), salt) < lit(hexThreshold(evalRate))).as("is_eval"),
        tokens(normalizeText(col("text"))).as("tk"))
      .select(col("doc_id"), col("is_eval"),
        shinglesFromTokens(col("tk"), n).as("shingles"))
      .select(col("doc_id"), col("is_eval"),
        explode_outer(col("shingles")).as("gram"))
    val evalGrams = grams.filter(col("is_eval")).select(col("gram")).distinct()
    grams.filter(!col("is_eval") && col("gram").isNotNull)
      .select(col("doc_id"), col("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** KMV set-resemblance estimate between the eval and train slices'
    * distinct n-gram sets — the FIXED-COST pre-check before the exact
    * [[decontaminate]] join: estimated shared-gram count, union size and
    * Jaccard from one bounded sketch, so a pipeline can decide whether a
    * new corpus version even needs the full decontamination pass without
    * joining anything corpus-sized (Beyer et al. SIGMOD'07 multiset ops:
    * K_min of the UNION is an ε-approx uniform sample of it, so the
    * fraction of sketch members present in BOTH slices estimates
    * Jaccard, and Jaccard × union estimates the intersection).
    *
    * Scale shape: per-slice distinctness folds into the membership
    * aggregate (max of two flags per 8-byte gram hash, map-side combine
    * — never a distinct per slice); the k smallest union hashes come
    * from a TakeOrderedAndProject (per-partition top-k, k-row merge —
    * no global sort); the final projection runs over k rows. The only
    * corpus-sized exchange is the gram-hash aggregate.
    *
    * Determinism: gram membership is integer flags over the base60 hash;
    * the three estimates are single IEEE divides/multiplies over
    * identically-rounded operands, so the row is oracle-bit-exact.
    */
  def kmvOverlap(docs: DataFrame, n: Int = 8, evalRate: Double = 0.05,
                 k: Int = 256, salt: String = "split"): DataFrame = {
    import graft.functions.DetHash
    // two-step token materialization (shinglesFromTokens' scaladoc):
    // the inline form re-ran tokenization per shingle inside the lambda
    val grams = docs
      .select((hexCell(col("doc_id"), salt) < lit(hexThreshold(evalRate))).as("is_eval"),
        tokens(normalizeText(col("text"))).as("tk"))
      .select(col("is_eval"), explode(shinglesFromTokens(col("tk"), n)).as("gram"))
    val membership = grams
      .groupBy(DetHash.base60(col("gram")).as("h"))
      .agg(max(col("is_eval")).as("in_eval"), max(!col("is_eval")).as("in_train"))
    val sketch = membership.orderBy(col("h").asc).limit(k)
    sketch
      .agg(
        count(lit(1)).as("n_sketch"),
        max(col("h")).as("kth_hash"),
        sum(when(col("in_eval") && col("in_train"), 1L).otherwise(0L))
          .as("n_both"))
      .select(col("n_sketch"), col("kth_hash"), col("n_both"),
        when(col("n_sketch") < k, col("n_sketch").cast("double"))
          .when(col("kth_hash") === 0L, col("n_sketch").cast("double"))
          .otherwise(round(
            lit((k - 1).toDouble * math.pow(2, 60)) /
              col("kth_hash").cast("double"), 4)).as("est_union"),
        when(col("n_sketch") === 0L, lit(null).cast("double"))
          .otherwise(round(col("n_both").cast("double") /
            col("n_sketch").cast("double"), 4)).as("jaccard_est"))
      .withColumn("est_shared",
        round(col("jaccard_est") * col("est_union"), 4))
  }

  // -------------------------------------------------------------------
  // Small-file compaction
  // -------------------------------------------------------------------

  /** A deliberately-fragmented copy of the documents table (64 small
    * parquet files), persisted once per corpus dir — the fixture
    * [[compactDir]] operates on. Real ingest produces exactly this shape:
    * one file per micro-batch × partition.
    */
  def smallFileDocs(spark: org.apache.spark.sql.SparkSession,
                    dir: String): String = CorpusOps.synchronized {
    val path = s"${graft.Tables.persistedTableRoot(spark)}/graft_smallfiles_" +
      graft.Tables.persistTag(dir)
    // resolve the FS from the path's own scheme, not the default FS —
    // on a cluster the persisted root may be s3a:// while default is hdfs://
    val done = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      graft.Tables.load(spark, dir, "documents")
        .repartition(64).write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Small-file COMPACTION — the operational pass every long-running
    * ingest needs: a streaming sink or per-batch writer leaves thousands
    * of KB-sized files per partition, and at 100 TB the resulting
    * file-listing and task-scheduling overhead (one task per tiny file)
    * dominates scan cost. Compaction bin-packs them to `targetBytes`:
    * the output file count derives from the FILE LISTING alone (total
    * bytes / target — metadata only, no data read), and the rewrite is a
    * `coalesce`, which merges input partitions WITHOUT a shuffle — each
    * output task streams a few input files into one output file. The
    * content is byte-identical relationally: the registered query's
    * oracle is the PLAIN documents SQL (compaction must be invisible).
    *
    * `coalesce` (not `repartition`): compaction's premise is many small
    * files, so merging adjacent inputs balances fine; a shuffle would
    * move every row to fix imbalance compaction doesn't have. The
    * inverse knob (splitting too-large outputs) is
    * `spark.sql.files.maxRecordsPerFile`, not this pass.
    *
    * Returns the compacted frame read back from disk, so callers see
    * exactly what a downstream consumer sees.
    */
  def compactDir(spark: org.apache.spark.sql.SparkSession, inPath: String,
                 targetBytes: Long): org.apache.spark.sql.DataFrame =
    CorpusOps.synchronized {
      require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
      val inHPath = new org.apache.hadoop.fs.Path(inPath)
      // path-scheme-derived FS (s3a://, hdfs://, file://), never default FS
      val fs = inHPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(inHPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      require(files.nonEmpty, s"no parquet files to compact under $inPath")
      val total = files.map(_.getLen).sum
      val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
      val out = s"$inPath-compact"
      spark.read.parquet(inPath).coalesce(n)
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
    }

  // -------------------------------------------------------------------
  // Token-budget shard packing
  // -------------------------------------------------------------------

  /** Pack documents into training shards of ~`budgetTokens` BPE-ish tokens
    * by global doc_id order: shard_id = floor((tokens before this
    * document) / budget). Greedy sequential packing — the deterministic
    * layout step between "curated corpus" and "data loader".
    *
    * The running sum is semantically GLOBAL, which is exactly the
    * operation naive Spark gets wrong (`Window.orderBy` with no partition
    * spec = every row through ONE reducer). This implementation is the
    * classic two-phase distributed prefix sum instead:
    *
    *  1. derive a range-bucket id `pid` as a PURE MONOTONE FUNCTION of
    *     doc_id (equal-width buckets over the [min, max] id span, bounds
    *     broadcast as a 1-row frame — same shape as
    *     [[Similarity.bruteForceTopK]]'s query vector). Monotone ⇒ bucket
    *     order == global order; pure ⇒ deterministic across re-evaluation
    *     of the frame, with no reliance on `spark_partition_id()` or on
    *     ReuseExchange firing over a twice-referenced repartitionByRange
    *     (RangePartitioner's boundary sampling is not contractually stable
    *     across separate materializations);
    *  2. compute each document's EXCLUSIVE running sum WITHIN its bucket
    *     (window partitioned by pid — 1/N of the data per reducer), one
    *     total per bucket (N rows), prefix-sum THAT on a single reducer
    *     (N rows, constant work), and broadcast-join the offsets back.
    *
    * Global position = bucket offset + local exclusive sum — invariant to
    * the bucketing itself, so equal-width skew (dense ids here; real
    * pipelines would use range stats) costs balance, never correctness.
    * shard_id mirrors the oracle's `floor(CAST(cum AS DOUBLE) / budget)`
    * IEEE-op-for-op, and cumulative token counts sit far below 2^53.
    */
  /** The corpus DATASHEET: per-source document counts, token totals,
    * median quality and language share — the summary every corpus ships
    * with. One scan-fused scoring projection
    * ([[TextAnalysis.withPredLangAndQuality]]) and ONE grouped aggregate;
    * the exchange carries per-source partials only. The exact median is
    * the oracle-checkable choice at test scale — the REGISTERED 100 TB
    * path is [[corpusStatsScalable]], whose histogram median bounds the
    * aggregation state while staying oracle-exact.
    */
  def corpusStats(docs: DataFrame): DataFrame =
    TextAnalysis.withPredLangAndQuality(docs)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(bpeishTokenCount(col("text"))).as("total_tokens"),
        round(percentile(col("quality"), lit(0.5)), 4).as("p50_quality"),
        sum(when(col("pred_lang") === "en", 1L).otherwise(0L)).as("n_en"))

  /** [[corpusStats]]' REGISTERED scale variant: same datasheet, but the
    * median comes from a fixed-grid HISTOGRAM instead of `percentile`.
    *
    * Why it exists: Spark's `percentile` buffers every group member's
    * value in the aggregation state — per-source memory grows linearly
    * with the corpus, which is precisely what must not happen at 100 TB.
    * `approx_percentile` bounds the memory but its t-digest is
    * engine-specific (DuckDB's approx_quantile will never hash-match), so
    * it cannot be oracle-checked. This formulation gets BOTH: quality is
    * bucketed to a 1/`grid` lattice (histogram agg state ≤ grid cells per
    * source, exchange bounded by sources × grid), and the reported median
    * is the smallest cell whose cumulative count covers half the group —
    * deterministic integer logic that DuckDB reproduces exactly, with
    * quantization error ≤ 1/grid by construction. The running sum windows
    * over the HISTOGRAM (≤ grid rows per source), never the corpus.
    */
  def corpusStatsScalable(docs: DataFrame, grid: Int = 10000): DataFrame = {
    val scored = TextAnalysis.withPredLangAndQuality(docs)
    val base = scored.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(bpeishTokenCount(col("text"))).as("total_tokens"),
        sum(when(col("pred_lang") === "en", 1L).otherwise(0L)).as("n_en"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val hist = scored
      .groupBy(col("source"),
        floor(col("quality") * grid).as("cell"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(w.orderBy(col("cell"))))
      .withColumn("total", sum(col("cnt")).over(w))
    val med = hist
      .groupBy(col("source"))
      .agg(min(when(col("cum") * 2 >= col("total"), col("cell"))).as("mcell"))
      .select(col("source"),
        round(col("mcell").cast("double") / grid, 4).as("p50q_grid"))
    base.join(med, Seq("source"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("p50q_grid"), col("n_en"))
  }

  /** The COMPOSED batch corpus-assembly chain, one plan end to end:
    * language+quality curation (scan-fused scoring, generator-guarded
    * survivors, dedup keep-one — same shape as [[Curation.curate]] but
    * carrying `quality` through the keep-one aggregate so the next stage
    * needs no re-join) → per-source quality quota (rank-limit pushdown:
    * a partial WindowGroupLimit prunes map-side before the one window
    * exchange) → deterministic train/eval split label (pure per-row
    * projection). Output: (doc_id, source, quality, rk, split).
    *
    * Two wide exchanges total at any corpus size — the fingerprint
    * groupBy over curation SURVIVORS and the per-source window — plus
    * the split's per-row md5; nothing else shuffles (spec-pinned).
    * Individually each stage is oracle-checked elsewhere; this checks
    * the CHAIN, where column handoffs break even when stages are right.
    */
  def assemble(docs: DataFrame, lang: String = "en", minQuality: Double = 0.7,
               quota: Int = 25, evalRate: Double = 0.05): DataFrame = {
    val keep = col("pred_lang") === lang && col("quality") >= minQuality
    val curated = TextAnalysis.withPredLangAndQuality(docs)
      .select(
        explode_outer(when(keep, array(fingerprint(col("text"))))).as("fp"),
        struct(col("doc_id"), col("source"), col("quality")).as("r"))
      .groupBy(col("fp"))
      .agg(min_by(col("r"), col("r.doc_id")).as("r"))
      .filter(col("fp").isNotNull)
      .select(col("r.doc_id"), col("r.source"), col("r.quality"))
    curated
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rk") <= quota)
      .withColumn("split",
        when(hexCell(col("doc_id"), "split") < lit(hexThreshold(evalRate)),
          lit("eval")).otherwise(lit("train")))
  }

  def packShards(docs: DataFrame, budgetTokens: Long = 1000L,
                 numParts: Int = 32): DataFrame =
    tokenSpans(docs, numParts)
      .select(col("doc_id"), col("n_tok"),
        floor(col("start").cast("double")
          / budgetTokens.toDouble).cast("long").as("shard_id"))

  /** The documents' GLOBAL token positions: (doc_id, n_tok, start) where
    * `start` is the exclusive running token sum in doc_id order — the
    * two-phase distributed prefix sum described on [[packShards]],
    * factored out so the shard packer and the chunk map share it.
    */
  private def tokenSpans(docs: DataFrame, numParts: Int): DataFrame = {
    val sized = docs
      .select(col("doc_id"), bpeishTokenCount(col("text")).as("n_tok"))
    val withPid = sized.crossJoin(broadcast(
        sized.agg(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))))
      .withColumn("pid",
        floor((col("doc_id") - col("min_id")).cast("double")
          / ceil((col("max_id") - col("min_id") + 1).cast("double") / numParts)))
      .select(col("doc_id"), col("n_tok"), col("pid"))
    val local = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = withPid.withColumn("cum_local",
      coalesce(sum(col("n_tok")).over(local), lit(0L)))
    // N rows total: the only unpartitioned window in the plan runs over
    // ONE row per bucket, not one row per document
    val offsets = withPid.groupBy(col("pid")).agg(sum(col("n_tok")).as("ptot"))
      .withColumn("offset",
        coalesce(sum(col("ptot")).over(
          Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("pid"), col("offset"))
    withLocal.join(broadcast(offsets), Seq("pid"))
      .select(col("doc_id"), col("n_tok"),
        (col("offset") + col("cum_local")).as("start"))
  }

  /** The DATALOADER CHUNK MAP: concatenate the corpus in doc_id order and
    * cut it into fixed `chunkTokens`-token context windows (the GPT-style
    * "concat and chunk" batching that packs documents back to back,
    * splitting a document across a chunk boundary rather than padding).
    * One row per (chunk, document) overlap:
    * (chunk_id, doc_id, off_in_chunk, tok_from, n_toks) — "chunk c
    * carries `n_toks` tokens of doc d, starting at the doc's token
    * `tok_from`, landing at chunk offset `off_in_chunk`". [[packShards]]
    * answers "which shard does each WHOLE document go to"; this answers
    * the finer dataloader question "which token slices make up each
    * training sequence".
    *
    * Shape: the [[tokenSpans]] two-phase prefix sum (no single-reducer
    * stage), then a pure per-row explode of each document onto the chunks
    * it touches — `sequence(first, last)` is at most `n_tok/chunkTokens+1`
    * long, so the fan-out is Σ tokens / chunkTokens extra rows overall,
    * all integer arithmetic (exact in both engines; `floor(double)` on
    * token counts ≪ 2⁵³).
    */
  def chunkMap(docs: DataFrame, chunkTokens: Long = 512L,
               numParts: Int = 32): DataFrame = {
    val c = chunkTokens.toDouble
    tokenSpans(docs, numParts)
      // a zero-token document occupies no span and maps to no chunk
      .filter(col("n_tok") > 0)
      .withColumn("chunk_id", explode(sequence(
        floor(col("start").cast("double") / c).cast("long"),
        floor((col("start") + col("n_tok") - 1).cast("double") / c).cast("long"))))
      .withColumn("cstart", col("chunk_id") * chunkTokens)
      .withColumn("from_tok", greatest(col("start"), col("cstart")))
      .select(
        col("chunk_id"), col("doc_id"),
        (col("from_tok") - col("cstart")).as("off_in_chunk"),
        (col("from_tok") - col("start")).as("tok_from"),
        (least(col("start") + col("n_tok"), col("cstart") + chunkTokens)
          - col("from_tok")).as("n_toks"))
  }

  /** TEMPERATURE-rebalanced domain mixing at α = 1/2 (the multinomial
    * temperature-sampling rule of multilingual/multi-domain training —
    * Lample & Conneau 2019, arXiv:1901.07291 §3.1 — realized as a
    * deterministic DOWNSAMPLE): a domain with token mass `tok_s` keeps
    * each document with probability `sqrt(min_tok / tok_s)`, so kept
    * token mass ∝ √tok_s — small domains are flattened up relative to
    * large ones, and the smallest domain keeps everything (rate 1 ⇒
    * upsampling is the dataloader's epoch knob, not a row copy). α = 1/2
    * specifically because `sqrt` is IEEE-correctly-rounded in every
    * engine — `pow(x, α)` for general α is not, and the rate feeds a
    * reproducibility-critical threshold.
    *
    * Unlike [[mixCorpus]]'s operator-literal weights, the rates here are
    * DATA-DERIVED, so the keep threshold is computed in-plan: floor(rate
    * · 2³²) rendered as 8 lower-case hex digits (the [[hexThreshold]]
    * construction as a Column), compared against the same md5 cell. Two
    * passes over the corpus (token-mass aggregate, then the filter) —
    * inherent, as the rates are a global property; at 100 TB the first
    * pass is the per-source row of the corpus datasheet ([[corpusStats]])
    * a pipeline maintains anyway. The per-source frame is tiny and
    * broadcast; the filter itself fuses into the scan.
    */
  def mixCorpusTemperature(docs: DataFrame,
                           salt: String = "mixt"): DataFrame = {
    val bySrc = docs
      .select(col("source"), bpeishTokenCount(col("text")).as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("tok"))
    val rates = bySrc.crossJoin(broadcast(bySrc.agg(min(col("tok")).as("min_tok"))))
      .select(col("source"),
        sqrt(col("min_tok").cast("double") / col("tok").cast("double")).as("rate"))
    val thr = when(col("rate") >= 1.0, lit("g"))
      .otherwise(lpad(lower(hex(floor(col("rate") * lit(4294967296.0))
        .cast("long"))), 8, "0"))
    docs.join(broadcast(rates.select(col("source"), thr.as("thr"))), Seq("source"))
      .filter(hexCell(col("doc_id"), salt) < col("thr"))
      .select(col("doc_id"), col("source"))
  }

  /** Deterministic GLOBAL SHUFFLE into dataloader shards: each document
    * gets a 60-bit md5 rank, shard = rank mod `shards`, and a dense
    * in-shard position by rank order — the "shuffle once, then stream
    * shards sequentially" layout step (each worker reads its shard in
    * `pos` order and sees a reproducible random permutation of the
    * corpus). Re-running on the same corpus reproduces the identical
    * permutation on any cluster size; changing `salt` is a fresh epoch's
    * reshuffle.
    *
    * Shape: one shuffle (by `shard`) + a per-shard window for `pos`.
    * Each shard ranks on its own reducer, so `shards` is sized so a
    * shard fits a worker — at 100 TB that is thousands of shards, which
    * is exactly what the dataloader wants anyway (shard count = read
    * parallelism). The md5 rank makes shard membership AND order a pure
    * function of doc_id — no `rand()`, no sampled RangePartitioner
    * boundaries, nothing run-order-dependent.
    */
  /** RELEASE MANIFEST — the verifiable per-source summary a dataset
    * release ships so any consumer (or the next pipeline run) can check
    * integrity without re-reading text: doc count, token total, and a
    * CONTENT CHECKSUM = `bit_xor` of every document's 60-bit content
    * fingerprint. XOR is commutative/associative, so the checksum is
    * independent of partitioning and row order — exactly what a
    * distributed re-computation needs to be comparable — and any
    * changed/missing/extra document flips it (a pair of identical docs
    * cancels, which is why the fingerprint hashes doc_id ALONG WITH the
    * text: duplicates of the same content still contribute distinct
    * terms).
    *
    * Scale shape: one scan-fused projection + one per-source aggregate
    * with map-side combine; the manifest is |sources| rows.
    */
  def manifest(docs: DataFrame): DataFrame = {
    import graft.functions.DetHash
    docs
      .select(col("source"),
        size(tokens(normalizeText(col("text")))).cast("long").as("n_tokens"),
        DetHash.base60(concat(col("doc_id").cast("string"), lit(":"),
          col("text"))).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        bit_xor(col("fp")).as("content_xor"))
  }

  /** Deterministic STRATIFIED INTERLEAVING — the training-order artifact
    * between [[shuffleShards]] (global shuffle, sources can clump) and
    * strict curriculum: an idealized round-robin over sources (doc r of
    * source i sits at key `(r−1)·|sources| + (i−1)`), each source's
    * internal order md5-shuffled, so a dataloader reading by
    * `interleave_key` sees sources maximally spread — no run of
    * same-source documents longer than 1 until a source exhausts
    * (exhausted sources leave gaps: the key is an ORDER, not a dense
    * index).
    *
    * Scale shape: the only corpus-wide window partitions BY SOURCE with
    * per-partition input bounded by that source's size; the source-index
    * window runs over the |sources|-bounded distinct frame (same shape
    * as `vocabulary`'s constant-size rank) and broadcast-joins back; the
    * key is then pure arithmetic. Never a global sort.
    */
  def interleave(docs: DataFrame, salt: String = "interleave"): DataFrame = {
    val srcs = docs.select(col("source")).distinct()
      .withColumn("si", row_number().over(Window.orderBy(col("source"))).cast("long"))
    val nSrc = srcs.agg(count(lit(1)).as("ns"))
    val ranked = docs
      .select(col("doc_id"), col("source"),
        conv(substring(md5(concat(lit(salt + ":"), col("doc_id").cast("string"))),
          1, 15), 16, 10).cast("long").as("h"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
    ranked.join(broadcast(srcs), Seq("source"))
      .crossJoin(broadcast(nSrc))
      .select(col("doc_id"), col("source"),
        ((col("r") - 1) * col("ns") + (col("si") - 1)).as("interleave_key"))
  }

  def shuffleShards(docs: DataFrame, shards: Int = 8,
                    salt: String = "shuffle"): DataFrame =
    docs
      .select(col("doc_id"),
        conv(substring(md5(concat(lit(salt + ":"), col("doc_id").cast("string"))),
          1, 15), 16, 10).cast("long").as("h"))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))

  /** Default per-source epoch factors for the registered query: heavy
    * up-sampling with a fractional tail (2.5 = two full copies + a
    * deterministic half), exact integer up-sampling (2.0), pure
    * down-sampling (0.4), and the keep-once default in one plan.
    * [[graft.OracleSqlGen.epochSampleSql]] renders its CASE arms from
    * THIS seq, so plan and oracle cannot drift.
    */
  val defaultEpochFactors: Seq[(String, Double)] = Seq(
    "src0" -> 2.5, "src1" -> 2.0, "src2" -> 0.4)
  val defaultEpochFactor = 1.0

  /** Epoch-weighted source REPLICATION — the up-sampling half of the
    * data-recipe knob [[mixCorpus]]'s scaladoc defers ("upsampling is a
    * copy, not a filter"): the LLaMA/GPT-3-style "2.5 epochs of wiki,
    * 0.4 of web" mixture, materialized. Each document emits
    * `floor(f)` copies plus one more iff its salted hash cell clears the
    * fractional part of its source's factor — so a factor of 2.5 yields
    * exactly 2 copies for half the source and 3 for the other half,
    * deterministically (same doc → same copy count on every run, any
    * cluster size; the fractional threshold reuses the [[hexThreshold]]
    * md5 discipline). Output is (doc_id, source, epoch) with epoch in
    * [0, copies): the dataloader's repeat index.
    *
    * Scale shape: a per-row projection + `explode(sequence)`, fused into
    * the scan — no shuffle, no join, no driver participation; output
    * volume is exactly Σ_src f_src · |src|, the training set size the
    * recipe asked for.
    */
  def epochSample(docs: DataFrame,
                  factors: Seq[(String, Double)] = defaultEpochFactors,
                  defaultFactor: Double = defaultEpochFactor,
                  salt: String = "epoch"): DataFrame = {
    require(defaultFactor >= 0 && factors.forall(_._2 >= 0),
      "epoch factors must be non-negative")
    def arms(f: Double => Column): Column =
      factors.foldLeft(f(defaultFactor)) { case (acc, (src, w)) =>
        when(col("source") === lit(src), f(w)).otherwise(acc)
      }
    val whole = arms(w => lit(math.floor(w).toLong))
    val fracThr = arms(w => lit(hexThreshold(w - math.floor(w))))
    val copies = whole +
      when(hexCell(col("doc_id"), salt) < fracThr, 1L).otherwise(0L)
    docs.select(col("doc_id"), col("source"), copies.as("n_copies"))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("epoch"))
  }

  /** Per-source DISTRIBUTION DRIFT monitor: smoothed KL divergence
    * KL(source ‖ corpus) over the same hashed-bigram bucket models as
    * [[dsirWeights]] — the "did this crawl/source shift away from the
    * corpus mixture" alarm a continuously-ingesting pipeline watches
    * (rising KL on a source = changed content distribution upstream).
    *
    * Exactness without per-term division: with add-1 smoothing over the
    * measured corpus support D (buckets with ≥1 corpus occurrence —
    * source buckets are a subset by construction),
    * `KL·(T_s+D) = Σ_b (c_sb+1)·[qln(c_sb+1) − qln(c_cb+1)]
    *             − (T_s+D)·[qln(T_s+D) − qln(T_c+D)]`
    * is an exact INTEGER in micro-nats (the Σ(c_sb+1) = T_s+D identity
    * folds the normalizer out of the per-bucket terms); the one IEEE
    * divide + round happens at the end, per source.
    *
    * Scale shape: both models are D-bounded aggregates; the per-source ×
    * bucket domain materializes as sources-frame × BROADCAST corpus
    * model (|sources|·D rows, never corpus-sized), and the corpus
    * constants ride a broadcast 1-row aggregate.
    */
  def sourceDrift(docs: DataFrame, dims: Int = 1024): DataFrame = {
    def qln(c: Column): Column =
      floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val occ = docs
      .select(col("source"), tokens(normalizeText(col("text"))).as("tk"))
      .select(col("source"),
        explode(TextAnalysis.gramOccurrences(col("tk"), 2)).as("g"))
      .select(col("source"),
        (graft.functions.DetHash.base60(col("g")) % dims).as("f"))
    val corpus = occ.groupBy(col("f")).agg(count(lit(1)).as("cc"))
    val bySrc = occ.groupBy(col("source"), col("f")).agg(count(lit(1)).as("cs"))
    val srcTotals = occ.groupBy(col("source")).agg(count(lit(1)).as("ts"))
    val consts = corpus.agg(sum(col("cc")).as("tc"), count(lit(1)).as("d"))
    val domain = srcTotals.select(col("source")).crossJoin(broadcast(corpus))
    val terms = domain.join(bySrc, Seq("source", "f"), "left")
      .select(col("source"),
        ((coalesce(col("cs"), lit(0L)) + 1) *
          (qln(coalesce(col("cs"), lit(0L)) + 1) - qln(col("cc") + 1))).as("term"))
      .groupBy(col("source")).agg(sum(col("term")).as("s"))
    val kScaled = col("s") -
      (col("ts") + col("d")) * (qln(col("ts") + col("d")) - qln(col("tc") + col("d")))
    terms.join(srcTotals, Seq("source"))
      .crossJoin(broadcast(consts))
      .select(col("source"), col("ts").as("n_feats"),
        kScaled.as("kl_scaled_micro"),
        round(kScaled.cast("double") / (col("ts") + col("d")).cast("double") / 1e6, 4)
          .as("kl"))
  }

  /** Per-EVAL-document contamination REPORT — the audit artifact
    * completing the decontamination trio ([[decontaminate]] flags train
    * docs, `Dedup.fuzzyDecontaminate` catches paraphrases; this answers
    * "how burned is each eval document, and by whom"): for every eval
    * doc with any n-gram overlap into the train split, the number of
    * DISTINCT leaked n-grams and the single worst-offending train doc
    * (most shared grams, ties to the smaller id).
    *
    * Scale shape: gram sets are per-doc DISTINCT shingles; the eval-train
    * join is keyed by gram (volume = actual leakage, not corpus²); the
    * top-offender window partitions per eval doc with input bounded by
    * that doc's contaminating train docs. Clean eval docs simply don't
    * appear — the report is leakage-sized.
    */
  def contaminationReport(docs: DataFrame, n: Int = 8,
                          evalRate: Double = 0.05,
                          salt: String = "split"): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        (hexCell(col("doc_id"), salt) < lit(hexThreshold(evalRate))).as("is_eval"),
        tokens(normalizeText(col("text"))).as("tk"))
      .select(col("doc_id"), col("is_eval"),
        explode(shinglesFromTokens(col("tk"), n)).as("gram"))
    val ev = grams.filter(col("is_eval"))
      .select(col("doc_id").as("eval_id"), col("gram"))
    val tr = grams.filter(!col("is_eval"))
      .select(col("doc_id").as("train_id"), col("gram"))
    val hits = ev.join(tr, Seq("gram"))
    val perEval = hits.groupBy(col("eval_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
    val top = hits.groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("eval_id"))
          .orderBy(col("shared").desc, col("train_id").asc)))
      .filter(col("rk") === 1)
      .select(col("eval_id"), col("train_id").as("top_train_doc"),
        col("shared").as("top_shared"))
    perEval.join(top, Seq("eval_id"))
      .select(col("eval_id").as("doc_id"), col("n_shared_grams"),
        col("top_train_doc"), col("top_shared"))
  }

  /** The corpus bigram-bucket model behind [[sourceDrift]] as a REUSABLE
    * frame: (f, cc) occurrence counts over `base60(bigram) mod dims` —
    * dims-bounded, so it broadcasts everywhere it joins.
    */
  def bigramBucketModel(docs: DataFrame, dims: Int = 1024): DataFrame =
    docs
      .select(tokens(normalizeText(col("text"))).as("tk"))
      .select(explode(TextAnalysis.gramOccurrences(col("tk"), 2)).as("g"))
      .select((graft.functions.DetHash.base60(col("g")) % dims).as("f"))
      .groupBy(col("f")).agg(count(lit(1)).as("cc"))

  /** [[bigramBucketModel]] persisted once per corpus dir (ensure-once
    * discipline) — the trained artifact the STREAMING drift monitor
    * ([[graft.streaming.Pipelines.streamingSourceDrift]]) probes.
    */
  def bigramModelTable(spark: org.apache.spark.sql.SparkSession,
                       dir: String, dims: Int = 1024): DataFrame =
    graft.Tables.persisted(spark, dir, s"graft_bigram_${dims}_") {
      bigramBucketModel(graft.Tables.load(spark, dir, "documents"), dims)
    }

  /** The three corpus constants the scaled-KL identity needs —
    * `(T_c, D, S_all = Σ_b qln(cc_b + 1))` — from a (f, cc) model frame:
    * one dims-bounded aggregate read as a single row.
    */
  def bigramModelConstants(model: DataFrame): (Long, Long, Long) = {
    def qln(c: Column): Column =
      floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val r = model.agg(sum(col("cc")).as("tc"), count(lit(1)).as("d"),
      sum(qln(col("cc") + 1)).as("s_all")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** DSIR data-selection weights (Xie et al. 2023, 2302.03169): score every
    * document by how target-domain-like it is under hashed-bigram bag
    * models — `log w(d) = Σ_f [ln p_target(f) − ln p_raw(f)]` over the
    * doc's bigram OCCURRENCES, where both unigram-over-buckets models are
    * add-1-smoothed counts of `base60(bigram) mod dims`. The target slice
    * here is `lang = targetLang` (the paper's formulation is
    * slice-agnostic: any filter over the corpus works). Downstream,
    * importance resampling keeps docs with Gumbel-perturbed top-k of
    * `log w` — the ranking deliverable is this frame.
    *
    * Determinism: the two `ln` terms per FEATURE (not per occurrence) are
    * quantized to integer micro-nats before any per-doc sum (same
    * discipline as [[TextAnalysis.unigramSurprisal]]); the corpus-constant
    * normalizer `ln(T_t + dims) − ln(T_r + dims)` is applied once per doc
    * (× n_feats), so per-doc totals are exact integer sums.
    *
    * Scale shape: feature extraction is scan-fused (tokenize → bigram →
    * hash, no string shuffles — only (doc_id, bucket-long) rows move);
    * both models are `dims`-bounded aggregates (≤ 1024 rows), so the
    * scoring join is a BROADCAST of the model, and the only wide exchange
    * is the per-doc re-aggregation. At 100 TB the model stays KBs.
    */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  dims: Int = 1024): DataFrame = {
    def qln(c: Column): Column =
      floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val occ = docs
      .select(col("doc_id"), col("lang"),
        tokens(normalizeText(col("text"))).as("tk"))
      .select(col("doc_id"), col("lang"),
        explode(TextAnalysis.gramOccurrences(col("tk"), 2)).as("g"))
      .select(col("doc_id"), col("lang"),
        (graft.functions.DetHash.base60(col("g")) % dims).as("f"))
    val raw = occ.groupBy(col("f")).agg(count(lit(1)).as("cr"))
    val tgt = occ.filter(col("lang") === targetLang)
      .groupBy(col("f")).agg(count(lit(1)).as("ct"))
    val model = raw.join(tgt, Seq("f"), "left")
      .select(col("f"),
        (qln(coalesce(col("ct"), lit(0L)) + 1) - qln(col("cr") + 1)).as("qd"))
    val totals = occ.agg(
      qln(count(lit(1)) + dims).as("qln_tr"),
      qln(sum((col("lang") === targetLang).cast("long")) + dims).as("qln_tt"))
    val logw = col("s") + col("n_feats") * (col("qln_tr") - col("qln_tt"))
    occ.join(broadcast(model), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("qd")).as("s"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_feats"),
        logw.as("logw_micro"),
        round(logw.cast("double") / 1e6, 4).as("log_weight"))
  }

  // -------------------------------------------------------------------
  // Corpus versioning: snapshot diff
  // -------------------------------------------------------------------

  /** Diff two corpus snapshots by content fingerprint: for every doc_id
    * present in either version, classify it `added` (v2 only), `removed`
    * (v1 only), `changed` (both, md5(text) differs), or `unchanged`. The
    * returned datasheet is one row per status: count plus the id range,
    * the artifact an incremental 100 TB pipeline publishes alongside each
    * new corpus version (what changed since the last training run, and
    * therefore what downstream dedup/index maintenance must reprocess).
    *
    * Scale shape: each side is a scan-fused (doc_id, 16-byte fp)
    * projection — the TEXT never moves, only fingerprints are exchanged
    * once each for the full outer join on doc_id; the status aggregate is
    * 4 rows. With both snapshots stored bucketed by doc_id (the layout
    * [[Dedup.incrementalIngest]] already maintains for its fingerprint
    * index) even those two exchanges disappear.
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    def fps(df: DataFrame, fpName: String) =
      df.select(col("doc_id"), md5(col("text")).as(fpName))
    val j = fps(v1, "fp1").join(fps(v2, "fp2"), Seq("doc_id"), "full_outer")
    val status = when(col("fp1").isNull, lit("added"))
      .when(col("fp2").isNull, lit("removed"))
      .when(col("fp1") =!= col("fp2"), lit("changed"))
      .otherwise(lit("unchanged"))
    j.select(col("doc_id"), status.as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
  }

  /** The deterministic two-version fixture [[snapshotDiff]] is registered
    * over: v1 drops doc_id % 11 == 3 (docs that will look `added` in v2),
    * v2 drops doc_id % 13 == 5 (`removed`) and rewrites the text of
    * doc_id % 17 == 2 (`changed`). Carved from the one `documents` table
    * so the oracle sees identical inputs.
    */
  def snapshotDiffFixture(docs: DataFrame): DataFrame = {
    val v1 = docs.filter(col("doc_id") % 11 =!= 3)
    val v2 = docs.filter(col("doc_id") % 13 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 17 === 2, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    snapshotDiff(v1, v2)
  }

  // -------------------------------------------------------------------
  // Quality-filter funnel
  // -------------------------------------------------------------------

  /** Gopher-style rule funnel (Rae et al. 2021, 2112.11446 table A1
    * shape): an ORDERED list of cheap quality rules; every document is
    * charged to the FIRST rule it fails (or `pass`), and the report is
    * one row per stage with the drop count and the corpus fraction. This
    * is the per-rule accounting a curation pipeline publishes so rule
    * changes can be costed before a full re-run.
    *
    * Rules (all integer-exact, so the DuckDB oracle agrees bit-for-bit —
    * ratios are compared cross-multiplied, never as floats; thresholds
    * are corpus-calibrated, as Gopher's are — the RULE SHAPES are the
    * operator, the cut points are config):
    *  1. `too_short`    — fewer than 25 normalized tokens
    *  2. `too_long`     — more than 90 tokens
    *  3. `mean_word_len`— mean token length outside [2, 5]
    *     (sum(len) < 2·n  or  sum(len) > 5·n)
    *  4. `low_alpha`    — alphanumeric chars < 80 % of all chars
    *     (5·alnum < 4·chars)
    *  5. `repetitive`   — distinct tokens < n/2 (i.e. > 50 % duplicated)
    *
    * Scale shape: ONE scan with a fused projection computes every rule
    * signal (tokenize once, reuse for counts/lengths/distinct); the only
    * exchange is the ≤ 6-row stage aggregate, and the corpus total rides
    * a broadcast 1-row cross join. Adding a rule never adds a pass over
    * the data.
    */
  /** The funnel's first-failing-stage label for a text column — exposed
    * so composed pipelines ([[incrementalCuration]]) gate on
    * `funnelStage(text) == "6_pass"` with the SAME rules the report
    * charges drops to.
    */
  def funnelStage(text: Column): Column = {
    val nTok = size(tokens(normalizeText(text))).cast("long")
    val nDistinct = size(array_distinct(tokens(normalizeText(text))))
      .cast("long")
    val sumLen = aggregate(transform(tokens(normalizeText(text)),
      t => length(t).cast("long")), lit(0L), (a, x) => a + x)
    val nAlnum = length(regexp_replace(lower(text), "[^a-z0-9]", ""))
      .cast("long")
    val nChars = length(text).cast("long")
    when(nTok < 25, lit("1_too_short"))
      .when(nTok > 90, lit("2_too_long"))
      .when(sumLen < lit(2L) * nTok || sumLen > lit(5L) * nTok,
        lit("3_mean_word_len"))
      .when(lit(5L) * nAlnum < lit(4L) * nChars, lit("4_low_alpha"))
      .when(lit(2L) * nDistinct < nTok, lit("5_repetitive"))
      .otherwise(lit("6_pass"))
  }

  def filterFunnel(docs: DataFrame): DataFrame = {
    val byStage = docs.select(funnelStage(col("text")).as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_docs"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    byStage.crossJoin(broadcast(total))
      .select(col("stage"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 4)
          .as("frac"))
  }

  /** The composed INCREMENTAL ingest gate — what a new corpus version
    * contributes to training, in one plan: the docs [[snapshotDiff]]
    * classifies `added`/`changed` (v2-side full outer join on doc_id,
    * fingerprints compared) are passed through the [[funnelStage]]
    * quality gate, then exact-deduped against the WHOLE prior version's
    * fingerprint set (a changed doc may have become a byte-twin of some
    * other v1 doc — `% 17`-rewritten texts collide with nothing here,
    * but re-added boilerplate does at 100 TB) and keep-min-id within the
    * batch. Output: the surviving (doc_id, status, fp) rows.
    *
    * Scale shape: both diff sides and the v1 dedup index are scan-fused
    * (doc_id, 16-byte fp) projections — text reaches only the funnel
    * predicate, inside the scan; the three wide ops (diff join, dedup
    * anti-join, keep-min group) all key on fp/doc_id hashes. With v1's
    * fingerprint index persisted `bucketBy(fp)` (the layout
    * [[graft.operators.Dedup.incrementalIngest]] maintains) the
    * anti-join's index side never shuffles.
    */
  def incrementalCuration(docs: DataFrame): DataFrame = {
    val v1 = docs.filter(col("doc_id") % 11 =!= 3)
    val v2 = docs.filter(col("doc_id") % 13 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 17 === 2, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    val f1 = v1.select(col("doc_id"), md5(col("text")).as("fp1"))
    val f2 = v2.select(col("doc_id"), md5(col("text")).as("fp"),
      funnelStage(col("text")).as("stage"))
    val fresh = f2.join(f1, Seq("doc_id"), "left")
      .filter(col("fp1").isNull || col("fp1") =!= col("fp"))
      .select(col("doc_id"),
        when(col("fp1").isNull, lit("added")).otherwise(lit("changed"))
          .as("status"),
        col("fp"), col("stage"))
    fresh.filter(col("stage") === "6_pass")
      .join(f1.select(col("fp1").as("fp")).distinct(), Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("status")).as("status"))
      .select(col("doc_id"), col("status"), col("fp"))
  }

  // -------------------------------------------------------------------
  // Weighted sampling without replacement (Efraimidis–Spirakis)
  // -------------------------------------------------------------------

  /** Quantized-micro-nat −ln(u) for the 60-bit hash rank r: u = (r+1)/2^60,
    * so −ln(u) = 60·ln 2 − ln(r+1), each term rounded to integer
    * micro-nats exactly like every other qln in this file (the pattern
    * three green oracle queries already rely on).
    */
  private val qln2pow60: Long = math.floor(60.0 * math.log(2.0) * 1e6 + 0.5).toLong

  /** Weighted random sampling without replacement (Efraimidis & Spirakis
    * 2006): each doc draws u ∈ (0,1] and is ranked by −ln(u)/w; the k
    * SMALLEST ranks are the sample, which selects doc i with probability
    * proportional to weight w_i — the standard one-pass distributed
    * weighted sampler (the A-ES scheme used by every shared-nothing
    * engine). Here u is the deterministic 60-bit md5 rank (salt
    * "wsample"), so the sample is reproducible on any cluster size and
    * verifiable in any engine that agrees on md5; the key is computed in
    * integer micro-nano-nats (quantized ln, then BIGINT division by the
    * weight) so no float comparison ever decides membership.
    *
    * Weight = `n_chars` (sample long documents proportionally more —
    * token-mass-proportional selection).
    *
    * Scale shape: the key is a scan-fused projection; the k smallest ride
    * `TakeOrderedAndProject` (per-partition top-k, then a k-row merge on
    * one reducer — never a global sort, never a collect). At 100 TB this
    * is the only correct shape: O(k) rows cross the wire per partition.
    */
  def weightedSample(docs: DataFrame, k: Int = 100,
                     salt: String = "wsample"): DataFrame = {
    def qln(c: Column): Column =
      floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
    val r = graft.functions.DetHash.base60(
      concat(lit(salt + ":"), col("doc_id").cast("string")))
    val negLnU = lit(qln2pow60) - qln(r + 1)
    val key = floor((negLnU * 1000L).cast("long") / col("n_chars")).cast("long")
    docs.select(col("doc_id"), col("source"), col("n_chars"),
        key.as("es_key"))
      .orderBy(col("es_key"), col("doc_id"))
      .limit(k)
  }
}
