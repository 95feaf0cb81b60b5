package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.functions.DetHash

/** Similarity search over an embedding column (`array<float>`), north-star
  * extension.
  *
  * Scale design:
  *  - Brute-force top-k: query vector broadcast (1-row dimension side),
  *    cosine evaluated per row by codegen'd higher-order functions, then
  *    `ORDER BY ... LIMIT k` → TakeOrderedAndProject (per-partition k-heap,
  *    driver merges k rows per partition — no global sort, no collect of
  *    the corpus). This is the exact baseline and scales linearly.
  *  - SRP-LSH (sign random projection): each vector gets a `planes`-bit
  *    bucket from the signs of dot products with deterministic ±1
  *    hyperplanes ([[DetHash.hyperplane]]). ANN = brute force *within the
  *    query's bucket* — the 100 TB path, where the bucket column is also
  *    the natural partition/cluster key for the corpus (write-time
  *    bucketing turns ANN into a single-partition scan).
  *
  * Float discipline: all arithmetic widens float→double before any add
  * (see [[graft.functions.GraftFunctions.dotProduct]]), so scores are
  * bit-deterministic and oracle-comparable.
  */
object Similarity {

  /** Sign-random-projection bucket id: bit i = 1 iff dot(v, hyperplane_i) > 0.
    * Hyperplane weights are JVM-generated constants inlined as array
    * literals — identical in the Spark plan and the oracle SQL.
    */
  def srpBucket(v: Column, planes: Int = 8, dims: Int = 64): Column =
    srpBucketFrom(v, 0, planes, dims)

  /** SRP bucket over the plane range [planeOffset, planeOffset + planes):
    * the per-band bucket of banded SRP ([[Dedup.embeddingNearDupPairs]]),
    * where band b draws its own independent set of hyperplanes.
    */
  def srpBucketFrom(v: Column, planeOffset: Int, planes: Int, dims: Int): Column = {
    val bits = (0 until planes).map { p =>
      val w = DetHash.hyperplane(planeOffset + p, dims).toIndexedSeq.map(lit)
      val dot = dotProduct(v, array(w: _*))
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** The 1-row query-vector frame for `vec_id = qid`. */
  private def queryVec(emb: DataFrame, qid: Long): DataFrame =
    emb.filter(col("vec_id") === qid)
      .select(col("embedding").as("q_embedding"))

  /** Exact top-k nearest neighbours of `qid` by cosine similarity.
    * Broadcast 1-row query ⨯ corpus → score → TakeOrderedAndProject.
    */
  def bruteForceTopK(emb: DataFrame, qid: Long = 0L, k: Int = 20): DataFrame =
    emb.filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(queryVec(emb, qid)))
      .select(col("vec_id"), col("label"),
        round(cosineSimilarity(col("embedding"), col("q_embedding")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)

  /** ANN top-k: brute force restricted to the query's SRP bucket.
    * Deterministic (bucket function is deterministic), so oracle-checkable;
    * recall < 1 by construction — that's the documented trade.
    */
  def annTopK(emb: DataFrame, qid: Long = 0L, k: Int = 20,
              planes: Int = 8, dims: Int = 64): DataFrame = {
    val withBucket = emb.select(col("vec_id"), col("label"), col("embedding"),
      srpBucket(col("embedding"), planes, dims).as("bucket"))
    val q = withBucket.filter(col("vec_id") === qid)
      .select(col("embedding").as("q_embedding"), col("bucket").as("q_bucket"))
    withBucket.filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(q))
      .filter(col("bucket") === col("q_bucket"))
      .select(col("vec_id"), col("label"),
        round(cosineSimilarity(col("embedding"), col("q_embedding")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Cosine RANGE search — "everything at least this similar", the
    * radius-query sibling of [[annTopK]]: retrieval wants top-k, but
    * dedup/policy gates want EVERY vector above a threshold (how many
    * near-copies of this image/document exist?), where a k cutoff
    * silently truncates. Same SRP bucket probe (candidates = query's
    * bucket occupancy ~n/2^planes, broadcast 1-row query side), the
    * exact-cosine filter replaces TakeOrderedAndProject — output size
    * is whatever the data holds, never capped.
    */
  def rangeSearch(emb: DataFrame, qid: Long = 0L, minCos: Double = 0.7,
                  planes: Int = 8, dims: Int = 64): DataFrame = {
    val withBucket = emb.select(col("vec_id"), col("label"), col("embedding"),
      srpBucket(col("embedding"), planes, dims).as("bucket"))
    val q = withBucket.filter(col("vec_id") === qid)
      .select(col("embedding").as("q_embedding"), col("bucket").as("q_bucket"))
    withBucket.filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(q))
      .filter(col("bucket") === col("q_bucket"))
      .select(col("vec_id"), col("label"),
        round(cosineSimilarity(col("embedding"), col("q_embedding")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** All-vector bucket histogram — the operational view of LSH selectivity
    * (how much work ANN saves vs brute force).
    */
  def bucketHistogram(emb: DataFrame, planes: Int = 8, dims: Int = 64): DataFrame =
    emb.select(srpBucket(col("embedding"), planes, dims).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  // -------------------------------------------------------- int8 quantization

  /** Symmetric per-vector INT8 quantization: scale = max|x|/127, code =
    * floor(x/scale + 0.5) ∈ [−127, 127] — the standard 4× storage
    * reduction for embedding stores at scale (a 100 TB float corpus
    * becomes 25 TB of codes + one scale per vector). Two projections so
    * the per-vector max materializes once (handing the max expression to
    * the per-element lambda would re-scan the array per element — the
    * [[graft.functions.GraftFunctions.shinglesFromTokens]] inlining
    * hazard). All-zero vectors quantize to all-zero codes. Codes are a
    * real `array<tinyint>` — the storage claim is literal, not narrated
    * over a wider carrier type.
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("label"), col("embedding"),
        (greatest(array_max(transform(col("embedding"),
          x => abs(x.cast("double")))), lit(0.0)) / 127.0).as("scale"))
      .select(col("vec_id"), col("label"), col("scale"),
        when(col("scale") === 0.0,
          transform(col("embedding"), _ => lit(0L)))
          .otherwise(transform(col("embedding"),
            x => floor(x.cast("double") / col("scale") + 0.5)))
          .cast("array<byte>").as("codes"))

  /** Exact top-k by cosine over the INT8-quantized corpus. The per-vector
    * scales CANCEL in cosine (cos(s_a·qa, s_b·qb) = cos(qa, qb)), so the
    * score is integer-dot / (√int · √int) — order-independent integer
    * sums and one correctly-rounded sqrt per side, bit-exact in the
    * DuckDB oracle (the same argument as [[Dedup.semanticPairs]]).
    * Quantization costs recall only through code rounding; the spec pins
    * recall@k against the float brute force.
    */
  def quantizedTopK(emb: DataFrame, qid: Long = 0L, k: Int = 20): DataFrame = {
    val qz = quantizeInt8(emb)
    val q = qz.filter(col("vec_id") === qid)
      .select(col("codes").as("q_codes"))
    qz.filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        // codes ≤ 127 are exact in doubles; the widened dot is the same
        // integer-valued sum in any order
        round(cosineSimilarity(col("codes").cast("array<double>"),
          col("q_codes").cast("array<double>")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // ---------------------------------------------------------- kNN self-join

  /** Approximate kNN SELF-JOIN: for EVERY vector, its top-`k` neighbours
    * by exact cosine among banded-SRP candidates — the all-vectors
    * companion to [[annTopK]]'s single-query probe, and the building block
    * a corpus pipeline needs for neighbourhood-based curation (cluster
    * seeding, diversity sampling, near-dup graphs with per-node degree
    * caps).
    *
    * Scale shape — three bounded stages, no all-pairs anywhere:
    *  1. candidates come from the SAME banded SRP as
    *     [[Dedup.embeddingNearDupPairs]] (one fused `SrpBandKeys`
    *     projection, per-band bucket self-join): volume ∝ band-bucket
    *     collisions, tunable by `planesPerBand` (raise it as the corpus
    *     grows; `bands` buys recall back). DIRECTED pairs (both
    *     orientations, a ≠ b) because every vector needs its own list.
    *  2. exact-cosine verify re-joins embeddings BY ID — only id pairs
    *     and (id, vector) rows shuffle, never vector pairs per band.
    *  3. per-vector top-k: the window's per-key input is that vector's
    *     candidate count — bounded by LSH selectivity (≈ bands × band
    *     population), NOT by corpus size, so no salted two-phase is
    *     needed (contrast [[CorpusOps.quotaSample]], where per-key input
    *     is the whole source).
    */
  def knnJoin(emb: DataFrame, k: Int = 3, bands: Int = 8,
              planesPerBand: Int = 8, dims: Int = 64): DataFrame = {
    require(planesPerBand < 48, "band bucket must fit the long band-key encoding")
    val planeMatrix = Array.tabulate(bands * planesPerBand)(
      p => DetHash.hyperplane(p, dims))
    val bandKeys = graft.functions.VectorMath.srpBandKeys(
      col("embedding"), planeMatrix, planesPerBand)
    // single-evaluation embedding subplan: same ReuseExchange discipline
    // (and rationale) as [[Dedup.embeddingNearDupPairs]] — the corpus is
    // scanned/derived once, all four consumers read the (vec_id) shuffle
    val embP = emb.select(col("vec_id"), col("embedding"))
      .repartition(col("vec_id"))
    val banded = embP.select(col("vec_id"), explode_outer(bandKeys).as("bk"))
    val cand = banded.as("x").join(banded.as("y"), col("x.bk") === col("y.bk"))
      .filter(col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    val va = embP.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val vb = embP.select(col("vec_id").as("b"), col("embedding").as("eb"))
    cand.join(va, "a").join(vb, "b")
      .select(col("a"), col("b"),
        round(cosineSimilarity(col("ea"), col("eb")), 4).as("cos_sim"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("a"))
          .orderBy(col("cos_sim").desc, col("b").asc)).cast("long"))
      .filter(col("rk") <= k)
  }

  /** [[knnJoin]] with the SRP band width chosen from the corpus size —
    * the scale knob the fixed-parameter variant documents ("raise
    * planesPerBand as the corpus grows"), turned: per-band expected
    * bucket population is n/2^p, so holding population at `targetBucket`
    * means p = ceil(log2(n / targetBucket)) and the per-band self-join
    * stays ~linear (candidates ∝ n · targetBucket) at ANY corpus size,
    * instead of n²/2^p blowing up as n grows past the fixed width.
    * Recall per band drops as p grows; `bands` is the recovery knob
    * (union over bands, 1-(1-s^p)^bands).
    *
    * Row count comes from the optimizer's plan statistics when they
    * carry one (ANALYZEd catalog tables, ranges, local relations — free
    * at plan time, no job) and falls back to one column-pruned count()
    * scan only when they don't (raw parquet without collected stats).
    * Band sizing only needs the order of magnitude, so a CBO row-count
    * ESTIMATE is as good as the exact count here. Floored at p=8, the
    * fixed variant's width, so small corpora plan identically to
    * [[knnJoin]].
    *
    * CONTRACT: plan statistics are trusted as-is, so callers on ANALYZEd
    * catalog tables must keep those stats fresh — a rowCount collected
    * before a large append is arbitrarily stale and silently sizes a
    * different band width p than the count() path would (approximate
    * results shift with p; correctness of any downstream exact verify
    * does not). Order-of-magnitude staleness is harmless; orders-of-
    * magnitude staleness means re-ANALYZE the table, not this operator.
    */
  def knnJoinAuto(emb: DataFrame, k: Int = 3, bands: Int = 8,
                  targetBucket: Int = 8, dims: Int = 64): DataFrame = {
    val n = corpusRows(emb)._1
    val p = math.min(47, math.max(8,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt))
    knnJoin(emb, k, bands, p, dims)
  }

  /** (row count, came-from-statistics): the optimized plan's rowCount
    * statistic when present, else a count() job. The default (size-only)
    * stats visitor reports rowCount on LEAF nodes and drops it above
    * them, so cardinality-preserving Projects (aliasing, column pruning)
    * are walked through to the child — a `range(n).select(...)` or an
    * ANALYZEd table behind a projection still resolves without a job.
    * Factored so the spec can pin that a stats-bearing relation triggers
    * NO job.
    */
  private[graft] def corpusRows(emb: DataFrame): (Long, Boolean) = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      LogicalPlan, Project, Repartition, RepartitionByExpression}
    def rows(p: LogicalPlan): Option[BigInt] =
      p.stats.rowCount.orElse(p match {
        case pr: Project => rows(pr.child) // 1:1 on rows by definition
        // row-preserving exchanges (collapseByValue's checkpoint fan-out
        // plants one above the stats-bearing scan — round 16): without
        // the descent every size-dispatch probe pays a real count() job
        case rp: Repartition => rows(rp.child)
        case rp: RepartitionByExpression => rows(rp.child)
        case _ => None
      })
    rows(emb.queryExecution.optimizedPlan) match {
      case Some(rc) => (rc.toLong, true)
      case None => (emb.count(), false)
    }
  }

  // ------------------------------------------- persisted (write-time) index

  /** The PERSISTED ANN index: embeddings written `partitionBy(bucket)` —
    * the SRP bucket directory layout IS the index (one directory per
    * bucket value, registered in the catalog). Built once per sf-dir
    * (the amortized write-time cost, same ensure-once discipline as
    * [[Relational.bucketedFactTables]]); `repartition(bucket)` before
    * the write keeps it to one file per bucket instead of
    * tasks × buckets small files.
    *
    * At 100 TB this is the scale path the bucket column only narrates in
    * [[annTopK]]: a probe reads ~n/2^planes of the corpus and the
    * pruning decision is METADATA-ONLY (directory listing), not a scan.
    */
  def partitionedAnnIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                          planes: Int = 4, dims: Int = 64): DataFrame =
    // Tables.persisted re-validates that the catalog entry's files are
    // still readable (and uses a per-session path), so a cleaned tmpdir
    // or a concurrent JVM can't serve an empty/foreign index
    graft.Tables.persisted(spark, dir, s"graft_ann_p${planes}_",
        _.partitionBy("bucket")) {
      graft.Tables.load(spark, dir, "embeddings")
        // int, not long: partition-column type inference reads the
        // directory values back as int — keep write and probe aligned
        .withColumn("bucket", srpBucket(col("embedding"), planes, dims).cast("int"))
        .repartition(col("bucket"))
    }

  /** [[annTopK]] over the persisted index — identical rows, but the
    * query's bucket reaches the index scan as a DYNAMIC PARTITION
    * PRUNING filter: the broadcast 1-row query side's `bucket = q_bucket`
    * equi-join key is the table's partition column, so Spark prunes the
    * scan to the probed directory at runtime (PlanShapeSpec asserts the
    * `dynamicpruningexpression` on the scan). The un-indexed embeddings
    * table serves the query-point lookup, as a serving system would take
    * the query vector from outside the index.
    */
  def annTopKPartitioned(spark: org.apache.spark.sql.SparkSession, dir: String,
                         qid: Long = 0L, k: Int = 20,
                         planes: Int = 4, dims: Int = 64): DataFrame = {
    val idx = partitionedAnnIndex(spark, dir, planes, dims)
    val q = graft.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") === qid)
      .select(col("embedding").as("q_embedding"),
        srpBucket(col("embedding"), planes, dims).cast("int").as("q_bucket"))
    idx.filter(col("vec_id") =!= qid)
      .join(broadcast(q), col("bucket") === col("q_bucket"))
      .select(col("vec_id"), col("label"),
        round(cosineSimilarity(col("embedding"), col("q_embedding")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // -------------------------------------------------------------- IVF

  /** Quantization scale for centroid-training coordinate sums: 2²⁰. A
    * coordinate becomes `floor(x·2²⁰ + 0.5)` — an exact integer in both
    * engines (a float's 24-bit mantissa shifted 20 bits still fits a
    * double exactly, and `floor` rounds identically everywhere, unlike
    * banker's-vs-half-up `round` ambiguity). Integer sums are
    * ORDER-INDEPENDENT, which is what makes a distributed k-means
    * oracle-checkable at all: `sum(double)` varies with partitioning /
    * merge order, `sum(bigint)` cannot. The mean back-conversion
    * `sq / (n·2²⁰)` is one correctly-rounded IEEE division of two exactly
    * representable operands (|sq| ≤ n·2²⁰ stays < 2⁵³ for n < 2³³ — at
    * larger corpora train on a deterministic sample, which production
    * k-means does anyway).
    */
  private val QuantScale = 1048576L

  /** The best-centroid fold: max cosine, ties → lowest centroid id (the
    * array is sorted by c_id and the comparison is strict, so the first
    * maximum wins). Shared by assignment at train and query time.
    */
  private def bestCentroid(cents: Column, v: Column): Column =
    aggregate(
      cents,
      struct(lit(-1L).as("c_id"), lit(-2.0).as("sim")),
      (acc, c) => {
        val s = cosineSimilarity(v, c.getField("c_emb"))
        when(s > acc.getField("sim"),
          struct(c.getField("c_id").as("c_id"), s.as("sim"))).otherwise(acc)
      },
      acc => acc.getField("c_id"))

  /** One-row (sorted array) form of a K-row centroid frame — broadcasts,
    * so assignment needs no shuffle at any corpus size.
    */
  private def centsRow(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(struct(
      col("c_id"), col("c_emb")))).as("cents"))

  /** Deterministic TRAINED coarse quantizer: `iters` rounds of Lloyd's
    * k-means, seeded with the embeddings of vec_id < K (iters = 0 ⇒ the
    * round-4 training-free stand-in). Returned as a ONE-ROW frame holding
    * the sorted centroid array.
    *
    * Reproducibility (the DuckDB oracle runs the IDENTICAL training):
    * assignment is the [[bestCentroid]] fold (pure per-row doubles);
    * the centroid update sums 2²⁰-quantized coordinates as INTEGERS
    * ([[QuantScale]]) so no float-summation order can drift between
    * engines or between partitionings; empty clusters keep their previous
    * centroid. Per round: one broadcast of K·dims doubles + one
    * (c_id, dim) shuffle of integer partial sums — map-side combined,
    * K·dims groups, corpus-size-independent exchange width.
    */
  /** Per-round trainer-state checkpoint (round 17, verdict #6 + the r16
    * advisory): truncates the Lloyd/PQ round's lineage exactly as the
    * r16 localCheckpoint did, but (a) honors `checkpointDir` — when set,
    * the K-row round table persists + reliably checkpoints (HDFS/S3)
    * instead of pinning lineage-truncated state to executor storage, the
    * same discipline as [[graft.operators.Dedup]]'s componentLabels.save
    * (the persist makes the eager checkpoint and any same-round reuse
    * share one execution) — and (b) unpersists the PREVIOUS round's
    * checkpoint backing once the new round has materialized, so
    * block-manager entries no longer accumulate linearly with training
    * rounds. Values are untouched — this is pure lineage/storage
    * management.
    */
  private def roundCheckpoint(df: DataFrame, checkpointDir: Option[String],
                              prev: Option[DataFrame]): DataFrame = {
    checkpointDir.foreach(df.sparkSession.sparkContext.setCheckpointDir)
    val out =
      if (checkpointDir.isDefined) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try df.checkpoint(true) finally df.unpersist(false)
      } else df.localCheckpoint(true)
    prev.foreach(org.apache.spark.sql.GraftShim.unpersistCheckpointBacking)
    out
  }

  def ivfCentroids(emb: DataFrame, numCentroids: Int = 16,
                   iters: Int = 2, sampleMod: Int = 1,
                   checkpointDir: Option[String] = None): DataFrame = {
    // sampleMod > 1: train on the deterministic `vec_id % sampleMod == 0`
    // slice — the scale path once integer coordinate sums would near the
    // 2⁶³ bound (n ≳ 2³³ rows: quantized coords are < 2²¹, so a full-corpus
    // sum of 2³³ of them can reach 2⁵⁴·dims) and, more practically, once a
    // training pass over the full corpus stops paying for itself. The
    // slice is a pure function of vec_id, so the oracle trains the
    // IDENTICAL slice; assignment/probing always covers every vector.
    val train = if (sampleMod > 1)
      emb.filter(pmod(col("vec_id"), lit(sampleMod)) === 0) else emb
    var cents = emb.filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("c_id"),
        col("embedding").cast("array<double>").as("c_emb"))
    var prevRound: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val assigned = train.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(centsRow(cents)))
        .select(bestCentroid(col("cents"), col("embedding")).as("c_id"),
          col("embedding"))
      val sums = assigned
        .select(col("c_id"), posexplode(col("embedding")))
        .select(col("c_id"), (col("pos") + 1).as("dim"),
          floor(col("col").cast("double") * lit(QuantScale.toDouble) + lit(0.5)).as("q"))
        .groupBy(col("c_id"), col("dim"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      val means = sums.groupBy(col("c_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"),
            (col("sq").cast("double") / (col("n") * lit(QuantScale)).cast("double")).as("m")))),
          _.getField("m")).as("c_emb"))
      // eager checkpoint of the K-row centroid table per round (round
      // 16): each round consumes `cents` TWICE (the broadcast assignment
      // row and the empty-cluster fallback join), so left lazy the
      // training subtree doubled per iteration and the final consumers
      // re-embedded the whole chain — sim_ivfpq_topk's executed plan
      // carried 35 copies of the posexplode training stage. K rows, so
      // the checkpoint is one trivial job; values are unchanged.
      cents = roundCheckpoint(
        cents.as("prev").join(means.as("upd"), Seq("c_id"), "left")
          .select(col("c_id"),
            coalesce(col("upd.c_emb"), col("prev.c_emb")).as("c_emb")),
        checkpointDir, prevRound)
      prevRound = Some(cents)
    }
    centsRow(cents)
  }

  /** The trained centroids PERSISTED as a K-row table (c_id, c_emb) —
    * built once per (dir, K, iters) with the same ensure-once discipline
    * as the ANN/IVF indexes. Training is deterministic, so the persisted
    * values equal an in-query training run exactly; every query over the
    * same corpus then reads K rows instead of re-running Lloyd rounds
    * over the corpus (at 100 TB, training is an offline build step, not
    * per-probe work — this is that boundary made explicit).
    */
  def ivfCentroidsTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                        numCentroids: Int = 16, iters: Int = 2): DataFrame =
    centsRow(graft.Tables.persisted(spark, dir,
        s"graft_ivfcents_c${numCentroids}_k${iters}_") {
      ivfCentroids(graft.Tables.load(spark, dir, "embeddings"),
        numCentroids, iters)
        .select(explode(col("cents")).as("c"))
        .select(col("c.c_id"), col("c.c_emb"))
        .coalesce(1)
    })

  /** [[ivfAssign]] against an ALREADY-TRAINED one-row centroid frame. */
  def ivfAssignWith(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("embedding"),
        bestCentroid(col("cents"), col("embedding")).as("c_id"))

  /** IVF assignment: each vector → centroid with max cosine (ties → lowest
    * centroid id). Pure per-row fold over the broadcast centroid array —
    * zero shuffles; the assigned list id is the natural write-time
    * partition key for the corpus.
    */
  def ivfAssign(emb: DataFrame, numCentroids: Int = 16,
                iters: Int = 2): DataFrame =
    ivfAssignWith(emb, ivfCentroids(emb, numCentroids, iters))

  /** The PERSISTED IVF index: embeddings written `partitionBy(c_id)` —
    * one directory per inverted list, the write-time twin of
    * [[partitionedAnnIndex]] with the coarse quantizer's list id as the
    * partition key. Same ensure-once + per-session-path discipline.
    */
  def partitionedIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                          numCentroids: Int = 16, iters: Int = 2): DataFrame =
    graft.Tables.persisted(spark, dir, s"graft_ivf_c${numCentroids}_k${iters}_",
        _.partitionBy("c_id")) {
      ivfAssignWith(graft.Tables.load(spark, dir, "embeddings"),
        ivfCentroidsTable(spark, dir, numCentroids, iters))
        // int partition column: directory values read back as int
        .withColumn("c_id", col("c_id").cast("int"))
        .repartition(col("c_id"))
    }

  /** [[ivfTopK]] over the persisted index — identical rows, but the
    * probed lists reach the scan as DYNAMIC PARTITION PRUNING: the
    * query's top-nprobe list ids EXPLODE into a tiny broadcast probe
    * frame whose `c_id = list_id` equi-join key is the index's partition
    * column, so the scan reads nprobe of numCentroids directories —
    * metadata-only pruning, like [[annTopKPartitioned]] (each vector
    * lives in exactly one list and the probed lists are distinct, so the
    * join cannot duplicate rows).
    */
  def ivfTopKPartitioned(spark: org.apache.spark.sql.SparkSession, dir: String,
                         qid: Long = 0L, k: Int = 20,
                         numCentroids: Int = 16, nprobe: Int = 4,
                         iters: Int = 2): DataFrame =
    ivfProbeOver(partitionedIvfIndex(spark, dir, numCentroids, iters),
      graft.Tables.load(spark, dir, "embeddings"),
      ivfCentroidsTable(spark, dir, numCentroids, iters), qid, k, nprobe)

  /** The persisted IVF index of YESTERDAY's corpus slice
    * (vec_id % 10 < 8) — the incremental-maintenance stand-in, list
    * layout and centroids identical to [[partitionedIvfIndex]].
    */
  def ivfSliceIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    numCentroids: Int = 16, iters: Int = 2): DataFrame =
    graft.Tables.persisted(spark, dir,
        s"graft_ivfslice_c${numCentroids}_k${iters}_", _.partitionBy("c_id")) {
      ivfAssignWith(
        graft.Tables.load(spark, dir, "embeddings")
          .filter(pmod(col("vec_id"), lit(10)) < 8),
        ivfCentroidsTable(spark, dir, numCentroids, iters))
        .withColumn("c_id", col("c_id").cast("int"))
        .repartition(col("c_id"))
    }

  /** INDEX MAINTENANCE without retraining: today's batch
    * (vec_id % 10 >= 8) is assigned on the fly with the SAME persisted
    * centroids and unioned with yesterday's persisted lists
    * ([[ivfSliceIndex]]) — no retrain, no index rebuild; a production
    * pipeline appends the assigned batch to the list directories
    * instead of re-deriving them. Because assignment is a pure function
    * of (vector, centroids), the union is VALUE-identical to the
    * monolithic index, so the oracle is the plain full-corpus IVF probe
    * — what this query additionally proves is that the append path
    * cannot drift from a rebuild. The probed list ids prune the
    * persisted side's scan; the batch side is batch-sized.
    */
  def ivfIncrementalTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                         qid: Long = 0L, k: Int = 20,
                         numCentroids: Int = 16, nprobe: Int = 4,
                         iters: Int = 2): DataFrame = {
    val cents = ivfCentroidsTable(spark, dir, numCentroids, iters)
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val old = ivfSliceIndex(spark, dir, numCentroids, iters)
      .select(col("vec_id"), col("label"), col("embedding"), col("c_id"))
    val batch = ivfAssignWith(
      emb.filter(pmod(col("vec_id"), lit(10)) >= 8), cents)
      .withColumn("c_id", col("c_id").cast("int"))
      .select(col("vec_id"), col("label"), col("embedding"), col("c_id"))
    ivfProbeOver(old.unionByName(batch), emb, cents, qid, k, nprobe)
  }

  /** The shared nprobe probe: rank the persisted centroids by cosine to
    * the query, explode the top-nprobe list ids into a broadcast frame,
    * equi-join on the index's list id (partition-pruning when the index
    * side is a partitioned table), exact top-k within the probed lists.
    */
  private def ivfProbeOver(idx: DataFrame, emb: DataFrame, cents: DataFrame,
                           qid: Long, k: Int, nprobe: Int): DataFrame = {
    val cmp = (l: Column, r: Column) => {
      val sl = cosineSimilarity(col("q_embedding"), l.getField("c_emb"))
      val sr = cosineSimilarity(col("q_embedding"), r.getField("c_emb"))
      when(sl > sr, -1).when(sl < sr, 1)
        .when(l.getField("c_id") < r.getField("c_id"), -1)
        .when(l.getField("c_id") > r.getField("c_id"), 1)
        .otherwise(0)
    }
    // probe centroids come from the PERSISTED table — training ran once
    // at index-build time, not per query
    val probe = emb.filter(col("vec_id") === qid)
      .select(col("embedding").as("q_embedding"))
      .crossJoin(broadcast(cents))
      .select(col("q_embedding"),
        explode(transform(slice(array_sort(col("cents"), cmp), 1, nprobe),
          _.getField("c_id"))).as("list_id"))
    idx.filter(col("vec_id") =!= qid)
      .join(broadcast(probe), col("c_id") === col("list_id").cast("int"))
      .select(col("vec_id"), col("label"),
        round(cosineSimilarity(col("embedding"), col("q_embedding")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF ANN top-k: rank centroids by cosine to the query, scan only the
    * vectors assigned to the top `nprobe` lists, exact top-k within them.
    * Recall grows with nprobe (nprobe = numCentroids ⇒ exact search).
    */
  def ivfTopK(emb: DataFrame, qid: Long = 0L, k: Int = 20,
              numCentroids: Int = 16, nprobe: Int = 4,
              iters: Int = 2): DataFrame =
    ivfTopKOver(emb, ivfCentroids(emb, numCentroids, iters), qid, k, nprobe)

  /** [[ivfTopK]] with SAMPLED centroid training: Lloyd rounds see only
    * the deterministic `vec_id % sampleMod == 0` slice (assignment and
    * probing still cover every vector). This is the prescribed form past
    * n ≈ 2³³ training rows — the quantized integer sums stay far from
    * overflow and the training pass touches 1/sampleMod of the corpus.
    * Recall vs full-corpus training is spec-pinned (DedupSimilaritySpec).
    */
  def ivfTopKSampled(emb: DataFrame, qid: Long = 0L, k: Int = 20,
                     numCentroids: Int = 16, nprobe: Int = 4,
                     iters: Int = 2, sampleMod: Int = 4): DataFrame =
    ivfTopKOver(emb, ivfCentroids(emb, numCentroids, iters, sampleMod),
      qid, k, nprobe)

  /** [[ivfTopK]] over the PERSISTED centroids of a corpus directory —
    * identical rows (training is deterministic), but Lloyd rounds ran
    * once at table-build time instead of inside every probe. This is the
    * serving-path form; the generic-`emb` [[ivfTopK]] trains in-query.
    */
  def ivfTopKCached(spark: org.apache.spark.sql.SparkSession, dir: String,
                    qid: Long = 0L, k: Int = 20,
                    numCentroids: Int = 16, nprobe: Int = 4,
                    iters: Int = 2): DataFrame =
    ivfTopKOver(graft.Tables.load(spark, dir, "embeddings"),
      ivfCentroidsTable(spark, dir, numCentroids, iters), qid, k, nprobe)

  private def ivfTopKOver(emb: DataFrame, cents: DataFrame, qid: Long,
                          k: Int, nprobe: Int): DataFrame = {
    val cmp = (l: Column, r: Column) => {
      val sl = cosineSimilarity(col("q_embedding"), l.getField("c_emb"))
      val sr = cosineSimilarity(col("q_embedding"), r.getField("c_emb"))
      when(sl > sr, -1).when(sl < sr, 1)
        .when(l.getField("c_id") < r.getField("c_id"), -1)
        .when(l.getField("c_id") > r.getField("c_id"), 1)
        .otherwise(0)
    }
    val q = emb.filter(col("vec_id") === qid)
      .select(col("embedding").as("q_embedding"))
      .crossJoin(broadcast(cents))
      .select(col("q_embedding"),
        transform(slice(array_sort(col("cents"), cmp), 1, nprobe),
          _.getField("c_id")).as("q_lists"))
    ivfAssignWith(emb, cents)
      .filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(q))
      .filter(array_contains(col("q_lists"), col("c_id")))
      .select(col("vec_id"), col("label"),
        round(cosineSimilarity(col("embedding"), col("q_embedding")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // -------------------------------------------------------------------
  // Embedding-space corpus pruning over the IVF clustering
  // -------------------------------------------------------------------

  /** The persisted centroids as a K-row (c_id, c_emb) frame — the
    * exploded twin of [[ivfCentroidsTable]]'s one-row array form, for
    * consumers that join per-cluster rather than folding per row.
    */
  private def centroidRows(spark: org.apache.spark.sql.SparkSession,
                           dir: String, numCentroids: Int,
                           iters: Int): DataFrame =
    ivfCentroidsTable(spark, dir, numCentroids, iters)
      .select(explode(col("cents")).as("c"))
      .select(col("c.c_id"), col("c.c_emb"))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): pairwise cosine is evaluated only WITHIN each
    * coarse cluster of the trained IVF quantizer, never across the
    * corpus. A vector is reported as a duplicate iff some SAME-CLUSTER
    * vector with a smaller vec_id sits above the threshold — the
    * keep-first rule every other keep-one dedup in this engine uses.
    * Output: (vec_id, c_id, dup_of = smallest such partner, n_dups).
    *
    * Scale shape — the whole point of the method: the only shuffle is
    * the equi-join on `c_id`, so candidate generation is Σ|cluster|²/2,
    * not n²/2. At 100 TB the cluster count K scales with the corpus
    * (the paper runs ~100k clusters via the same k-means) so each list
    * stays worker-sized; here K = numCentroids of the shared persisted
    * quantizer, and assignment itself is the zero-shuffle broadcast
    * fold ([[ivfAssignWith]]). Cross-cluster near-dups are invisible by
    * construction — that recall loss is the documented trade the paper
    * measures, not a bug. Training runs ONCE per corpus directory
    * ([[ivfCentroidsTable]]); probes of any threshold reuse it.
    */
  def semDedup(spark: org.apache.spark.sql.SparkSession, dir: String,
               numCentroids: Int = 16, iters: Int = 2,
               threshold: Double = 0.4): DataFrame = {
    val asg = ivfAssignWith(graft.Tables.load(spark, dir, "embeddings"),
        ivfCentroidsTable(spark, dir, numCentroids, iters))
      .select(col("vec_id"), col("embedding"), col("c_id"))
    val a = asg.select(col("c_id"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = asg.select(col("c_id"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    a.join(b, Seq("c_id"))
      .filter(col("a_id") < col("b_id") &&
        cosineSimilarity(col("a_emb"), col("b_emb")) > threshold)
      .groupBy(col("b_id"), col("c_id"))
      .agg(min(col("a_id")).as("dup_of"), count(lit(1)).as("n_dups"))
      .select(col("b_id").as("vec_id"), col("c_id"), col("dup_of"),
        col("n_dups"))
  }

  /** Prototype / density pruning (the SSL-Prototypes baseline of Sorscher
    * et al. 2022, arXiv:2206.14486, as applied to LLM data in D4,
    * Tirumala et al. 2023, arXiv:2308.12284): within each IVF cluster,
    * rank members by cosine to their OWN centroid (most prototypical
    * first, ties → lowest vec_id) and drop the top `dropFrac` — the most
    * redundant, cluster-center-hugging examples. Output: the SURVIVORS
    * (vec_id, c_id, rk, proto_sim rounded).
    *
    * Scale shape: centroid lookup is a K-row broadcast onto the
    * zero-shuffle assignment fold, so the single exchange is the
    * per-cluster window — each cluster ranks on its own reducer, input
    * bounded by cluster width (K scales with the corpus, as in
    * [[semDedup]]). The drop count `ceil(|cluster| * dropFrac)` is
    * derived in-window from `count(*) over` — no second pass.
    */
  def prunePrototypes(spark: org.apache.spark.sql.SparkSession, dir: String,
                      numCentroids: Int = 16, iters: Int = 2,
                      dropFrac: Double = 0.2): DataFrame = {
    val asg = ivfAssignWith(graft.Tables.load(spark, dir, "embeddings"),
        ivfCentroidsTable(spark, dir, numCentroids, iters))
      .select(col("vec_id"), col("embedding"), col("c_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("c_id"))
    val scored = asg
      .join(broadcast(centroidRows(spark, dir, numCentroids, iters)),
        Seq("c_id"))
      .select(col("vec_id"), col("c_id"),
        cosineSimilarity(col("embedding"), col("c_emb")).as("proto_sim"))
    scored
      .withColumn("rk", row_number().over(
        w.orderBy(col("proto_sim").desc, col("vec_id").asc)).cast("long"))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("rk") > ceil(col("cnt").cast("double") * dropFrac))
      .select(col("vec_id"), col("c_id"), col("rk"),
        round(col("proto_sim"), 4).as("proto_sim"))
  }

  // ------------------------------------------------ product quantization

  /** Sequential-fold squared L2 distance in dimension order — the exact
    * IEEE operation sequence the DuckDB oracle renders, so codeword
    * assignment cannot drift between engines.
    */
  private def l2Dist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** The best-codeword fold within subspace `mi`: min squared-L2, ties →
    * lowest code id (the books array is (m, c_id)-sorted with exactly
    * `ks` entries per subspace, and the comparison is strict, so the
    * first minimum wins). `mi` is a Column so [[pqCodes]] can evaluate
    * all subspaces in one projection.
    */
  private def bestCode(books: Column, mi: Column, ks: Int, s: Column): Column =
    aggregate(
      slice(books, mi * ks + 1, lit(ks)),
      struct(lit(-1L).as("c_id"), lit(Double.MaxValue).as("d")),
      (acc, c) => {
        val d = l2Dist(s, c.getField("c_emb"))
        when(d < acc.getField("d"),
          struct(c.getField("c_id").as("c_id"), d.as("d"))).otherwise(acc)
      },
      acc => acc.getField("c_id"))

  /** Deterministic PRODUCT-QUANTIZATION codebooks (Jégou et al., TPAMI
    * 2011): the embedding space splits into `m` subspaces of `dims/m`
    * coordinates and each subspace trains its own `ks`-codeword
    * quantizer — all `m` k-means runs ride ONE (m, c_id)-keyed Lloyd
    * loop (the [[ivfCentroids]] discipline: integer-quantized centroid
    * updates, empty clusters keep their codeword, seed = subvectors of
    * vec_id < ks), so the DuckDB oracle trains identical codebooks from
    * one CTE chain. Returned as a one-row frame holding the
    * (m, c_id)-sorted codeword array — m·ks tiny rows, broadcastable at
    * any corpus size.
    *
    * Scale: PQ is the storage tier BELOW [[quantizeInt8]] — a 64-dim
    * float vector (256 B) becomes m=8 byte codes (8 B, 32×); the probe
    * cost per vector drops from a dims-long dot product to m table
    * lookups. Training cost per round: one broadcast of m·ks·(dims/m)
    * doubles + one (m, c_id, dim) integer-partial shuffle — map-side
    * combined, corpus-size-independent width, same as the IVF trainer.
    */
  def pqCodebooks(emb: DataFrame, m: Int = 8, ks: Int = 16,
                  iters: Int = 2, dims: Int = 64,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val sub = dims / m
    val subs = emb.select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col("embedding").cast("array<double>"),
            i * sub + 1, lit(sub)))))
      .select(col("vec_id"), col("pos").as("m"), col("col").as("s_emb"))
    var books = subs.filter(col("vec_id") < ks)
      .select(col("m"), col("vec_id").as("c_id"), col("s_emb").as("c_emb"))
    var prevRound: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val row = books.agg(sort_array(collect_list(struct(
        col("m"), col("c_id"), col("c_emb")))).as("books"))
      val assigned = subs.crossJoin(broadcast(row))
        .select(col("m"),
          bestCode(col("books"), col("m"), ks, col("s_emb")).as("c_id"),
          col("s_emb"))
      val sums = assigned
        .select(col("m"), col("c_id"), posexplode(col("s_emb")))
        .select(col("m"), col("c_id"), (col("pos") + 1).as("dim"),
          floor(col("col") * lit(QuantScale.toDouble) + lit(0.5)).as("q"))
        .groupBy(col("m"), col("c_id"), col("dim"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      val means = sums.groupBy(col("m"), col("c_id"))
        .agg(transform(array_sort(collect_list(struct(col("dim"),
          (col("sq").cast("double") / (col("n") * lit(QuantScale)).cast("double")).as("mn")))),
          _.getField("mn")).as("c_emb"))
      // same per-round checkpoint as [[ivfCentroids]]: m·ks rows, two
      // consumers per round — prevents the doubling-per-iteration plan
      books = roundCheckpoint(
        books.as("prev").join(means.as("upd"), Seq("m", "c_id"), "left")
          .select(col("m"), col("c_id"),
            coalesce(col("upd.c_emb"), col("prev.c_emb")).as("c_emb")),
        checkpointDir, prevRound)
      prevRound = Some(books)
    }
    books.agg(sort_array(collect_list(struct(
      col("m"), col("c_id"), col("c_emb")))).as("books"))
  }

  /** PQ ENCODE: every vector → `m` codeword ids, all subspaces assigned
    * in ONE zero-shuffle projection against the broadcast codebooks
    * (this is the 32× compressed representation a 100 TB embedding
    * store persists instead of raw floats).
    */
  def pqCodes(emb: DataFrame, booksRow: DataFrame, m: Int = 8,
              ks: Int = 16, dims: Int = 64): DataFrame = {
    val sub = dims / m
    emb.crossJoin(broadcast(booksRow))
      .select(col("vec_id"), col("label"),
        transform(sequence(lit(0), lit(m - 1)), mi =>
          bestCode(col("books"), mi, ks,
            slice(col("embedding").cast("array<double>"), mi * sub + 1,
              lit(sub)))).as("codes"))
  }

  /** Σ over subspaces of an ADC-table field, folded in subspace order
    * (index into the (m, c_id)-sorted table = m·ks + code + 1).
    */
  private def adcSum(adc: Column, codes: Column, ks: Int, m: Int,
                     field: String): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, mi) => acc + element_at(adc,
        (mi * ks + element_at(codes, mi + 1) + 1).cast("int")).getField(field))

  /** PQ approximate top-k by ASYMMETRIC DISTANCE COMPUTATION: the exact
    * query vector scores against each corpus vector's RECONSTRUCTION
    * (the concatenation of its m codewords) — per query, one m·ks
    * lookup table of (⟨q_m, c⟩, ⟨c, c⟩) partials is built from the
    * broadcast codebooks, and each corpus vector's score is m table
    * lookups + m adds instead of a dims-long dot product:
    * pq_sim = Σ_m ⟨q_m, c_m⟩ / (|q| · √Σ_m ⟨c_m, c_m⟩) — the cosine of
    * q with the reconstruction (subspaces are disjoint coordinate
    * blocks, so the reconstruction's cross terms are exactly zero).
    * Approximate by construction (codes round vectors to codewords);
    * the spec pins recall@k against the float brute force. Plan shape:
    * two 1-row broadcasts onto one scan projection →
    * TakeOrderedAndProject; zero exchanges, no cartesian.
    */
  def pqTopK(emb: DataFrame, qid: Long = 0L, k: Int = 20, m: Int = 8,
             ks: Int = 16, iters: Int = 2, dims: Int = 64): DataFrame = {
    val sub = dims / m
    val booksRow = pqCodebooks(emb, m, ks, iters, dims)
    val q = emb.filter(col("vec_id") === qid)
      .select(col("embedding").cast("array<double>").as("q_emb"))
    val adcRow = q.crossJoin(broadcast(booksRow))
      .select(col("q_emb"),
        transform(col("books"), b => struct(
          dotProduct(slice(col("q_emb"), b.getField("m") * sub + 1, lit(sub)),
            b.getField("c_emb")).as("pdot"),
          dotProduct(b.getField("c_emb"), b.getField("c_emb")).as("pnrm")))
          .as("adc"))
    pqCodes(emb.filter(col("vec_id") =!= qid), booksRow, m, ks, dims)
      .crossJoin(broadcast(adcRow))
      .select(col("vec_id"), col("label"),
        round(adcSum(col("adc"), col("codes"), ks, m, "pdot")
          / (sqrt(dotProduct(col("q_emb"), col("q_emb")))
            * sqrt(adcSum(col("adc"), col("codes"), ks, m, "pnrm"))), 4)
          .as("pq_sim"))
      .orderBy(col("pq_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF + PQ composed (the IVFADC serving architecture — FAISS's
    * billion-scale default, minus the residual encoding so the oracle
    * stays one CTE chain): the coarse quantizer ([[ivfCentroids]])
    * routes the query to its top-`nprobe` inverted lists, and only the
    * vectors in those lists are scored — by PQ codes + ADC lookups, not
    * raw floats. At scale the two tiers multiply: the scan touches
    * nprobe/K of the corpus and each touched vector costs m lookups
    * against 16× smaller storage. Both tiers train with the shared
    * integer Lloyd, so the composite stays oracle-hash-exact; recall is
    * bounded by min(list recall, code resolution) — both spec-pinned
    * individually, the composition measured against brute force.
    */
  def ivfPqTopK(emb: DataFrame, qid: Long = 0L, k: Int = 20,
                numCentroids: Int = 16, nprobe: Int = 4,
                m: Int = 16, ks: Int = 16, iters: Int = 2,
                dims: Int = 64): DataFrame = {
    val sub = dims / m
    val cents = ivfCentroids(emb, numCentroids, iters)
    val booksRow = pqCodebooks(emb, m, ks, iters, dims)
    val cmp = (l: Column, r: Column) => {
      val sl = cosineSimilarity(col("q_embedding"), l.getField("c_emb"))
      val sr = cosineSimilarity(col("q_embedding"), r.getField("c_emb"))
      when(sl > sr, -1).when(sl < sr, 1)
        .when(l.getField("c_id") < r.getField("c_id"), -1)
        .when(l.getField("c_id") > r.getField("c_id"), 1)
        .otherwise(0)
    }
    val probe = emb.filter(col("vec_id") === qid)
      .select(col("embedding").as("q_embedding"))
      .crossJoin(broadcast(cents))
      .select(col("q_embedding"),
        explode(transform(slice(array_sort(col("cents"), cmp), 1, nprobe),
          _.getField("c_id"))).as("list_id"))
    val adcRow = emb.filter(col("vec_id") === qid)
      .select(col("embedding").cast("array<double>").as("q_emb"))
      .crossJoin(broadcast(booksRow))
      .select(col("q_emb"),
        transform(col("books"), b => struct(
          dotProduct(slice(col("q_emb"), b.getField("m") * sub + 1, lit(sub)),
            b.getField("c_emb")).as("pdot"),
          dotProduct(b.getField("c_emb"), b.getField("c_emb")).as("pnrm")))
          .as("adc"))
    val listed = ivfAssignWith(emb.filter(col("vec_id") =!= qid), cents)
      .join(broadcast(probe.select(col("list_id"))),
        col("c_id") === col("list_id"))
      .select(col("vec_id"), col("label"), col("embedding"))
    pqCodes(listed, booksRow, m, ks, dims)
      .crossJoin(broadcast(adcRow))
      .select(col("vec_id"), col("label"),
        round(adcSum(col("adc"), col("codes"), ks, m, "pdot")
          / (sqrt(dotProduct(col("q_emb"), col("q_emb")))
            * sqrt(adcSum(col("adc"), col("codes"), ks, m, "pnrm"))), 4)
          .as("pq_sim"))
      .orderBy(col("pq_sim").desc, col("vec_id").asc)
      .limit(k)
  }
}
