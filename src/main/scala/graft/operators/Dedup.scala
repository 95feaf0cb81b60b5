package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.functions.DetHash
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Deduplication operators over a document corpus — the LLM-training-data
  * pipeline surface (north-star extension; the reference has no dedup,
  * SURVEY.md §2.8).
  *
  * The near-dup chains are compositions of four stages, each written once:
  *  1. grams: [[shingled]] (word n-grams) or [[charShingled]] (char n-gram
  *     hash keys), entered through [[gramEntry]] (`isnotnull(doc_id)` and
  *     one `repartition(doc_id)`), so all of an operator's gram consumers
  *     read one exchange and the gram pass runs once;
  *  2. signatures and bands: [[withSignature]] (hs → MinHashSlots → sig,
  *     for string or long grams), [[bandKey]] (with the empty-set guard
  *     inside the generator), [[slotMatches]], and [[pigeonhole]] (the
  *     containment probe budget (m, plen));
  *  3. verify: [[countIntersections]] (count-based |A∩B|) and
  *     [[bothDirections]] (both containment directions from one count);
  *     [[jaccardPairsOver]] keeps its bitmap/array verify, picked from the
  *     measured vocabulary;
  *  4. emit: [[collapsedClusters]] (exact-value collapse, rep pairs plus
  *     member edges, [[componentLabels]]).
  *
  * Scale design:
  *  - Exact dedup: one hash-shuffle on the fingerprint. The md5 fingerprint
  *    (not the raw text) is what shuffles — 32 bytes/row regardless of
  *    document size.
  *  - MinHash-LSH: the 100 TB path. Per-doc cost is one md5 per word
  *    shingle (char grams are already hash keys) + integer math for all
  *    permutations (see [[DetHash]]). Candidates come from the band-key
  *    self-join; word LSH verifies by exact count-based jaccard over the
  *    gram exchange, char LSH by the signature estimate, the signatures
  *    riding each band row through the join. Candidate volume is
  *    controlled by (bands × rows), not corpus size².
  *  - Inverted-index jaccard: exact semantics; candidate generation via
  *    explode(shingle) self-join. Correct but super-linear in shared-shingle
  *    frequency — documented as the small/medium-corpus exact baseline;
  *    at 100 TB use the LSH variant.
  *  - SimHash: 60-bit signature per doc, one md5 per token; near-dup =
  *    low Hamming distance. Emitted per-doc (signature is the deliverable).
  *  - Embedding near-dup: cosine over Array[Float]; candidate pruning via
  *    sign-random-projection buckets ([[Similarity]] shares the machinery).
  *
  * All outputs are deterministic and oracle-checkable (md5-derived hashing,
  * double-widened float math, no rand()). Murmur3 appears once, as the
  * second key hash of [[collapseByValue]]: it only groups identical
  * values, so it never reaches an output value.
  */
object Dedup {

  /** ceil(num·sz/den) in TRULY exact integer arithmetic, shared by the
    * AllPairs prefix and the containment pigeonhole. Spark's `/` always
    * divides as double, so `floor((num·sz+den−1)/den)` alone is exact
    * only while double rounding cannot cross an integer; here the
    * numerator is first reduced to an exact multiple of den (subtracting
    * its pmod — pure long arithmetic), and dividing an exact multiple
    * below 2⁵³ by its divisor is correctly rounded to the exact integer
    * quotient. num·sz stays < 2⁵³ for any real gram count at den = 10⁶.
    */
  private[graft] def ceilRational(num: Long, sz: Column, den: Long): Column = {
    val x = lit(num) * sz + lit(den - 1)
    ((x - pmod(x, lit(den))) / lit(den)).cast("long")
  }

  /** Word n-gram shingle set of the normalized text. Two projections so the
    * token array materializes once per row before the per-shingle lambda
    * (see [[graft.functions.GraftFunctions.shinglesFromTokens]]); the double
    * reference to `tk` stops CollapseProject from re-inlining it.
    */
  def shingled(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), tokens(normalizeText(col("text"))).as("tk"))
      .select(col("doc_id"), shinglesFromTokens(col("tk"), n).as("shingles"))

  // -------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------

  /** Exact dedup groups: fingerprint → (representative = min doc_id, count).
    * Only the 32-byte fingerprint shuffles.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_cnt"))

  /** Exact dedup: keep one row per fingerprint (the min doc_id one).
    * min_by over a struct — ONE shuffle of (fp, small struct) with map-side
    * partial aggregation, instead of the agg + self-join formulation that
    * scans the corpus twice and shuffles three times.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs
      .select(fingerprint(col("text")).as("fp"),
        struct(col("doc_id"), col("lang"), col("source")).as("r"))
      .groupBy(col("fp"))
      .agg(min_by(col("r"), col("r.doc_id")).as("r"))
      .select(col("r.doc_id"), col("r.lang"), col("r.source"))

  // -------------------------------------------------------------------
  // Incremental ingest dedup (persisted fingerprint index)
  // -------------------------------------------------------------------

  /** The persisted corpus fingerprint index: distinct fingerprints of the
    * already-ingested corpus, written `bucketBy(fp)` once per sf-dir (the
    * same ensure-once discipline as `Relational.bucketedFactTables`).
    * "Existing corpus" here is the deterministic doc_id % 10 < 8 slice —
    * a stand-in for yesterday's accumulated index, which a production
    * pipeline would append to after each batch.
    */
  def fingerprintIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       buckets: Int = 32): DataFrame =
    graft.Tables.persisted(spark, dir, "graft_fpidx_b",
        _.bucketBy(buckets, "fp").sortBy("fp")) {
      graft.Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 10 < 8)
        .select(fingerprint(col("text")).as("fp")).distinct()
    }

  /** Incremental ingest: dedup TODAY'S batch (doc_id % 10 >= 8) against
    * the persisted corpus index AND within itself — the daily-append
    * shape of a training-data pipeline, where re-fingerprinting (or
    * re-shuffling) the accumulated 100 TB corpus per batch is exactly
    * what must not happen.
    *
    * Scale shape: the index side is read pre-bucketed on fp — NO exchange
    * at any corpus size (PlanShapeSpec asserts the index scan has
    * `SelectedBucketsCount` and no exchange above it). The anti-join
    * shuffles only the NEW BATCH into the index's bucket layout, and the
    * within-batch keep-one groupBy then reuses that same (fp)
    * partitioning — one exchange total, sized by the batch, not the
    * corpus. Anti-join runs BEFORE the keep-one agg on purpose: both need
    * the batch hashed by fp, so ordering them this way lets
    * EnsureRequirements feed the agg from the join's partitioning
    * instead of re-shuffling.
    */
  def incrementalIngest(spark: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame = {
    val idx = fingerprintIndex(spark, dir)
    val batch = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    batch.join(idx, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))
  }

  // -------------------------------------------------------------------
  // MinHash + LSH (the at-scale near-dup path)
  // -------------------------------------------------------------------

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand: Int = NumHashes / Bands

  /** MinHash signature: array of NumHashes min-permuted shingle hashes,
    * one array_min(transform(...)) per permutation — the reference form
    * [[withSignature]]'s fused slots are spec-checked against. An empty
    * shingle set gets the P sentinel in every slot (real minhash < P).
    *
    * NOTE: the md5-derived base hash is inlined per permutation here — only
    * use this form when the signature is computed once per row. Plans that
    * fan out (LSH) must materialize `hs` first so md5 runs once per shingle,
    * not NumHashes times (see [[withSignature]]).
    */
  def minhashSignature(shingles: Column): Column = {
    val hs = transform(shingles, s => pmod(DetHash.base60(s), lit(DetHash.P)))
    array((0 until NumHashes).map { i =>
      val (a, b) = (DetHash.minhashA(i), DetHash.minhashB(i))
      coalesce(array_min(transform(hs, h => pmod(h * a + b, lit(DetHash.P)))),
        lit(DetHash.P))
    }: _*)
  }

  private val minhashAs = Array.tabulate(NumHashes)(DetHash.minhashA(_))
  private val minhashBs = Array.tabulate(NumHashes)(DetHash.minhashB(_))

  /** STAGE 1 entry: an operator's gram relation, `cols` over
    * [[shingled]] / [[charShingled]] rows, repartitioned by doc_id so
    * every consumer (df model, ranks, signatures, sizes, posting sides)
    * reads ONE exchange instead of re-running normalize + tokenize or
    * gram-hash per consumer. The explicit isnotnull(doc_id) below the
    * exchange keeps the consumer subtrees canonical: join consumers
    * infer it from their constraints, aggregate consumers do not, and
    * the asymmetry split the exchange (r16: the corpus shingled twice).
    * doc_id is the corpus' non-null key, so the filter drops nothing.
    */
  private def gramEntry(sh: DataFrame, cols: Column*): DataFrame =
    sh.filter(col("doc_id").isNotNull)
      .select(col("doc_id") +: cols: _*)
      .repartition(col("doc_id"))

  /** STAGE 2: adds the minhash signature `sig` of the gram-set column
    * `grams`, every column kept. The base-hash array is materialized
    * between the hash pass and ONE fused [[graft.functions.MinHashSlots]]
    * scan for all NumHashes slots (bit-identical to the per-permutation
    * [[minhashSignature]] form — spec-asserted). String grams hash by md5 (one
    * per gram); long grams are already hash keys, taken mod P.
    */
  private[graft] def withSignature(sh: DataFrame, grams: String = "shingles"): DataFrame = {
    val base: Column => Column = sh.schema(grams).dataType match {
      case ArrayType(StringType, _) => g => pmod(DetHash.base60(g), lit(DetHash.P))
      case _ => h => pmod(h, lit(DetHash.P))
    }
    sh.withColumn("__hs", transform(col(grams), base))
      .withColumn("sig", graft.functions.MinHashSlots.column(
        col("__hs"), minhashAs, minhashBs, DetHash.P))
      .drop("__hs")
  }

  /** STAGE 2: the exploded band key of `sig` — NumHashes / rowsPerBand
    * strings "bandIdx:mh_i:mh_j:…"; docs sharing any key are candidates.
    * A doc whose gram set is EMPTY (`gramCount` 0) yields one null key,
    * dropped by any equi-join: its signature is all P-sentinels, so two
    * empty docs would otherwise share every band key (a bogus est_sim
    * 1.0 where no exact verify follows). The guard lives INSIDE the
    * generator, never as a Filter node: predicate pushdown substitutes a
    * filter's column references through every projection, re-inlining
    * the whole gram pipeline below the scan fan-out (measured 13× on
    * dedup_char_lsh, again on the containment LSH report). explode_outer
    * keeps InferFiltersFromGenerate from adding a `size > 0` filter.
    */
  private[graft] def bandKey(sig: Column, gramCount: Column,
                             rowsPerBand: Int = RowsPerBand): Column = {
    require(NumHashes % rowsPerBand == 0,
      s"$rowsPerBand-slot bands must tile the $NumHashes-slot signature")
    explode_outer(when(gramCount > 0, array((0 until NumHashes / rowsPerBand).map { b =>
      val parts = lit(b) +: (0 until rowsPerBand).map(r => sig.getItem(b * rowsPerBand + r))
      concat_ws(":", parts.map(_.cast("string")): _*)
    }: _*)))
  }

  /** STAGE 2 over a gram frame: [[withSignature]] plus the exploded band
    * key `bk`, every column kept — streaming probes need their event-time
    * column to ride along (a join-back would be a stream-stream
    * self-join). Each intermediate column is multi-referenced, so
    * CollapseProject cannot re-inline the gram pass into per-gram lambdas.
    */
  private[graft] def banded(sh: DataFrame, grams: String = "shingles",
                            rowsPerBand: Int = RowsPerBand): DataFrame =
    withSignature(sh, grams)
      .withColumn("bk", bandKey(col("sig"), size(col(grams)), rowsPerBand))

  /** The band-key self-join: (a, b) for every band collision with
    * a < b, plus each `carry` column of both sides as `<c>_a` / `<c>_b`.
    */
  private def bandCollisions(bands: DataFrame, carry: String*): DataFrame =
    bands.as("x").join(bands.as("y"), col("x.bk") === col("y.bk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(Seq(col("x.doc_id").as("a"), col("y.doc_id").as("b")) ++
        carry.flatMap(c => Seq(col(s"x.$c").as(s"${c}_a"), col(s"y.$c").as(s"${c}_b"))): _*)

  /** Per-doc signatures (oracle-checkable deliverable on its own). */
  def minhashSignatures(docs: DataFrame, n: Int = 3): DataFrame =
    withSignature(shingled(docs, n)).select(col("doc_id"), col("sig"))

  /** Signature as a comma-joined string — array columns don't hash-compare
    * reliably across engines; a canonical string does.
    */
  def minhashSignaturesStr(docs: DataFrame, n: Int = 3): DataFrame =
    minhashSignatures(docs, n).select(col("doc_id"),
      concat_ws(",", transform(col("sig"), _.cast("string"))).as("sig"))

  /** (doc_id, …, sig, bk) over the word n-grams of `docs`: one row per
    * band key, the joinable LSH form of a corpus shared by the persisted
    * band index, the fuzzy decontamination and the streaming near-dup
    * filter.
    */
  def withBandedSignature(docs: DataFrame, n: Int = 3): DataFrame =
    banded(docs.withColumn("__tk", tokens(normalizeText(col("text"))))
      .withColumn("__sh", shinglesFromTokens(col("__tk"), n)), "__sh")
      .drop("__tk", "__sh")

  /** The PERSISTED LSH band index: every corpus document's band keys and
    * minhash signature, written `bucketBy(bk)` once per sf-dir — the
    * near-dup twin of [[fingerprintIndex]]. A probe (batch or stream)
    * joins it on bk with NO exchange on the index side at any corpus
    * size; the signature rides along so candidate verification is a
    * constant-work slot comparison, no re-shingling of the corpus.
    */
  def lshBandIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   n: Int = 3, buckets: Int = 32): DataFrame =
    graft.Tables.persisted(spark, dir, s"graft_lshidx_n${n}_b", _.bucketBy(buckets, "bk")) {
      withBandedSignature(graft.Tables.load(spark, dir, "documents"), n)
        .select(col("doc_id"), col("sig"), col("bk"))
        .filter(col("bk").isNotNull)
    }

  /** Batch probe of the persisted band index — the near-dup twin of
    * [[incrementalIngest]]: today's batch (doc_id % 10 >= 8) flagged
    * against the accumulated corpus slice (doc_id % 10 < 8) by banded
    * minhash + signature estimate. The index side reads PRE-BUCKETED on
    * bk (a Filter on top of a bucketed scan keeps its distribution), so
    * only the batch shuffles into the index layout — the probe cost is
    * sized by the batch, not the corpus.
    */
  def indexedNearDupMatches(spark: org.apache.spark.sql.SparkSession,
                            dir: String, n: Int = 3,
                            threshold: Double = 0.8): DataFrame = {
    val idx = lshBandIndex(spark, dir, n).filter(col("doc_id") % 10 < 8)
    val batch = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id") % 10 >= 8)
    withBandedSignature(batch, n)
      .select(col("doc_id"), col("sig"), col("bk"))
      .join(idx.select(col("bk"), col("doc_id").as("matched_doc_id"),
        col("sig").as("m_sig")), Seq("bk"))
      .select(col("doc_id"), col("matched_doc_id"),
        sigEstimate(col("sig"), col("m_sig")).as("est_sim"))
      .filter(col("est_sim") >= threshold)
      .distinct()
  }

  /** The PERSISTED SHINGLE INDEX: every corpus document's word n-gram
    * shingle set, written `bucketBy(doc_id)` once per sf-dir — the
    * exact-verify companion of [[lshBandIndex]]. Band collisions give
    * CANDIDATES; turning them into the same verified edges a full
    * recompute would find needs the old side's gram sets, and
    * re-shingling the accumulated corpus per batch is exactly what an
    * incremental pipeline must not do. Candidates shuffle INTO this
    * index's bucket layout; the index side never exchanges.
    */
  def shingleIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   n: Int = 3, buckets: Int = 32): DataFrame =
    graft.Tables.persisted(spark, dir, s"graft_shidx_n${n}_b",
        _.bucketBy(buckets, "doc_id").sortBy("doc_id")) {
      shingled(graft.Tables.load(spark, dir, "documents"), n)
    }

  /** The PERSISTED CLUSTER-LABEL TABLE for the accumulated corpus slice
    * (doc_id % 10 < 8, the same yesterday stand-in as
    * [[fingerprintIndex]]): (doc_id, cluster_id) from a full pointer-jump
    * clustering of the old slice, built once per sf-dir. This is the
    * state a daily ingest UPDATES rather than recomputes — see
    * [[incrementalClusterLabels]].
    */
  def clusterLabelIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                        n: Int = 3, threshold: Double = 0.8): DataFrame =
    graft.Tables.persisted(spark, dir,
        s"graft_lblidx_n${n}_t${math.round(threshold * 1000)}_b") {
      val old = graft.Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 10 < 8)
      componentLabels(old.select(col("doc_id")),
        minhashLshPairs(old, n, threshold).select(col("a"), col("b")),
        "lblidx_cc")._1
    }

  /** INCREMENTAL CLUSTER MAINTENANCE — the dedup sibling of
    * `sim_ivf_incremental` / `agg_incremental_revenue`: today's batch
    * (doc_id % 10 >= 8) UPDATES yesterday's persisted (doc_id,
    * cluster_id) table instead of re-clustering the accumulated corpus.
    * Output: the full label table over old ∪ new docs, EQUAL to a full
    * recompute's closure (the oracle runs exactly that), because the
    * near-dup relation decomposes exactly: a doc's minhash signature and
    * band keys depend only on its own text, so the all-docs pair set is
    * precisely old-old ∪ new-new ∪ new-old — old-old is already closed
    * inside yesterday's labels, new-new is [[minhashLshPairs]] on the
    * batch, and new-old comes from probing the persisted band index with
    * the batch's band keys, exact-jaccard-verified against the persisted
    * shingle index (same verify arithmetic as the full recompute).
    *
    * The merge runs on a CONTRACTED graph: each affected old component
    * participates as one super-node, its label (valid because old
    * components are internally closed — a new-old edge to any member
    * reaches the whole component, and the component's min id IS its
    * label). Pointer-jump CC therefore touches |batch| + |touched
    * components| nodes, never the corpus. History labels fan back in
    * three ways: untouched rows PASS THROUGH UNSHUFFLED (a broadcast
    * anti-join against the bounded touched-label list — PlanShapeSpec
    * pins no exchange above the label-index scan), touched rows remap
    * through the bounded (old label → merged label) broadcast map, and
    * batch rows take their resolved labels directly. The broadcast is
    * sized by touched components (≤ verified new-old matches) — the
    * daily-increment ≪ corpus regime this op exists for; a backfill-
    * sized batch should run the full recompute instead.
    */
  def incrementalClusterLabels(spark: org.apache.spark.sql.SparkSession,
                               dir: String, n: Int = 3,
                               threshold: Double = 0.8): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val batch = docs.filter(col("doc_id") % 10 >= 8)
    val oldLabels = clusterLabelIndex(spark, dir, n, threshold)
    val bandIdx = lshBandIndex(spark, dir, n).filter(col("doc_id") % 10 < 8)
    val oldSh = shingleIndex(spark, dir, n).filter(col("doc_id") % 10 < 8)
      .select(col("doc_id").as("old_id"), col("shingles").as("os"))
    // round 17: ONE tokenize+shingle pass over the batch, pinned eagerly.
    // The batch text pipeline (normalize + tokens + shingles + minhash)
    // previously re-ran inside each of its three heavy consumers — the
    // new-new LSH pair relation, the band-key probe, and the verify's
    // shingle side (≈4 evaluations in the r16 stage profile, the
    // dominant CPU of every incremental-maintenance query). The batch is
    // the daily increment (≪ corpus by this op's contract), so pinning
    // its (doc_id, shingles) rows is bounded executor storage; values
    // are unchanged (same shingle chain, oracle re-proves).
    val batchSh = shingled(batch, n).localCheckpoint(true)
    // new-new: the exact LSH pair relation within the batch
    val nn = lshPairsOver(batchSh, threshold).select(col("a"), col("b"))
    // new-old: batch band keys probe the persisted index (index side
    // pre-bucketed on bk — no exchange), then the candidate pairs verify
    // by exact jaccard against the persisted shingle index (index side
    // pre-bucketed on doc_id). Wire cost: bands × batch probe rows plus
    // candidate-sized (id, id) and per-candidate gram arrays. The band
    // keys come from the SAME pinned shingles through the shared
    // [[banded]] stage the persisted band index was built with.
    val cand = banded(batchSh)
      .select(col("doc_id").as("new_id"), col("bk"))
      .join(bandIdx.select(col("bk"), col("doc_id").as("old_id")), Seq("bk"))
      .select(col("new_id"), col("old_id")).distinct()
    val newSh = batchSh
      .select(col("doc_id").as("new_id"), col("shingles").as("ns"))
    val no = cand.join(newSh, Seq("new_id")).join(oldSh, Seq("old_id"))
      .select(col("new_id"), col("old_id"),
        size(array_intersect(col("ns"), col("os"))).cast("long").as("inter"),
        size(col("ns")).cast("long").as("sa"), size(col("os")).cast("long").as("sb"))
      .filter(col("inter").cast("double")
        / (col("sa") + col("sb") - col("inter")).cast("double") >= threshold)
    // contract verified old endpoints to their component labels
    val noLab = no
      .join(oldLabels.select(col("doc_id").as("old_id"),
        col("cluster_id").as("old_lab")), Seq("old_id"))
      .select(col("new_id").as("a"), col("old_lab").as("b"))
      .localCheckpoint(true) // feeds edges + touched list + CC loop
    val touched = noLab.select(col("b").as("doc_id")).distinct()
    val (resolved0, _) = componentLabels(
      batch.select(col("doc_id")).union(touched),
      nn.unionByName(noLab), "inc_cc")
    val resolved = resolved0.localCheckpoint(true) // 2 consumers below
    val newLabels = resolved
      .join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val labelMap = resolved
      .join(touched, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("old_lab"), col("cluster_id").as("new_lab"))
    val untouched = oldLabels
      .join(broadcast(labelMap.select(col("old_lab").as("cluster_id"))),
        Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    val remapped = oldLabels
      .join(broadcast(labelMap), oldLabels("cluster_id") === labelMap("old_lab"))
      .select(oldLabels("doc_id"), col("new_lab").as("cluster_id"))
    untouched.unionByName(remapped).unionByName(newLabels)
  }

  // -------------------------------------------------------------------
  // Incremental containment-report maintenance (persisted indexes)
  // -------------------------------------------------------------------

  /** The containment posting RELATION — one (doc_id, sz, g) row per word
    * n-gram of each document. Pure frame so the streaming face and specs
    * can build it over any corpus; [[containmentPostingIndex]] persists
    * it g-bucketed for the accumulated slice.
    */
  def containmentPostingFrame(docs: DataFrame, n: Int = 3): DataFrame =
    shingled(docs, n)
      .select(col("doc_id"), size(col("shingles")).as("sz"),
        explode(col("shingles")).as("g"))

  /** The containment PROBE RELATION from a posting relation and a df
    * model: each doc's rarest min(sz, 2m+1) grams with its pigeonhole
    * budget (m, plen) — the old side's half of the candidate gate. Pure
    * frame backing [[containmentProbeIndex]]; also the corpus-side input
    * of [[graft.streaming.Pipelines.streamingContainmentFlags]].
    */
  def containmentProbeFrame(posting: DataFrame, dfModel: DataFrame,
                            threshold: Double): DataFrame = {
    val (m, plen) = pigeonhole(col("sz"), threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
    posting
      .join(dfModel, Seq("g"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= plen)
      .select(col("doc_id"), col("g"), col("sz"), m.as("m"), plen.as("plen"))
  }

  /** The PERSISTED CONTAINMENT POSTING INDEX over the accumulated slice
    * (doc_id % 10 < 8): one (doc_id, sz, g) row per word n-gram,
    * bucketed by g — batch probes join it with NO index-side exchange,
    * and the verify's (doc_id, g) equi-join rides the same g-bucketed
    * layout (bucket keys ⊆ join keys). The exact-containment sibling of
    * [[shingleIndex]]; sz rides every row so the verify needs no
    * separate size join.
    */
  def containmentPostingIndex(spark: org.apache.spark.sql.SparkSession,
                              dir: String, n: Int = 3,
                              buckets: Int = 32): DataFrame =
    graft.Tables.persisted(spark, dir, s"graft_cntpost_n${n}_b", _.bucketBy(buckets, "g")) {
      containmentPostingFrame(graft.Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 10 < 8), n)
    }

  /** Document frequency per gram over the accumulated slice — the
    * (vocabulary-sized) rarity model batch probes rank against. Kept as
    * its own table so a probe never re-aggregates the posting index.
    */
  def containmentDfIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, n: Int = 3,
                         buckets: Int = 32): DataFrame =
    graft.Tables.persisted(spark, dir, s"graft_cntdf_n${n}_b", _.bucketBy(buckets, "g")) {
      containmentPostingIndex(spark, dir, n, buckets)
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
    }

  /** The df model's top-`k` HOTTEST grams, collected for broadcast into
    * [[graft.streaming.Pipelines.streamingContainmentFlags]]'s probe
    * ordering (hot grams picked last — cold-tail postings instead of
    * the hottest). Bounded driver materialization: at most `k` strings
    * (ties broken by gram so the set is deterministic), independent of
    * vocabulary or corpus size.
    *
    * Entries more than 8× colder than the hottest are DROPPED rather
    * than padded in: an avoid-list is only ever a trade, and marking a
    * near-cold gram "hot" can force a probe that has exhausted its cold
    * pool INTO a genuinely hot gram — the spec's verbatim-copy arrivals
    * hit exactly that (their rare tail grams tie into a padded top-K,
    * pushing picks onto the df≈corpus template grams, 54× the gate
    * volume). The relative floor self-scales: a flat-df vocabulary
    * keeps everything (avoidance harmless there), a zipf head keeps
    * only the grams whose postings actually dominate the join.
    */
  def hottestGrams(dfModel: DataFrame, k: Int = 256): Seq[String] = {
    val top = dfModel.orderBy(col("df").desc, col("g"))
      .select(col("g"), col("df").cast("long")).limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    top.headOption.fold(Seq.empty[String]) { case (_, maxDf) =>
      top.takeWhile(_._2 * 8 >= maxDf).map(_._1)
    }
  }

  /** The PERSISTED PROBE INDEX: each accumulated doc's rarest
    * min(sz, 2m+1) grams with its (sz, m, plen) pigeonhole budget,
    * bucketed by g. This is the OLD side's half of the containment
    * candidate gate — a batch gram matching a probe row is pigeonhole
    * evidence that the old doc might be contained in the batch doc —
    * and it is ~2m+1 rows per doc (m ≈ sz/10 at t = 0.9) against the
    * posting index's sz, so the hot-vocabulary probe term stays a
    * fraction of a full posting join.
    */
  def containmentProbeIndex(spark: org.apache.spark.sql.SparkSession,
                            dir: String, n: Int = 3, threshold: Double = 0.9,
                            buckets: Int = 32): DataFrame =
    graft.Tables.persisted(spark, dir,
        s"graft_cntprobe_n${n}_t${math.round(threshold * 1000)}_b", _.bucketBy(buckets, "g")) {
      containmentProbeFrame(
        containmentPostingIndex(spark, dir, n, buckets),
        containmentDfIndex(spark, dir, n, buckets), threshold)
    }

  /** [[containmentReport]] built as `slices` SEQUENTIAL container-slice
    * jobs ([[containmentPairsSliced]]) whose per-contained partials
    * (count sum, best-struct min — both decomposable) merge exactly:
    * value-identical to the one-plan form at any slice count, but one
    * box's spill space only ever holds 1/slices of the candidate
    * shuffle. The build knob for [[containmentReportIndex]] at scales
    * where the whole-relation shuffle exceeds local disk; a cluster gets
    * the same bound from aggregate shuffle capacity.
    */
  private[graft] def containmentReportSliced(docs: DataFrame, n: Int,
                                             threshold: Double,
                                             slices: Int): DataFrame =
    containmentReportOver(docs, n, slices)(containmentPairsSliced(_, n, threshold, _))

  /** Run `slices` SEQUENTIAL jobs, parquet-staging each result, and
    * return their union — the isolation primitive the sliced builds
    * share. A plain `union` of the slice subplans would be ONE job whose
    * independent map stages all materialize their shuffles before the
    * reduces drain them, so peak spill is NOT divided; sequential jobs
    * are the point.
    *
    * The staging dir lives under [[graft.Tables.persistedTableRoot]] —
    * the same all-executors-shared storage contract every persisted
    * index already relies on (`local[*]` satisfies it trivially; a
    * cluster points that root at shared storage). A driver-local
    * `createTempDirectory` path would silently scatter executor-written
    * partials across machines off local[*]. The union is materialized
    * eagerly (`localCheckpoint` — slice results are bounded aggregates /
    * true pairs, never candidate volume) so the staging dir can be
    * deleted before the DataFrame is handed back.
    */
  private def stagedUnion(spark: org.apache.spark.sql.SparkSession,
                          tag: String, slices: Int)
                         (job: Int => DataFrame): DataFrame = {
    val staging = s"${graft.Tables.persistedTableRoot(spark)}/_staging_${tag}_" +
      java.util.UUID.randomUUID().toString.take(8)
    val hPath = new org.apache.hadoop.fs.Path(staging)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      (0 until slices).foreach { s =>
        job(s).write.mode("overwrite").parquet(s"$staging/slice_$s")
      }
      spark.read.parquet((0 until slices).map(s => s"$staging/slice_$s"): _*)
        .localCheckpoint(true)
    } finally fs.delete(hPath, true)
  }

  /** The PERSISTED CONTAINMENT REPORT for the accumulated slice — the
    * state [[incrementalContainmentReport]] UPDATES instead of
    * recomputing (the audit-artifact sibling of [[clusterLabelIndex]]).
    * Small corpora build it in one plan; past 65k docs the build runs
    * container-sliced ([[containmentReportSliced]], value-identical) so
    * its candidate shuffle never exceeds one box's spill space.
    */
  def containmentReportIndex(spark: org.apache.spark.sql.SparkSession,
                             dir: String, n: Int = 3,
                             threshold: Double = 0.9): DataFrame =
    graft.Tables.persisted(spark, dir,
        s"graft_cntrep_n${n}_t${math.round(threshold * 1000)}_b") {
      containmentReportAuto(graft.Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 10 < 8), n, threshold)
    }

  /** INCREMENTAL CONTAINMENT-REPORT MAINTENANCE — the directed-overlap
    * sibling of [[incrementalClusterLabels]]: today's batch
    * (doc_id % 10 >= 8) UPDATES yesterday's persisted report instead of
    * recomputing the corpus. Output: the full report over old ∪ new,
    * EQUAL to a full recompute (the oracle runs exactly that), because
    * the containment relation restricted to pairs touching the batch
    * decomposes exactly:
    *
    *  - OLD→OLD pairs are already aggregated inside yesterday's report
    *    (exact by its own oracle-proven operator);
    *  - NEW→NEW pairs are [[containmentPairs]] on the batch;
    *  - NEW↔OLD pairs come from TWO pigeonhole gates — the batch doc's
    *    rarest grams (ranked by the persisted df model; ANY
    *    min(sz, 2m+1)-subset keeps the completeness guarantee, df only
    *    tunes candidate volume) probing the posting index, and the
    *    batch's full grams matching the persisted probe index — then
    *    ONE exact intersection count per unordered candidate verifies
    *    BOTH directions (containment differs only in the denominator).
    *
    * The merge is a full-outer join of the persisted report with the
    * per-contained aggregate of the new edges: counts add, and the best
    * container is the min of two (−containment, container-id) structs —
    * both sides rounded to 4 places, the same total order the oracle's
    * max/argmin induces. Report rows for docs no new edge touches PASS
    * THROUGH from the index scan unmodified; per-batch cost is sized by
    * the batch's gram volume against the persisted indexes, never by a
    * corpus re-shingle.
    */
  def incrementalContainmentReport(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, n: Int = 3,
                                   threshold: Double = 0.9): DataFrame = {
    val docs = graft.Tables.load(spark, dir, "documents")
    val batch = docs.filter(col("doc_id") % 10 >= 8)
    val oldReport = containmentReportIndex(spark, dir, n, threshold)
    val posting = containmentPostingIndex(spark, dir, n)
    val probeIdx = containmentProbeIndex(spark, dir, n, threshold)
    val dfIdx = containmentDfIndex(spark, dir, n)
    // one shingling pass over the batch; (a) partitioning feeds the
    // probe-ranking window and is reused by the other two consumers
    val bg = gramEntry(shingled(batch, n), size(col("shingles")).as("sza"),
      explode(col("shingles")).as("g")).withColumnRenamed("doc_id", "a")
    val (mA, plenA) = pigeonhole(col("sza"), threshold)
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(coalesce(col("df"), lit(0L)), col("g"))
    // direction NEW-contained-in-OLD: the batch doc's rarest plen grams
    // (grams unseen by the accumulated corpus have df 0 — rarest, and
    // correctly so) probe the posting index
    val probesA = bg.join(dfIdx, Seq("g"), "left")
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= plenA)
      .select(col("a"), col("g"), mA.as("m"), plenA.as("plen"))
    val cand1 = probesA
      .join(posting.select(col("doc_id").as("x"), col("g")), Seq("g"))
      .groupBy(col("a"), col("x"), col("m"), col("plen"))
      .agg(count(lit(1)).as("pm"))
      .filter(col("pm") >= col("plen") - col("m"))
      .select(col("x"), col("a"))
    // direction OLD-contained-in-NEW: batch grams match the persisted
    // probe rows (the old doc's own pigeonhole budget rides each row)
    val cand2 = bg.select(col("a"), col("g"))
      .join(probeIdx.select(col("doc_id").as("x"), col("g"),
        col("m"), col("plen")), Seq("g"))
      .groupBy(col("x"), col("a"), col("m"), col("plen"))
      .agg(count(lit(1)).as("pm"))
      .filter(col("pm") >= col("plen") - col("m"))
      .select(col("x"), col("a"))
    val cands = cand1.unionByName(cand2).distinct()
    // ONE exact intersection count per candidate; both directions emit
    // from it ([[bothDirections]], the containmentPairsLsh emit)
    val iv = cands
      .join(bg.select(col("a"), col("sza"), col("g")), Seq("a"))
      .join(posting.select(col("doc_id").as("x"), col("sz").as("szx"),
        col("g")), Seq("x", "g"))
      .groupBy(col("x").as("b"), col("a"), col("sza"), col("szx").as("szb"))
      .agg(count(lit(1)).as("inter"))
    val crossEdges = bothDirections(iv, threshold)
      .select(col("a").as("contained"), col("b").as("container"),
        col("containment").as("cv"))
    val withinBatch = containmentPairs(batch, n, threshold)
      .select(col("a").as("contained"), col("b").as("container"),
        col("containment").as("cv"))
    val newAgg = crossEdges.unionByName(withinBatch)
      .groupBy(col("contained").as("doc_id"))
      .agg(count(lit(1)).as("n_new"),
        min(struct((-col("cv")).as("nc"), col("container").as("bid")))
          .as("best_new"))
    val old = oldReport.select(col("doc_id"), col("n_containers").as("n_old"),
      struct((-col("top_containment")).as("nc"),
        col("top_container").as("bid")).as("best_old"))
    old.join(newAgg, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(col("n_old"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
          .as("n_containers"),
        least(col("best_old"), col("best_new")).as("top"))
      .select(col("doc_id"), col("n_containers"),
        col("top.bid").as("top_container"),
        (-col("top.nc")).as("top_containment"))
  }

  /** FUZZY decontamination: train documents whose minhash signature
    * near-matches any EVAL document — the LSH-level generalization of
    * [[graft.operators.CorpusOps.decontaminate]]'s exact-gram overlap
    * (paraphrased or lightly-edited benchmark leakage shares few exact
    * 8-grams but keeps a high jaccard). Eval slice = deterministic
    * `doc_id % 20 == 0` (5 %), train = the rest; output one row per
    * CONTAMINATED train doc with its distinct eval-match count and the
    * strongest signature-estimate similarity.
    *
    * Scale shape: Catalyst pushes each slice filter BELOW the banded
    * subplan, so the two branches tokenize/minhash DISJOINT row sets —
    * every document's signature is computed exactly once across the
    * query, with no extra full-corpus exchange (a shared
    * repartition+ReusedExchange would shuffle text+sig for everything
    * instead; scan-level slicing is strictly cheaper — PlanShapeSpec
    * pins the pushed slice filters). The band join shuffles each slice
    * by bk once; the per-train aggregation is the only other shuffle.
    * Candidate volume is bands × bucket occupancy, never train × eval.
    */
  def fuzzyDecontaminate(docs: DataFrame, n: Int = 3,
                         threshold: Double = 0.8): DataFrame = {
    val banded = withBandedSignature(docs, n)
      .select(col("doc_id"), col("sig"), col("bk"))
    val evalB = banded.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select(col("bk"), col("doc_id").as("eval_doc_id"), col("sig").as("e_sig"))
    banded.filter(pmod(col("doc_id"), lit(20)) =!= 0)
      .join(evalB, Seq("bk"))
      .select(col("doc_id"), col("eval_doc_id"),
        sigEstimate(col("sig"), col("e_sig")).as("est_sim"))
      .filter(col("est_sim") >= threshold)
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("eval_doc_id")).as("n_eval_matches"),
        max(col("est_sim")).as("max_sim"))
  }

  /** Cluster REPRESENTATIVES: the curation step [[clusters]] exists for —
    * one surviving document per near-dup cluster, chosen by QUALITY
    * (most tokens, ties to the smaller doc_id) rather than min id: the
    * RefinedWeb-style "keep the longest copy" policy at cluster
    * granularity. One `max_by` shuffle over (cluster_id, small struct)
    * on top of the cluster labeling.
    */
  def clusterRepresentatives(docs: DataFrame, n: Int = 3,
                             threshold: Double = 0.8): DataFrame = {
    val labels = clusters(docs, n, threshold)
    val quality = docs.select(col("doc_id"),
      size(tokens(normalizeText(col("text")))).cast("long").as("n_tokens"))
    labels.join(quality, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        max_by(struct(col("doc_id"), col("n_tokens")),
          struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("w"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), col("w.doc_id").as("keep_doc_id"),
        col("w.n_tokens").as("n_tokens"), col("cluster_size"))
  }

  /** DEDUP FUNNEL REPORT — the tiers a curation pipeline actually runs,
    * COMPOSED in one plan with per-tier survivor counts: raw corpus →
    * exact keep-min dedup → near-dup cluster representatives over the
    * exact survivors (each tier consumes the previous tier's output,
    * the real sequencing — near-dup clustering after exact dedup works
    * on a smaller corpus and never wastes LSH work on byte-identical
    * copies). The audit artifact answering "how much did each tier
    * remove", the dedup sibling of [[graft.operators.CorpusOps]]'s
    * filter funnel.
    *
    * Scale shape: three 1-row aggregates unioned; the tiers share the
    * exact-survivor subtree, and every underlying op keeps its own
    * scale shape (fp groupBy, banded LSH, label propagation).
    */
  def dedupFunnelReport(docs: DataFrame, n: Int = 3,
                        threshold: Double = 0.8): DataFrame = {
    val keep = exactGroups(docs).select(col("keep_doc_id").as("doc_id"))
    val exactSurvivors = docs.join(keep, Seq("doc_id"), "left_semi")
    val reps = clusterRepresentatives(exactSurvivors, n, threshold)
    def tier(t: Int, stage: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("docs"))
        .select(lit(t).cast("long").as("tier"), lit(stage).as("stage"), col("docs"))
    tier(0, "raw", docs)
      .unionAll(tier(1, "exact", exactSurvivors))
      .unionAll(tier(2, "near_dup_reps", reps))
  }

  /** PER-SOURCE DEDUP DATASHEET — the duplication-audit table a corpus
    * release publishes next to the funnel: for every source, how many
    * documents it contributed, how many near-dup FAMILIES they form,
    * how many of its docs sit in a multi-doc family (`dup_docs`,
    * `dup_rate`), and how many sit in a family that SPANS sources
    * (`cross_source_docs` — the "site B mirrors site A" contamination
    * signal that per-source dedup rates alone cannot show; a family is
    * counted once per source it touches, so `n_families` sums over
    * sources to more than the global family count exactly when mirrors
    * exist).
    *
    * `labels` is any (doc_id, cluster_id) relation — [[clusters]]
    * inline, or the persisted table [[incrementalClusterLabels]]
    * maintains, where the datasheet costs two hash aggregations and one
    * label-keyed join over the label table: no text, no pair relation,
    * no candidate generation. Family sizes are data-bounded aggregates
    * (a family's row count), so nothing here is output- or
    * candidate-quadratic at any corpus size.
    */
  def familyStats(docs: DataFrame, labels: DataFrame): DataFrame = {
    val sized = labels.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val fam = sized.groupBy(col("cluster_id")).agg(
      count(lit(1)).as("fsize"),
      count_distinct(col("source")).as("nsrc"))
    sized.join(fam, Seq("cluster_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("cluster_id")).as("n_families"),
        sum(when(col("fsize") > 1, 1L).otherwise(0L)).as("dup_docs"),
        sum(when(col("nsrc") > 1, 1L).otherwise(0L)).as("cross_source_docs"))
      .select(col("source"), col("n_docs"), col("n_families"),
        col("dup_docs"), col("cross_source_docs"),
        round(col("dup_docs").cast("double") / col("n_docs").cast("double"), 4)
          .as("dup_rate"))
  }

  /** STAGE 2: the number of equal slots of two minhash signatures. */
  private def slotMatches(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, m) => acc + m)

  /** Signature-estimate similarity: matching minhash slots / NumHashes —
    * the constant-work candidate verifier shared by [[charLshPairs]] and
    * the streaming near-dup filter.
    */
  def sigEstimate(sigA: Column, sigB: Column): Column =
    round(slotMatches(sigA, sigB).cast("double") / NumHashes, 4)

  /** STAGE 2: the containment pigeonhole budget of a gram set of size
    * `sz` at threshold t: it may miss `m = sz − ⌈t·sz⌉` grams, so among
    * any `plen = min(sz, 2m+1)` of them at least `plen − m` must match.
    * ⌈t·sz⌉ in INTEGER arithmetic ([[ceilRational]], t as num/10⁶): a
    * float ceil(0.9·10) rounds 9.0000000000000018 up to 10, shrinking m
    * below the guarantee and dropping a true pair the exact verify keeps.
    */
  private[graft] def pigeonhole(sz: Column, threshold: Double): (Column, Column) = {
    val den = 1000000L
    val m = sz - ceilRational(math.round(threshold * den), sz, den)
    (m, least(sz, lit(2) * m + 1))
  }

  /** LSH candidate pairs (a < b), verified with exact jaccard on the
    * shingle sets; emits pairs with jaccard >= threshold.
    *
    * Plan shape: one gram exchange feeds the banded signatures, the
    * sizes and both posting sides; band self-join, distinct pairs, then
    * the count-based verify ([[countIntersections]]).
    */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame =
    lshPairsOver(shingled(docs, n), threshold)

  /** Char-shingle LSH near-dup pairs with SIGNATURE-ESTIMATED similarity
    * (matching minhash slots / NumHashes). Char grams on low-entropy text
    * are all-pairs-dense — exact verification of the banded candidates
    * still touches millions of gram arrays (measured 18 s at sf0.1, and
    * unboundedly worse at scale) — so the verify stage compares the 16
    * integer signature slots instead: constant work per candidate, the
    * standard signature-only LSH trade (estimate, not exact jaccard).
    * `rowsPerBand` is the band width (NumHashes / rowsPerBand bands), the
    * knob [[charLshPairsAuto]] turns with corpus size.
    */
  def charLshPairs(docs: DataFrame, n: Int = 5, threshold: Double = 0.8,
                   rowsPerBand: Int = RowsPerBand): DataFrame = {
    // one char-gram pass: the gram exchange feeds both sides of the band
    // self-join. The signature rides along with each band key (16
    // longs/row), so the self-join yields BOTH signatures directly — no
    // signature re-joins, and the estimate filter runs BEFORE the pair
    // distinct, shrinking that shuffle from every band collision
    // (millions on dense corpora) to just the passing pairs. There is no
    // exact verify here, so the empty-set guard inside [[bandKey]] is
    // what keeps two empty docs from pairing at est_sim 1.0.
    val bands = banded(gramEntry(charShingled(docs, n), col("shingles")),
      rowsPerBand = rowsPerBand).select(col("doc_id"), col("sig"), col("bk"))
    bandCollisions(bands, "sig")
      .select(col("a"), col("b"), sigEstimate(col("sig_a"), col("sig_b")).as("est_sim"))
      .filter(col("est_sim") >= threshold)
      .distinct()
  }

  /** Corpus-size bound past which [[charLshPairsAuto]] doubles the band
    * width: the fixed 4×4 split is measured comfortable through ~65k
    * docs (the sf1 scale the oracle fixtures run at), and each doubling
    * SQUARES the per-band collision probability of a background pair
    * (s^rp), so one doubling buys roughly two decades of corpus growth
    * before hot-bucket occupancy climbs back.
    */
  val RebandAt: Long = 65536L

  /** rowsPerBand for a corpus of `n` docs: the fixed width up to
    * [[RebandAt]], doubled (4 → 8 → 16, always tiling the 16-slot
    * signature) each time the corpus grows another 256× past it.
    */
  private[graft] def autoRowsPerBand(n: Long): Int = {
    val k =
      if (n <= RebandAt) 0
      else math.ceil(
        math.log(n.toDouble / RebandAt) / math.log(256.0)).toInt
    math.min(NumHashes, RowsPerBand << k)
  }

  /** [[autoRowsPerBand]] under a RECALL-FLOOR cap: the schedule's width,
    * clamped to `maxRowsPerBand` (itself clamped to a signature-tiling
    * width in [RowsPerBand, NumHashes]). The r14 recall curve
    * (CharLshWidthRecallSpec: near-threshold recall 63%/22%/7% at
    * rp = 4/8/16) made the doubling schedule's trade a number; this is
    * the lever for pipelines that must HOLD a recall floor past
    * [[RebandAt]] without paying the exact form. Cost model: capping at
    * width `rp` pins per-pair band-collision probability at ~s^rp
    * (recall stays AT the pinned curve's value for that width at every
    * corpus size), while candidate volume grows ~n²·s^rp/bucket-space
    * instead of being held ~flat by the doubling — the caller buys
    * recall with candidate compute, exactly [[graft.operators.Similarity.knnJoinAuto]]'s
    * targetBucket trade in the opposite direction.
    */
  private[graft] def cappedRowsPerBand(n: Long, maxRowsPerBand: Int): Int = {
    // clamp the cap itself to a valid tiling width: bands = 16/rp must
    // tile the signature, so snap DOWN to the nearest power-of-two width
    // in [RowsPerBand, NumHashes] (a cap below the base width means "the
    // base width" — there is no finer schedule to hold)
    val snapped = Integer.highestOneBit(
      maxRowsPerBand.max(RowsPerBand).min(NumHashes))
    math.min(autoRowsPerBand(n), snapped)
  }

  /** [[charLshPairs]] with the BAND WIDTH chosen from the corpus size —
    * the [[graft.operators.Similarity.knnJoinAuto]] pattern for the
    * minhash gate. A fixed 4-slot band admits a background pair at
    * similarity s with probability ~4·s⁴ per doc pair, so candidate
    * volume on a low-entropy corpus grows ~quadratically once the
    * corpus outgrows the width the constant was tuned for; doubling
    * rowsPerBand squares the per-band term (s⁴ → s⁸), holding per-band
    * bucket occupancy ~flat while `bands = 16/rowsPerBand` keeps the
    * whole signature in play. Width resolves to the FIXED split at
    * oracle scales (n ≤ [[RebandAt]]), so registered relations are
    * unchanged where the DuckDB oracle runs; past it the candidate GATE
    * narrows (an approximate op's recall knob, like knnJoinAuto's p) —
    * any downstream EXACT verify ([[editDistancePairs]]' bounded DP)
    * stays exact on whatever the gate admits.
    *
    * `maxRowsPerBand` is the RECALL-FLOOR cap on that schedule
    * ([[cappedRowsPerBand]] — cost model there): a pipeline that must
    * hold, say, the rp = 4 near-threshold recall (63% on the pinned
    * curve) past [[RebandAt]] passes 4 and pays candidate volume
    * instead of recall. The default (NumHashes) never binds, so
    * registered relations are unchanged.
    *
    * Row count comes from plan statistics when present, else one
    * column-pruned count() — [[graft.operators.Similarity.corpusRows]].
    * UNLIKE knnJoinAuto's purely-tuning knob, the width here changes
    * the REGISTERED RELATION of oracle-checked queries (the gate is the
    * candidate set), so a stale/inflated stats estimate near the
    * [[RebandAt]] boundary must not flip it: when a stats-derived
    * estimate lands within 4× of the bound on either side, one exact
    * column-pruned count() settles which side the corpus is actually on
    * (far from the bound, even a 4×-off estimate picks the same width,
    * so stats stay free in the common case).
    */
  def charLshPairsAuto(docs: DataFrame, n: Int = 5,
                       threshold: Double = 0.8,
                       maxRowsPerBand: Int = NumHashes): DataFrame = {
    val (est, fromStats) = Similarity.corpusRows(docs)
    charLshPairs(docs, n, threshold,
      cappedRowsPerBand(gateRows(est, fromStats, docs.count()), maxRowsPerBand))
  }

  /** The [[charLshPairsAuto]] boundary rule, factored for its spec: a
    * stats estimate within 4× of [[RebandAt]] on either side defers to
    * the exact count (lazily evaluated — never run when stats are
    * decisive or the estimate was already an exact count).
    */
  private[graft] def gateRows(est: Long, fromStats: Boolean,
                              exact: => Long): Long =
    if (fromStats && est > RebandAt / 4 && est <= RebandAt * 4) exact else est

  /** CONTAINMENT pairs — the DIRECTED set-overlap measure jaccard can't
    * express: `C(A→B) = |A∩B| / |A|` ≥ t finds documents mostly
    * CONTAINED in another (quotes, excerpts, article-plus-commentary),
    * where jaccard stays low because |B| dwarfs |A|.
    *
    * Candidate generation is a PIGEONHOLE-WIDENED prefix filter
    * (Chaudhuri et al.'s SSJoin prefix, doubled): C(A→B) ≥ t lets A
    * miss at most `m = szA − ⌈t·szA⌉` of its own grams ANYWHERE, so
    * among A's rarest `min(szA, 2m+1)` grams (the probe set) at least
    * `probeLen − m` must be in B. The classic 1-match prefix
    * (`m+1` grams, ≥1 match) collapses on hot-vocabulary corpora —
    * measured 22M candidates with a 1.4e9-row verify at sf1, ×57
    * wall-clock at 10× rows, because a doc with no rare grams admits
    * every posting of its hot "rarest" gram. Requiring `m+1` matches
    * out of `2m+1` probes turns the candidate DISTINCT into a
    * match-count aggregate (same 8-byte wire shape, map-side combine)
    * and kills one-shared-gram coincidences before the verify ever
    * expands postings: the same sf1 corpus drops to 87k candidates and
    * an 808k-row verify — 1750× less — for 505 true pairs. Only the
    * CONTAINED side probes; the container side can't prune by size
    * (anything may contain A). Verify stays the exact count-based
    * posting join (no gram arrays move).
    */
  def containmentPairs(docs: DataFrame, n: Int = 3,
                       threshold: Double = 0.9): DataFrame =
    containmentPairsSliced(docs, n, threshold, None)

  /** [[containmentPairs]] restricted to CONTAINER-side slice `s` of
    * `of` (`pmod(b, of) = s`): the relation is the disjoint union over
    * slices, because slicing only narrows which b-postings candidates
    * and verifies join — the probe set (a-side, globally df-ranked) and
    * the pigeonhole guarantee are b-independent, so each true pair
    * (a, b) survives exactly in b's slice. This is how the persisted
    * report builds at scales where the WHOLE relation's candidate
    * shuffle would exceed one box's spill space: S sequential jobs each
    * carry 1/S of the candidate volume (a cluster gets the same effect
    * from aggregate shuffle capacity; a box has to schedule it).
    */
  private[graft] def containmentPairsSliced(
      docs: DataFrame, n: Int, threshold: Double,
      containerSlice: Option[(Int, Int)]): DataFrame = {
    // five consumers (df model, probe ranking, both verify posting
    // sides) read ONE exchange of the exploded grams ([[gramEntry]]);
    // the (doc_id) partitioning also feeds the ranking windows directly
    // (measured ~2× on the sf1 probe against re-tokenizing per consumer)
    val grams = gramEntry(shingled(docs, n), explode_outer(col("shingles")).as("g"))
    val gramsB = containerSlice.fold(grams) { case (s, of) =>
      grams.filter(pmod(col("doc_id"), lit(of)) === s)
    }
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val (m, probeLen) = pigeonhole(col("sz"), threshold)
    val ranked = grams.join(df, "g")
      .withColumn("rn", row_number().over(w.orderBy(col("df"), col("g"))))
      .withColumn("sz", count(lit(1)).over(w))
    val probeA = ranked
      .filter(col("rn") <= probeLen)
      .select(col("doc_id").as("a"), col("g"), col("sz").as("sza"),
        m.as("m"), probeLen.as("plen"))
    val cand = probeA
      .join(gramsB.select(col("doc_id").as("b"), col("g")), Seq("g"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"), col("sza"), col("m"), col("plen"))
      .agg(count(lit(1)).as("pmatch"))
      .filter(col("pmatch") >= col("plen") - col("m"))
      .select(col("a"), col("b"), col("sza"))
    cand
      .join(grams.select(col("doc_id").as("a"), col("g")), Seq("a"))
      .join(gramsB.select(col("doc_id").as("b"), col("g")), Seq("b", "g"))
      .groupBy(col("a"), col("b"), col("sza"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") / col("sza").cast("double") >= threshold)
      .select(col("a"), col("b"),
        round(col("inter").cast("double") / col("sza").cast("double"), 4)
          .as("containment"))
  }

  /** BOUNDED-OUTPUT form of [[containmentPairs]] — the directional
    * analog of what [[semanticClusters]]/[[editClusters]] do for pair
    * explosion. Containment is a DIRECTED relation, so the bounded shape
    * is not cluster labels but a per-contained-doc report (the
    * [[graft.operators.CorpusOps.contaminationReport]] shape): for every
    * document contained (≥ t) in at least one other, the number of
    * containing documents and the strongest container (ties to the
    * smaller doc_id). k members of a duplicate family produce k report
    * rows where the pair form emits k·(k−1) rows — the 100× probe
    * timeboxed the pair form ≥130× on exactly that output growth.
    *
    * The quadratic CANDIDATE term dies with the output via the
    * exact-collapse-first discipline ([[collapseByValue]] on the
    * NORMALIZED text — grams derive from it, so identical normalized
    * texts have identical gram multisets): the pigeonhole-probed pair
    * chain runs on unique texts only, and family-level results expand to
    * members by pure counting algebra, exact by construction:
    *  - within a family of k docs with a non-empty gram set, every
    *    member is contained in the k−1 others at containment 1.0 (and
    *    empty-gram docs are never a contained side — they have no
    *    probes — nor a container — intersection 0 — matching the pair
    *    op, which emits nothing for them);
    *  - for rep pairs A→B at containment c, every member of A is
    *    contained in every member of B at exactly c (identical gram
    *    sets on both sides), so the count expands by |B| and the best
    *    container id at c is B's min id = B's representative;
    *  - the per-member best container compares the internal candidate
    *    (1.0, min of own family minus self) against the best external
    *    (max c, then min rep id) — on ROUNDED c, the comparison the
    *    oracle's max/argmin makes.
    */
  def containmentReport(docs: DataFrame, n: Int = 3,
                        threshold: Double = 0.9): DataFrame =
    containmentReportSliced(docs, n, threshold, 1)

  /** [[containmentReport]] with the build AUTO-SLICED past the corpus
    * bound ([[RebandAt]] — the same 65k knee every other size dispatch
    * uses): one plan at oracle scales, `slices` sequential container-
    * slice jobs ([[containmentReportSliced]]) past it, so the registered
    * EXACT query completes at 100× instead of disk-capping on the
    * candidate/verify shuffle. Unlike [[charLshPairsAuto]]'s band-width
    * dispatch, slicing is VALUE-IDENTICAL at any slice count (the
    * relation is a disjoint union over container slices), so a stale
    * row-count estimate near the bound can only shift the plan shape,
    * never the rows the oracle hashes — no exact-count fallback needed.
    */
  def containmentReportAuto(docs: DataFrame, n: Int = 3,
                            threshold: Double = 0.9): DataFrame =
    containmentReportSliced(docs, n, threshold, autoSlices(docs))

  /** Build slices of the exact ops' AUTO forms: one plan up to
    * [[RebandAt]] rows, 8 sequential container slices past it.
    */
  private def autoSlices(docs: DataFrame): Int =
    if (Similarity.corpusRows(docs)._1 <= RebandAt) 1 else 8

  /** The AT-SCALE twin of [[containmentReport]]: same bounded output and
    * counting-algebra expansion, but the rep-level pair relation is
    * [[containmentPairsLsh]] — banded minhash candidates with the exact
    * count-based containment verify on survivors — instead of the
    * pigeonhole-gated exact relation. The exact report's 100× limit is
    * the CANDIDATE shuffle (pigeonhole probes admit candidate volume
    * proportional to posting hotness on a fixed-vocabulary corpus; the
    * verify shuffle exceeded single-box disk at ≥84.5×); the band gate
    * caps that term structurally — a candidate needs a full band-key
    * collision, so the posting-expansion verify runs on band survivors
    * only. The recall trade (measured in ContainmentLshRecallSpec):
    * the symmetric tier is jaccard-shaped, and the round-16 asymmetric
    * size-stratified tier extends coverage through size ratios ~5-8
    * (94% recall at ratio 2, 56% at 3 on the quote-in-document sweep);
    * past the stratum horizon a contained doc dwarfed by its container
    * still never bands — unbounded-ratio extraction stays the exact
    * form's job, which is why it stays registered for oracle-scale
    * corpora. The expansion algebra is
    * unchanged and stays exact over the gated relation: identical
    * normalized texts share band keys (candidates at any threshold) and
    * verify at containment 1.0, and cross-family candidacy/containment
    * are pure functions of the representative texts.
    */
  def containmentReportLsh(docs: DataFrame, n: Int = 3,
                           threshold: Double = 0.9): DataFrame =
    containmentReportOver(docs, n, 1)((reps, _) => containmentPairsLsh(reps, n, threshold))

  /** The collapse + counting-algebra expansion shared by
    * [[containmentReport]] and [[containmentReportLsh]]: `pairsOf(reps,
    * slice)` produces the DIRECTED (a, b, containment) relation over the
    * collapsed representatives, restricted to container slice `slice`
    * when one is given; the expansion to members is exact for any
    * relation that is a pure function of the normalized text on both
    * sides and contains every identical-text pair at 1.0 (see
    * [[containmentReport]]'s algebra notes). Each representative's ext
    * aggregate (`ext_cnt` = containing DOCS, i.e. family sizes summed;
    * `best` = min (−containment, container-rep) struct) is decomposable,
    * so with `slices` > 1 it is computed per container slice in
    * sequential staged jobs ([[stagedUnion]]) and merged: one box never
    * holds the whole candidate shuffle at once.
    */
  private def containmentReportOver(docs: DataFrame, n: Int, slices: Int)
      (pairsOf: (DataFrame, Option[(Int, Int)]) => DataFrame): DataFrame = {
    val norm = docs.select(col("doc_id"), normalizeText(col("text")).as("text"))
    val (reps0, members0) = collapseByValue(norm)
    // Fan the checkpointed collapse out before handing it to the pair
    // chain: at oracle scales AQE coalesces the collapse aggregate into
    // ONE partition, a checkpoint scan erases partitioning metadata, and
    // the chain's shingle Generates then run in a single task (round-16
    // profiling: two 260k-row shingle stages at 1 task × 6.6 s each). At
    // production scale the checkpoint keeps AQE's advisory-size
    // partition count and this is a no-op — the same probe-then-spread
    // discipline as Tables.fanOut. The probe is safe here ONLY because
    // reps0 is checkpoint-backed (Project over LogicalRDD, no exchanges:
    // .rdd builds the plan without executing anything).
    val reps = fanOutCheckpointed(reps0)
    val members = members0.localCheckpoint(true) // 2 narrow consumers
    // one members pass: family size + second-smallest id (the internal
    // top container when x IS the representative) in a single agg;
    // has_grams needs only the token count (>= 1 n-gram ⇔ >= n tokens),
    // never a re-shingling of the representative texts
    val fam = members.groupBy(col("rep")).agg(count(lit(1)).as("k"),
      min(when(col("doc_id") =!= col("rep"), col("doc_id"))).as("m2"))
    val famInfo = fam
      .join(reps.select(col("doc_id").as("rep"),
        (size(tokens(col("text"))) >= n).as("has_grams")), Seq("rep"))
    val famKb = fam.select(col("rep").as("b"), col("k").as("kb"))
    def extOf(pairs: DataFrame, fk: DataFrame): DataFrame = pairs
      .join(fk, Seq("b"))
      .groupBy(col("a"))
      .agg(sum(col("kb")).as("ext_cnt"),
        min(struct((-col("containment")).as("nc"), col("b").as("bid"))).as("best"))
    val ext = if (slices <= 1) extOf(pairsOf(reps, None), famKb) else {
      val famB = famKb.localCheckpoint(true) // one agg, `slices` consumers
      stagedUnion(docs.sparkSession, "cnt_ext", slices) { s =>
        extOf(pairsOf(reps, Some((s, slices))), famB)
      }.groupBy(col("a")).agg(sum(col("ext_cnt")).as("ext_cnt"), min(col("best")).as("best"))
    }
    val rows = members
      .join(famInfo, Seq("rep"))
      .join(ext.select(col("a").as("rep"), col("ext_cnt"), col("best")),
        Seq("rep"), "left")
    val intCnt = when(col("has_grams") && col("k") > 1, col("k") - 1)
      .otherwise(lit(0L))
    val intId = when(col("doc_id") === col("rep"), col("m2")).otherwise(col("rep"))
    val extC = -col("best.nc")
    val useInt = intCnt > 0 && (col("best").isNull || lit(1.0) > extC ||
      (lit(1.0) === extC && intId < col("best.bid")))
    rows
      .select(col("doc_id"),
        (intCnt + coalesce(col("ext_cnt"), lit(0L))).as("n_containers"),
        when(useInt, intId).otherwise(col("best.bid")).as("top_container"),
        when(useInt, lit(1.0)).otherwise(extC).as("top_containment"))
      .filter(col("n_containers") > 0)
  }

  /** Bands of the ASYMMETRIC size-stratified containment tier
    * ([[containmentPairsLsh]]): the same [[NumHashes]]-slot signature
    * retiled [[AsymBands]] × [[AsymRowsPerBand]]. Narrower bands raise
    * the collision probability at the LOW jaccard a size-skewed
    * containment pair presents (A ⊆ B at ratio r has j ≈ 1/r): at
    * threshold 0.9 and ratio 2, j ≈ 0.49 — 8 × 2 bands collide with
    * probability 1−(1−j²)⁸ ≈ 89% where the symmetric 4 × 4 tiling
    * manages ≈ 21%.
    */
  val AsymBands = 8
  val AsymRowsPerBand: Int = NumHashes / AsymBands

  /** How far apart (in gram-set size strata, base 2) the asymmetric
    * tier probes: a contained doc at stratum s probes containers at
    * strata s+1 .. s+[[MaxStratumDistance]], covering size ratios up to
    * ~2^([[MaxStratumDistance]]+1). Past that the transformed jaccard
    * (t/(1+r−t) < 0.06 at r = 16) starves even 1-row bands — the gate
    * stays honestly blind there and the exact pigeonhole form remains
    * the registered tool for unbounded-ratio quote extraction.
    */
  val MaxStratumDistance = 3

  /** DIRECTED containment pairs gated by BANDED MINHASH instead of the
    * pigeonhole prefix filter — the at-scale candidate gate
    * ([[fuzzyDecontaminate]]'s shape) with [[containmentPairs]]' exact
    * count-based verify on the survivors. TWO band tilings of the one
    * 16-slot signature feed the candidate set:
    *
    *  - the SYMMETRIC 4 × 4 self-join (the jaccard-shaped gate — catches
    *    near-duplicate-shaped containment, ratio ≈ 1);
    *  - the ASYMMETRIC size-stratified tier (round 16 — the r15 verdict:
    *    the symmetric gate measured 24% recall at size ratio 2, blind
    *    past 3, missing the most common quote-in-document regime): each
    *    doc, as a CONTAINER, publishes its [[AsymBands]] × 2 band keys
    *    tagged with its own size stratum; as a CONTAINED candidate it
    *    probes the same keys tagged s+1 .. s+[[MaxStratumDistance]].
    *    Narrow 2-row bands keep the collision probability high at the
    *    j ≈ 1/ratio a true containment pair presents (≈ 89% at ratio 2,
    *    ≈ 59% at 3 — measured curve pinned in ContainmentLshRecallSpec),
    *    while the stratum tag keeps the tier's extra candidates BOUNDED:
    *    same-stratum mass (duplicate families — word-shuffled copies
    *    keep their length) never meets the 2-row buckets, and the probe
    *    fan-out is a fixed ×[[MaxStratumDistance]] row multiplier.
    *
    * One posting-expansion verify counts |A∩B| per distinct surviving
    * candidate; both directions then emit from that single intersection
    * (containment is direction-specific only in its denominator). Docs
    * with empty shingle sets never band (the generator-expression guard
    * [[charLshPairs]] documents), matching the exact op, which emits
    * nothing for them. Candidacy stays a pure function of the
    * normalized text on both sides (signature + gram count), so the
    * collapse + counting-algebra expansion of [[containmentReportLsh]]
    * carries over unchanged.
    *
    * `maxStratumDistance = 0` disables the asymmetric tier — the
    * pre-round-16 symmetric-only gate, kept callable so the recall spec
    * pins BOTH curves and the lift stays a measured number.
    */
  def containmentPairsLsh(docs: DataFrame, n: Int = 3,
                          threshold: Double = 0.9,
                          maxStratumDistance: Int = MaxStratumDistance): DataFrame =
    bothDirections(countIntersections(containmentLshCandidates(docs, n, maxStratumDistance),
      gramEntry(shingled(docs, n), col("shingles"))), threshold)

  /** The CANDIDATE GATE of [[containmentPairsLsh]] — factored
    * `private[graft]` so the recall spec can measure the asymmetric
    * tier's candidate-volume trade directly (distinct unordered pairs
    * out, before any verify). `maxStratumDistance = 0` is the
    * pre-round-16 symmetric-only gate.
    */
  private[graft] def containmentLshCandidates(
      docs: DataFrame, n: Int,
      maxStratumDistance: Int = MaxStratumDistance): DataFrame = {
    // signature + gram-set size computed once; one exchange feeds the
    // symmetric self-join's two sides and the asymmetric tier's probe
    // and container sides (ReusedExchange). The empty-doc guard is the
    // one inside [[bandKey]] (a `.filter(sz > 0)` here put
    // tokenize+shingle+distinct into BOTH sym-side FileScans and
    // quadrupled the registered report's sf0.1 time in round 16).
    val sigd = withSignature(shingled(docs, n))
      .select(col("doc_id"), col("sig"), size(col("shingles")).as("sz"))
      .repartition(col("doc_id"))
    val symCand = bandCollisions(
      sigd.select(col("doc_id"), bandKey(col("sig"), col("sz")).as("bk")))
    (if (maxStratumDistance <= 0) symCand else {
      val asymBanded = sigd.select(col("doc_id"), col("sig"), col("sz"),
        bandKey(col("sig"), col("sz"), AsymRowsPerBand).as("abk"),
        // gram-set size stratum: the highest set bit of sz (⌊log2 sz⌋),
        // on the BINARY STRING so the DuckDB oracle mirrors it with
        // identical integer semantics (a float log2 could round a
        // power-of-two boundary differently across libms)
        (length(bin(col("sz").cast("long"))) - 1).cast("int").as("st"))
      // concat (not concat_ws): a null band key — the empty-doc guard —
      // must propagate to a null join key, never degrade to a bare
      // stratum string. Signature and gram count RIDE each band row
      // (the [[charLshPairs]] discipline), so the estimate gate
      // below runs on the join's output stream BEFORE any pair row is
      // shuffled — the narrow 2-row buckets' noise collisions cost 16
      // slot comparisons each, never a distinct-exchange row or a
      // posting expansion (round 16: without this gate the 100× fixture
      // timeboxed the twin — j² per-band admission over cross-stratum
      // pairs is quadratic-ish in the corpus; with it the survivors are
      // containment-consistent pairs only).
      val containers = asymBanded.select(col("doc_id").as("cb"),
        col("sig").as("sigb"), col("sz").cast("long").as("szb"),
        concat(col("abk"), lit("@"), col("st").cast("string")).as("k"))
      val probes = asymBanded
        .select(col("doc_id").as("ca"), col("sig").as("siga"),
          col("sz").cast("long").as("sza"), explode(array(
            (1 to maxStratumDistance).map(d =>
              concat(col("abk"), lit("@"), (col("st") + d).cast("string"))): _*)).as("k"))
      // INTEGER-EXACT containment-estimate gate: with m of NumHashes
      // minhash slots agreeing, est-jaccard = m/16 and the containment
      // implied by it at the pair's true sizes (probe stratum < container
      // stratum ⇒ sza < szb) is estC = (m/16)(sza+szb) / (sza(1+m/16)).
      // Require estC ≥ 1/2 — cross-multiplied to pure integers so both
      // engines agree exactly: 2·m·(sza+szb) ≥ sza·(16+m). A true
      // containment pair (C ≥ 0.9) passes with ≥96% probability at
      // ratios ≤ 3 (binomial over 16 slots), while background pairs
      // (j ≈ 0.05) are cut ~99% at adjacent strata — the measured curve
      // in ContainmentLshRecallSpec carries the net effect.
      val m = slotMatches(col("siga"), col("sigb"))
      // strata differ ⇒ ca ≠ cb; normalized unordered so the one verify
      // and the distinct-union with the symmetric tier stay unchanged
      val asymCand = probes.join(containers, Seq("k"))
        .select(col("ca"), col("cb"), col("sza"), col("szb"), m.as("m"))
        .filter(lit(2L) * col("m") * (col("sza") + col("szb")) >=
          col("sza") * (lit(NumHashes.toLong) + col("m")))
        .select(least(col("ca"), col("cb")).as("a"),
          greatest(col("ca"), col("cb")).as("b"))
      symCand.union(asymCand)
    }).distinct()
  }

  /** STAGE 3: |A∩B| for every candidate (a, b) by posting expansion over
    * `gs`, a [[gramEntry]] (doc_id, shingles) relation: each candidate is
    * expanded by a's postings and matched against b's on (b, gram), the
    * group-count is |A∩B| (gram sets are distinct by construction).
    * Output (a, b, sza, szb, inter). Nothing wider than (doc id, doc id,
    * one gram) shuffles — no gram ARRAYS move through a join (the
    * array_intersect verify this replaced shipped two per candidate,
    * unbounded row width on long docs). The sizes and `a`-postings
    * consumers ride the gram exchange's (doc_id) distribution. A
    * zero-overlap or empty-set candidate matches no posting and drops
    * out — for any threshold > 0 its exact score is 0 anyway.
    */
  private def countIntersections(cand: DataFrame, gs: DataFrame): DataFrame = {
    val sizes = gs.select(col("doc_id"), size(col("shingles")).as("sz"))
    def posting(id: String) =
      gs.select(col("doc_id").as(id), explode_outer(col("shingles")).as("g"))
    cand
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), "b")
      .join(posting("a"), "a").join(posting("b"), Seq("b", "g"))
      .groupBy(col("a"), col("b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** STAGE 3: both containment directions from ONE intersection count
    * per unordered pair — a generator expression over (a, b, sza, szb,
    * inter), not a union of two copies of the verify. Output (a, b,
    * containment): a is contained in b at `inter / sza` ≥ threshold,
    * rounded to 4 places.
    */
  private def bothDirections(inter: DataFrame, threshold: Double): DataFrame = {
    def c(sz: String) = col("inter").cast("double") / col(sz).cast("double")
    inter
      .select(explode(filter(array(
        struct(col("a").as("x"), col("b").as("y"), c("sza").as("c")),
        struct(col("b").as("x"), col("a").as("y"), c("szb").as("c"))),
        s => s.getField("c") >= threshold)).as("p"))
      .select(col("p.x").as("a"), col("p.y").as("b"),
        round(col("p.c"), 4).as("containment"))
  }

  /** BOUNDED-OUTPUT cluster labels over the EXACT char-gram jaccard
    * relation ([[charJaccardPairs]]) — the twin that replaces the
    * disk-capped pair enumeration at 100×: connected components of the
    * jac ≥ t graph, labeled min doc_id, with the exact-collapse-first
    * discipline of [[editClusters]]. Identical normalized texts have
    * identical char-gram multisets (jac = 1 ≥ t), so they provably share
    * their representative's component and cross-group jaccards equal the
    * rep-pair jaccards — the closure is unchanged. Docs shorter than n
    * normalized chars have EMPTY gram sets: the pair op emits nothing
    * for them (no shared gram, and jac would be 0/0), so they are NOT
    * collapsed — identical empty-gram docs stay separate singletons,
    * exactly as the oracle's closure leaves them.
    */
  def charJaccardClusters(docs: DataFrame, n: Int = 7,
                          threshold: Double = 0.9): DataFrame =
    // edges via the AUTO-SLICED pair form: one plan at oracle scales
    // (≤ RebandAt unique texts — identical relation), staged disjoint
    // build-side slices past it, so the edge relation's candidate
    // shuffle divides exactly like the pair op's. The closure runs over
    // the (value-identical) union, so labels are unchanged at any slice
    // count — the same argument as containmentReportAuto's.
    collapsedClusters(docs.select(col("doc_id")), normalizedWithGrams(docs, n),
      "charjac_cc")(charJaccardPairsAuto(_, n, threshold))

  /** (doc_id, normalized text) of the docs with at least one char
    * n-gram — the collapse input of the char cluster ops.
    */
  private def normalizedWithGrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), normalizeText(col("text")).as("text"))
      .filter(length(col("text")) >= n)

  /** The AT-SCALE twin of [[charJaccardClusters]]: cluster labels whose
    * edges come from the BANDED char-LSH gate ([[charLshPairsAuto]] —
    * minhash band collisions verified by the constant-work signature
    * estimate) instead of the exact PPJoin candidate relation. The exact
    * form is the oracle-scale tool; its 100× limit is CANDIDATE volume —
    * on a fixed-vocabulary corpus every document shares hot grams with
    * every other, so the length-bucketed prefix join's candidate shuffle
    * grows quadratic-ish and exceeds single-box disk long before the
    * (linear) label output does. Banding caps that term structurally:
    * candidates need a full band-key match (probability s^rowsPerBand
    * per band, NOT shared-hot-gram probability), the verify is 16 slot
    * comparisons per candidate with no posting expansion, and
    * [[charLshPairsAuto]] widens the bands as the corpus grows so
    * per-band bucket occupancy stays ~flat.
    *
    * Same exact-collapse-first discipline, and provably exact w.r.t.
    * the GATED relation's closure (the oracle recomputes exactly that,
    * uncollapsed): identical normalized texts have identical gram sets,
    * hence identical signatures and band keys — they collide on every
    * band and estimate at 1.0 ≥ t, so members share their
    * representative's component; and any cross-group pair band-collides
    * and estimates identically to its rep pair, so the closure is
    * unchanged. Docs shorter than n normalized chars never band (the
    * empty-shingle guard) — they stay singletons, uncollapsed, exactly
    * as the gated relation leaves them.
    */
  def charLshClusters(docs: DataFrame, n: Int = 7,
                      threshold: Double = 0.9): DataFrame =
    collapsedClusters(docs.select(col("doc_id")), normalizedWithGrams(docs, n),
      "charlsh_cc")(charLshPairsAuto(_, n, threshold))

  /** EDIT-DISTANCE near-dup pairs: the char-LSH candidate chain
    * ([[charLshPairs]] — banded signatures + estimate gate) verified by
    * EXACT levenshtein distance instead of a similarity estimate — the
    * right metric when "near-duplicate" means a handful of character
    * edits (OCR noise, template fills, version suffixes) rather than
    * shared-shingle overlap. Levenshtein is integer Wagner–Fischer DP
    * with unit costs in both engines, so the verify is oracle-exact.
    *
    * Scale shape: the O(|a|·|b|) DP runs ONLY on pairs that survive the
    * LSH estimate gate, and the two text joins ship text exactly once
    * per side keyed by doc_id — candidates never carry text through the
    * band join (text alongside band keys would multiply it by the
    * band count). An un-gated formulation would be all-pairs DP — the
    * one cost this operator exists to avoid.
    */
  def editDistancePairs(docs: DataFrame, n: Int = 5, threshold: Double = 0.8,
                        maxDist: Int = 2,
                        maxRowsPerBand: Int = NumHashes): DataFrame = {
    val texts = docs.select(col("doc_id"), col("text"))
    // auto band width (round-12): the gate widens its bands as the corpus
    // grows, holding candidate volume per doc ~flat; resolves to the
    // fixed 4×4 split at oracle scales, so the registered relation is
    // unchanged where the DuckDB oracle runs. `maxRowsPerBand` is the
    // recall-floor cap on that schedule ([[cappedRowsPerBand]]): the
    // registered `dedup_edit_pairs_recall_floor` query passes 4 to HOLD
    // the rp=4 near-threshold recall at any corpus size, buying it with
    // candidate volume (the measured 10× row quantifies the trade); the
    // default never binds, so the base query's relation is unchanged
    charLshPairsAuto(docs, n, threshold, maxRowsPerBand)
      .join(texts.select(col("doc_id").as("a"), col("text").as("ta")), Seq("a"))
      .join(texts.select(col("doc_id").as("b"), col("text").as("tb")), Seq("b"))
      // native bounded levenshtein: prefix/suffix strip + Ukkonen band
      // (Spark's own threshold form still walks the full DP table —
      // measured ~40 s of pure DP on the 125k-pair clique; the strip
      // collapses near-identical pairs to the few differing code
      // points). −1 past the bound; for survivors the value equals the
      // plain distance, so the oracle keeps unbounded levenshtein +
      // the same <= filter
      .select(col("a"), col("b"),
        graft.functions.BoundedLevenshtein.column(col("ta"), col("tb"), maxDist)
          .cast("long").as("edit_dist"))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
  }

  /** Skewed stress fixture — the hot-gram/boilerplate-heavy corpus shape
    * (site headers, license blocks, templated pages) in two tiers:
    *
    *  - `doc_id % 10 == 0` (10 %): NEAR-IDENTICAL — the whole text is the
    *    shared boilerplate plus a one-character variant suffix, so this
    *    tier's band buckets collapse to a single hot bucket per band (a
    *    true clique: the band self-join does O(m²) work inside the
    *    bucket and the quadratic pair set is the CORRECT output).
    *  - other `doc_id % 5 == 0` (10 %): boilerplate PREFIX on the real
    *    text — hot shared grams, but distinct bodies keep pairwise
    *    jaccard below threshold (candidate pressure without output).
    *
    * Lower-case ASCII words only, so [[normalizeText]] is the identity
    * on it in both engines; the derivation is a pure function of
    * (doc_id, text), so the oracle builds the identical fixture in SQL.
    */
  val SkewBoiler: String =
    Seq.fill(5)("standard boilerplate header all terms and conditions apply")
      .mkString(" ")

  def skewedDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(10)) === 0,
        concat(lit(SkewBoiler + " "),
          expr("pmod(doc_id div 10, 2)").cast("string")))
        .when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(SkewBoiler + " "), col("text")))
        .otherwise(col("text")))

  /** (doc_id, shingles) for char n-grams of the normalized text — shingles
    * are 62-bit ROLLING-HASH KEYS ([[graft.functions.CharGramHashes]]), not
    * gram strings: one fused scan pass per document, zero per-gram string
    * allocation. Everything downstream (inverted-index joins, df counts,
    * minhash) is narrower too — 8-byte longs instead of n-char strings on
    * every exchange. The DuckDB oracle computes the identical keys from
    * `ascii(substr(...))` polynomials over the same [[graft.functions.DetHash]]
    * base constants.
    */
  def charShingled(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.CharGramHashes.column(
        normalizeText(col("text")), n).as("shingles"))

  private def lshPairsOver(sh: DataFrame, threshold: Double): DataFrame = {
    // ONE shingle pass (round 17): the banded-signature subtree and the
    // count-based verify read one [[gramEntry]] exchange instead of
    // re-tokenizing the corpus per consumer (4 evaluations in the r16
    // plan)
    val shP = gramEntry(sh, col("shingles"))
    val cand = bandCollisions(banded(shP).select(col("doc_id"), col("bk"))).distinct()
    countIntersections(cand, shP)
      .withColumn("jac", col("inter").cast("double")
        / (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jac") >= threshold) // unrounded, see jaccardPairsOver
      .select(col("a"), col("b"), round(col("jac"), 4).as("jaccard_sim"))
  }

  // -------------------------------------------------------------------
  // Exact n-gram jaccard via inverted index (small/medium-corpus baseline)
  // -------------------------------------------------------------------

  /** Exact near-dup pairs: candidates = docs sharing >= 1 shingle
    * (inverted-index self-join). Since threshold > 0 implies >= 1 shared
    * shingle, output is exactly the all-pairs result without the quadratic
    * cross join.
    *
    * Jaccard is computed COUNT-based: each surviving candidate pair is
    * expanded by one side's posting list and group-counted against the
    * other side's postings (|A∩B|), with |A∪B| = |A|+|B|−|A∩B| from the
    * per-doc set sizes. Nothing wider than (doc id, doc id, one gram)
    * shuffles in the verify — no shingle arrays move, no per-pair
    * array_intersect. Shingle sets are distinct by construction, so the
    * match count is exactly the intersection size.
    */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame =
    jaccardPairsOver(shingled(docs, n), threshold)

  /** Character n-gram variant — robust to tokenization differences
    * (CJK text, concatenated words), same prefix-filtered engine. Exact,
    * but candidate volume degrades on low-entropy corpora where every
    * gram is hot — prefer [[charLshPairs]] there.
    */
  def charJaccardPairs(docs: DataFrame, n: Int = 5, threshold: Double = 0.8): DataFrame =
    jaccardPairsOver(charShingled(docs, n), threshold)

  /** [[charJaccardPairs]] with the build AUTO-SLICED past [[RebandAt]] —
    * the [[containmentReportAuto]] discipline for the symmetric-jaccard
    * exact form. Each unordered pair (a, b) with a < b survives exactly
    * in b's slice (the candidate self-join orders by doc_id, so slicing
    * the build side partitions the relation disjointly), making the
    * union VALUE-IDENTICAL at any slice count; the df model, ranks and
    * length buckets are global per slice job (computed over ALL docs),
    * so the per-pair filters are unchanged. What slicing divides is the
    * quadratic-ish terms that disk-capped the one-plan form at 100×
    * (the candidate aggregate and the verify payload, ~1/slices per
    * sequential job); the corpus-linear gram/rank subplans are re-paid
    * per slice — the same trade [[containmentReportSliced]] accepted.
    */
  def charJaccardPairsAuto(docs: DataFrame, n: Int = 5,
                           threshold: Double = 0.8): DataFrame =
    charJaccardPairsStaged(docs, n, threshold, autoSlices(docs))

  /** [[charJaccardPairs]] as `slices` sequential staged jobs (see
    * [[charJaccardPairsAuto]] for why the union is value-identical and
    * [[stagedUnion]] for the isolation mechanics — true pairs are the
    * only thing staged, never candidate volume).
    */
  private[graft] def charJaccardPairsStaged(docs: DataFrame, n: Int,
                                            threshold: Double,
                                            slices: Int): DataFrame =
    if (slices <= 1) charJaccardPairs(docs, n, threshold)
    else stagedUnion(docs.sparkSession, "charjac", slices) { s =>
      jaccardPairsOver(charShingled(docs, n), threshold, Some((s, slices)))
    }

  // -------------------------------------------------------------------
  // Duplicated-substring spans (exact substring-level dedup)
  // -------------------------------------------------------------------

  /** Maximal DUPLICATED SUBSTRING spans: for every document, the maximal
    * runs of positions whose n-char window occurs more than once in the
    * whole corpus (within-doc repeats count). This is the substring-level
    * dedup signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better"): document-level dedup misses the pervasive
    * long shared runs (boilerplate, licenses, quoted passages) that
    * substring-level removal targets — the output spans are exactly the
    * regions a span-removal pass would cut.
    *
    * Formulation: positional rolling n-gram keys
    * ([[graft.functions.CharGramPosKeys]], one fused pass, no per-gram
    * strings) → posexplode to (doc, pos, key) → duplicated keys =
    * count > 1 group → semi-join positions back → classic
    * gaps-and-islands merge per doc (pos − row_number) → one row per
    * maximal span. A position stream replaces the suffix array of the
    * paper's exact variant; any duplicated substring of length ≥ n is
    * covered by duplicated n-windows, so the merged islands are exactly
    * the maximal duplicated regions at resolution n.
    *
    * Scale shape: the (doc, pos, key) stream is O(corpus bytes) — that is
    * inherent to substring-level dedup (the paper's suffix array is the
    * same size) — but nothing wider than 24 bytes ever shuffles, the
    * duplicate-key aggregation combines map-side (hot keys collapse
    * before the wire), and the island merge shuffles only the duplicated
    * positions (a few % of the stream) partitioned by doc. The corpus is
    * scanned and gram-hashed twice (once per branch; the count branch
    * prunes to `text` alone, so the exchanges differ and don't reuse) —
    * deliberate: re-running the fused rolling hash is CPU-linear and far
    * cheaper than persisting or shuffling the full position stream to
    * share one evaluation. Spans are 1-based char offsets into the
    * NORMALIZED text, inclusive.
    */
  def dupSpans(docs: DataFrame, n: Int = 30): DataFrame = {
    val grams = docs.select(col("doc_id"),
      posexplode(graft.functions.CharGramPosKeys.column(
        normalizeText(col("text")), n)).as(Seq("pos", "key")))
    val dupKeys = grams.groupBy(col("key"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
      .select(col("key"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    grams
      .join(dupKeys, Seq("key"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg((min(col("pos")) + 1).cast("long").as("span_start"),
        (max(col("pos")) + n).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Substring-level dedup APPLIED: every character covered by a
    * corpus-duplicated n-window ([[dupSpans]]) is cut from the (normalized)
    * text; the survivors are the segments no span-removal pass would touch.
    * This is the destructive half of Lee et al. 2021 — [[dupSpans]] finds
    * the regions, this emits the cleaned corpus.
    *
    * Two position-islands less than n positions apart have OVERLAPPING
    * char spans (island ends stretch n−1 chars past their last position),
    * so the excision fold clamps each kept-segment length at 0 and walks
    * a monotone cursor (span ends are strictly increasing across a doc's
    * islands); the result is removal of the exact char-span UNION.
    *
    * Scale shape: cost is [[dupSpans]] plus one broadcast-or-shuffle join
    * of the span list (a few rows per affected doc) back to the corpus
    * and a per-row linear splice — no new wide exchange. Output:
    * (doc_id, text_kept, chars_removed, n_spans); untouched docs pass
    * through with 0/0.
    */
  def substringRemoved(docs: DataFrame, n: Int = 30): DataFrame = {
    val spans = dupSpans(docs, n)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("span_start"), col("span_end"))))
        .as("spans"))
    val zero = struct(lit(1L).as("pos"), lit("").as("acc"))
    docs.select(col("doc_id"), normalizeText(col("text")).as("nrm"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nrm"),
        when(col("spans").isNull, col("nrm")).otherwise(
          aggregate(col("spans"), zero,
            (st, sp) => struct(
              (sp.getField("span_end") + 1).as("pos"),
              concat(st.getField("acc"),
                col("nrm").substr(st.getField("pos").cast("int"),
                  greatest(sp.getField("span_start") - st.getField("pos"), lit(0L))
                    .cast("int"))).as("acc")),
            st => concat(st.getField("acc"),
              col("nrm").substr(st.getField("pos").cast("int"),
                greatest(length(col("nrm")) - st.getField("pos") + 1, lit(0))
                  .cast("int"))))).as("text_kept"),
        coalesce(size(col("spans")), lit(0)).cast("long").as("n_spans"))
      .withColumn("chars_removed",
        (length(col("nrm")) - length(col("text_kept"))).cast("long"))
      .select(col("doc_id"), col("text_kept"), col("chars_removed"), col("n_spans"))
  }

  // -------------------------------------------------------------------
  // Paragraph-level dedup (CCNet / RefinedWeb shape)
  // -------------------------------------------------------------------

  /** Paragraph fixture: the synthetic corpus is a flat word stream (no
    * newlines), so paragraph structure is INJECTED as a pure function of
    * (doc_id, text) — the same discipline as
    * [[graft.operators.TextAnalysis.withInjectedSpans]]: chunk the token
    * stream into fixed [[ParaWords]]-word paragraphs joined by "\n\n",
    * then plant shared boilerplate paragraphs (every third doc gets a
    * header paragraph, every seventh a footer) so cross-document
    * duplicate paragraphs exist by construction. The oracle rebuilds the
    * identical fixture in SQL.
    */
  val ParaWords: Int = 12
  val ParaHeader: String =
    "shared site header navigation about contact terms privacy"
  val ParaFooter: String =
    "copyright notice all rights reserved powered by engine"

  def withInjectedParagraphs(docs: DataFrame): DataFrame = {
    val tk = tokens(normalizeText(col("text")))
    // (size-1) div ParaWords chunks; floor == integer division on the
    // non-negative sizes here (the corpus has no empty documents)
    val chunks = transform(
      sequence(lit(0), floor((size(tk) - 1) / lit(ParaWords)).cast("int")),
      i => concat_ws(" ", slice(tk, i * lit(ParaWords) + lit(1), lit(ParaWords))))
    val body = array_join(chunks, "\n\n")
    docs.withColumn("text", concat(
      when(pmod(col("doc_id"), lit(3)) === 0, lit(ParaHeader + "\n\n"))
        .otherwise(lit("")),
      body,
      when(pmod(col("doc_id"), lit(7)) === 0, lit("\n\n" + ParaFooter))
        .otherwise(lit(""))))
  }

  /** Paragraph-level KEEP-FIRST dedup (the CCNet / RefinedWeb line-level
    * pass, at paragraph granularity): split each document on blank lines,
    * keep only the globally FIRST occurrence of every distinct paragraph
    * (first = smallest (doc_id, paragraph index)), and reassemble each
    * document from its surviving paragraphs in order. Duplicate
    * boilerplate (headers, footers, templated blocks) survives exactly
    * once, in the earliest document that carries it.
    *
    * Scale shape: two shuffles, both inherent — (paragraph → winner) for
    * the global rank and (doc → reassembly); rows are single paragraphs
    * throughout, never whole documents, and the rank's window input is
    * bounded per paragraph-value by that paragraph's occurrence count.
    * Output: (doc_id, text kept, paragraphs kept/dropped).
    */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    val paras = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n\n")).as(Seq("idx", "para")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("para")).orderBy(col("doc_id"), col("idx"))
    paras
      .withColumn("rk", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("rk") === 1,
            struct(col("idx"), col("para"))))),
          s => s.getField("para")), "\n\n").as("text_kept"),
        count(when(col("rk") === 1, lit(1))).as("kept"),
        count(when(col("rk") > 1, lit(1))).as("dropped"))
      .select(col("doc_id"), col("text_kept"), col("kept"), col("dropped"))
  }

  /** BOILERPLATE paragraph removal — the destructive complement of
    * [[paragraphDedup]]: where keep-first retains ONE copy of every
    * duplicated paragraph, this drops EVERY copy of any paragraph
    * occurring more than `maxOcc` times corpus-wide (the CCNet
    * over-shared-line rule at paragraph granularity: navigation chrome,
    * cookie banners, templated headers/footers carry no training signal
    * in any document, so no copy survives). Rare duplicates (≤ maxOcc)
    * are left to the pair-level dedup ops — this pass only kills
    * corpus-scale boilerplate.
    *
    * Scale shape: same two inherent exchanges as [[paragraphDedup]] —
    * the occurrence count is a WINDOW count over the paragraph-value
    * partition (the corpus splits into paragraphs exactly once; a
    * groupBy+join formulation would materialize the split twice), its
    * per-partition input bounded by that paragraph's occurrence count,
    * then the per-doc reassembly. Rows are single paragraphs
    * throughout.
    */
  def boilerplateRemoved(docs: DataFrame, maxOcc: Long = 10): DataFrame = {
    val paras = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n\n")).as(Seq("idx", "para")))
    val wp = org.apache.spark.sql.expressions.Window.partitionBy(col("para"))
    paras
      .withColumn("occ", count(lit(1)).over(wp))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("occ") <= maxOcc,
            struct(col("idx"), col("para"))))),
          s => s.getField("para")), "\n\n").as("text_kept"),
        count(when(col("occ") <= maxOcc, lit(1))).as("kept"),
        count(when(col("occ") > maxOcc, lit(1))).as("dropped"))
      .select(col("doc_id"), col("text_kept"), col("kept"), col("dropped"))
  }

  /** Exact jaccard-threshold pairs with PREFIX FILTERING (AllPairs /
    * PPJoin): under any global total order of grams, two sets with
    * jaccard >= t must share a gram inside both sets' first
    * `sz - ceil(t*sz) + 1` grams. Ordering by ascending document
    * frequency puts the RAREST grams in the prefixes, so hot grams (the
    * quadratic blowup of a naive inverted-index join — measured 1.5e9
    * join rows on char grams at sf0.1) never generate candidates. A
    * least/greatest length filter prunes size-incompatible pairs before
    * verification. Output is provably identical to the all-pairs result.
    *
    * VERIFY is count-based, not array-based: a surviving candidate (a, b)
    * is expanded by a's posting list and inner-joined against b's postings
    * on (b, gram) — the group-count of matches is exactly |A∩B| (shingle
    * sets are distinct by construction), and |A∪B| = |A|+|B|−|A∩B| from
    * the per-doc sizes attached at the length filter. The widest verify
    * shuffle row is (doc id, doc id, one gram); no gram ARRAYS move, and
    * there is no per-pair array_intersect. At 100 TB the verify payload is
    * candidates × avg-set-size narrow triples, not candidates × full
    * documents.
    *
    * explode_outer, not explode, everywhere: InferFiltersFromGenerate
    * would bolt a `size(arr) > 0` filter onto plain explode and predicate
    * pushdown re-inlines the whole array expression into it below the scan
    * fan-out (measured 10×).
    */
  private def jaccardPairsOver(sh: DataFrame, threshold: Double,
                               buildSlice: Option[(Int, Int)] = None): DataFrame = {
    // ONE gram pass (round 17, [[gramEntry]]): the df model, the ranked
    // prefix, the verify's bitmap-or-array build and the bitmap
    // dictionary read a single exchange instead of re-running normalize
    // + gram-hash per consumer (the r16 executed plan carried FOUR
    // char_gram_hashes sites — ~13 s of the ~16 s executor CPU on
    // dedup_char_jaccard_pairs at sf0.1). Null grams from empty-shingle
    // docs (explode_outer) still flow to the df model; the (doc_id, g)
    // rows are 16 bytes, so the exchange ships the posting relation
    // once — the same rows the candidate join already shuffles.
    val grams = gramEntry(sh, explode_outer(col("shingles")).as("g"))
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // Per-doc (df, gram)-order RANK + set size as two windows over ONE
    // (doc_id) exchange — NO per-document arrays anywhere. The previous
    // formulation built each doc's full sorted gram array
    // (sort_array(collect_list(struct))) and re-aggregated it on every
    // consumer; on char 7-grams at sf0.1 (~2k grams/doc) that array
    // build dominated the whole query (24.6 s warm). Only the PREFIX
    // needs the global order — the posting sides of the count-based
    // verify are order-free and read the exploded grams directly.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val ranked = grams.join(df, "g")
      .withColumn("rn", row_number().over(w.orderBy(col("df"), col("g"))))
      .withColumn("sz", count(lit(1)).over(w))
    // LENGTH-BUCKETED prefix index (AllPairs' size-ordered probing as a
    // join key): bucket = floor(ln sz / ln(1/t)), so any pair passing the
    // length filter (min >= t*max) sits within ONE bucket of each other —
    // fp floor at the exact-ratio boundary adds at most one more, so the
    // probe side fans out to +-2 buckets and the build side stays at its
    // own. Each qualifying (a, b, gram) match then occurs EXACTLY once
    // (at b's bucket), keeping pmatch exact. This moves the length
    // constraint from a post-join filter into the join key: on a corpus
    // whose lengths spread far beyond 1/t (13x here), a hot prefix gram's
    // candidate fan-out drops to its length-compatible slice — the term
    // that otherwise grows quadratically as the corpus scales at fixed
    // vocabulary (measured 56x time at 10x docs before this; the +-2
    // window still prunes everything beyond a (1/t)^3 size ratio).
    val bucketW = math.log(1.0 / threshold)
    // ceil(threshold·sz) in INTEGER arithmetic ([[ceilRational]], same
    // rational num/den formulation as [[containmentPairs]]): a float
    // ceil(0.9·10) rounds 9.0000000000000018 up to 10 and shortens the
    // prefix below the AllPairs guarantee, silently dropping a true pair
    // at exactly jac = t.
    val den = 1000000L
    val num = math.round(threshold * den)
    val ceilTSz = ceilRational(num, col("sz"), den)
    val prefix = ranked
      .filter(col("rn") <= (col("sz") - ceilTSz + 1).cast("int"))
      .select(col("doc_id"), col("sz"), col("rn"), col("g"),
        floor(log(col("sz").cast("double")) / bucketW).cast("int").as("lb"))
    // Candidate aggregation replaces a plain distinct with PPJoin's
    // POSITION FILTER. All gram sets are sorted by the SAME global
    // (df, g) order, so ranks are order-consistent across documents:
    // every common gram beyond the LAST prefix-prefix match sits past
    // position max(rn_a) in a AND past max(rn_b) in b, and every common
    // gram before it lies in both prefixes (counted exactly by pmatch).
    // Hence |A∩B| <= pmatch + min(sza - mxa, szb - mxb), and jac >= t
    // needs |A∩B| >= t/(1+t) * (sza+szb). On low-entropy corpora this is
    // THE filter that matters: char 7-grams at sf0.1 draw from only ~6.3k
    // distinct grams, so 571k candidates survived the length filter for
    // 255 true pairs and the verify expanded 198M posting rows (24.6 s);
    // a random pair matches ~0.1 prefix grams and needs >= 13 to pass
    // here, so the verify now expands only near-threshold survivors.
    val probe = prefix.withColumn("lb",
      explode(sequence(col("lb") - 2, col("lb") + 2)))
    // BUILD-SIDE slice (charJaccardPairsAuto): pair (a, b), a < b, is
    // generated only at b's prefix rows, so restricting the y side to
    // `pmod(doc_id, of) = s` partitions the relation disjointly while
    // df/ranks/buckets stay global — the probe side and every per-pair
    // filter are untouched
    def bSlice(df: DataFrame) = buildSlice.fold(df) { case (s, of) =>
      df.filter(pmod(col("doc_id"), lit(of)) === s)
    }
    val cand = probe.as("x")
      .join(bSlice(prefix).as("y"),
        col("x.g") === col("y.g") && col("x.lb") === col("y.lb"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.sz").as("sza"), col("y.sz").as("szb"),
        col("x.rn").as("rna"), col("y.rn").as("rnb"))
      .groupBy(col("a"), col("b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("pmatch"),
        max(col("rna")).as("mxa"), max(col("rnb")).as("mxb"))
    // Both bounds in EXACT integers via the same num/den rational:
    // the length filter min >= t·max becomes den·min >= num·max, and the
    // position filter bound t/(1+t)·(sza+szb) cross-multiplies to
    // (num+den)·lhs >= num·(sza+szb). Float products here dropped a true
    // pair at exactly jac = t (0.9·10 > 9.0 failed the length filter).
    val candSized = cand
      .filter(lit(den) * least(col("sza"), col("szb"))
        >= lit(num) * greatest(col("sza"), col("szb")))
      .filter((col("pmatch")
        + least(col("sza") - col("mxa"), col("szb") - col("mxb")))
        * lit(num + den) >= lit(num) * (col("sza") + col("szb")))
      .select(col("a"), col("b"), col("sza"), col("szb"))
    // VERIFY, strategy chosen by MEASURED vocabulary: |A∩B| is exact
    // either way, only the physical shape differs.
    //  - Bitmap (vocab <= BitmapVocabCap): each doc's gram set becomes a
    //    vocab-wide bitmap (vocab/8 bytes) and a candidate verifies with
    //    one AND+popcount pass ([[graft.functions.BitSetOps]]). This is
    //    THE low-entropy fix: the sf1 probe measured the posting verify
    //    at a 1.15e9-row join (117 s) for 3.5e6 candidates over a 6 825-
    //    gram vocabulary — as bitmaps the same verify ships 854 B per
    //    doc once and does 107 AND words per pair. The id dictionary is
    //    a single-partition window over the (already computed) gram-
    //    frequency frame — gated by the cap, so never a scale hazard.
    //  - Gram-array intersect (unbounded vocab): one per-doc gram array
    //    (collect_list over the SAME exploded grams — one corpus-gram
    //    exchange, its build reused by both candidate joins), then each
    //    candidate ships exactly its two docs' arrays and verifies with
    //    size(array_intersect) — sets are distinct by construction, so
    //    the count is the exact intersection. This replaced the posting
    //    count-join in round 9: expanding candidates by one side's
    //    postings re-shuffled candidate x |A| rows (measured 38x at 10x
    //    docs on the fixed-vocab corpus vs ~4x for the bitmap branch);
    //    shipping two doc-sized arrays per near-threshold survivor is
    //    wire-proportional to the CANDIDATES, not their posting volume.
    val inter =
      if (vocabSize(df) <= BitmapVocabCap) {
        // the explicit isnotnull(g) makes the dictionary's gram subtree
        // CANONICAL with every other consumer's (round 17): the posting
        // and ranked consumers all carry a join-inferred isnotnull(g)
        // that pushes below the shared doc_id exchange, but the
        // row_number window here blocks that inference, so without the
        // filter the dictionary re-computed the whole gram pass on its
        // own exchange (seen in the executed plan). Value-exact: the
        // null gram (empty-shingle docs) never matches the equi-join
        // that consumes `bid`, and dropping it from the dictionary only
        // shifts every real gram's bit position down by one uniformly —
        // bit positions are query-internal, so AND-counts are unchanged
        // (width still comes from vocabSize, an upper bound).
        val dict = df.filter(col("g").isNotNull).select(col("g"),
          (row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("g"))) - 1).as("bid"))
        val width = vocabSize(df).toInt
        val bitmaps = grams.join(broadcast(dict), "g")
          .groupBy(col("doc_id"))
          .agg(graft.functions.BitSetOps.bitsetOr(col("bid"), width).as("bm"))
        candSized
          .join(bitmaps.select(col("doc_id").as("a"), col("bm").as("bma")), "a")
          .join(bSlice(bitmaps).select(col("doc_id").as("b"), col("bm").as("bmb")), "b")
          .select(col("a"), col("b"), col("sza"), col("szb"),
            graft.functions.BitSetOps.bitAndCount(col("bma"), col("bmb")).as("inter"))
      } else {
        // same canonicalization filter as the dictionary above;
        // collect_list skips nulls, so this is value-identical
        val arrays = grams.filter(col("g").isNotNull).groupBy(col("doc_id"))
          .agg(collect_list(col("g")).as("gs"))
        candSized
          .join(arrays.select(col("doc_id").as("a"), col("gs").as("ga")), "a")
          .join(bSlice(arrays).select(col("doc_id").as("b"), col("gs").as("gb")), "b")
          .select(col("a"), col("b"), col("sza"), col("szb"),
            size(array_intersect(col("ga"), col("gb"))).cast("long").as("inter"))
      }
    inter
      .withColumn("jac", col("inter").cast("double")
        / (col("sza") + col("szb") - col("inter")).cast("double"))
      // threshold on the UNROUNDED value: the size/prefix filters prune by
      // true jaccard, so a rounded filter would keep boundary pairs
      // (true j in [t-0.00005, t)) inconsistently with the pruning
      .filter(col("jac") >= threshold)
      .select(col("a"), col("b"), round(col("jac"), 4).as("jaccard_sim"))
  }

  /** Bitmap-verify gate: vocabularies at or under this size use the
    * bitset intersection (cap 2¹⁶ bits = 8 KB per doc bitmap); larger
    * ones keep the posting count-join. Overridable for specs that must
    * exercise both paths on one fixture.
    */
  private[graft] var BitmapVocabCap: Long = 1L << 16

  /** Measured vocabulary, memoized per gram-frequency plan so the two
    * uses in [[jaccardPairsOver]] (gate + width) cost one job.
    */
  private val vocabCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def vocabSize(df: DataFrame): Long =
    vocabCache.computeIfAbsent(
      df.queryExecution.analyzed.semanticHash().toString + "@" +
        System.identityHashCode(df.sparkSession).toString,
      _ => df.count()).longValue()

  /** Near-dup CLUSTERS: connected components of the LSH pair graph, each
    * doc labeled with the minimum doc_id reachable through near-dup edges
    * (singletons label themselves) — the "keep one per duplicate cluster"
    * step of a training-data pipeline, where pairwise output alone can't
    * dedup transitive groups (a~b, b~c ⇒ one survivor for {a,b,c}).
    *
    * Algorithm: the shared pointer-jumping min-label loop
    * ([[componentLabels]]) — each round, every edge-touched node takes
    * `min(L(v), L(L(v)), min over neighbours' L(u))`, all three terms
    * from ONE join + one aggregation (round 16: jump and self terms ride
    * the edge relation as extra rows); isolated nodes join back once at
    * the end. Converges in O(log component diameter) rounds; near-dup
    * components are tiny and shallow in practice, so the driver-side
    * loop runs 2-4 rounds. The convergence test
    * rides the SAME job as an `observe()` metric (a CollectMetrics
    * accumulator over the changed-label count), not a second join+count
    * over the round's output. Deterministic (min over ids), so
    * oracle-checkable against a recursive-CTE transitive closure.
    *
    * Fault tolerance: intermediates are checkpointed each round so lineage
    * doesn't grow with iterations. The default `localCheckpoint` stores
    * blocks on EXECUTORS — fine single-box, but an executor loss
    * mid-propagation kills the job (lineage is truncated; there is no
    * recompute path). At 100 TB pass `checkpointDir` to write round
    * boundaries to reliable storage instead (HDFS/S3), which survives
    * node loss at the cost of one distributed write per round.
    *
    * Bounds, stated plainly: the driver loop is O(log diameter)
    * SEQUENTIAL jobs — each round blocks on its checkpoint action before
    * the next can plan (the [[chainedDocs]] fixture exercises the
    * adversarial long-chain case; `dedup_clusters_chain` is [[clusters]]
    * over it).
    * With `checkpointDir` set, the round output is persisted before
    * `checkpoint(true)` so the eager action and the reliable write job
    * share ONE plan execution — without the cache the plan runs twice and
    * the `changed` observe() metric double-counts. With the cache the
    * metric is exact; the loop still only consumes its sign.
    */
  def clusters(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
               checkpointDir: Option[String] = None): DataFrame =
    componentLabels(docs.select(col("doc_id")),
      minhashLshPairs(docs, n, threshold).select(col("a"), col("b")),
      "clusters", checkpointDir)._1

  /** Chain stress fixture: EVEN doc_ids become sliding windows over a
    * synthetic token stream — chain doc c (= doc_id/2) holds tokens
    * `tok{c·2} … tok{c·2+39}`. Consecutive chain docs share 36 of 40
    * distinct 3-gram shingles (jaccard = 0.90), docs two apart 34 of 42
    * (≈ 0.81 — also an edge, which makes connectivity robust to a
    * deterministically missed band collision), three apart 32 of 44
    * (≈ 0.73, below threshold) — the LSH pair graph over the even docs
    * is a double-linked PATH of diameter ≈ N/4, the adversarial
    * long-chain component the [[clusters]] scaladoc warns about. Odd
    * docs keep their real text (disjoint vocabulary — no cross edges).
    * Pure function of (doc_id, text); the oracle rebuilds it in SQL.
    */
  val ChainWindow = 40
  val ChainStride = 2

  def chainedDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat_ws(" ", transform(
          sequence((col("doc_id") / 2).cast("long") * ChainStride,
            (col("doc_id") / 2).cast("long") * ChainStride + (ChainWindow - 1)),
          j => concat(lit("tok"), j))))
        .otherwise(col("text")))

  /** The pointer-jumping connected-components loop over an ARBITRARY
    * verified edge set, so any
    * pair-emitting dedup chain ([[semanticPairs]], [[editDistancePairs]],
    * ...) can emit BOUNDED per-doc cluster labels instead of its
    * quadratically-growing pair list. `nodes` is one `doc_id` per
    * element; `edges` is any (a, b) subset of the near-dup relation
    * whose ENDPOINTS ARE A SUBSET OF `nodes` (round-16 seeds labels from
    * edge endpoints, so an edge referencing an id outside `nodes` would
    * propagate that id as a min-label candidate instead of being
    * dropped by a labels join — every current caller passes edges over
    * its own node set; keep it that way).
    * Output: (doc_id, cluster_id = min doc_id of the component), the
    * same fixpoint/oracle contract as [[clusters]], and the number of
    * rounds the loop ran — a diameter-d path converges in O(log d)
    * rounds (~12 sequential jobs on the [[chainedDocs]] fixture at
    * 5 000 docs, where plain propagation would need ~600).
    */
  private[graft] def componentLabels(
      nodes: DataFrame, edges0: DataFrame, metricPrefix: String,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val spark = nodes.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def save(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try df.checkpoint(true) finally df.unpersist(false)
      } else df.localCheckpoint(true)
    val edges = edges0.select(col("a"), col("b"))
    // Round 17: materialize the DIRECTED edge relation once, then take
    // the symmetric view as a union of two scans of the checkpoint. The
    // previous `save(edges ∪ edges.swapped)` embedded the whole
    // pair-emitting chain in BOTH union branches, and AQE's stage reuse
    // does not reliably dedup across the swapped branches — the
    // executed plan of dedup_char_jaccard_clusters showed the 1.27M-row
    // candidate exchange WRITTEN TWICE and the prefix subtree evaluated
    // per branch. One checkpoint runs the chain exactly once; the
    // per-round consumers read a trivial union of checkpoint scans
    // (same relation, same duplicates-tolerant min aggregation).
    val e0 = save(edges)
    val sym = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    // Round-16 loop restructure, two changes measured on ProfileQuery's
    // stage listener (the loop was ~45-105 construction jobs on the
    // cluster-family queries — the dominant cost at oracle scale):
    //
    //  1. EDGE-ENDPOINT RESTRICTION: the iterated label table holds only
    //     nodes that touch an edge; isolated nodes (label = own id by
    //     definition) join back once at the end. Every round now
    //     shuffles the dup-graph node set, not the corpus — at 100 TB
    //     the label table during iteration is |dup graph| ≪ |corpus|.
    //  2. FUSED ROUND (one join + one aggregation): the neighbour-min
    //     join, the L(L(v)) jump join and the old-label left join
    //     collapse into a single lookup by encoding them as edge rows —
    //     per round the joined edge set is sym ∪ (v → L(v)) [the jump]
    //     ∪ (v → v) [carries the node's own label, tagged `self`], so
    //       min(lb)                 = min(L(v), L(L(v)), min_N L(u))
    //       max(when(self, lb))    = L(v)   (exactly one self row)
    //     reproduce the previous update rule and change flag verbatim —
    //     same fixpoint, same per-round labels, same round count.
    //
    // The jump term is now free (one extra union branch instead of a
    // join), so the plain-propagation variant is gone: every consumer
    // gets the O(log diameter) bound.
    val endpoints = sym.select(col("a").as("doc_id")).distinct()
    var labels = save(endpoints.select(col("doc_id"), col("doc_id").as("cluster_id")))
    // one fused round: min(L(v), L(L(v)), min_N L(u)) + the change flag
    // from ONE join + one aggregation (round 16)
    def step(lbl: DataFrame): DataFrame = {
      val all = sym.select(col("a"), col("b"), lit(false).as("self"))
        .unionByName(lbl.select(col("doc_id").as("a"),
          col("cluster_id").as("b"), lit(false).as("self")))
        .unionByName(lbl.select(col("doc_id").as("a"),
          col("doc_id").as("b"), lit(true).as("self")))
      all
        .join(lbl.select(col("doc_id").as("b"), col("cluster_id").as("lb")),
          Seq("b"))
        .groupBy(col("a"))
        .agg(min(col("lb")).as("next_id"),
          max(when(col("self"), col("lb"))).as("cur"))
        .select(col("a").as("doc_id"), col("next_id").as("cluster_id"),
          (col("next_id") < col("cur")).cast("long").as("chg"))
    }
    // Round-17 REJECTED after a back-to-back A/B (verdict item #5,
    // documented in OPTIMIZATION_r17.md): fusing TWO rounds per driver
    // iteration (step(step(labels)) in one plan, intermediate labels'
    // three consumers kept canonical so AQE computes them once) did cut
    // jobs 65 → 50 on dedup_clusters_chain — but WALL went 2.65 → 3.89 s
    // (chain), 3.26 → 4.22 s (semantic_clusters), 2.38 → 3.04 s
    // (edit_clusters) in the same A/B session with flat sentinels: the
    // doubled per-plan Catalyst/AQE/codegen cost exceeds the saved
    // checkpoint barrier at any SF where the loop is driver-bound, and
    // at 100 TB (compute-bound rounds) the barrier is amortized anyway.
    // The r16 one-round-per-iteration loop stays.
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      val metric = s"${metricPrefix}_round_$round"
      val observed = step(labels)
        .observe(metric, sum(col("chg")).as("changed"))
      val next = save(observed)
      changed = Option(observed.queryExecution.observedMetrics(metric).get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      labels = next
    }
    val out = nodes.select(col("doc_id"))
      .join(labels.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    (out, round)
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  val SimHashBits = 60 // base60 hash width

  /** 60-bit SimHash from a MATERIALIZED token-hash array column: bit j set
    * iff more token hashes have bit j set than not (ties → 0).
    */
  def simhashFromHashes(hs: Column): Column = {
    val n = size(hs)
    val bits = (0 until SimHashBits).map { j =>
      val cnt = aggregate(hs, lit(0L),
        (acc, h) => acc + shiftright(h, j).bitwiseAND(lit(1L)))
      when(cnt * 2 > n.cast("long"), lit(BigDecimal(2).pow(j).toLong)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Per-doc simhash signatures. Token hashing (one md5 per token)
    * materializes in its own projection; the 60 per-bit scans then run over
    * the integer array — handing the from-text expression to the bit loop
    * would re-tokenize + re-md5 the document 60×.
    */
  def simhashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      transform(tokens(normalizeText(col("text"))), t => DetHash.base60(t)).as("hs"))
      .select(col("doc_id"), simhashFromHashes(col("hs")).as("simhash"))

  /** Near-dup PAIRS at Hamming distance ≤ `maxHamming` over the 60-bit
    * SimHash — the Manku/Jain/Sarma (WWW '07, "Detecting Near-Duplicates
    * for Web Crawling") pigeonhole construction that turns "find all
    * signatures within distance k" into equality joins: split the
    * signature into `k+1` equal blocks; two signatures within distance k
    * differ in ≤ k blocks, so they must agree EXACTLY on at least one.
    * Candidates are the per-block equality buckets; the verify is one
    * codegen'd `bit_count(xor)` per candidate.
    *
    * Scale shape: each of the k+1 block joins is a hash-bucket self-join
    * on a 15-bit key — candidate volume ∝ per-bucket population², i.e.
    * bounded by block-value collision rates, never corpus². With 60/4 =
    * 15-bit blocks a uniform corpus spreads over 32k buckets per block;
    * skew (a hot block value, e.g. boilerplate-heavy corpora) confines
    * the quadratic blowup to that one bucket, exactly like the LSH band
    * joins. Signatures (two longs) ride along the join instead of
    * re-joining by id — 16 bytes/row beats a second exchange.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val blocks = maxHamming + 1
    require(SimHashBits % blocks == 0,
      s"$SimHashBits-bit signature must split evenly into $blocks blocks")
    val width = SimHashBits / blocks
    val mask = (1L << width) - 1L
    val sigs = simhashSignatures(docs)
    val keyed = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until blocks).map { b =>
        struct(lit(b).as("blk"),
          shiftright(col("simhash"), b * width).bitwiseAND(lit(mask)).as("kv"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.blk").as("blk"), col("bk.kv").as("kv"))
    keyed.as("x").join(keyed.as("y"),
        col("x.blk") === col("y.blk") && col("x.kv") === col("y.kv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        call_function("bit_count",
          col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // -------------------------------------------------------------------
  // Embedding-cosine near-dup
  // -------------------------------------------------------------------

  /** SEMANTIC near-dup pairs from RAW TEXT — the end-to-end composition
    * of the engine's embedding and LSH halves with no given embedding
    * column: feature-hash counts per document
    * ([[graft.functions.HashEmbedCounts]], one fused scan projection) →
    * banded SRP candidates → exact-cosine verify, all via
    * [[embeddingNearDupPairs]] over the derived vectors.
    *
    * Exactness across engines, the reason this composition can be
    * oracle-checked at all: the count vectors are INTEGERS (exact in
    * doubles), the ±1 hyperplane dots are therefore integer-valued sums
    * (order-independent — bucket bits cannot drift with partitioning),
    * and the verify cosine is integer dot / (√int · √int) where IEEE
    * sqrt is correctly rounded in both engines — no `ln`-style libm
    * divergence anywhere (contrast [[graft.operators.TextAnalysis.bm25TopK]]).
    *
    * Scale shape is [[embeddingNearDupPairs]]'s: banding bounds candidate
    * volume by per-band bucket collisions, the verify re-joins counts by
    * id. The embedding stage adds zero exchanges.
    */
  def semanticPairs(docs: DataFrame, bands: Int = 8, planesPerBand: Int = 8,
                    dims: Int = 64, threshold: Double = 0.9): DataFrame = {
    val emb = docs.select(col("doc_id").as("vec_id"),
      graft.functions.HashEmbed.hashEmbedCounts(
        tokens(normalizeText(col("text"))), dims)
        .cast("array<double>").as("embedding"))
    embeddingNearDupPairs(emb, bands, planesPerBand, dims, threshold)
  }

  /** BOUNDED-OUTPUT form of [[semanticPairs]]: per-doc cluster labels
    * (min doc_id of the connected component of the cos≥t near-dup graph)
    * instead of the pair list. A 100 TB pipeline never wants quadratic
    * PAIRS — k verbatim-or-shuffled copies of one document produce
    * C(k,2) pair rows but exactly k label rows.
    *
    * The pair chain's quadratic CANDIDATE term dies too, not just the
    * output: hash-embed count vectors are order-independent, so exact
    * bag-of-words duplicates (the dominant duplication mode — shuffles,
    * reorderings, re-crawls) have BYTE-IDENTICAL embeddings and are
    * collapsed to one representative per distinct embedding BEFORE the
    * banded SRP self-join ever runs. The collapse is provably exact:
    * identical nonzero embeddings share every band key and verify at
    * cos = 1.0 ≥ t, so members sit in their representative's component
    * in the full pair graph, and any cross-group pair (x, y) band-
    * collides and scores identically to (rep(x), rep(y)) — the
    * transitive closure (and hence every min label) is unchanged.
    * All-zero embeddings are NOT collapsed (their cosine is NULL, so the
    * pair graph leaves them isolated; merging them would invent a
    * component the oracle's closure doesn't have).
    */
  def semanticClusters(docs: DataFrame, bands: Int = 8,
                       planesPerBand: Int = 8, dims: Int = 64,
                       threshold: Double = 0.9): DataFrame = {
    val emb = docs.select(col("doc_id").as("vec_id"),
      graft.functions.HashEmbed.hashEmbedCounts(
        tokens(normalizeText(col("text"))), dims)
        .cast("array<double>").as("embedding"))
    val zero = aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x * x) === 0.0
    // the embedding derivation (the dominant per-row CPU) materializes
    // once for its three consumers (collapse agg, member assignment,
    // node list); zero vectors stay singleton nodes (their cosine is
    // NULL, so the pair graph leaves them isolated — merging them would
    // invent a component the oracle's closure doesn't have)
    val embC = emb.localCheckpoint(true)
    collapsedClusters(embC.select(col("vec_id").as("doc_id")), embC.filter(!zero),
      "semantic_cc")(embeddingNearDupPairs(_, bands, planesPerBand, dims, threshold))
  }

  /** BOUNDED-OUTPUT form of [[editDistancePairs]]: per-doc cluster
    * labels over the edit-distance≤k near-dup graph. Same discipline as
    * [[semanticClusters]] — exact-duplicate collapse first (identical
    * raw text ⇒ identical char-LSH signature, so the gate admits the
    * pair, and levenshtein 0 ≤ k verifies it: members provably share
    * their representative's component, and cross-group distances equal
    * the rep-pair distances, so the closure is unchanged), then the
    * LSH-gated exact-DP pair chain runs on UNIQUE texts only, then
    * O(log d) pointer-jump components. The boilerplate tiers that make
    * the pair form's correct output grow quadratically (every near-
    * identical template fill pairs with every other) each collapse to
    * one representative — candidates, DP verifies, and output all stop
    * growing with the tier size. The collapse rides [[collapseByValue]]'s
    * hash keys, so no exchange in the collapse carries document bodies
    * keyed by themselves — each distinct text crosses the wire once (in
    * its representative's aggregation struct), everything else is
    * (id, 12-byte key) rows.
    */
  def editClusters(docs: DataFrame, n: Int = 5, threshold: Double = 0.8,
                   maxEdits: Int = 2): DataFrame =
    collapsedClusters(docs.select(col("doc_id")), docs.select(col("doc_id"), col("text")),
      "edit_cc")(editDistancePairs(_, n, threshold, maxEdits))

  /** STAGE 4, the bounded-output emit of the cluster ops: collapse the
    * 2-column (id, value) `rows` to one representative per distinct
    * value ([[collapseByValue]]), run the pair chain `pairsOf` on the
    * representatives only, add one (rep, member) edge per other member,
    * and label the components over `nodes` ([[componentLabels]]). Exact
    * whenever identical values always pair at the chain's threshold and
    * a cross-group pair scores like its rep pair — each caller states
    * why that holds for its relation.
    */
  private def collapsedClusters(nodes: DataFrame, rows: DataFrame, metric: String)
                               (pairsOf: DataFrame => DataFrame): DataFrame = {
    val (reps, members) = collapseByValue(rows)
    val id = rows.columns.head
    val memberEdges = members.filter(col(id) =!= col("rep"))
      .select(col("rep").as("a"), col(id).as("b"))
    componentLabels(nodes, pairsOf(reps).select(col("a"), col("b")).union(memberEdges),
      metric)._1
  }

  /** Probe-then-spread for a CHECKPOINT-BACKED frame feeding a
    * CPU-heavy chain (round 16): at oracle scales AQE coalesces the
    * collapse aggregate into one partition and a checkpoint scan erases
    * partitioning metadata, so every downstream shingle/gram Generate
    * runs in a single task (profiled: 1 task × 6.6 s on the containment
    * report). At production scale the checkpoint keeps AQE's
    * advisory-size partition count and this is a no-op — Tables.fanOut's
    * discipline. The `.rdd` probe is safe ONLY on exchange-free plans
    * (Project/Filter over LogicalRDD); an AQE plan with exchanges would
    * EXECUTE them at probe time.
    */
  private def fanOutCheckpointed(df: DataFrame): DataFrame = {
    // round 17 (verdict #7): the exchange-free precondition is now an
    // ASSERTION, not a comment — if a future caller hands this a frame
    // whose plan still contains exchanges/aggregations, the probe would
    // silently EXECUTE them at construction time; fail loudly instead.
    require(probeSafePlan(df),
      "fanOutCheckpointed requires a checkpoint-backed (exchange-free) " +
        "plan; the .rdd partition probe would execute this frame's " +
        s"exchanges: ${df.queryExecution.optimizedPlan.nodeName}")
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** True iff `df`'s optimized plan is safe to probe with `.rdd` —
    * nothing but row-preserving nodes over materialized leaves (the
    * shapes a localCheckpoint/checkpoint scan produces). Anything else
    * (an exchange, an aggregate, a join) would execute at probe time.
    */
  private[graft] def probeSafePlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation, LogicalPlan, Project, SubqueryAlias}
    def ok(p: LogicalPlan): Boolean = p match {
      case _: Project | _: LFilter | _: SubqueryAlias | _: LocalRelation => true
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case leaf if leaf.children.isEmpty => false
      case _ => false
    }
    df.queryExecution.optimizedPlan.find(p => !ok(p)).isEmpty
  }

  /** EXACT-DUPLICATE COLLAPSE keyed by value hashes — the shared first
    * tier of every bounded-output cluster op. Input: a 2-column
    * (id, value) frame; output: `reps` = one (id, value) row per
    * distinct value (the min-id member), and `members` = (id, rep)
    * assigning every input row its representative.
    *
    * Wire shape, the reason this exists: grouping BY the value itself
    * (a window `partitionBy(text)` / `partitionBy(embedding)`) makes
    * every exchange key a full document body or embedding array — the
    * whole corpus's payload crosses the collapse exchange and sorts by
    * multi-KB comparisons. Here equality rides a 12-byte
    * (xxhash64, murmur3) key pair instead, exactly like [[exactDedup]]'s
    * md5: the collapse aggregation is a map-side-combined `min_by`, so
    * each distinct value crosses the wire once per map partition (inside
    * its representative's struct) rather than once per duplicate, and
    * the member-assignment join shuffles only (id, key) rows.
    * PlanMetricsSpec pins the bytes.
    *
    * Key-collision contract (same standard as [[exactDedup]] accepting
    * md5): two DISTINCT values colliding on both independent hashes
    * (~2⁻⁹⁶) would merge two groups. Acceptable for dedup candidate
    * tiers at any realistic corpus size; the downstream pair chain
    * re-verifies representatives exactly, so a collision's blast radius
    * is one spurious cluster merge, never a dropped true pair.
    */
  private[graft] def collapseByValue(rows: DataFrame): (DataFrame, DataFrame) = {
    val Seq(idc, vc) = rows.columns.toSeq
    val keyed = rows.select(col(idc).as("__id"), col(vc).as("__v"),
      xxhash64(col(vc)).as("__fp"), hash(col(vc)).as("__fp2"))
    // the aggregation materializes ONCE (eager local checkpoint): both
    // returned frames consume it, and the heavy pair chains every caller
    // builds on `reps` re-read it several times — without the pin each
    // consumer would re-run the whole scan+hash+agg subtree
    val agg = keyed
      .select(col("__fp"), col("__fp2"), struct(col("__id"), col("__v")).as("r"))
      .groupBy(col("__fp"), col("__fp2"))
      .agg(min_by(col("r"), col("r.__id")).as("r"))
      .localCheckpoint(true)
    val reps = agg.select(col("r.__id").as(idc), col("r.__v").as(vc))
    val members = keyed.select(col("__id"), col("__fp"), col("__fp2"))
      .join(agg.select(col("__fp"), col("__fp2"), col("r.__id").as("__rep")),
        Seq("__fp", "__fp2"))
      .select(col("__id").as(idc), col("__rep").as("rep"))
    (reps, members)
  }

  /** Near-dup embedding pairs by exact cosine >= threshold; candidates
    * from BANDED sign-random-projection, minhash-band style: `bands`
    * INDEPENDENT sets of `planesPerBand` hyperplanes, one bucket per band
    * per vector, and any shared band bucket makes a candidate (union
    * across bands, deduped, then exact-cosine verified).
    *
    * Scale shape: a single coarse bucketing (the naive formulation) is
    * quadratic WITHIN each bucket — with p planes the expected bucket
    * population is n/2^p, and p cannot grow without collapsing recall
    * (every plane halves the collision probability of every pair). Banding
    * decouples the two: planesPerBand=16 keeps each band's buckets tiny
    * (population ∝ n/65536, so the per-band self-join stays near-linear at
    * any corpus size), while recall is recovered by the union over bands —
    * 1-(1-p_sim^16)^bands, tunable by adding bands, each of which is
    * embarrassingly parallel. The verify stage re-joins embeddings by id:
    * only (a, b) id pairs and (id, vector) rows shuffle, never vector
    * pairs per band.
    */
  def embeddingNearDupPairs(emb: DataFrame, bands: Int = 16,
                            planesPerBand: Int = 16, dims: Int = 64,
                            threshold: Double = 0.35): DataFrame = {
    require(planesPerBand < 48, "band bucket must fit the long band-key encoding")
    // SINGLE-EVALUATION embedding subplan: the operator reads `emb` four
    // times (banded-x, banded-y, verify-a, verify-b). Left as-is, Catalyst
    // plants four independent copies of the embedding subtree — harmless
    // for a parquet column, but when `emb` is DERIVED (semanticPairs'
    // hash-embed of the raw corpus) that is 4× the dominant CPU of the
    // whole query at any scale. One repartition(vec_id) makes every copy
    // canonically identical ABOVE an exchange, so ReuseExchange computes
    // the embedding once and the other three consumers read its shuffle
    // files (PlanShapeSpec pins the ReusedExchange). The verify sides pay
    // no new exchange: alias-aware output partitioning lets the a/b joins
    // consume the (vec_id) distribution directly.
    val embP = emb.select(col("vec_id"), col("embedding"))
      .repartition(col("vec_id"))
    // all band keys in ONE fused native expression (SrpBandKeys) instead
    // of bands×planesPerBand literal-array dot subtrees — bit-identical
    // math, ~4× on this query, and the hyperplane constants still come
    // from DetHash so the oracle SQL cannot drift
    val planeMatrix = Array.tabulate(bands * planesPerBand)(
      p => DetHash.hyperplane(p, dims))
    val bandKeys = graft.functions.VectorMath.srpBandKeys(
      col("embedding"), planeMatrix, planesPerBand)
    val banded = embP.select(col("vec_id"), explode_outer(bandKeys).as("bk"))
    val cand = banded.as("x").join(banded.as("y"), col("x.bk") === col("y.bk"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    val va = embP.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val vb = embP.select(col("vec_id").as("b"), col("embedding").as("eb"))
    cand.join(va, "a").join(vb, "b")
      .select(col("a"), col("b"),
        // zero-safe: an all-zero vector (possible for derived hash
        // embeddings, see semanticPairs) yields NULL and is dropped by
        // the threshold — ANSI mode would make the raw division throw
        round(cosineSimilarityOrNull(col("ea"), col("eb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }
}
