package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale validation (the "survives 100×" claim, measured):
  * synthesizes an sf1-equivalent corpus from the sf0.1 testdata — fact
  * tables replicated ×[[ScaleBench.Factor]] with key offsets, dimension
  * tables untouched, exactly how a real corpus grows — then times the
  * engine's queries at both scales and writes per-query scaling factors
  * to `BENCH_SCALE.json`.
  *
  * Coverage (round 9): the measured set is no longer a hand-picked panel.
  * EVERY registered query is timed at the small scale; every query whose
  * warm time exceeds [[SlowCutoffSec]] — plus the explicit family
  * representatives in [[Panel]] and the code-path [[Extras]] — is then
  * timed at 10× and graded. The hand-picked 18-query panel caught three
  * real superlinear collapses in round 8 (56×/57×/21×) that plan-shape
  * audits had passed; exhaustive membership makes that the default
  * discipline, not a sample.
  *
  * The GATE: any measured scale_x above [[GateThreshold]] must carry a
  * justification in [[notes]] (known output-volume growth, adversarial
  * fixture kept for contrast, O(log d) round structure...). Violations
  * land in the artifact under `gate_violations` and fail
  * `ScaleGateSpec` — a silent scale collapse can no longer ship green.
  *
  * Replication is NOT cloning: a corpus of verbatim copies would
  * degenerate every near-dup operator (each doc gains `Factor−1` exact
  * twins → LSH buckets become cliques that measure the pathological
  * case, not scale). Instead each copy perturbs content
  * deterministically while preserving the distributions the planner and
  * the operators see:
  *  - documents: copy 0 is verbatim; copies ≥1 word-shuffle the text
  *    with a per-(doc, copy) seed — same unigram/vocabulary profile and
  *    length, disjoint shingle sets (new documents, not near-dups).
  *  - embeddings: dimensions rotated by copy index — same norm and
  *    coordinate distribution, different directions.
  *  - events: user and event ids offset per copy (10× users at the same
  *    per-user density); timestamps untouched, so event-time windows
  *    carry 10× the rows.
  *  - orders/lineitem: orderkeys offset by the SAME stride so the join
  *    stays consistent; custkeys untouched (10× orders per customer).
  *
  * Expected shapes this measures: hash-aggregate and scan-bound queries
  * ~linear; banded LSH/PPJoin superlinear-but-bounded (candidate growth
  * confined to buckets); pointer-jump clustering ~flat in rounds
  * (O(log d)) with per-round cost linear; broadcast joins flat on the
  * broadcast side. A query whose factor blows past rows-growth² is a
  * scale bug — that is what this artifact exists to catch.
  */
object ScaleBench {

  val Factor = 10

  /** Small-scale warm time above which a query joins the 10× panel. */
  val SlowCutoffSec = 0.3

  /** scale_x above this needs a [[notes]] justification or the gate
    * flags it. Linear in rows is ~10; 12 allows measurement noise.
    */
  val GateThreshold = 12.0

  /** Fact tables replicated; everything else copied through untouched. */
  private val replicated = Set("documents", "embeddings", "events",
    "orders", "lineitem")

  /** Always-measured family representatives (windowed agg, shuffle join,
    * LSH, exact jaccard, iterative clustering, ANN train, text scoring,
    * corpus assembly, video decode...) — kept explicit so a future speedup
    * below [[SlowCutoffSec]] cannot silently drop a scale-sensitive
    * family from the artifact.
    */
  val Panel: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping", "join_revenue_by_status",
    "session_counts", "hopping_counts",
    "dedup_exact", "dedup_lsh_pairs", "dedup_char_lsh",
    "dedup_char_jaccard_pairs", "dedup_clusters", "dedup_clusters_chain",
    "dedup_cluster_reps", "dedup_substring_removed", "dedup_simhash_pairs",
    "sim_knn_join", "sim_ivf_topk_sampled", "text_bm25",
    "text_surprisal", "corpus_dsir_weights", "corpus_source_drift",
    "agg_incremental_revenue", "corpus_assemble", "mm_video_frames",
    "cdc_merge_apply", "corpus_snapshot_diff", "corpus_weighted_sample",
    "corpus_filter_funnel", "text_bpe_merges", "text_novelty",
    "corpus_incremental_curation",
    "dedup_edit_pairs", "dedup_semantic_pairs",
    "dedup_semantic_clusters", "dedup_edit_clusters",
    "dedup_boilerplate", "text_tfidf_keywords",
    "sketch_corpus_overlap", "events_anomalies",
    "dedup_containment", "corpus_interleave", "mm_image_dhash",
    "dedup_containment_report", "dedup_char_jaccard_clusters",
    "dedup_clusters_incremental", "corpus_pack_shards", "sim_ivfpq_topk",
    "dedup_containment_report_lsh", "dedup_char_jaccard_clusters_lsh",
    "dedup_containment_incremental", "cdc_merge_apply_bucketed")

  /** Code-path probes that are NOT registered queries: same operators,
    * forced onto the branch the registered run doesn't take at this
    * vocabulary/scale. Timed at both scales and gated like everything
    * else.
    */
  val Extras: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The posting count-join verify — the 100 TB DEFAULT branch of exact
    // char jaccard (vocab above the 2^16 bitmap cap). The sf0.1 corpus
    // measures ~6.8k distinct 7-grams, under the cap, so the registered
    // query always rides the bitmap path; forcing the cap to 0 makes the
    // measured vocabulary exceed it and times the unbounded-vocab plan.
    // Routed through the AUTO-SLICED form (r15, the r14 verdict's top
    // directive): the forced unbounded-vocab verify branch used to run
    // the whole candidate shuffle in ONE plan and was the last 100x row
    // to exhaust single-box disk (403 s, >=95.6x lower bound).
    // charJaccardPairsAuto stages the same relation as 8 sequential
    // disjoint build-side slice jobs past RebandAt — value-identical by
    // the a<b-lands-once argument (jaccardPairsOver applies the slice to
    // BOTH verify branches, so the gram-array intersect path slices
    // exactly like the bitmap path) — leaving each job ~1/8 of the
    // candidate volume, the same discipline that flipped the bitmap
    // form's row from disk-cap to pure compute timebox in r14.
    "dedup_char_jaccard_posting" -> ((s, d) => {
      val saved = graft.operators.Dedup.BitmapVocabCap
      graft.operators.Dedup.BitmapVocabCap = 0L
      try graft.operators.Dedup.charJaccardPairsAuto(
        Tables.load(s, d, "documents"), 7, 0.9)
      finally graft.operators.Dedup.BitmapVocabCap = saved
    }))

  /** Per-query justification for factors above [[GateThreshold]], and
    * shape commentary for notable sublinear rows. KEYS ARE THE GATE'S
    * ALLOWLIST: a superlinear factor without an entry here is a
    * violation.
    */
  val notes: Map[String, String] = Map(
    "linear_bar" ->
      "scale_x ~ 10 is linear in rows; < 10 is sublinear (fixed overhead amortizing)",
    "dedup_char_jaccard_pairs" ->
      "exact all-pairs jaccard on a FIXED-vocabulary corpus is the adversarial case (posting lists grow with the corpus). Round 8 measured it at 56x for 10x docs, then fixed it: length-bucketed prefix join keys + a measured-vocabulary bitmap verify (popcount(AND) per candidate instead of a posting-expansion join) brought it to ~5x. The unbounded-vocab posting path is measured separately as dedup_char_jaccard_posting. At 100x (500k docs) the candidate set itself grows quadratically on this fixture; round 13's build-side AUTO-SLICING (charJaccardPairsAuto: 8 sequential jobs, value-identical) removed the single-box DISK bound the r12 run hit at 363s (disk_capped >=61x), so the verdict is now a pure compute timebox (>=130x) - candidate volume is quadratic-ish work no one box clears inside the cap; a cluster divides the slice jobs across nodes, and the at-scale answers stay bounded-output composition (funnel 9.1x) and the LSH twin",
    "dedup_char_jaccard_posting" ->
      "the unbounded-vocabulary branch (forced by capping the bitmap gate at 0), measured so the 100 TB default stays honest: round 9 replaced the posting-expansion count-join (measured 38x at 10x docs — candidate x posting rows re-shuffled) with per-doc gram arrays + size(array_intersect), which ships each near-threshold candidate's two doc arrays once; remaining factor tracks candidate growth on this fixed-vocabulary adversarial corpus. Round 15 routed the probe through charJaccardPairsAuto's staged disjoint build-side slices (8 sequential jobs past RebandAt, value-identical — the slice applies to BOTH verify branches), removing the single-box DISK bound the one-plan form hit at 403s (r14: disk_capped >=95.6x); the verdict is now the family's pure compute timebox (>=130x) — quadratic-ish candidate work a cluster divides by spreading the slice jobs",
    "dedup_jaccard_pairs" ->
      "word-shingle exact jaccard: same engine as the char variant; the word vocabulary grows with the corpus (Heaps law), so posting lists stay shorter and the factor lower than the fixed-vocab char case at 10x (2.8x). At 100x the bag-preserving replication catches up with it: every word-shuffled copy is an EXACT word-jaccard duplicate of its original, so correct output is quadratic in copy count (100-cliques -> ~4950 pairs each) and the pair form timeboxes >=130x - cluster emission is the at-scale shape",
    "dedup_char_lsh_skewed" ->
      "adversarial-by-design skew fixture: every 10th doc collapses to shared boilerplate, so the two near-identical cliques grow linearly with the corpus and the CORRECT output pairs grow quadratically (~100x at 10x rows); the measured wall factor is sublinear per emitted pair, and the hot-bucket O(m^2) join stays confined to the cliques",
    "dedup_semantic_pairs" ->
      "the word-shuffle replication preserves BAGS OF WORDS, and hash-embed count vectors are order-independent — so every copy is a TRUE semantic near-dup of its original, exactly what this operator exists to catch: the correct output grows from 300 pairs to 255,000 (measured: 5000 10-cliques = 225k + the 300 original pairs x 10^2 cross-copy combinations = 30k); ~22x wall for ~850x output rows is sublinear per emitted pair. On a corpus whose duplicates don't explode, candidates stay bounded by band-bucket collisions (p=16 -> n/65536 per band)",
    "dedup_clusters_chain" ->
      "pointer-jump rounds grow O(log d) with the chain; the factor reflects per-round linear cost x log-rounds",
    "join_revenue_by_status" ->
      "fact-fact shuffle join where BOTH sides are replicated tables: shuffled bytes and matched rows grow exactly linearly, so the expected factor IS the 10x linear bar and the measurement hovers at it plus run noise (10.2x in round 9, 12.7x on a self-loaded box in round 10, 11.6x in round 13 - every reading within noise of linear; the AQE-final executed plan audited in round 14 is the intended one: 3-col/2-col pruned scans into ONE join (broadcast while the orders side fits, shuffled past that), partial aggregation map-side, no AQE serialization - the only extra exchanges are the documented single-row-group fan-out, a no-op at production scale). Pre-adjudicated: if a future run brushes the threshold, the registered at-scale form is join_revenue_by_status_bucketed, which removes the per-run shuffle entirely (write-once bucketed fact tables)",
    "dedup_semantic_clusters" ->
      "bounded-output twin of dedup_semantic_pairs: exact bag-of-words duplicates collapse to one representative before the SRP self-join, so every doc gaining bag-identical copies costs one rep in the pair chain and k label rows out. Round 11 re-keyed the collapse by (xxhash64, murmur3) of the embedding with a map-side-combined min_by (the r10 form window-partitioned BY the 64-double array): 10x fell ~5x -> 1.8x and 100x fell 35.8x -> 7.7x, where the pair form timeboxes >=130x",
    "dedup_edit_clusters" ->
      "bounded-output twin of dedup_edit_pairs: identical texts collapse to one representative before the gated DP, so the tier cliques stop growing candidates/verifies/output with corpus size - ~1.9x at 10x where the pair form measures ~17x. Round 11's hash-keyed collapse (12-byte keys instead of window-partitioning by full text) improved 100x from 98.8x to 62.0x (pair form timeboxes >=130x); the residual is the LSH-gated DP + CC rounds over the short-doc exact-dup families the 100x word-shuffle replication creates",
    "dedup_clusters_incremental" ->
      "persisted-state label maintenance: the timed pass probes the bucketed band index with the batch, exact-verifies against the bucketed shingle index, and runs CC on the contracted batch+touched-labels graph - 1.2x at 10x, 5.2x at 100x (the full-recompute sibling dedup_clusters measures 3.4x at 10x and the pair-relation chains timebox at 100x); untimed prewarm builds yesterday's indexes, the cost a daily pipeline amortizes",
    "dedup_containment_incremental" ->
      "persisted-state EXACT containment maintenance: the timed pass ranks the batch's grams against the persisted df model, pigeonhole-probes the g-bucketed posting/probe indexes in both directions, exact-verifies one intersection count per candidate, and full-outer-merges into yesterday's persisted report. Cost tracks BATCH-involved candidate volume - on the hot-vocabulary fixture that term is quadratic-ish in the batch (the same adversarial shape that disk-caps the full pair relation), but the corpus-sized old-old relation is never recomputed and the corpus is never re-shingled; the registered 20% batch is a worst-case daily increment. Untimed prewarm builds yesterday's report container-SLICED (containmentReportSliced: S sequential jobs, each holding 1/S of the candidate shuffle - the build path for the state the full recompute cannot materialize on one box at 100x)",
    "dedup_containment_report" ->
      "bounded-output form of dedup_containment: output-quadratic duplicate-family growth is defused (2.2x at 10x vs the pair form's 5.9x). The binding resource at 100x is CANDIDATE volume, not output: the word-shuffle replication leaves ~500k unique texts (only 1-3-word docs collapse as exact duplicates), and exact directed containment over them is pigeonhole-gated but still candidate-proportional on a hot-vocabulary corpus. Round 12's one-plan build exhausted the box's ~65 GB shuffle space at 731s (disk_capped >=84.5x); round 13 routes the registered query through the container-SLICED build (containmentReportAuto: 8 sequential jobs, each holding 1/8 of the candidate shuffle, value-identical), which removed the disk bound (peak spill observed well under capacity) - the verdict is now a pure compute timebox (>=130x): the candidate/verify work itself exceeds what 32 cores clear inside the cap, and a cluster completes it by running the slice jobs across nodes. The at-scale gates for this family stay the LSH twin (dedup_containment_report_lsh - 32.3x completing at 100x since round 16's asymmetric tier bought mid-ratio recall the r15 8.3x gate did not have; the factor is purchased recall work, held off the disk by the pre-distinct integer estimate gate) and the persisted-index incremental path (flat per-batch-doc cost)",
    "dedup_char_jaccard_clusters" ->
      "bounded-output twin over the char-gram jaccard relation: label output is linear and exact-dup families collapse, but this family's 100x limit is CANDIDATE volume, not output - the fixed ~6.8k 7-gram vocabulary over ~500k unique word-shuffled texts makes the rep-level PPJoin candidate shuffle itself quadratic-ish. Round 14 routed the edge relation through charJaccardPairsAuto's staged disjoint build-side slices (closure over the value-identical union), which removed the single-box DISK bound (r13: disk_capped >=50.4x at 388s) - the row is now a pure compute timebox (>=130x at the 882s cap), the same verdict as dedup_char_jaccard_pairs: quadratic-ish candidate work a cluster divides across nodes by spreading the slice jobs. At 10x (where one plan fits) the twin grades 3.96x; duplicate-family-driven corpora (the shape the twins target) collapse before the join",
    "sim_knn_join" ->
      "adaptive band width p = max(8, ceil(log2(n/8))) holds per-band bucket population flat as the corpus grows — round 8 measured the fixed-width form at 21x for 10x rows and retired it to spec-level contrast; the registered adaptive query measures ~2x",
    "sim_ivf_topk_sampled" ->
      "training slice + probe both bounded; near-flat by design",
    "mm_video_frames" -> "decode-bound mapPartitions; flat per-row",
    "dedup_edit_pairs" ->
      "the skewed fixture's near-identical tier grows linearly, so the CORRECT output clique grows quadratically (12.5M pairs at 10x vs 125k) - ~15x wall for ~100x output is sublinear per emitted pair; the native bounded_levenshtein (prefix/suffix strip + Ukkonen band) keeps each verify near-constant",
    "dedup_edit_pairs_recall_floor" ->
      "the recall-floor form of dedup_edit_pairs (maxRowsPerBand=4): the cap DELIBERATELY holds the char-LSH gate at the 4-slot band width past RebandAt, where the uncapped schedule widens to 8 at the 10x dir (~500k docs) - per-pair band-collision probability stays ~s^4 instead of narrowing to ~s^8, so recall holds AT the pinned rp=4 curve (63% near-threshold, CharLshWidthRecallSpec) at any corpus size and the factor measures the candidate-volume-for-recall trade cappedRowsPerBand's cost model promises. MEASURED (round 16, two independent 10x runs): base 11.83/16.13s vs floor 12.09/16.64s big-pass - the floor costs ~2-3% here because the skewed fixture's quadratic OUTPUT clique (identical in both forms) dominates; the wider-gate savings only touch the non-clique background, so the recall floor is nearly free at this corpus shape and the trade's real price appears only on background-dominated corpora",
    "dedup_containment" ->
      "round 8 measured the 1-match SSJoin prefix at 57x on this hot-vocabulary corpus (no doc has a rare gram: 22M candidates, 1.4e9-row verify), then widened it to the pigeonhole gate - >= m+1 matches of the rarest 2m+1 probe grams before any verify - cutting candidates 256x and the verify 1750x; remaining factor tracks the quadratically-growing true output (505 pairs from duplicate families)",
    "sketch_corpus_overlap" ->
      "gram-volume linear: one scan+shingle, a gram-hash aggregate, a k-row TakeOrderedAndProject; the sketch itself is constant-size at any corpus",
    "corpus_interleave" ->
      "per-source rank windows only, no global sort; near-flat (fixed overhead dominates at these sizes)",
    "mm_image_dhash" ->
      "decode-bound mapPartitions like the other image ops; flat per-row",
    "dedup_boilerplate" ->
      "paragraph-window + per-doc reassembly, both keyed exchanges; sublinear (overhead amortizing)",
    "cdc_merge_apply" ->
      "one changeset scan + latest-per-key squash + full-outer apply; sublinear because the summary agg and squash amortize fixed costs",
    "text_bpe_merges" ->
      "near-flat: the corpus pass is one tokenize+groupBy; every merge round runs on the vocabulary-bounded word table, which grows ~Heaps-law sublinearly",
    "text_novelty" ->
      "gram-volume linear: one scan + window-count over the gram partition + per-doc agg; only 8-byte gram hashes shuffle",
    "corpus_incremental_curation" ->
      "three fp/hash-keyed wide ops (diff join, v1 anti-join, keep-min); text never leaves the scan")

  /** A machine-readable gate adjudication for a row that legitimately
    * hovers at the threshold: `expected` names the cost shape, `bandX`
    * is the largest factor consistent with it (noise margin included),
    * and `atScaleTwin` names the registered form that removes the term
    * entirely. r14 verdict: `join_revenue_by_status` brushed the 12×
    * gate three rounds running with the adjudication living in prose —
    * these fields ride the artifact row JSON, and the gate honors the
    * BAND for annotated rows instead of the binary notes allowlist, so
    * a reading past the documented expectation fails even though the
    * name is noted.
    */
  final case class Adjudication(expected: String, bandX: Double,
                                atScaleTwin: Option[String])

  val adjudications: Map[String, Adjudication] = Map(
    "join_revenue_by_status" -> Adjudication(
      expected = "linear",
      // both join sides are replicated fact tables: shuffled bytes and
      // matched rows grow exactly 10x, so the expectation IS the linear
      // bar; 15 = 10x-linear + the same sub-noise margin every reading
      // since round 9 has stayed inside (10.2 / 12.7 / 11.6 / 11.85)
      bandX = 15.0,
      atScaleTwin = Some("join_revenue_by_status_bucketed")))

  /** The gate: measured rows whose factor exceeds [[GateThreshold]]
    * without a [[notes]] justification — except ADJUDICATED rows
    * ([[adjudications]]), which are graded against their expectation
    * band: inside it they pass at any reading, past it they violate
    * regardless of their notes entry. Pure so the spec can pin it.
    */
  def gateViolations(rows: Seq[(String, Double)]): Seq[String] =
    rows.collect {
      case (name, factor) if adjudications.get(name).fold(
        factor > GateThreshold && !notes.contains(name))(
        a => factor > a.bandX) => name
    }

  /** Queries measured on the 10× panel whose factor is -1 — i.e. a run
    * FAILED at one of the scales. A query that works at sf0.1 but
    * crashes at 10× is the worst scale outcome, and `timed`'s -1
    * sentinel used to sail under the gate (it isn't "> threshold").
    * Surfaced as its own artifact field, re-probed like gate suspects
    * (a transient flake gets one independent retry; a real crash
    * reproduces), and enforced by ScaleGateSpec — never allowlisted by
    * [[notes]].
    */
  def failedAtScale(rows: Seq[(String, Double)]): Seq[String] =
    rows.collect { case (name, factor) if factor < 0 => name }

  def synthesize(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    import spark.implicits._
    val marker = new java.io.File(s"$outDir/_GRAFT_SCALE_OK")
    if (marker.exists()) return
    new java.io.File(outDir).mkdirs()

    def copies(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(Factor).toDF("copy"))

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    Tables.all.foreach { name =>
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      val out: DataFrame = name match {
        case "documents" =>
          val d = stride(src, "doc_id")
          copies(src)
            .select(col("doc_id"), col("text"), col("lang"), col("source"),
              col("copy"))
            .as[(Long, String, String, String, Long)]
            .map { case (id, text, lang, source, c) =>
              val shuffled =
                if (c == 0L) text
                else {
                  val words = text.split(' ')
                  val rnd = new java.util.Random(id * 1315423911L + c)
                  var i = words.length - 1
                  while (i > 0) { // Fisher–Yates, seeded per (doc, copy)
                    val j = rnd.nextInt(i + 1)
                    val t = words(i); words(i) = words(j); words(j) = t
                    i -= 1
                  }
                  words.mkString(" ")
                }
              (c * d + id, shuffled, lang, source, shuffled.length.toLong)
            }
            .toDF("doc_id", "text", "lang", "source", "n_chars")
        case "embeddings" =>
          val v = stride(src, "vec_id")
          copies(src)
            .select(col("vec_id"), col("embedding"), col("label"), col("copy"))
            .as[(Long, Seq[Float], Int, Long)]
            .map { case (id, emb, label, c) =>
              val k = (c % emb.length.toLong).toInt
              (c * v + id, emb.drop(k) ++ emb.take(k), label)
            }
            .toDF("vec_id", "embedding", "label")
        case "events" =>
          val e = stride(src, "event_id")
          val u = stride(src, "user_id")
          copies(src).select(
            (col("copy") * e + col("event_id")).as("event_id"), col("ts"),
            (col("copy") * u + col("user_id")).as("user_id"),
            col("event_type"), col("value"), col("props"))
        case "orders" =>
          val o = stride(src, "o_orderkey")
          copies(src).select(
            (col("copy") * o + col("o_orderkey")).as("o_orderkey"),
            col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate"), col("o_orderpriority"))
        case "lineitem" =>
          // the SAME orderkey stride as orders keeps the join consistent
          val o = stride(spark.read.parquet(s"$srcDir/orders.parquet"),
            "o_orderkey")
          copies(src).select(
            (col("copy") * o + col("l_orderkey")).as("l_orderkey") +:
              src.columns.filter(_ != "l_orderkey").map(col): _*)
        case other if !replicated(other) => src
      }
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    marker.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_sf1")
    val spark = Bench.localSession()

    val t0 = System.nanoTime()
    synthesize(spark, smallDir, bigDir)
    val synthSec = (System.nanoTime() - t0) / 1e9

    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    val registry: Seq[(String, (SparkSession, String) => DataFrame)] =
      (SparkEntry.queries.toSeq ++ Extras.toSeq).sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }

    def timed(name: String, fn: (SparkSession, String) => DataFrame,
              dir: String): Double = {
      val q0 = System.nanoTime()
      try { fn(spark, dir).count(); (System.nanoTime() - q0) / 1e9 }
      catch { case NonFatal(e) =>
        System.err.println(s"[scale] $name @ $dir failed: ${e.getMessage}"); -1.0 }
    }

    // cold pass (codegen compile) then warm MIN-OF-N per scale — the
    // shared box shows 2-6x contention spikes between runs (the same
    // lesson Bench learned in round 7), and a factor computed from one
    // noisy side reads as a scale regression that doesn't exist
    val warmPasses =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_WARM", "2").toInt.max(1)
    def warmMin(name: String, fn: (SparkSession, String) => DataFrame,
                dir: String): Double = {
      val ts = (1 to warmPasses).map(_ => timed(name, fn, dir)).filter(_ >= 0)
      if (ts.isEmpty) -1.0 else ts.min
    }

    // phase 1: EVERY query at the small scale (cold discarded, warm kept)
    val small = registry.map { case (name, fn) =>
      timed(name, fn, smallDir)
      name -> warmMin(name, fn, smallDir)
    }.toMap

    // phase 2: the 10x panel = explicit families + everything slow + the
    // forced code-path extras. Fast-and-not-listed queries stay small-only
    // in the artifact (their absence from the 10x set is itself recorded).
    val bigSet = registry.collect {
      case (name, _) if Panel.contains(name) || Extras.contains(name) ||
        small.getOrElse(name, -1.0) > SlowCutoffSec => name
    }.toSet
    val firstPass = registry.filter(r => bigSet(r._1)).map { case (name, fn) =>
      timed(name, fn, bigDir)
      val big = warmMin(name, fn, bigDir)
      val s = small(name)
      val factor = if (s > 0 && big > 0) big / s else -1.0
      System.err.println(
        f"[scale] $name%-32s small=$s%8.2fs big=$big%8.2fs x=$factor%6.2f")
      (name, s, big, factor)
    }
    // VARIANCE RE-PROBE: a real scale collapse REPRODUCES on re-measure;
    // a GC pause or page-cache spike deep inside a 100+-query run does
    // not (measured: two queries read 6x worse than both their isolated
    // and previous-run numbers purely from accumulated JVM state, with
    // both warm passes inside the bad window). Each would-be violation
    // is re-timed once at both scales and keeps the per-scale MIN across
    // probes — so only factors that survive independent measurement
    // reach the gate. Re-probed rows are flagged in the artifact.
    val fnOf = registry.toMap
    val firstFactors = firstPass.map(r => (r._1, r._4))
    val suspect =
      (gateViolations(firstFactors) ++ failedAtScale(firstFactors)).toSet
    val rows = firstPass.map { case row @ (name, s, b, _) =>
      if (!suspect(name)) (row, false)
      else {
        val fn = fnOf(name)
        timed(name, fn, smallDir)
        val s2 = Seq(s, warmMin(name, fn, smallDir)).filter(_ > 0)
        timed(name, fn, bigDir)
        val b2 = Seq(b, warmMin(name, fn, bigDir)).filter(_ > 0)
        val (sMin, bMin) = (s2.minOption.getOrElse(-1.0),
          b2.minOption.getOrElse(-1.0))
        val f2 = if (sMin > 0 && bMin > 0) bMin / sMin else -1.0
        System.err.println(
          f"[scale] $name%-32s REPROBE small=$sMin%8.2fs big=$bMin%8.2fs x=$f2%6.2f")
        ((name, sMin, bMin, f2), true)
      }
    }
    val finalFactors = rows.map { case ((n, _, _, f), _) => (n, f) }
    val violations = gateViolations(finalFactors)
    violations.foreach(n =>
      System.err.println(s"[scale] GATE VIOLATION: $n exceeds " +
        s"$GateThreshold x with no notes justification"))
    val failed = failedAtScale(finalFactors)
    failed.foreach(n =>
      System.err.println(s"[scale] FAILED AT SCALE: $n crashed or could " +
        "not be measured on the 10x panel (reproduced across the re-probe)"))

    def facts(dir: String): String = replicated.toSeq.sorted.map { t =>
      s""""$t":${spark.read.parquet(s"$dir/$t.parquet").count()}"""
    }.mkString("{", ",", "}")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val qjson = rows.map { case ((n, s, b, f), reprobed) =>
      val extra = if (reprobed) ""","reprobed":true""" else ""
      // adjudicated rows carry their expectation in the artifact itself,
      // so a future over-threshold reading is graded against the
      // documented band, not re-litigated from prose
      val adj = adjudications.get(n).fold("") { a =>
        val twin = a.atScaleTwin.fold("")(t => s""","at_scale_twin":"$t"""")
        s""","expected":"${esc(a.expected)}","expected_band_x":${a.bandX}$twin"""
      }
      f""""$n":{"small_s":${math.rint(s * 1000) / 1000},"big_s":${math.rint(b * 1000) / 1000},"scale_x":${math.rint(f * 100) / 100}$extra$adj}"""
    }.mkString("{", ",", "}")
    val smallOnly = small.toSeq.sortBy(_._1).filterNot(kv => bigSet(kv._1))
      .map { case (n, s) => s""""$n":${math.rint(s * 1000) / 1000}""" }
      .mkString("{", ",", "}")
    val notesJson = notes.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"${esc(v)}"""" }.mkString("{", ",", "}")
    val json =
      s"""{"factor":$Factor,"sf_small":"$smallDir","sf_big":"$bigDir",
         |"synth_sec":${math.rint(synthSec * 10) / 10},
         |"slow_cutoff_s":$SlowCutoffSec,"gate_threshold_x":$GateThreshold,
         |"gate_violations":${violations.sorted.map(n => s""""$n"""").mkString("[", ",", "]")},
         |"failed_at_scale":${failed.sorted.map(n => s""""$n"""").mkString("[", ",", "]")},
         |"rows_small":${facts(smallDir)},"rows_big":${facts(bigDir)},
         |"notes":$notesJson,
         |"small_only_warm_s":$smallOnly,
         |"queries":$qjson}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_SCALE.json")),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
