package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.streaming.Pipelines

/** PINS the candidate-volume story of the streaming containment gate on
  * a HOT-VOCABULARY corpus — the failure shape the batch op's 1-match
  * prefix had pre-gate (ScaleBench measured 22M candidates there). The
  * stream can't df-rank its probe subset per row (that would need a
  * second stateful pass over the vocabulary-sized df model), so its
  * hash-ordered subset picks average-df grams — on a boilerplate-heavy
  * corpus, mostly HOT ones, each expanding to the whole corpus's
  * postings. The `hotGrams` option (the df model's bounded top-K,
  * broadcast as a literal) sorts those last, and this spec measures
  * what that buys: gate-join volume within 2× of the BATCH op's
  * df-ranked probe (the reference gate), an order of magnitude under
  * the hash-ordered subset — while the emitted flags stay EXACTLY
  * identical (any probe subset of the pigeonhole length is complete,
  * and the verify is exact).
  *
  * Runs the gate in BATCH mode (the source watermark is eliminated on
  * batch plans) — same frames, countable volumes.
  */
class StreamingContainmentGateSpec extends SparkSpec {
  import spark.implicits._

  private val NOld = 400
  private val NNew = 50
  private val T = 0.9
  private val N = 3

  // boilerplate-heavy corpus: every doc opens with the same 15-word
  // template (its word 3-grams have df ≈ corpus — the hot vocabulary),
  // then 15 doc-unique words (df ≈ 1). Three arrivals are verbatim
  // copies of old docs — the true containments the stream must flag.
  private val tpl = (0 until 15).map(i => s"tpl$i").mkString(" ")
  private def oldText(i: Int) = tpl + " " + (0 until 15).map(j => s"o${i}w$j").mkString(" ")
  private lazy val old =
    (0 until NOld).map(i => (i.toLong, oldText(i))).toDF("doc_id", "text")
  private val ts = new Timestamp(1000000L)
  private lazy val arrivals = (
    (0 until NNew).map(k =>
      (10000L + k, tpl + " " + (0 until 15).map(j => s"a${k}w$j").mkString(" "), ts)) ++
      (0 until 3).map(k => (20000L + k, oldText(k), ts))
    ).toDF("doc_id", "text", "ts")

  private lazy val posting = Dedup.containmentPostingFrame(old, N).localCheckpoint(true)
  private lazy val dfModel = posting.groupBy($"g").agg(count(lit(1)).as("df"))
    .localCheckpoint(true)
  private lazy val probeIdx = Dedup.containmentProbeFrame(posting, dfModel, T)
    .localCheckpoint(true)
  private lazy val hot = Dedup.hottestGrams(dfModel, 256)

  private def gateVolume(hotGrams: Seq[String]): Long =
    Pipelines.streamingProbeSubset(arrivals, "ts", "1 minute", N, T, hotGrams)
      .join(posting.select($"g"), Seq("g")).count()

  /** The BATCH op's arrival-side gate volume: rarest-plen probe subset
    * ranked against the full df model (incrementalContainmentReport's
    * probesA), joined to the posting index — the reference the stream's
    * model-free ordering is graded against.
    */
  private lazy val batchRankedVolume: Long = {
    val bg = Dedup.containmentPostingFrame(arrivals.drop("ts"), N)
      .select($"doc_id".as("a"), $"sz".as("sza"), $"g")
    val (_, plen) = Dedup.pigeonhole($"sza", T)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"a").orderBy(coalesce($"df", lit(0L)), $"g")
    bg.join(dfModel, Seq("g"), "left")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= plen)
      .join(posting.select($"g"), Seq("g")).count()
  }

  test("hot-avoiding probe holds gate volume within 2x of the batch df-ranked gate") {
    val hashVol = gateVolume(Nil)
    val hotVol = gateVolume(hot)
    val ref = batchRankedVolume
    info(s"gate-join volume: hash-order $hashVol, hot-avoiding $hotVol, batch df-ranked $ref")
    assert(hotVol <= 2 * math.max(ref, 1),
      s"hot-avoiding probe volume $hotVol exceeds 2x the batch gate's $ref")
    // and the trade is real on this fixture: hash order pays the hot
    // postings (an order of magnitude, not noise)
    assert(hashVol >= 10 * math.max(hotVol, 1),
      s"fixture no longer separates the orderings: hash $hashVol vs hot $hotVol")
  }

  test("probe ordering never changes the emitted flags (any-subset completeness)") {
    val shingleIdx = Dedup.shingled(old, N)
    def flags(hotGrams: Option[Seq[String]]): Set[(Long, Long, Double)] =
      Pipelines.streamingContainmentFlags(arrivals, posting, probeIdx,
        shingleIdx, "ts", "1 minute", N, T, hotGrams)
        .select($"contained", $"container", $"containment")
        .as[(Long, Long, Double)].collect().toSet
    val viaHash = flags(Some(Nil))
    val viaHot = flags(Some(hot))
    val viaDefault = flags(None) // r15: the no-opt-in path derives the avoid-list
    // the copies are contained both ways at 1.0 — 3 arrivals x 2 directions
    assert(viaHash.size == 6 && viaHash.forall(_._3 == 1.0),
      s"expected the 3 verbatim copies flagged both directions at 1.0: $viaHash")
    assert(viaHot == viaHash,
      s"probe ordering changed the flags: ${(viaHot -- viaHash) ++ (viaHash -- viaHot)}")
    assert(viaDefault == viaHash,
      s"the derived default ordering changed the flags: ${
        (viaDefault -- viaHash) ++ (viaHash -- viaDefault)}")
  }

  test("the DEFAULT path derives a non-empty avoid-list from the posting index and gets the hot-avoiding volume") {
    // r14 verdict directive: composed pipelines must get the measured
    // gate reduction WITHOUT caller opt-in. The derived list must match
    // what a caller ranking the df model by hand would pass, so the
    // default path's gate volume IS the hot-avoiding one, not the
    // 56,407-row hash-order regime.
    val derived = Pipelines.derivedHotGrams(posting)
    assert(derived.nonEmpty, "derived avoid-list empty on a hot-vocabulary corpus")
    assert(derived == hot,
      s"derived list diverges from the df-model ranking: $derived vs $hot")
    val defaultVol = gateVolume(derived)
    val hashVol = gateVolume(Nil)
    info(s"gate-join volume: default(derived) $defaultVol, hash-order $hashVol")
    assert(defaultVol == gateVolume(hot),
      "default path's gate volume must equal the explicit hot-avoiding volume")
    assert(hashVol >= 10 * math.max(defaultVol, 1),
      s"default path lost the hot-avoiding reduction: hash $hashVol vs default $defaultVol")
  }

  test("hottestGrams: bounded, deterministic, and floored at genuinely-hot df") {
    // exactly the boilerplate's within-template grams sit at df = NOld;
    // everything else is df 1 — the relative floor must refuse to pad
    // the avoid-list with near-cold ties (padding is what forced the
    // copy arrivals' probes onto hot grams before the floor)
    val top = Dedup.hottestGrams(dfModel, 256)
    assert(top.size == 13, s"expected the 13 template grams, got ${top.size}")
    assert(top.forall(g => g.split(" ").forall(_.startsWith("tpl"))),
      s"avoid-list must be pure template grams: $top")
    assert(Dedup.hottestGrams(dfModel, 256) == top, "collection must be deterministic")
    assert(Dedup.hottestGrams(dfModel.limit(0), 256).isEmpty, "empty model → empty list")
  }
}
