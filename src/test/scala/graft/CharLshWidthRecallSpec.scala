package graft

import graft.operators.Dedup

/** MEASURES what [[Dedup.autoRowsPerBand]]'s width schedule trades —
  * the char-LSH analog of [[ContainmentLshRecallSpec]]. Past
  * [[Dedup.RebandAt]] docs the banded gate doubles rowsPerBand
  * (4 → 8 → 16, `bands = 16/rowsPerBand`), which SQUARES the per-band
  * admission probability of a near-threshold pair (s⁴ → s⁸ → s¹⁶) —
  * but until this spec only the fixed 4×4 width was oracle-checked, so
  * the schedule's recall trade was scaladoc prose. Here it is a pinned
  * measured curve on a NEAR-THRESHOLD fixture (exact char-5-gram
  * jaccard 0.78–0.88 around the 0.8 gate — the hardest regime, where
  * the analytic collision term is most width-sensitive).
  *
  * What the numbers license: the widened widths are the at-scale knob
  * for DUPLICATE-family corpora (jaccard near 1 — the identical-text
  * tier collides at every width, pinned below and in
  * DedupSimilaritySpec's subset test); a pipeline that must keep
  * near-threshold recall past the reband bound registers the exact
  * auto-sliced form ([[Dedup.charJaccardPairsAuto]]) instead — the
  * same exact-path alternative the containment twin documents.
  */
class CharLshWidthRecallSpec extends SparkSpec {
  import spark.implicits._

  private val NPairs = 60
  private val WordsPerDoc = 40
  private val Widths = Seq(4, 8, 16)

  /** Deterministic near-threshold pairs: doc 2i is 40 seeded vocab
    * words; doc 2i+1 swaps 2 of them for out-of-vocab words — char-gram
    * damage localized to the swapped words' windows, landing the exact
    * set jaccard in the high-0.7s/low-0.8s band. Plus 10 IDENTICAL
    * pairs (ids ≥ 100000) pinning the width-invariant tier.
    */
  private lazy val fixture = {
    val rnd = new scala.util.Random(0xBADA55)
    def word(): String = "w" + rnd.nextInt(500)
    val pairs = (0 until NPairs).flatMap { i =>
      val base = IndexedSeq.fill(WordsPerDoc)(word())
      val variant = {
        val p1 = rnd.nextInt(WordsPerDoc)
        val p2 = (p1 + 7 + rnd.nextInt(WordsPerDoc - 14)) % WordsPerDoc
        base.updated(p1, "zq" + rnd.nextInt(10000) + "x")
          .updated(p2, "zq" + rnd.nextInt(10000) + "x")
      }
      Seq((2L * i, base.mkString(" ")), (2L * i + 1, variant.mkString(" ")))
    }
    val identical = (0 until 10).flatMap { i =>
      val t = IndexedSeq.fill(WordsPerDoc)(word()).mkString(" ")
      Seq((100000L + 2 * i, t), (100001L + 2 * i, t))
    }
    (pairs ++ identical).toDF("doc_id", "text")
  }

  private def constructed(a: Long, b: Long): Boolean =
    (a < 100000L && b == a + 1 && a % 2 == 0) ||
      (a >= 100000L && b == a + 1 && a % 2 == 0)

  test("fixture: constructed pairs sit in the near-threshold jaccard band") {
    val exact = Dedup.charJaccardPairs(fixture, 5, 0.5)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => constructed(a, b) && a < 100000L }
    assert(exact.length == NPairs,
      s"fixture lost constructed pairs above jaccard 0.5: ${exact.length}/$NPairs")
    val jacs = exact.map(_._3).sorted
    info(f"exact jaccard: min ${jacs.head}%.3f median ${jacs(NPairs / 2)}%.3f max ${jacs.last}%.3f")
    assert(jacs.head >= 0.70 && jacs.last <= 0.90,
      s"fixture drifted out of the near-threshold band: [${jacs.head}, ${jacs.last}]")
    assert(jacs(NPairs / 2) >= 0.76 && jacs(NPairs / 2) <= 0.86,
      s"median ${jacs(NPairs / 2)} outside the 0.8-gate neighborhood")
  }

  test("measured near-threshold recall per band width (deterministic pins)") {
    val hits: Map[Int, Int] = Widths.map { rp =>
      val got = Dedup.charLshPairs(fixture, 5, 0.8, rp)
        .select("a", "b").as[(Long, Long)].collect()
        .filter { case (a, b) => constructed(a, b) && a < 100000L }
      rp -> got.length
    }.toMap
    info(s"near-threshold recall (hits / $NPairs): " +
      Widths.map(rp => s"rp=$rp -> ${hits(rp)}").mkString(", "))
    // the schedule's one-way contract: widening only narrows
    assert(Widths.sliding(2).forall(w => hits(w(1)) <= hits(w(0))),
      s"recall must be monotone in width: $hits")
    // the regime boundaries the scaladoc claims, as numbers: the fixed
    // width catches most near-threshold pairs, one doubling costs
    // roughly half-to-two-thirds of them, two leave the gate near-blind
    assert(hits(4) >= NPairs / 2, s"fixed-width recall collapsed: ${hits(4)}/$NPairs")
    assert(hits(16) <= NPairs / 4, s"rp=16 should be near-blind here: ${hits(16)}/$NPairs")
    // exact deterministic pins with a small tolerance (seeded fixture +
    // seeded minhash; the wobble budget covers a Spark hash-internals
    // re-roll, structural width changes move these by tens)
    val drift = Widths.map(rp =>
      rp -> math.abs(hits(rp) - PinnedWidthCurve(rp))).filter(_._2 > PinTolerance)
    assert(drift.isEmpty,
      s"width curve drifted >±$PinTolerance at $drift: $hits vs $PinnedWidthCurve")
  }

  test("identical-text pairs survive EVERY width (the collapse-tier contract)") {
    // identical normalized texts → identical signatures → collide in
    // every band at any width, est_sim 1.0: the tier charLshClusters'
    // collapse-first discipline and the duplicate-family at-scale story
    // rest on. Zero tolerance — this is structural, not binomial.
    Widths.foreach { rp =>
      val got = Dedup.charLshPairs(fixture, 5, 0.8, rp)
        .select("a", "b").as[(Long, Long)].collect()
        .filter { case (a, b) => constructed(a, b) && a >= 100000L }
      assert(got.length == 10, s"rp=$rp lost identical pairs: ${got.length}/10")
    }
  }

  test("maxRowsPerBand caps the schedule at a tiling width — the recall-floor lever") {
    // width selection is a pure function; the cap must clamp the
    // doubling schedule without ever breaking signature tiling
    assert(Dedup.cappedRowsPerBand(500, 16) == 4, "cap above schedule: no-op")
    assert(Dedup.cappedRowsPerBand(500000, 16) == 8, "default cap never binds")
    assert(Dedup.cappedRowsPerBand(500000, 4) == 4,
      "rp=4 cap must hold the fixed width past RebandAt")
    assert(Dedup.cappedRowsPerBand(Dedup.RebandAt * 300, 8) == 8,
      "rp=8 cap binds where the schedule would pick 16")
    assert(Dedup.cappedRowsPerBand(Dedup.RebandAt * 300, 7) == 4,
      "non-tiling caps snap DOWN to a power-of-two width")
    assert(Dedup.cappedRowsPerBand(500000, 1) == 4,
      "caps below the base width mean the base width")
    assert(Dedup.cappedRowsPerBand(500000, 1000) == 8,
      "oversized caps clamp to the signature")
  }

  test("the capped schedule's relation IS charLshPairs at the capped width (recall curve carries over)") {
    // charLshPairsAuto(maxRowsPerBand = rp) delegates to charLshPairs
    // at width cappedRowsPerBand(n, rp) — the same banded relation this
    // spec's curve is measured on — so the pinned recall at width rp is
    // exactly what a capped pipeline holds at ANY corpus size: the width
    // test above pins the selection for huge n, this pins width →
    // relation on the fixture, and the curve test pins width → recall.
    val capped = Dedup.charLshPairsAuto(fixture, 5, 0.8, maxRowsPerBand = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val explicit = Dedup.charLshPairs(fixture, 5, 0.8, rowsPerBand = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(capped == explicit, "capped auto diverges from the explicit width-4 relation")
    // and the default cap changes nothing on the registered relation
    val auto = Dedup.charLshPairsAuto(fixture, 5, 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(auto == explicit,
      "default maxRowsPerBand must leave the registered relation unchanged")
  }

  /** The measured near-threshold curve (see the test's info line):
    * recall 63% at the fixed width, 22% after one doubling, 7% after
    * two — each doubling squares the per-band admission term, and the
    * est_sim ≥ t filter discounts all three uniformly.
    *
    * Tolerance is ~2σ of the binomial the counts actually are
    * (n = 60, p ≈ 0.07–0.63 → σ up to ~3.7; the r14 advisory: a ±3 pin
    * has a large chance of flaking on a Spark hash-internals re-roll
    * while claiming to absorb exactly that). Structural width changes
    * move these by TENS — the signal survives the looser band.
    */
  private val PinnedWidthCurve: Map[Int, Int] = Map(4 -> 38, 8 -> 13, 16 -> 4)
  private val PinTolerance = 8
}
