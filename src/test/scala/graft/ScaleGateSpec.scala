package graft

import org.scalatest.funsuite.AnyFunSuite

/** The ScaleBench superlinear GATE as an enforced invariant: a measured
  * scale factor above [[ScaleBench.GateThreshold]] must carry a
  * justification in [[ScaleBench.notes]] (output-volume growth,
  * adversarial contrast fixture, O(log d) round structure...). Round 8
  * proved empirical 10× timing is the only mechanism that actually
  * catches 100×-scale collapses (56×/57×/21×, all green on plan-shape
  * audits) — this spec makes the discipline self-enforcing: the panel
  * can't drift out of the registry, the gate logic can't rot, and a
  * committed BENCH_SCALE.json with unexplained superlinear rows fails
  * the build.
  */
class ScaleGateSpec extends AnyFunSuite {

  test("every explicit panel name is a registered query") {
    val known = SparkEntry.queries.keySet ++ ScaleBench.Extras.keySet
    val missing = ScaleBench.Panel.filterNot(known)
    assert(missing.isEmpty, s"panel names not in the registry: $missing")
  }

  test("every extras probe has a notes justification (superlinear by construction)") {
    val unnoted = ScaleBench.Extras.keySet.filterNot(ScaleBench.notes.contains)
    assert(unnoted.isEmpty, s"extras without notes: $unnoted")
  }

  test("gate flags unexplained superlinear factors and only those") {
    val probe = Seq(
      ("q1_pricing_summary", 9.8), // under threshold: never flagged
      ("dedup_edit_pairs", 14.9), // over threshold, noted: allowed
      ("totally_new_op", 13.1), // over threshold, unnoted: violation
      ("failed_row", -1.0)) // crash sentinel: failedAtScale's job, not the gate's
    assert(ScaleBench.gateViolations(probe) == Seq("totally_new_op"))
    assert(ScaleBench.failedAtScale(probe) == Seq("failed_row"))
  }

  test("a crash at scale is flagged even for a notes-allowlisted query") {
    // the round-9 advisory fix, pinned: timed() maps failure to -1, which
    // is never "> threshold" — a big-scale crash used to ship green, and
    // a notes entry must not excuse it either
    val probe = Seq(("dedup_edit_pairs", -1.0)) // has a notes justification
    assert(ScaleBench.gateViolations(probe).isEmpty)
    assert(ScaleBench.failedAtScale(probe) == Seq("dedup_edit_pairs"))
  }

  test("boundary: exactly the threshold passes, epsilon above without notes fails") {
    val t = ScaleBench.GateThreshold
    assert(ScaleBench.gateViolations(Seq(("x", t))).isEmpty)
    assert(ScaleBench.gateViolations(Seq(("x", t + 0.01))) == Seq("x"))
  }

  test("adjudicated rows are graded against their expectation band, not the binary notes allowlist") {
    // r14 verdict directive: join_revenue_by_status brushed the 12x
    // threshold three rounds (10.2/11.6/11.85x) with the adjudication in
    // prose. The band now rides the gate: inside it any reading passes;
    // past it the row violates EVEN THOUGH the name has a notes entry.
    val a = ScaleBench.adjudications("join_revenue_by_status")
    assert(ScaleBench.notes.contains("join_revenue_by_status"),
      "the adjudicated row keeps its notes narrative")
    assert(a.atScaleTwin.exists(SparkEntry.queries.contains),
      s"at-scale twin must be a registered query: ${a.atScaleTwin}")
    assert(a.bandX > ScaleBench.GateThreshold,
      "an adjudication below the global threshold would be pointless")
    assert(ScaleBench.gateViolations(
      Seq(("join_revenue_by_status", a.bandX - 0.1))).isEmpty)
    assert(ScaleBench.gateViolations(
      Seq(("join_revenue_by_status", a.bandX))).isEmpty)
    assert(ScaleBench.gateViolations(
      Seq(("join_revenue_by_status", a.bandX + 0.1))) ==
      Seq("join_revenue_by_status"),
      "a reading past the documented band must violate despite the notes entry")
    // non-adjudicated rows keep the old rule
    assert(ScaleBench.gateViolations(Seq(("dedup_edit_pairs", a.bandX + 10))).isEmpty)
  }

  test("committed BENCH_SCALE.json (if present) carries the expectation fields on adjudicated rows") {
    val f = new java.io.File("BENCH_SCALE.json")
    if (f.exists()) {
      val json = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      import org.json4s._
      implicit val fmts: Formats = DefaultFormats
      val parsed = org.json4s.jackson.JsonMethods.parse(json)
      ScaleBench.adjudications.foreach { case (name, a) =>
        val row = (parsed \ "queries") \ name
        if (row != JNothing) {
          assert((row \ "expected").extractOpt[String].contains(a.expected),
            s"$name row lacks its 'expected' annotation")
          assert((row \ "expected_band_x").extractOpt[Double].contains(a.bandX),
            s"$name row lacks its expectation band")
          a.atScaleTwin.foreach { t =>
            assert((row \ "at_scale_twin").extractOpt[String].contains(t),
              s"$name row lacks its at-scale twin")
          }
          (row \ "scale_x").extractOpt[Double].foreach { x =>
            assert(x <= a.bandX,
              s"$name measured ${x}x — past its documented ${a.bandX}x expectation band")
          }
        }
      }
    }
  }

  test("committed BENCH_SCALE.json (if present) covers the whole registry — no query skips the 10x gate") {
    // the 10x artifact is only a gate if membership is exhaustive: a
    // query registered after the last refresh would otherwise silently
    // skip scale grading until someone notices. Every registered query
    // (and every forced code-path extra) must appear either in the 10x
    // panel rows or in the small-only map — and a small-only entry whose
    // warm time is over the promotion cutoff proves the artifact was
    // built with different promotion rules than the code now has.
    val f = new java.io.File("BENCH_SCALE.json")
    if (f.exists()) {
      val json = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      import org.json4s._
      implicit val fmts: Formats = DefaultFormats
      val parsed = org.json4s.jackson.JsonMethods.parse(json)
      def keys(field: String): Set[String] = (parsed \ field) match {
        case JObject(fs) => fs.map(_._1).toSet
        case _ => Set.empty
      }
      val covered = keys("queries") ++ keys("small_only_warm_s")
      val required = SparkEntry.queries.keySet ++ ScaleBench.Extras.keySet
      val missing = (required -- covered).toSeq.sorted
      assert(missing.isEmpty,
        s"queries absent from BENCH_SCALE.json (refresh the 10x artifact): $missing")
      val demoted = (parsed \ "small_only_warm_s") match {
        case JObject(fs) => fs.collect {
          case (n, JDouble(v)) if v > ScaleBench.SlowCutoffSec => n
          case (n, JInt(v)) if v.toDouble > ScaleBench.SlowCutoffSec => n
        }
        case _ => Nil
      }
      assert(demoted.isEmpty,
        s"small-only rows over the ${ScaleBench.SlowCutoffSec}s promotion cutoff: $demoted")
    }
  }

  test("committed BENCH_SCALE.json (if present) carries no gate violations") {
    val f = new java.io.File("BENCH_SCALE.json")
    if (f.exists()) {
      val json = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // pre-round-9 artifacts predate the gate field; only a present,
      // non-empty violations list is a failure
      val m = """"gate_violations":\s*\[([^\]]*)\]""".r
        .findFirstMatchIn(json)
      m.foreach { g =>
        assert(g.group(1).trim.isEmpty,
          s"BENCH_SCALE.json has unexplained superlinear rows: ${g.group(1)}")
      }
      // pre-round-10 artifacts predate failed_at_scale; only a present,
      // non-empty list is a failure
      val fm = """"failed_at_scale":\s*\[([^\]]*)\]""".r
        .findFirstMatchIn(json)
      fm.foreach { g =>
        assert(g.group(1).trim.isEmpty,
          s"BENCH_SCALE.json has queries that crashed at 10x: ${g.group(1)}")
      }
    }
  }
}
