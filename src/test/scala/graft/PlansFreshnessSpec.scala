package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Freshness guard on the committed PLANS.md artifact: it must cover
  * every current [[PlanDump.picks]] query and carry the plan markers the
  * shape specs enforce in code — so a PLANS.md generated before a plan
  * change (or edited by hand) fails the build instead of mis-documenting
  * the engine. Cheap by design: string assertions only; the live-plan
  * equivalents run in PlanShapeSpec.
  */
class PlansFreshnessSpec extends AnyFunSuite {

  private lazy val plans: String = {
    val p = Paths.get("PLANS.md")
    assert(Files.exists(p), "PLANS.md missing — run `sbt \"runMain graft.PlanDump\"`")
    Files.readString(p)
  }

  test("PLANS.md documents every current headline pick") {
    val missing = PlanDump.picks.filterNot(n => plans.contains(s"## $n"))
    assert(missing.isEmpty,
      s"PLANS.md is stale — missing sections $missing; regenerate via graft.PlanDump")
  }

  test("PLANS.md sections all correspond to registered queries") {
    val sections = "(?m)^## (\\S+)$".r.findAllMatchIn(plans).map(_.group(1)).toSeq
    val unknown = sections.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"PLANS.md documents unregistered queries: $unknown")
  }

  test("PLANS.md carries the guarded plan markers, none forbidden") {
    // positive: the shapes the engine's scale story rests on
    assert(plans.contains("TakeOrderedAndProject"), "top-k lost its heap select")
    assert(plans.contains("BroadcastHashJoin"), "dimension joins lost broadcast")
    assert(plans.contains("dynamicpruningexpression"),
      "partitioned ANN index lost dynamic partition pruning")
    assert(plans.contains("vector_dot"), "similarity lost the native dot product")
    assert(plans.contains("xxhash64"), "bloom join lost its pre-join probe filter")
    assert(plans.contains("kmv_sketch"), "KMV lost the native sketch aggregate")
    assert(plans.contains("PartitionFilters"),
      "z-order rectangle lost static partition pruning")
    // negative: the re-introductions rounds 2-3 explicitly removed
    assert(!plans.contains("array_intersect"),
      "a HEADLINE jaccard verify regressed to per-pair array_intersect — at " +
        "these under-cap vocabularies the bitmap branch must plan; only the " +
        "above-cap branch (ScaleBench's forced probe) may ship gram arrays")
    assert(!plans.contains("CartesianProduct"),
      "a pair-generation path degraded to a cartesian product")
  }

  test("every PLANS.md section carries its whole-plan counts") {
    val sections = plans.split("(?m)^## ").drop(1)
    val uncounted = sections.filterNot(_.linesIterator.drop(1).map(_.trim).filter(_.nonEmpty)
      .nextOption().exists(_.startsWith(PlanDump.CountsPrefix)))
    assert(uncounted.isEmpty, s"sections without counts: ${uncounted.map(_.takeWhile(_ != '\n')).toSeq}")
  }
}
