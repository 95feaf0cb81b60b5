package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** The output contract of [[Bench]]: its last stdout line is one compact
  * JSON object that fits a 2,000-character tail, carries the headline
  * keys, and reports a failed query as -1 without ending the pass.
  */
class BenchSpec extends SparkSpec {
  private implicit val fmts: Formats = DefaultFormats
  private val sf = "/root/testdata/sf0.001"

  private def times(line: JValue, key: String): Map[String, Double] =
    (line \ key).extract[Map[String, Double]]

  test("the last line is the compact contract; a throwing query is -1 and listed as failed") {
    val picks = Seq("q1_pricing_summary", "ref_projection", "ref_case_class")
    val boom: SparkEntry.Q = (_, _) => throw new IllegalStateException("boom")
    val queries = picks.map(n => n -> SparkEntry.queries(n)).toMap + ("boom" -> boom)
    val out = Bench.run(spark, sf, queries)
    val last = out.last
    assert(last.length <= Bench.MaxLineChars, s"${last.length} chars")
    val j = parse(last)
    Seq("metric", "value", "unit", "queries", "n_queries").foreach { k =>
      assert(j \ k != JNothing, s"missing key $k in $last")
    }
    assert((j \ "metric").extract[String] == "total")
    assert((j \ "unit").extract[String] == "sec")
    assert((j \ "protocol").extract[String] == "in_session")
    assert((j \ "n_queries").extract[Int] == 4)
    val q = times(j, "queries")
    assert(q.size <= Bench.SlowestKept)
    assert(q("boom") == -1.0)
    assert((j \ "failed").extract[Seq[String]] == Seq("boom"))
    picks.foreach(n => assert(q(n) >= 0, s"$n failed: $last"))
    val seqTotal = (j \ "seq_total").extract[Double]
    assert(math.abs(seqTotal - q.values.filter(_ >= 0).sum) < 1e-6)
    assert((j \ "value").extract[Double] == seqTotal)
    assert((j \ "cold_total").extract[Double] > 0)
    assert((j \ "host" \ "cores").extract[Int] > 0)
    val full = parse(out.head)
    assert(times(full, "queries_cold")("boom") == -1.0)
  }

  test("the compact line keeps only the slowest queries of a larger registry") {
    // fixed times through Bench.lines, as the cold-pass test does, so the
    // selection never races measured times on a loaded host; fast_b sits
    // just under the slowest kept time
    val slow = (0 until Bench.SlowestKept).map(i => f"slow_$i%02d" -> (0.150 + i * 0.001))
    val pass = slow ++ Seq("fast_a" -> 0.0, "fast_b" -> 0.149)
    val out = Bench.lines(sf, pass, pass)
    val compact = parse(out.last)
    assert(times(compact, "queries").keySet == slow.map(_._1).toSet)
    assert((compact \ "n_queries").extract[Int] == pass.size)
    assert(times(parse(out.head), "queries").size == pass.size)
  }

  test("the compact line fits a 2,000-char tail for the whole registry, even when every query fails") {
    val names = SparkEntry.queries.keys.toSeq
    Seq(-1.0, 999.999).foreach { t =>
      val pass = names.map(_ -> t)
      val out = Bench.lines(sf, pass, pass)
      assert(out.last.length <= Bench.MaxLineChars, s"${out.last.length} chars at $t s")
      val failed = (parse(out.last) \ "failed").extract[Seq[String]]
      assert(failed.size == (if (t < 0) Bench.MaxFailedListed else 0))
      assert((parse(out.head) \ "failed").extract[Seq[String]].size ==
        (if (t < 0) names.size else 0))
    }
  }

  test("a query that fails only in the cold pass is listed as failed and keeps its warm time") {
    val cold = Seq("a" -> -1.0, "b" -> 1.0)
    val warm = Seq("a" -> 2.0, "b" -> 1.0)
    val out = Bench.lines(sf, cold, warm)
    val j = parse(out.last)
    assert((j \ "failed").extract[Seq[String]] == Seq("a"))
    assert(times(j, "queries") == Map("a" -> 2.0, "b" -> 1.0))
    assert((j \ "seq_total").extract[Double] == 3.0)
    assert((j \ "value").extract[Double] == 3.0)
    assert((j \ "cold_total").extract[Double] == 1.0)
    assert(times(parse(out.head), "queries_cold")("a") == -1.0)
  }

  test("a run that throws still ends with one parseable compact error line") {
    assert(Bench.guarded(sf)(Seq("x", "y")) == Seq("x", "y"))
    // quotes, newlines and control characters all grow when escaped
    val msg = "\"\n\u0001" * 3000
    val out = Bench.guarded(sf)(throw new IllegalStateException(msg))
    assert(out.size == 1)
    val last = out.last
    assert(last.length <= Bench.MaxLineChars, s"${last.length} chars")
    val j = parse(last)
    assert((j \ "metric").extract[String] == "total")
    assert((j \ "value").extract[Double] == -1.0)
    assert((j \ "unit").extract[String] == "sec")
    assert((j \ "protocol").extract[String] == "in_session")
    assert(j \ "queries" != JNothing && j \ "n_queries" != JNothing)
    assert((j \ "error").extract[String].nonEmpty)
  }
}
