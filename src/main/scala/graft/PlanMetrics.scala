package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}

/** Post-execution shuffle accounting — the measured form of the engine's
  * "minimize shuffles" design claims. Where `PlanShapeSpec` pins plan
  * SHAPES (which exchanges exist), this reads the executed plan's
  * metrics to pin plan COSTS (how many records/bytes those exchanges
  * actually carried), so a statement like "the bucketed join shuffles
  * only aggregate partials" is asserted in records, not prose.
  *
  * Walks through AQE wrappers and query stages; broadcast exchanges are
  * intentionally excluded (broadcasting a dimension IS the engine's
  * preferred alternative to shuffling a fact).
  */
object PlanMetrics {

  final case class ShuffleStats(exchanges: Int, recordsWritten: Long,
                                bytesWritten: Long)

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a) ++ walk(a.executedPlan)
    case q: QueryStageExec => Seq(q) ++ walk(q.plan)
    case other => Seq(other) ++ other.children.flatMap(walk)
  }

  /** Shuffle totals of an ALREADY-EXECUTED frame (metrics are zero until
    * an action has run the plan). Round-robin exchanges are excluded by
    * default: the only ones the engine plans are `Tables.load`'s fan-out
    * of single-row-group `documents` / `embeddings` scans (relational
    * tables are never fanned out) — test-environment plumbing that is a
    * documented no-op on real multi-split tables — and counting them
    * would charge those queries a full input-cardinality shuffle that
    * doesn't exist at scale.
    */
  def shuffleStats(df: DataFrame,
                   includeRoundRobin: Boolean = false): ShuffleStats = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    val shuffles = walk(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
      .filter(s => includeRoundRobin || (s.outputPartitioning match {
        case _: RoundRobinPartitioning => false
        case _ => true
      }))
    ShuffleStats(
      shuffles.size,
      shuffles.map(_.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)).sum,
      shuffles.map(_.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)).sum)
  }

  /** What a whole executed plan holds: `Exchange` / `BroadcastExchange`
    * nodes (a `ReusedExchange` is not one), and the evaluation sites of
    * the gram kernels `char_gram_hashes` and `ws_tokens` (an operator
    * expression that computes them, not an attribute reading a result).
    */
  final case class PlanCensus(exchanges: Int, charGramSites: Int, wsTokenSites: Int)

  /** [[PlanCensus]] of an ALREADY-EXECUTED frame: AQE's final plan, its
    * query stages and every subquery, whatever the plan's printed length.
    */
  def census(df: DataFrame): PlanCensus = {
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      walk(p).flatMap(n => n +: n.subqueries.flatMap(nodes))
    val all = nodes(df.queryExecution.executedPlan)
    def sites(name: String): Int =
      all.map(_.expressions.map(_.collect { case e if e.prettyName == name => e }.size).sum).sum
    PlanCensus(all.count(_.isInstanceOf[Exchange]),
      sites("char_gram_hashes"), sites("ws_tokens"))
  }

  /** Run the frame and return (row count, shuffle stats). Executes via
    * `collect()` on the frame's OWN QueryExecution — `count()` would
    * plan a separate aggregate on top and leave this plan's metrics
    * untouched.
    */
  def measure(df: DataFrame): (Long, ShuffleStats) = {
    val n = df.collect().length.toLong
    (n, shuffleStats(df))
  }
}
