package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent digest of a query's full result: row count plus the
  * exact (decimal) sum of one 64-bit hash per row over every column.
  *
  * Hashing every column forces Catalyst to compute all of them — a bare
  * `count()` lets it prune columns and under-measures the query. Summation
  * is commutative and exact, so neither row order nor partitioning can
  * change the digest.
  */
object Digest {
  final case class Value(rows: Long, hashSum: String) {
    override def toString: String = s"$rows:$hashSum"
  }

  /** The one-row aggregate whose execution is the query's timed action. */
  def frame(df: DataFrame): DataFrame = {
    // xxhash64 rejects maps; their JSON form is a stable stand-in
    val cols: Seq[Column] = df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(rowHash.cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)).as("rows"), coalesce(sum(col("h")), lit(BigDecimal(0))).as("hash_sum"))
  }

  def read(digestFrame: DataFrame): Value = {
    val r = digestFrame.collect().head
    Value(r.getLong(0), r.getDecimal(1).toPlainString)
  }

  def of(df: DataFrame): Value = read(frame(df))
}
