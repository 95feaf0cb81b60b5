package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Z-order (Morton-curve) multi-dimensional data layout.
  *
  * A single sort/partition key can prune a scan on ONE dimension only;
  * interleaving the bits of two dimensions into one Morton key gives a
  * layout in which a rectangle predicate over BOTH dimensions maps to a
  * small set of contiguous key ranges — the standard warehouse answer
  * (Delta/Iceberg `ZORDER BY`) to "filter on custkey AND price" over
  * 100 TB: file/partition skipping works for both dimensions from one
  * layout, with no second copy of the data.
  *
  * Everything here is integer mask arithmetic (the classic spread
  * ladder), identical in the Spark plan, the JVM twin used to derive
  * covering bucket sets, and the generated DuckDB oracle SQL.
  */
object ZOrder {

  /** (shift, mask) ladder spreading a 16-bit value over the even bits of
    * a 32-bit lane. Shared by the Column ladder, the JVM twin and the
    * oracle SQL generator — one source of truth for the bit math.
    */
  val SpreadMasks: Seq[(Int, Long)] = Seq(
    8 -> 0x00FF00FFL, 4 -> 0x0F0F0F0FL, 2 -> 0x33333333L, 1 -> 0x55555555L)

  /** Bit-spread of a 16-bit value into even bit positions (Column form). */
  def spread16(v: Column): Column =
    SpreadMasks.foldLeft(v) { case (acc, (s, m)) =>
      acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(m))
    }

  /** 32-bit Morton key of two 16-bit dims (x on even bits, y on odd). */
  def zkey(x: Column, y: Column): Column =
    spread16(x.bitwiseAND(lit(0xFFFFL)))
      .bitwiseOR(shiftleft(spread16(y.bitwiseAND(lit(0xFFFFL))), 1))

  /** JVM twin of [[zkey]] — same ladder, for covering-set derivation. */
  def zkeyJvm(x: Long, y: Long): Long = {
    def spread(v: Long): Long =
      SpreadMasks.foldLeft(v & 0xFFFFL) { case (acc, (s, m)) => (acc | (acc << s)) & m }
    spread(x) | (spread(y) << 1)
  }

  /** orders' second layout dim: totalprice quantized to 16 bits.
    * `/ 16` is a power-of-two scale (exact in IEEE doubles) and `floor`
    * keeps Spark and DuckDB on the same integer — a raw double→long cast
    * would truncate in Spark but round in DuckDB.
    */
  def priceDim(price: Column): Column = floor(price / 16).cast("long")

  /** Per-row Morton keys over orders: (o_orderkey, x, y, zval). The
    * oracle re-derives zval through the same mask ladder in SQL.
    */
  def ordersZkeys(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderkey"),
      col("o_custkey").as("x"),
      priceDim(col("o_totalprice")).as("y"),
      zkey(col("o_custkey"), priceDim(col("o_totalprice"))).as("zval"))

  /** Partition granularity: top `32 − BucketShift` z bits. 6 bits → 64
    * directories, i.e. an 8×8 grid over the (x, y) plane.
    */
  val BucketShift: Int = 26

  /** Covering bucket set for the rectangle [xlo, xhi] × [ylo, yhi]: the
    * top-3 bits of each dim enumerate the 8×8 grid cells the rectangle
    * touches; their interleavings are exactly the z-bucket directories
    * that can hold matching rows. Bounded inputs only — a value past 16
    * bits would wrap under the mask and silently break the covering
    * guarantee, so reject loudly (production layers a quantile
    * bucketizer in front; the testdata dims fit raw).
    */
  def coveringBuckets(xlo: Long, xhi: Long, ylo: Long, yhi: Long): Seq[Long] = {
    require(xlo >= 0 && ylo >= 0 && xhi < 65536 && yhi < 65536,
      "z-order dims must fit 16 bits — bucketize first")
    (for (xh <- (xlo >> 13) to (xhi >> 13); yh <- (ylo >> 13) to (yhi >> 13))
      yield zkeyJvm(xh << 13, yh << 13) >> BucketShift).distinct.sorted
  }

  /** orders persisted once per (session, dir) partitioned by z-bucket —
    * the directory layout IS the two-dimensional index. `repartition`
    * by the bucket keeps it to one file per directory. int partition
    * column: directory values read back as int (same note as the ANN
    * index).
    */
  def zOrderedOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.persisted(spark, dir, "graft_orders_z", _.partitionBy("zbucket")) {
      Tables.load(spark, dir, "orders")
        .withColumn("zbucket",
          shiftright(zkey(col("o_custkey"), priceDim(col("o_totalprice"))),
            BucketShift).cast("int"))
        .repartition(col("zbucket"))
    }

  /** Rectangle query over the z-ordered table: the JVM-derived covering
    * bucket IN-list reaches the scan as a static partition filter
    * (metadata-only pruning — an 8×8-grid rectangle touches a few of 64
    * directories), and the exact per-row predicates run only inside the
    * surviving ones. Result is bit-identical to the plain filter over
    * raw orders — the layout must be invisible, which is what the
    * oracle checks.
    */
  def prunedRectangle(spark: SparkSession, dir: String,
                      xlo: Long = 100L, xhi: Long = 499L,
                      plo: Double = 10000.0, phi: Double = 150000.0): DataFrame = {
    val buckets = coveringBuckets(
      xlo, xhi, math.floor(plo / 16).toLong, math.floor(phi / 16).toLong)
    zOrderedOrders(spark, dir)
      .filter(col("zbucket").isin(buckets.map(_.toInt): _*)
        && col("o_custkey").between(xlo, xhi)
        && col("o_totalprice") >= plo && col("o_totalprice") <= phi)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
  }
}
