package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional clustering (Z-order / Morton curve) for data
  * skipping on MORE THAN ONE key — the layout a 100 TB table needs when
  * queries filter on different columns than the sort key.
  * [[IndexedTable.build]] (the reference's BUILD(index),
  * `system/jhtree/ctfile.hpp:32`) clusters ONE key prefix: a predicate on
  * the second column alone scatters across every row group. Z-ordering
  * interleaves the bits of k normalized key columns into one 64-bit value
  * and range-sorts by it, so a selective predicate on ANY of the keys
  * touches only ~N^((k-1)/k) of the row groups (each key's bits
  * contribute at every level of the curve).
  *
  * The whole computation is Catalyst expressions (normalize → bit
  * interleave → repartitionByRange + sortWithinPartitions) — codegen'd,
  * shuffle = exactly the one range exchange every clustered write pays,
  * and the z-value column is dropped before writing (the layout IS the
  * index; readers just filter and let parquet row-group stats skip).
  */
object ZOrder {

  /** Per-column resolution: 16 bits, narrowed so the interleaved value
    * never reaches bit 63 — the long SIGN bit. With 4 columns a 16-bit
    * grid would land column 3's top bit at position 63, flipping z-values
    * negative for half of that dimension and inverting the curve's
    * top-level split under the signed range sort. 63/k bits keeps the
    * whole word non-negative (k=4 → 15 bits/column, still 32k buckets).
    */
  private def bitsFor(k: Int): Int = math.min(16, 63 / k)

  /** Map a numeric column onto the 0..2^bits-1 grid given its global
    * min/max (half-ulp clamp keeps max inside the top bucket).
    */
  private def gridded(c: Column, mn: Double, mx: Double, bits: Int): Column = {
    val span = if (mx > mn) mx - mn else 1.0
    least(greatest(
      floor((c.cast("double") - lit(mn)) / lit(span) * lit((1 << bits) - 1)),
      lit(0L)), lit(((1 << bits) - 1).toLong))
  }

  /** Bit-interleave k gridded columns (k ≤ 4): bit b of column i lands at
    * position b*k + i. Pure shift/mask expression tree — codegen'd.
    * Total width ≤ 63 bits (see [[bitsFor]]) so the result is always
    * non-negative and the signed range sort matches curve order.
    */
  def interleave(gridCols: Seq[Column]): Column = {
    require(gridCols.nonEmpty && gridCols.size <= 4,
      s"1..4 z-order columns supported, got ${gridCols.size}")
    val k = gridCols.size
    val terms = for {
      b <- 0 until bitsFor(k)
      (c, i) <- gridCols.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * k + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Write `df` z-ordered on `keys` (numeric columns). One stats pass
    * (k mins + k maxes — one row to the driver), one range shuffle.
    */
  def build(df: DataFrame, keys: Seq[String], path: String,
      numPartitions: Int = 0): Unit = {
    val stats = df.select(
      keys.flatMap(k => Seq(min(col(k).cast("double")).as(s"mn_$k"),
        max(col(k).cast("double")).as(s"mx_$k"))): _*).collect().head
    val grids = keys.zipWithIndex.map { case (k, i) =>
      gridded(col(k), stats.getDouble(2 * i), stats.getDouble(2 * i + 1),
        bitsFor(keys.size))
    }
    val z = df.withColumn("__zv", interleave(grids))
    val ranged = if (numPartitions > 0)
      z.repartitionByRange(numPartitions, col("__zv"))
    else z.repartitionByRange(col("__zv"))
    ranged.sortWithinPartitions(col("__zv"))
      .drop("__zv")
      .write.mode("overwrite").parquet(path)
  }

  /** Read with a predicate; parquet row-group min/max stats on the
    * z-clustered layout do the skipping (PushedFilters in the plan).
    */
  def read(spark: SparkSession, path: String, pred: Column): DataFrame =
    Sources.parquet(spark, path).filter(pred)
}
