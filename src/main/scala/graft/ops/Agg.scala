package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregation (SURVEY §2.5). The reference's aggregate contract
  * (`IHThorRowAggregator` `rtl/include/eclhelper.hpp:1549`:
  * clearAggregate/processFirst/processNext/mergeAggregate) is exactly
  * Spark's partial+final two-phase aggregation, so TABLE/AGGREGATE lower to
  * `groupBy(...).agg(...)` with map-side combine for free.
  *
  * Scale notes: hash aggregation shuffles only the partial aggregates, not
  * the input — the dominant cost at 100 TB is the scan, which Catalyst
  * prunes to the referenced columns. Double-typed SUMs route through
  * DecimalType for order-independent exactness (Spark's shuffle order is
  * nondeterministic; decimal addition is associative+commutative so results
  * are bit-stable across runs and cluster sizes — same reason the reference
  * uses BCD decimal, `rtl/eclrtl/rtlbcd.hpp`).
  */
object Agg {

  /** TABLE(ds, {keys, aggs}, keys) — hash group-by (TAKhashaggregate :897). */
  def table(df: DataFrame, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Whole-dataset scalar aggregate row (no_count/sum/ave/... family). */
  def scalar(df: DataFrame, aggs: Seq[Column]): DataFrame =
    df.agg(aggs.head, aggs.tail: _*)

  /** DISTRIBUTION(ds, field) (TAKdistribution :916): per-value counts for a
    * field, the per-field histogram the reference emits as an XML report.
    * One output row per distinct value with its count.
    */
  def distribution(df: DataFrame, field: Column, as: String): DataFrame =
    df.groupBy(field.as(as)).agg(count(lit(1)).as("cnt"))
}
