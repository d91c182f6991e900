package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** DEDUP / ROLLUP / ITERATE / PROCESS — the reference's ordered-stateful
  * scan family (SURVEY §2.7; helpers `rtl/include/eclhelper.hpp:1535` DEDUP,
  * `:1520` ROLLUP, `:1344` ITERATE, `:1352` PROCESS). These consume
  * *adjacent* rows in dataset/group order — HPCC's substitute for SQL window
  * functions.
  *
  * Scale notes: per-group variants shuffle once on the group key and then
  * run embarrassingly parallel (window functions / sorted `flatMapGroups`).
  * Whole-dataset ordered scans stay parallel via [[Positions.scanSorted]]
  * (range-partitioned sort + broadcast boundary state), which is how
  * ROLLUP/DEDUP remain viable at 100 TB. Only a truly global ITERATE
  * (carried state with no group key) degrades to a sequential pass
  * (SURVEY §7.4).
  */
object DedupRollup {

  /** DEDUP(ds, cond) on sorted input: remove ADJACENT rows whose keys equal
    * the previous row's (helper flags `HDFwholerecord/compareall` :1526).
    * Scale-safe lowering ([[Positions.scanSorted]]): range-partitioned sort,
    * then each partition compares against the previous partition's last key
    * (broadcast boundary) — fully parallel, and the very first row is never
    * a duplicate (there is no predecessor to equal).
    */
  def dedupAdjacent(df: DataFrame, keys: Seq[Column],
      order: Seq[Column]): DataFrame = {
    val (proj, keyCols) = Positions.withKeyCols(df, keys, "__dk")
    val ord = Positions.keyOrdering(proj.schema, keyCols)
    // keys appended to the sort: rows tied under `order` settle in the same
    // key-adjacency in BOTH scan passes (see Positions.scanSorted contract)
    Positions.scanSorted(proj, order ++ keyCols.map(col), Nil)(
      Positions.keyRunSummary(ord))(
      _.scanLeft((Option.empty[InternalRow], 0L))(Positions.advanceKeyRun(ord))) {
      case ((prevKey, _), rows) =>
        val tracker = new Positions.RunTracker(ord, prevKey.orNull)
        rows.filter(tracker.starts)
    }.drop(keyCols: _*)
  }

  /** DEDUP(ds, key, ALL) / hash dedup (TAKhashdedup :906): compare all rows
    * regardless of adjacency, keep one per key — `dropDuplicates`.
    */
  def dedupAll(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** DEDUP(..., KEEP n): first n rows per key in `order`
    * (`numToKeep` :1535 region).
    */
  def dedupKeepN(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      n: Int): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** DEDUP(..., BEST(sortOrder)): keep the best row per key, "best" = first
    * under `best` ordering (HDFkeepbest :1532).
    */
  def dedupBest(df: DataFrame, keys: Seq[Column], best: Seq[Column]): DataFrame =
    dedupKeepN(df, keys, best, 1)

  /** Assign a run id to each maximal run of adjacent rows with equal keys —
    * the sessionization primitive under ROLLUP and adjacent-DEDUP. Scale-safe
    * ([[Positions.scanSorted]]): pass 1 summarizes each sorted partition
    * (boundary keys + internal run count), the driver folds the summaries
    * into per-partition run-id offsets, pass 2 numbers the runs — parallel
    * end to end, no single-partition window.
    */
  def runIds(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      runCol: String): DataFrame = {
    val (proj, keyCols) = Positions.withKeyCols(df, keys, "__rk")
    val ord = Positions.keyOrdering(proj.schema, keyCols)
    Positions.scanSorted(proj, order ++ keyCols.map(col),
      Seq(StructField(runCol, LongType, nullable = false)))(
      Positions.keyRunSummary(ord))(
      _.scanLeft((Option.empty[InternalRow], 0L))(Positions.advanceKeyRun(ord))) {
      case ((prevKey, runsBefore), rows) =>
        val tracker = new Positions.RunTracker(ord, prevKey.orNull)
        var run = runsBefore
        rows.map { r =>
          if (tracker.starts(r)) run += 1
          new JoinedRow(r, InternalRow(run))
        }
    }.drop(keyCols: _*)
  }

  /** ROLLUP(ds, cond, t(L,R)) where the transform is an associative fold
    * (the overwhelmingly common case): group by run id and aggregate
    * (helper :1520). `keys` are constant within a run and are preserved in
    * the output; `aggs` produce the folded columns.
    */
  def rollupRuns(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    runIds(df, keys, order, "__run")
      .groupBy(col("__run") +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .drop("__run")

  /** ITERATE(ds, t(LEFT, RIGHT)) per group: out(n) = t(out(n-1), in(n)).
    * General (non-associative) form: sorted fold inside Spark's
    * `flatMapSortedGroups` — one shuffle on the group keys, a sort by keys
    * then `order`, and group boundaries from Spark's own grouping (±0.0
    * and every NaN one key, null one key, as `groupBy`). Parallel across
    * groups, sequential within (exactly the reference's execution shape).
    * `fold` receives the previous OUTPUT row (None for the first) and the
    * current input row and returns the output row.
    *
    * For folds expressible as window aggregates (running sum/max/min/count)
    * prefer [[runningAgg]] — it stays in whole-stage codegen.
    */
  def iterateGroups(df: DataFrame, groupKeys: Seq[String], order: Seq[Column],
      outSchema: StructType)(fold: (Option[Row], Row) => Row): DataFrame = {
    val keySchema = StructType(groupKeys.map(df.schema(_)))
    df.groupBy(groupKeys.map(col): _*)
      .as[Row, Row](Encoders.row(keySchema), Encoders.row(df.schema))
      .flatMapSortedGroups(order: _*) { (_, rows) =>
        var prev: Option[Row] = None
        rows.map { r => val out = fold(prev, r); prev = Some(out); out }
      }(Encoders.row(outSchema))
  }

  /** Running aggregate over order within groups — the codegen-friendly
    * ITERATE lowering for associative state.
    */
  def runningAgg(df: DataFrame, groupKeys: Seq[Column], order: Seq[Column],
      agg: Column, as: String): DataFrame = {
    val w = Window.partitionBy(groupKeys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(as, agg.over(w))
  }

  /** GROUP(ds, keys) — plan-time state in our model: subsequent grouped ops
    * take the keys explicitly (SURVEY §2.7: no data movement needed).
    * Provided for API completeness.
    */
  def group(df: DataFrame, keys: Seq[String]): (DataFrame, Seq[String]) =
    (df, keys)
}
