package graft.model

import graft.ops.{DedupRollup, Positions, Sorting}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The GROUPED-dataset model (SURVEY §1.1, §2.7): in the reference a
  * GROUP'ed dataset changes the meaning of every downstream operator —
  * SORT/DEDUP/TOPN/ROLLUP/aggregate apply PER GROUP until DEGROUP
  * (`type_groupedtable=23` `system/include/rtlconst.hpp:49`; runtime
  * end-of-group markers `common/thorhelper/thorcommon.hpp:181`).
  *
  * Spark needs no runtime markers: grouping is PLAN-TIME state. GraftFrame
  * is the single choke point — it carries the active group keys and routes
  * each op to its global or windowed/grouped lowering. This mirrors how the
  * reference's compiler resolves `TAKsort` vs grouped sort from the
  * dataset's type, not from a runtime flag.
  */
final case class GraftFrame(df: DataFrame, groupKeys: Seq[String] = Nil,
    sortedBy: Seq[String] = Nil) {

  private def grouped: Boolean = groupKeys.nonEmpty
  private def keyCols: Seq[Column] = groupKeys.map(col)

  /** GROUP(ds, keys) — enter grouped mode (TAKgroup :901). */
  def group(keys: String*): GraftFrame = copy(groupKeys = keys)

  /** GROUP(ds) — degroup (TAKdegroup :900). */
  def degroup: GraftFrame = copy(groupKeys = Nil)

  /** SORTED(ds, keys) (`no_sorted` `ecl/hql/hqlexpr.hpp`): DECLARE the
    * dataset already ordered on `keys` — plan-time metadata only, exactly
    * like the reference's compile-time sort-order tracking. A later
    * [[sort]] on a prefix-compatible key list is elided. The claim is NOT
    * verified here; use [[checkSorted]] for the runtime ASSERT.
    */
  def markSorted(keys: String*): GraftFrame = copy(sortedBy = keys)

  /** ASSERT(ds, SORTED(keys)) runtime check, scale-safe: each partition
    * verifies its own ordering and ships ONLY its (first, last) boundary
    * keys to the driver — numPartitions tiny rows, no global sort, no
    * single-partition window. Partition index order is the dataset's global
    * order (range-partitioned output of a prior sort keeps this property).
    * Throws IllegalStateException naming the first violating partition.
    */
  def checkSorted(keys: String*): GraftFrame = {
    val keyed = df.select(keys.map(col): _*)
    val ord = InterpretedOrdering.forSchema(keyed.schema.map(_.dataType))
    // non-empty partitions in order: (index, first, last, internally
    // sorted); kept rows are copies, as the scan may reuse its row object
    val bounds = Positions.partitionSummaries(keyed.queryExecution.toRdd) { it =>
      it.nextOption().map { r =>
        val first = r.copy()
        var prev = first; var ok = true
        while (it.hasNext && ok) {
          val cur = it.next()
          if (ord.compare(prev, cur) > 0) ok = false
          prev = cur.copy()
        }
        (first, prev, ok)
      }
    }.zipWithIndex.collect { case (Some((f, l, ok)), i) => (i, f, l, ok) }
    bounds.find(!_._4).foreach { case (idx, _, _, _) =>
      throw new IllegalStateException(
        s"SORTED($keys) violated inside partition $idx")
    }
    bounds.sliding(2).foreach {
      case Seq((i, _, last, _), (j, first, _, _)) =>
        if (ord.compare(last, first) > 0)
          throw new IllegalStateException(
            s"SORTED($keys) violated at partition boundary $i/$j")
      case _ => ()
    }
    copy(sortedBy = keys)
  }

  /** REGROUP (TAKregroup :982): append grouped datasets with the SAME group
    * keys, groups interleaved by key — a union that preserves grouping.
    */
  def regroup(other: GraftFrame): GraftFrame = {
    require(other.groupKeys == groupKeys,
      "REGROUP requires identical group keys")
    copy(df = df.unionByName(other.df), sortedBy = Nil)
  }

  /** SORT: global when ungrouped. Grouped SORT only promises order WITHIN
    * each group, so it lowers to hash-repartition on the group keys +
    * per-partition sort — no global range exchange (the reference's grouped
    * sort is likewise a local per-group sort, not a Thor global sort).
    */
  def sort(keys: Column*): GraftFrame = {
    val names = keys.map(_.toString)
    if (!grouped) {
      // tracked-ordering elision: already sorted on a compatible prefix →
      // the sort is a no-op (the reference's optimizer drops such sorts at
      // compile time via its dataset sort-order metadata)
      if (sortedBy.nonEmpty && names.startsWith(sortedBy.take(names.size)) &&
          sortedBy.size >= names.size) this
      else copy(df = df.orderBy(keys: _*), sortedBy = names)
    } else copy(df = df.repartition(keyCols: _*)
      .sortWithinPartitions(keyCols ++ keys: _*), sortedBy = Nil)
  }

  /** DEDUP(keys) adjacent-after-sort semantics: per group when grouped. */
  def dedup(keys: Column*): GraftFrame =
    if (!grouped) copy(df = df.dropDuplicates(keys.map(_.toString)),
      sortedBy = Nil)
    else copy(df = DedupRollup.dedupKeepN(df, keyCols ++ keys, keys, 1),
      sortedBy = Nil)

  /** TOPN: global heap vs per-group window rank. */
  def topn(n: Int, order: Column*): GraftFrame =
    if (!grouped) copy(df = Sorting.topn(df, n, order),
      sortedBy = order.map(_.toString))
    else copy(df = Sorting.topnGrouped(df, n, keyCols, order), sortedBy = Nil)

  /** TABLE/aggregate: whole-dataset vs per-group (TAKaggregate :896). */
  def aggregate(aggs: Column*): GraftFrame =
    if (!grouped) copy(df = df.agg(aggs.head, aggs.tail: _*))
    else GraftFrame(df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*))

  /** ROLLUP as per-group fold (grouped mode required in ECL). */
  def rollup(order: Seq[Column], runKeys: Seq[Column],
      aggs: Seq[Column]): GraftFrame = {
    require(grouped, "ROLLUP requires a grouped dataset")
    copy(df = DedupRollup.rollupRuns(df, keyCols ++ runKeys,
      keyCols ++ order, aggs), sortedBy = Nil)
  }

  /** ITERATE: per-group running fold via window (associative case). The
    * window is safe only when grouped (partitioned by the group keys);
    * ungrouped global running sums route through the two-pass
    * [[graft.ops.Positions.runningSumSorted]] scan — a bare
    * `Window.orderBy` would serialize the whole dataset onto one partition.
    */
  def runningSum(c: Column, order: Seq[Column], as: String): GraftFrame =
    if (grouped) {
      val w = Window.partitionBy(keyCols: _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      copy(df = df.withColumn(as, sum(c).over(w)), sortedBy = Nil)
    } else copy(df = graft.ops.Positions.runningSumSorted(df, c, order, as),
      sortedBy = Nil)

  /** CHOOSEN per group (grouped FIRSTN) or global limit. */
  def choosen(n: Int, order: Seq[Column]): GraftFrame =
    if (!grouped) copy(df = df.limit(n))
    else copy(df = Sorting.topnGrouped(df, n, keyCols, order), sortedBy = Nil)

  /** APPLY (TAKapply :904): driver-side side effect per row. */
  def apply_(f: org.apache.spark.sql.Row => Unit): Unit =
    df.foreach(new org.apache.spark.api.java.function.ForeachFunction[
      org.apache.spark.sql.Row] { def call(r: org.apache.spark.sql.Row): Unit = f(r) })
}

