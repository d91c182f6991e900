package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set-operation / multi-input / reshaping operators (SURVEY §2.8, §2.10):
  * FUNNEL (append), MERGE, NONEMPTY, COMBINE (positional zip), NORMALIZE
  * (fan-out + child explode), REGROUP. Helpers
  * `rtl/include/eclhelper.hpp:1629` funnel, `:1639` merge, `:1635` nonempty,
  * `:1411` combine, `:1372` normalize, `:1482` normalize-child.
  */
object Shape {

  /** ds1 + ds2 (TAKfunnel :903) — concatenation. */
  def funnel(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionAll _)

  /** TAKsplit (:892): fan a stream out to N consumers. Spark recomputes
    * shared lineage per action, so the split analog is an explicit persist —
    * the one optimizer capability Catalyst does NOT provide (SURVEY §4.1
    * CSE row). Use on any subplan consumed more than once.
    */
  def split(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** MERGE(ds1, ds2, SORTED(keys) [, DEDUP]) (TAKmerge :937): ordered merge
    * of sorted inputs. In a declarative plan union+orderBy yields the same
    * ordered stream; Catalyst reuses the inputs' sortedness where possible.
    *
    * DEDUP collapses rows equal under the MERGE KEY comparator — not whole
    * rows (the reference's CStreamMerger dedups via the sort-key compare,
    * `IHThorMergeArg` :1639): key-equal rows with different payloads must
    * still collapse to one survivor. `dedupKeys` names the key columns;
    * the survivor is deterministic — the first row under `tiebreak` order
    * (MERGE reads inputs in argument order, so callers pass an input-rank
    * tiebreak to reproduce "first input wins").
    */
  def merge(dfs: Seq[DataFrame], keys: Seq[Column],
      dedup: Boolean = false, dedupKeys: Seq[String] = Nil,
      tiebreak: Seq[Column] = Nil): DataFrame = {
    val u = funnel(dfs)
    val d = if (!dedup) u else {
      val kn = if (dedupKeys.nonEmpty) dedupKeys else u.columns.toSeq
      // default tiebreak: the non-key columns — ordering by the partition
      // keys alone is constant within the window, so row_number()=1 would
      // pick a run-to-run nondeterministic survivor among key-equal rows
      // with different payloads
      val rest = u.columns.filterNot(kn.contains).map(col).toSeq
      val pick: Seq[Column] =
        if (tiebreak.nonEmpty) tiebreak
        else if (rest.nonEmpty) rest
        else kn.map(col)
      val w = Window.partitionBy(kn.map(col): _*).orderBy(pick: _*)
      u.withColumn("__mrn", row_number().over(w))
        .filter(col("__mrn") === 1).drop("__mrn")
    }
    d.orderBy(keys: _*)
  }

  /** NONEMPTY(ds1, ds2, ...) (TAKnonempty :1008): first non-empty input.
    * Plan-time choice on the driver; probes with limit(1) so no input is
    * fully evaluated.
    */
  def nonempty(dfs: Seq[DataFrame]): DataFrame =
    dfs.find(!_.isEmpty).getOrElse(dfs.last.limit(0))

  /** COMBINE(ds1, ds2, t(L,R)) (TAKcombine :981): POSITIONAL zip of two
    * equal-length datasets. Each side gets a scale-safe global position
    * ([[Positions.withGlobalPosition]] — range-partitioned sort + broadcast
    * offsets, never a single-partition window) and the sides equi-join on it.
    */
  def combine(l: DataFrame, lOrder: Seq[Column], r: DataFrame,
      rOrder: Seq[Column]): DataFrame = {
    val lw = Positions.withGlobalPosition(l, lOrder, "__pos")
    val rw = Positions.withGlobalPosition(r, rOrder, "__pos")
    lw.join(rw, "__pos").drop("__pos")
  }

  /** NORMALIZE(ds, n, t(LEFT, COUNTER)) (TAKnormalize :907): emit n rows per
    * input row; COUNTER (1-based) lands in `counterCol`. Fan-out via
    * explode(sequence) — stays in whole-stage codegen.
    */
  def normalize(df: DataFrame, n: Column, counterCol: String): DataFrame =
    df.withColumn(counterCol, explode(sequence(lit(1), n)))

  /** NORMALIZE(ds, ds.child, t(L,R)) (TAKnormalizechild :910): explode a
    * nested child-dataset column.
    */
  def normalizeChild(df: DataFrame, childCol: String, as: String): DataFrame =
    df.withColumn(as, explode(col(childCol))).drop(childCol)

  /** PROJECT(ds, t(LEFT, COUNTER)) (TAKcountproject :917): transform sees the
    * 1-based global row position over `order` (scale-safe two-pass position,
    * see [[Positions]]).
    */
  def countProject(df: DataFrame, order: Seq[Column],
      counterCol: String): DataFrame =
    Positions.withGlobalPosition(df, order, counterCol)
}
