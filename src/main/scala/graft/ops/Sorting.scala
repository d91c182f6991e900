package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SORT / TOPN / CHOOSEN / LIMIT / CHOOSESETS / SAMPLE / ENTH / QUANTILE —
  * the reference's order-and-select family (SURVEY §2.6; contracts
  * `rtl/include/eclhelper.hpp:1672` SORT, `:1697` TOPN, `:1272` CHOOSEN,
  * `:1448` LIMIT, `:1279` CHOOSESETS, `:1616` SAMPLE, `:1622` ENTH,
  * `:1399` QUANTILE).
  *
  * Scale notes: global SORT lowers to Spark's range-partitioned sort (the
  * same sample-based partition strategy as the reference's
  * `thorlcr/msort/tsortm.cpp:227` master). TOPN lowers to
  * `orderBy.limit(n)` which Catalyst executes as TakeOrderedAndProject —
  * per-partition heaps + driver merge, no global shuffle. The positional ops
  * (SAMPLE/ENTH/QUANTILE/ds[n]) require a defined global order; they use
  * the [[Positions]] two-pass scan — a range-partitioned sort plus
  * broadcast per-partition state — so every stage stays parallel (never a
  * single-partition window).
  */
object Sorting {

  /** Global stable sort. The reference's SORT is stable by default
    * (`JFunstable` opt-out, eclhelper.hpp:1744); Spark's sort is not —
    * callers needing stability must include a tiebreak column.
    */
  def sort(df: DataFrame, keys: Seq[Column]): DataFrame = df.orderBy(keys: _*)

  /** TOPN(ds, n, keys) — global top-n. TakeOrderedAndProject: no shuffle. */
  def topn(df: DataFrame, n: Int, keys: Seq[Column]): DataFrame =
    df.orderBy(keys: _*).limit(n)

  /** Grouped TOPN: top-n per group (per-group heap via window rank). */
  def topnGrouped(df: DataFrame, n: Int, groupKeys: Seq[Column],
      orderKeys: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(groupKeys: _*).orderBy(orderKeys: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** CHOOSEN(ds, n [, start]) — first n rows (1-based start offset) in
    * dataset order; order must be pinned by a prior sort.
    */
  def choosen(df: DataFrame, n: Int, start: Int = 1): DataFrame =
    if (start <= 1) df.limit(n) else df.offset(start - 1).limit(n)

  /** LIMIT(ds, n, FAIL) — a guard, not a truncation: error if |ds| > n
    * (eclhelper.hpp:1448). Uses limit(n+1) so only n+1 rows are ever pulled
    * — an early-exit probe, not a full count.
    *
    * The guarded `df` is re-evaluated by whatever consumes the return value;
    * for an expensive upstream plan, `df.persist()` before the guard (and
    * unpersist after the consumer) trades memory for the double scan. Not
    * done automatically: at 100 TB caching an unbounded input is the bigger
    * risk, and the reference's LIMIT likewise re-reads its spilled input.
    */
  def limitGuard(df: DataFrame, n: Long): DataFrame = {
    val c = df.limit((n + 1).min(Int.MaxValue).toInt).count()
    if (c > n) throw new IllegalStateException(
      s"LIMIT exceeded: dataset has more than $n rows")
    df
  }

  /** LIMIT(ds, n, SKIP) — empty result if the limit is exceeded. */
  def limitSkip(df: DataFrame, n: Long): DataFrame = {
    val c = df.limit((n + 1).min(Int.MaxValue).toInt).count()
    if (c > n) df.limit(0) else df
  }

  /** CHOOSESETS(ds, cond1 => n1, ...) — per-category row quotas: the first
    * n_i rows (in `order`) satisfying cond_i. A row counts toward the first
    * matching condition (reference semantics: conditions tested in order).
    */
  def choosesets(df: DataFrame, sets: Seq[(Column, Int)],
      order: Seq[Column]): DataFrame = {
    // categorize each row by the FIRST matching condition (0-based), -1 = none
    val cat = sets.zipWithIndex.foldRight(lit(-1)) {
      case (((cond, _), i), rest) => when(cond, lit(i)).otherwise(rest)
    }
    val quota = sets.zipWithIndex.foldLeft(lit(0)) {
      case (acc, ((_, n), i)) => when(col("__cat") === i, lit(n)).otherwise(acc)
    }
    val w = Window.partitionBy(col("__cat")).orderBy(order: _*)
    df.withColumn("__cat", cat)
      .filter(col("__cat") >= 0)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= quota)
      .drop("__cat", "__rn")
  }

  /** SAMPLE(ds, n [, which]) — deterministic every-nth row (phase `which`,
    * 1-based) over the given order. Unlike df.sample this is exactly
    * reproducible (helper `getProportion/getSampleNumber` eclhelper.hpp:1616).
    */
  def sample(df: DataFrame, n: Int, which: Int, order: Seq[Column]): DataFrame =
    Positions.withGlobalPosition(df, order, "__rn")
      .filter((col("__rn") - which) % n === 0)
      .drop("__rn")

  /** ENTH(ds, num, den [, which]) — evenly-spaced num-out-of-den selection
    * (helper eclhelper.hpp:1622). Row r (1-based) is kept iff
    * (r * num) % den < num, matching the reference's even-spacing arithmetic.
    */
  def enth(df: DataFrame, num: Long, den: Long, order: Seq[Column]): DataFrame =
    Positions.withGlobalPosition(df, order, "__rn")
      .filter((col("__rn") * num) % den < num)
      .drop("__rn")

  /** Deterministic hash sampling: keep a row iff
    * md5(key) mod 100 < pct. Unlike df.sample this is content-addressed —
    * the same key always samples the same way on any cluster, any
    * partitioning, any engine (the reproducibility contract training-data
    * pipelines need). Per-row decision, no shuffle, pushes down as a
    * filter.
    */
  def hashSamplePred(key: Column, pct: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 4), 16, 10)
      .cast("long") % 100 < pct

  /** Stratified hash sampling: per-stratum percentages (training-data
    * mixing — e.g. downsample dominant languages, keep all of rare ones).
    * Unlisted strata fall back to `defaultPct`.
    */
  def hashSampleBy(df: DataFrame, key: Column, stratum: Column,
      pctByStratum: Map[String, Int], defaultPct: Int): DataFrame = {
    val pct = pctByStratum.foldLeft(lit(defaultPct)) {
      case (acc, (s, p)) => when(stratum === s, p).otherwise(acc)
    }
    df.filter(hashSamplePred(key, pct))
  }

  /** QUANTILE(ds, n, keys) — the n-quantile boundary rows: for i in 1..n-1
    * the row at position ceil(i * N / n) of the sort order (exact variant;
    * helper `getNumDivisions` eclhelper.hpp:1399). Emits a `quantile` column
    * with the division index.
    */
  def quantile(df: DataFrame, n: Int, keys: Seq[Column]): DataFrame =
    // the total comes from pass 1 of the scan itself; pass 2 emits only
    // the boundary rows. A pre-existing `quantile` column still takes part
    // in `keys` and is replaced in the output.
    Positions.quantileRows(df, n, keys, "quantile")

  /** Grouped QUANTILE (TAKquantile on a GROUPED dataset — per-group
    * boundary rows; `testing/regress/ecl/quantile1.ecl:46-58` shows the
    * FIRST/LAST variants): for each group, the row at position
    * ceil(q·count/n) for q = 1..n-1, plus the group's first row as
    * quantile 0 under FIRST and its last row as quantile n under LAST.
    *
    * Lowering: a group-partitioned window would funnel each group into
    * ONE task — with few groups (order status, language, country) that is
    * a parallelism collapse at scale (3 tasks sorting 10⁹ rows each at
    * 100 TB). Instead: one RANGE sort on (groupKeys ++ order) — parallel
    * across all partitions regardless of group count — and a fused scan
    * ([[Positions.quantileRowsGrouped]]) that derives each group's count
    * from local run lengths plus O(1)-per-partition boundary stitching.
    * Row p of a group of c rows is the boundary for EXACTLY the integer
    * quantiles q with ceil(q·c/n) = p, i.e. q ∈ (n(p−1)/c, np/c], computed
    * with exact integer div, so the scan stays O(N + output). A null group
    * key is a group of its own, exactly as groupBy treats it; empty
    * groupKeys = one global group.
    */
  def quantileGrouped(df: DataFrame, n: Int, groupKeys: Seq[Column],
      order: Seq[Column], first: Boolean = false,
      last: Boolean = false): DataFrame =
    Positions.quantileRowsGrouped(df, n, groupKeys, order, first, last,
      "quantile")

  /** ds[n] — select the nth row (1-based) of the given order
    * (TAKselectn eclhelper.hpp:912).
    */
  def selectNth(df: DataFrame, n: Int, order: Seq[Column]): DataFrame =
    Positions.withGlobalPosition(df, order, "__rn")
      .filter(col("__rn") === n)
      .drop("__rn")
}
