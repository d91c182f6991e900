package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** AS-OF (temporal) join: for each left row, the single most recent right
  * row at-or-before the left row's timestamp, per key — the
  * quote-at-trade-time / feature-at-event-time join every time-series and
  * training-feature pipeline needs. The reference has no dedicated
  * activity for this (users compose SORT + ITERATE/ROLLUP per group, e.g.
  * the pattern behind `testing/regress/ecl/iterate*.ecl` run-carrying);
  * here it is a first-class operator with the lowering a 100 TB run
  * wants.
  *
  * Lowering — union-merge, NOT a range join: tag both inputs, union, and
  * run ONE window over (key) ordered by (ts, side) carrying the latest
  * right-side payload forward with `last(ignoreNulls)`. Cost is a single
  * hash shuffle + in-partition sort of |L|+|R| rows — linear, no per-row
  * range probe, no O(|L|·|R|) interval expansion, and Catalyst keeps the
  * whole carry inside one codegen'd Window stage. At equal timestamps the
  * right row sorts first (side 0 < side 1), so "at-or-before" includes
  * exact ties, matching DuckDB's `ASOF JOIN ... ON l.ts >= r.ts` oracle
  * semantics.
  *
  * Keys partition the window, so parallelism = #distinct keys; for the
  * entity-keyed workloads this serves (user, instrument, device) key
  * cardinality dwarfs the cluster. A single monster key degrades to one
  * task's local sort — the same bound as any per-key ordered fold
  * (ITERATE, session windows), and spill-safe because Spark's window
  * buffers only the carry column here, not the whole partition payload.
  * This is the only as-of lowering; DifferentialSpec pins the one-key
  * skew shape against a naive per-row scan.
  */
object Temporal {

  /** Left as-of join (backward): every left row survives; `payload`
    * columns from `right` arrive nulled when no right row is at-or-before
    * the left timestamp (or none within `tolerance`).
    *
    * @param toleranceSec right rows older than `leftTs - tolerance` do
    *        not match (null payload) — the "quote too stale" guard.
    *        The match itself is still the latest-at-or-before row; the
    *        tolerance only decides whether it counts.
    * @param forward match the EARLIEST right row at-or-AFTER the left
    *        timestamp instead (next-event semantics — "first fill after
    *        the order"); tolerance then bounds how far ahead.
    * @note right must be unique per (key, rightTs); pre-aggregate
    *       otherwise (the match would be nondeterministic).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String],
      toleranceSec: Option[Long] = None,
      forward: Boolean = false): DataFrame = {
    val leftCols = left.columns.toSeq
    // internal names staged on the merged stream would collide after the
    // union; `matched_ts`/payload names would collide in the final select
    val reserved = leftCols.filter(
      Set("__asof_p", "__asof_ts", "__asof_side", "__asof_m", "__asof_ok"))
    require(reserved.isEmpty,
      s"left input carries reserved as-of columns: ${reserved.mkString(", ")}")
    val clash = leftCols.filter(c => c == "matched_ts" || payload.contains(c))
    require(clash.isEmpty,
      "left columns collide with as-of output columns (matched_ts / " +
        s"payload): ${clash.mkString(", ")} — rename before joining")
    // right side: key + event time + payload rolled into one struct so the
    // window carries a single column regardless of payload width
    val rTagged = right.select(
      Seq(col(key), col(rightTs).as("__asof_ts"), lit(0).as("__asof_side"),
        struct(col(rightTs).as("__m_ts") +: payload.map(col): _*).as("__asof_p")) ++
        leftCols.filterNot(_ == key).map(c => lit(null).as(c)): _*)
    val lTagged = left.select(
      Seq(col(key), col(leftTs).as("__asof_ts"), lit(1).as("__asof_side"),
        lit(null).as("__asof_p")) ++
        leftCols.filterNot(_ == key).map(col): _*)
    // columns aligned by NAME (unionByName): rTagged nulls the left
    // payload, lTagged nulls the right struct
    val merged = rTagged.unionByName(lTagged)
    // backward: scan ascending, carry the latest right seen → at-or-before.
    // forward: scan DESCENDING, carry the latest (= smallest-ts) right
    // seen → at-or-after. Either way a right row at the exact left ts
    // sorts before the left row (side 0 first), so ties are included.
    val w = Window.partitionBy(col(key))
      .orderBy(if (forward) col("__asof_ts").desc else col("__asof_ts").asc,
        col("__asof_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = merged.withColumn("__asof_m", last(col("__asof_p"), ignoreNulls = true).over(w))
      .filter(col("__asof_side") === 1)
    val fresh = toleranceSec match {
      case Some(tol) if forward =>
        col("__asof_m").isNotNull &&
          col("__asof_m.__m_ts") <= col("__asof_ts") + expr(s"INTERVAL $tol SECONDS")
      case Some(tol) =>
        col("__asof_m").isNotNull &&
          col("__asof_m.__m_ts") >= col("__asof_ts") - expr(s"INTERVAL $tol SECONDS")
      case None => col("__asof_m").isNotNull
    }
    val matched = carried.withColumn("__asof_ok", fresh)
    val matchedCols =
      when(col("__asof_ok"), col("__asof_m.__m_ts")).as("matched_ts") +:
        payload.map(f => when(col("__asof_ok"), col(s"__asof_m.$f")).as(f))
    matched.select(leftCols.map(col) ++ matchedCols: _*)
  }

  /** Regular-grid resampling with fill-forward — the time-series
    * normalization every feature pipeline runs before windowed training
    * (irregular events → one row per key per step, carrying the last
    * observation forward). Composition: per-key span (one aggregate),
    * grid explode (`sequence` — linear, no driver loop), then
    * [[asofJoin]] against the original events. Grid ticks are
    * min + i·step per key, so the first tick always has a match.
    */
  def resampleFfill(
      df: DataFrame,
      key: String,
      ts: String,
      payload: Seq[String],
      stepSec: Long): DataFrame = {
    val span = df.groupBy(col(key)).agg(
      min(unix_micros(col(ts))).as("__lo"),
      max(unix_micros(col(ts))).as("__hi"))
    val stepUs = stepSec * 1000000L
    val grid = span.select(col(key),
        explode(sequence(lit(0L), floor((col("__hi") - col("__lo")) / stepUs)))
          .as("__i"),
        col("__lo"))
      .select(col(key),
        timestamp_micros(col("__lo") + col("__i") * stepUs).as("tick"))
    asofJoin(grid, df.select((col(key) +: col(ts).as("__ev_ts") +:
        payload.map(col)): _*),
      key, "tick", "__ev_ts", payload)
  }

  /** Slowly-changing-dimension type-2 history build: collapse a per-key
    * observation stream into validity intervals — one row per run of
    * unchanged `attrs`, with `effective_from` = first observation of the
    * run and `effective_to` = start of the next run (null while
    * current). The warehouse counterpart of [[DedupRollup]]'s
    * DEDUP-adjacent (`dedup(ds, field, RIGHT)` keeps run starts; the
    * interval endpoints need the NEXT run's start, hence the second
    * window pass). One hash shuffle on the key; both windows reuse the
    * same (key, ts) sort.
    */
  def scdType2(
      df: DataFrame,
      key: String,
      ts: String,
      attrs: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
    val attrStruct = struct(attrs.map(col): _*)
    val changes = df
      .withColumn("__prev", lag(attrStruct, 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= attrStruct)
      .drop("__prev")
    changes
      .withColumn("effective_from", col(ts))
      .withColumn("effective_to", lead(col(ts), 1).over(w))
      .drop(ts)
  }

  /** Staleness profile of an as-of join: per left-side `groupCol`, how old
    * the matched right row is (seconds), averaged — the data-freshness
    * report an event-time feature store publishes.
    */
  def asofStaleness(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      groupCol: String): DataFrame = {
    import graft.queries.CoreQueries.avgD
    asofJoin(left, right, key, leftTs, rightTs, Seq.empty)
      .filter(col("matched_ts").isNotNull)
      // integer micros difference divided by 1e6: the same binary double
      // on both engines, so the decimal-routed average is bitwise-stable
      .withColumn("age_s",
        (unix_micros(col(leftTs)) - unix_micros(col("matched_ts"))) / lit(1e6))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_matched"), avgD(col("age_s"), "avg_age_s"))
  }
}
