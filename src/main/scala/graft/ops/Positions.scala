package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  InterpretedOrdering, JoinedRow, SortOrder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import scala.reflect.ClassTag

/** Scale-safe global-order primitives, and the only copy of the two-pass
  * per-partition scan.
  *
  * The reference's positional operators (SAMPLE/ENTH/QUANTILE/ds[n],
  * PROJECT COUNTER, COMBINE, adjacent DEDUP/ROLLUP, filepos assignment —
  * `rtl/include/eclhelper.hpp:1616,1622,1399,917,981,1535,1520`) all need a
  * deterministic global row order. The naive Spark lowering —
  * `row_number().over(Window.orderBy(...))` with no partitionBy — moves the
  * ENTIRE dataset to one partition (Spark logs a warning), which is serial
  * death at 100 TB.
  *
  * The scale-safe shape used here is the reference's own: a range-partitioned
  * sort (sampled split points, same strategy as `thorlcr/msort/tsortm.cpp`)
  * followed by a TWO-PASS per-partition scan:
  *
  *  - pass 1 ([[partitionSummaries]]) computes a tiny per-partition summary
  *    (row count, boundary keys) — one value per partition collected to the
  *    driver in partition order;
  *  - the driver's `plan` step ([[scanSorted]]) turns all summaries at once
  *    into each partition's initial state (cumulative offset, previous
  *    partition's last key, quantile boundaries);
  *  - pass 2 re-scans each partition with its initial state broadcast.
  *
  * Both passes share the same shuffle stage (same RDD lineage), so the sort
  * shuffle is written once; only the post-shuffle scan runs twice. Every
  * stage is parallel across the cluster; driver traffic is O(#partitions).
  * Every other per-partition summary pass in the engine (the SORTED assert
  * in `GraftFrame.checkSorted`, TeraSort's validation) calls
  * [[partitionSummaries]] too.
  *
  * Row model: both passes read Spark's own rows (`queryExecution.toRdd`,
  * `InternalRow`s) and pass 2's rows become a DataFrame again through
  * `GraftBridge.internalFrame` — no external `Row` and no encoder on
  * either side. Pass 2 only appends columns (`new JoinedRow(r,
  * InternalRow(x))`); dropping or replacing a column is a `drop` or
  * `withColumn` on the result.
  *
  * Copy rule: the sort's iterator may hand back the same row object on
  * every `next()`, so a row kept past `next()` (a boundary key, the
  * previous row's key) is `copy()`'d — [[RunTracker]] does it for the
  * key-run scans.
  *
  * Key equality: two rows have equal keys when [[keyOrdering]], Spark's
  * `InterpretedOrdering` over the key columns, compares them 0, on the
  * executors and in the driver's fold alike. Those are `groupBy`'s
  * groups: -0.0 is 0.0, all NaNs are one key, null is one key, binary
  * compares by bytes and structs field by field. Never `==` on rows:
  * `UnsafeRow` equality is byte equality, under which -0.0 ≠ 0.0.
  */
object Positions {

  private def sortedByRange(df: DataFrame, order: Seq[Column]): DataFrame =
    df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)

  /** Pass 1: `summarize` each partition of `rdd` — one Spark job, one value
    * per partition, returned in partition order (`collect` concatenates
    * task results by partition index).
    */
  private[graft] def partitionSummaries[R, S: ClassTag](rdd: RDD[R])(
      summarize: Iterator[R] => S): IndexedSeq[S] =
    rdd.mapPartitions(it => Iterator.single(summarize(it))).collect()
      .toIndexedSeq

  /** Generic two-pass ordered scan: `summarize` each sorted partition,
    * `plan` the state every partition starts from out of all summaries
    * (callers folding left pass `_.scanLeft(init)(advance)`), then `emit`
    * each partition's rows with its state. The result's columns are df's,
    * then `appended`; `emit` returns each input row it keeps, joined with
    * the values of `appended` (`new JoinedRow(r, InternalRow(...))`).
    * Both `summarize` and `emit` see rows that the next `next()` may
    * overwrite: copy what must outlive it (see the object's copy rule).
    *
    * Determinism contract: both passes share one RDD lineage (one shuffle
    * write, deterministic range bounds), but shuffle-read block order can
    * differ between the two post-shuffle sorts, so rows TIED under `order`
    * may settle differently in pass 2 than in pass 1. Callers whose
    * summaries depend on more than the row count (key-adjacency scans)
    * must pass an `order` that pins everything the summary reads — the
    * key-scan entry points below append the key columns to the sort for
    * exactly this reason.
    */
  def scanSorted[S: ClassTag, T](df: DataFrame, order: Seq[Column],
      appended: Seq[StructField])(
      summarize: Iterator[InternalRow] => S)(
      plan: IndexedSeq[S] => IndexedSeq[T])(
      emit: (T, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val spark = df.sparkSession
    val rdd = sortedByRange(df, order).queryExecution.toRdd
    // element i = the state partition i starts from
    val bc = spark.sparkContext.broadcast(
      plan(partitionSummaries(rdd)(summarize)))
    val out = rdd.mapPartitionsWithIndex((i, it) => emit(bc.value(i), it))
    GraftBridge.internalFrame(spark, out, StructType(df.schema ++ appended))
  }

  /** df sorted by `order` with a 1-based global position column appended —
    * the scale-safe `row_number() OVER (ORDER BY ...)`: per-partition counts
    * become cumulative offsets; position = offset + local index.
    */
  def withGlobalPosition(df: DataFrame, order: Seq[Column],
      posCol: String): DataFrame =
    scanSorted(df, order, Seq(StructField(posCol, LongType, nullable = false)))(
      countRows)(_.scanLeft(0L)(_ + _)) { (offset, rows) =>
      var i = offset
      rows.map { r => i += 1; new JoinedRow(r, InternalRow(i)) }
    }

  /** QUANTILE as one [[scanSorted]] call: pass 1 counts each partition,
    * the `plan` step turns the counts into offsets, the total and each
    * partition's boundary positions, and pass 2 emits ONLY boundary rows —
    * a partition holding no boundary returns without consuming its shuffle
    * input, and the others stop pulling rows after their last boundary.
    * One shuffle, no separate count, no join.
    *
    * Contract: rows at position ceil(q·total/n), q = 1..n−1, each emitted
    * once PER quantile index that lands on it (total < n puts several
    * indices on one row); a pre-existing `quantileCol` column participates
    * in `order` but is replaced in the output; output columns = df's
    * (minus `quantileCol`) in order, then `quantileCol`.
    */
  private[ops] def quantileRows(df: DataFrame, n: Int, order: Seq[Column],
      quantileCol: String): DataFrame = {
    val tmpQ = "__graft_q"
    scanSorted(df, order, Seq(StructField(tmpQ, IntegerType, nullable = false)))(
      countRows) { counts =>
      val offsets = counts.scanLeft(0L)(_ + _)
      val total = offsets.last
      // boundary positions, ascending; (q·total + n − 1) div n is exact
      // integer ceil(q·total/n) for any total below 2^63/n
      var rest = (1 until n).map(q => ((q.toLong * total + n - 1) / n, q))
      // partition i: its offset and the boundaries inside (lo, hi], its
      // 1-based global ranks
      counts.indices.map { i =>
        val (mine, later) = rest.span(_._1 <= offsets(i + 1))
        rest = later
        (offsets(i), mine)
      }
    } { case ((lo, qps), it) =>
      // a partition holding no boundary leaves its shuffle input unread;
      // the others stop pulling rows after their last boundary
      if (qps.isEmpty) Iterator.empty
      else {
        var p = lo; var j = 0
        it.takeWhile(_ => j < qps.length).flatMap { r =>
          p += 1
          if (qps(j)._1 == p) {
            val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
            while (j < qps.length && qps(j)._1 == p) {
              rows += new JoinedRow(r, InternalRow(qps(j)._2)); j += 1
            }
            rows
          } else Nil
        }
      }
    }.drop(quantileCol).withColumnRenamed(tmpQ, quantileCol)
  }

  /** Grouped QUANTILE as a fused ordered scan: no per-group stats
    * aggregate joined back onto positioned rows (at many-group scale that
    * join is a second input-sized exchange). Groups are CONTIGUOUS under
    * the (groupKeys ++ order) range sort, so per-row group stats need only
    * (a) each partition's local run lengths and (b) how its first/last runs
    * continue into neighboring partitions. Pass 1 ([[partitionSummaries]]
    * of [[keyRunSummary]]) collects an O(1)-per-partition summary; the
    * driver stitches boundary runs into carry-in/tail-carry row counts;
    * pass 2 zips the sorted partition with itself — one keys-only iterator
    * records the local run lengths (8 bytes per local group, the only
    * per-task state), the other emits boundary rows.
    *
    * Pass 2 is this keys-then-rows `zipPartitions`, not [[scanSorted]]'s
    * single iterator: a row's quantiles need its run's full length before
    * the run's first row is emitted, and buffering a run instead would
    * hold up to one partition of rows in the task.
    *
    * Output contract: per group of c rows the row
    * at rank ceil(q·c/n) for q = 1..n−1 (one output row PER index when
    * several land on one row), plus rank 1 as 0 under `first` and rank c
    * as n under `last`; a pre-existing `quantileCol` is replaced in place,
    * otherwise the column is appended. Rows tied under (groupKeys ++
    * order) may settle differently between the passes — pass 1 and the
    * keys-only iterator read nothing beyond the keys, so summaries and run
    * lengths are unaffected (the same contract every key-scan here has).
    * Groups are those of `groupBy` (see the object's key equality).
    */
  private[ops] def quantileRowsGrouped(df: DataFrame, n: Int,
      groupKeys: Seq[Column], order: Seq[Column], first: Boolean,
      last: Boolean, quantileCol: String): DataFrame = {
    val spark = df.sparkSession
    val (proj, keyNames) = withKeyCols(df, groupKeys, "__qk")
    val ord = keyOrdering(proj.schema, keyNames)
    val rdd = sortedByRange(proj, keyNames.map(col) ++ order)
      .queryExecution.toRdd
    val sums = partitionSummaries(rdd)(keyRunSummary(ord))
    // driver stitch, once per scan direction: carried(i) = rows of the run
    // partition i enters first that lie in partitions scanned before it.
    // A one-run partition passes its run on; empty ones are transparent.
    def carried(scan: Seq[Int], enters: KeyRun => Option[InternalRow],
        leaves: KeyRun => (Option[InternalRow], Long)): Array[Long] = {
      val out = new Array[Long](sums.length)
      var run = (Option.empty[InternalRow], 0L) // (key, rows so far)
      for (i <- scan; s = sums(i) if s.rows > 0L) {
        val continues = sameKey(ord)(run._1, enters(s))
        if (continues) out(i) = run._2
        run = if (continues && s.runs == 1L) (run._1, run._2 + s.rows)
          else leaves(s)
      }
      out
    }
    val carryIn = carried(sums.indices, _.first, s => (s.last, s.lastLen))
    val tailCarry =
      carried(sums.indices.reverse, _.last, s => (s.first, s.firstLen))
    val tmpQ = "__graft_q"
    val nL = n.toLong
    val bc = spark.sparkContext.broadcast((carryIn, tailCarry))
    val out = rdd.zipPartitions(rdd) { (keysIt, rowsIt) =>
      // iterator A (keys only): local run lengths, in run order
      val runs = scala.collection.mutable.ArrayBuffer.empty[Long]
      val tracker = new RunTracker(ord, null)
      while (keysIt.hasNext) {
        if (tracker.starts(keysIt.next())) runs += 0L
        runs(runs.length - 1) += 1L
      }
      if (runs.isEmpty) Iterator.empty
      else {
        // partition index is not passed by zipPartitions; recover carries
        // via TaskContext (same task = same partition for both parents)
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val (cins, tcs) = bc.value
        val ci = cins(pid); val tc = tcs(pid)
        val lastRun = runs.length - 1
        var run = 0; var emitted = 0L // rows consumed of the current run
        var rank = ci // global rank within the current group, pre-increment
        rowsIt.flatMap { r =>
          if (emitted == runs(run)) { run += 1; emitted = 0L; rank = 0L }
          emitted += 1L; rank += 1L
          val c = runs(run) +
            (if (run == 0) ci else 0L) + (if (run == lastRun) tc else 0L)
          val qlo = nL * (rank - 1L) / c + 1L
          val qhi = math.min(nL - 1L, nL * rank / c)
          val nOut = (if (first && rank == 1L) 1 else 0) +
            (if (qhi >= qlo) (qhi - qlo + 1L).toInt else 0) +
            (if (last && rank == c) 1 else 0)
          if (nOut == 0) Nil
          else {
            def mk(q: Int): InternalRow = new JoinedRow(r, InternalRow(q))
            val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
            if (first && rank == 1L) rows += mk(0)
            var q = qlo
            while (q <= qhi) { rows += mk(q.toInt); q += 1L }
            if (last && rank == c) rows += mk(n)
            rows
          }
        }
      }
    }
    // quantileCol replaces the caller's column in place, or is appended
    GraftBridge.internalFrame(spark, out,
      proj.schema.add(StructField(tmpQ, IntegerType, nullable = false)))
      .drop(keyNames: _*).withColumn(quantileCol, col(tmpQ)).drop(tmpQ)
  }

  /** Scale-safe global running sum (ungrouped ITERATE/PROCESS with an
    * associative accumulator): the two-pass scan replaces the
    * `sum().over(Window.orderBy(...))` lowering, which moves the whole
    * dataset to ONE partition. Pass 1 sums each sorted partition; the
    * fold turns those into per-partition starting offsets; pass 2 emits
    * the prefix sums. Accumulates exactly: integrals in Long, decimals in
    * Spark's Decimal (result widened +10 precision digits like Spark's
    * SUM; a prefix sum that does not fit fails with
    * NUMERIC_VALUE_OUT_OF_RANGE rather than turning null), everything
    * else in Double. Nulls count as zero. `order` must be a total order
    * (append a tiebreak column if needed) — ties may settle differently
    * between the two passes otherwise.
    */
  def runningSumSorted(df: DataFrame, value: Column, order: Seq[Column],
      as: String): DataFrame = {
    import org.apache.spark.sql.types._
    val (castTo, outDt): (DataType, DataType) =
      df.select(value).schema.head.dataType match {
        case d: DecimalType =>
          (d, DecimalType(math.min(38, d.precision + 10), d.scale))
        case ByteType | ShortType | IntegerType | LongType =>
          (LongType, LongType)
        case _ => (DoubleType, DoubleType)
      }
    val tmp = "__graft_rs_v"
    val wv = df.withColumn(tmp, value.cast(castTo))
    val vi = wv.schema.fieldIndex(tmp)
    val zero: Any = outDt match {
      case _: DecimalType => Decimal(0)
      case LongType       => 0L
      case _              => 0.0
    }
    def plus(a: Any, b: Any): Any = (a, b) match {
      case (x: Long, y: Long)       => x + y
      case (x: Double, y: Double)   => x + y
      case (x: Decimal, y: Decimal) => x + y
    }
    def valueOf(r: InternalRow): Any =
      if (r.isNullAt(vi)) zero else r.get(vi, castTo)
    def result(acc: Any): Any = (acc, outDt) match {
      case (d: Decimal, t: DecimalType) =>
        val out = d.clone()
        if (!out.changePrecision(t.precision, t.scale))
          throw new ArithmeticException(
            s"NUMERIC_VALUE_OUT_OF_RANGE: running sum $d does not fit $t")
        out
      case _ => acc
    }
    scanSorted[Any, Any](wv, order,
      Seq(StructField(as, outDt, nullable = false)))(
      it => it.foldLeft(zero)((acc, r) => plus(acc, valueOf(r))))(
      _.scanLeft(zero)(plus)) { (offset, rows) =>
      var acc = offset
      rows.map { r =>
        acc = plus(acc, valueOf(r)); new JoinedRow(r, InternalRow(result(acc)))
      }
    }.drop(tmp)
  }

  /** Pass-1 summary of the positional scans: the partition's row count. */
  private def countRows(it: Iterator[InternalRow]): Long = {
    var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
  }

  /** Key equality of the ordered scans: Spark's own ordering over the
    * `keys` columns of `schema` (see the object's key equality).
    * Interpreted, not generated: a scan compiles no ordering class.
    */
  private[ops] def keyOrdering(schema: StructType,
      keys: Seq[String]): InterpretedOrdering =
    new InterpretedOrdering(keys.map { k =>
      val i = schema.fieldIndex(k)
      SortOrder(BoundReference(i, schema(i).dataType, nullable = true),
        Ascending)
    })

  private def sameKey(ord: InterpretedOrdering)(a: Option[InternalRow],
      b: Option[InternalRow]): Boolean =
    a.zip(b).exists { case (x, y) => ord.compare(x, y) == 0 }

  /** The key run of a sorted scan: `starts(r)` is true when `r`'s key
    * differs from the last run's (or no run came before), and then keeps
    * a copy of `r` as `last` — the scan may reuse the row object.
    */
  private[ops] final class RunTracker(ord: InterpretedOrdering,
      var last: InternalRow) {
    def starts(r: InternalRow): Boolean = {
      val s = last == null || ord.compare(last, r) != 0
      if (s) last = r.copy()
      s
    }
  }

  /** Per-partition boundary summary for key-adjacency scans: row count,
    * first and last key (a row of that key) with their runs' lengths in
    * the partition, and the number of runs.
    */
  private[ops] final case class KeyRun(rows: Long,
      first: Option[InternalRow], firstLen: Long,
      last: Option[InternalRow], lastLen: Long, runs: Long)

  private[ops] def keyRunSummary(ord: InterpretedOrdering)(
      it: Iterator[InternalRow]): KeyRun = {
    val tracker = new RunTracker(ord, null)
    var rows = 0L; var runs = 0L
    var first: InternalRow = null; var firstLen = 0L; var lastLen = 0L
    while (it.hasNext) {
      rows += 1
      if (tracker.starts(it.next())) {
        runs += 1; lastLen = 0L
        if (first == null) first = tracker.last
      }
      if (tracker.last eq first) firstLen += 1 // still the leading run
      lastLen += 1
    }
    KeyRun(rows, Option(first), firstLen, Option(tracker.last), lastLen, runs)
  }

  /** State carried into a partition by the key-adjacency fold: the last key
    * of the preceding non-empty partition and the number of runs before it.
    */
  private[ops] def advanceKeyRun(ord: InterpretedOrdering)(
      state: (Option[InternalRow], Long), s: KeyRun): (Option[InternalRow], Long) =
    if (s.rows == 0L) state
    else {
      val continues = sameKey(ord)(state._1, s.first)
      (s.last, state._2 + s.runs - (if (continues) 1 else 0))
    }

  /** Materialize key expressions as temp columns so [[keyOrdering]] can
    * bind them by ordinal; returns (projected df, temp names).
    */
  private[ops] def withKeyCols(df: DataFrame, keys: Seq[Column],
      prefix: String): (DataFrame, Seq[String]) = {
    val names = keys.indices.map(i => s"$prefix$i")
    (keys.zip(names).foldLeft(df) { case (d, (k, n)) => d.withColumn(n, k) },
      names)
  }
}
