package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
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
  */
object Positions {

  private def sortedByRange(df: DataFrame, order: Seq[Column]): DataFrame =
    df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)

  /** Pass 1: `summarize` each partition of `rdd` — one Spark job, one value
    * per partition, returned in partition order (`collect` concatenates
    * task results by partition index).
    */
  private[graft] def partitionSummaries[S: ClassTag](rdd: RDD[Row])(
      summarize: Iterator[Row] => S): IndexedSeq[S] =
    rdd.mapPartitions(it => Iterator.single(summarize(it))).collect()
      .toIndexedSeq

  /** Generic two-pass ordered scan: `summarize` each sorted partition,
    * `plan` the state every partition starts from out of all summaries
    * (callers folding left pass `_.scanLeft(init)(advance)`), then `emit`
    * each partition's rows with its state.
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
      outSchema: StructType)(
      summarize: Iterator[Row] => S)(
      plan: IndexedSeq[S] => IndexedSeq[T])(
      emit: (T, Iterator[Row]) => Iterator[Row]): DataFrame = {
    val spark = df.sparkSession
    val rdd = sortedByRange(df, order).rdd
    // element i = the state partition i starts from
    val bc = spark.sparkContext.broadcast(
      plan(partitionSummaries(rdd)(summarize)))
    val out = rdd.mapPartitionsWithIndex((i, it) => emit(bc.value(i), it))
    spark.createDataFrame(out, outSchema)
  }

  /** df sorted by `order` with a 1-based global position column appended —
    * the scale-safe `row_number() OVER (ORDER BY ...)`: per-partition counts
    * become cumulative offsets; position = offset + local index.
    */
  def withGlobalPosition(df: DataFrame, order: Seq[Column],
      posCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(posCol, LongType, nullable = false))
    scanSorted(df, order, outSchema)(
      countRows)(_.scanLeft(0L)(_ + _)) { (offset, rows) =>
      var i = offset
      rows.map { r => i += 1; Row.fromSeq(r.toSeq :+ i) }
    }
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
    val dropIdx: Int =
      df.schema.fields.indexWhere(_.name == quantileCol) // -1 if absent
    val outSchema = StructType(
      df.schema.fields.filterNot(_.name == quantileCol) :+
        StructField(quantileCol, IntegerType, nullable = false))
    scanSorted(df, order, outSchema)(countRows) { counts =>
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
            val s = r.toSeq
            val base = if (dropIdx >= 0) s.patch(dropIdx, Nil, 1) else s
            val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
            while (j < qps.length && qps(j)._1 == p) {
              rows += Row.fromSeq(base :+ qps(j)._2); j += 1
            }
            rows
          } else Nil
        }
      }
    }
  }

  /** Grouped QUANTILE as a fused ordered scan: no per-group stats
    * aggregate joined back onto positioned rows (at many-group scale that
    * join is a second input-sized exchange). Groups are CONTIGUOUS under
    * the (groupKeys ++ order) range sort, so per-row group stats need only
    * (a) each partition's local run lengths and (b) how its first/last runs
    * continue into neighboring partitions. Pass 1 ([[partitionSummaries]])
    * collects an O(1)-per-partition summary (count, first/last key,
    * first/last run length); the driver stitches boundary runs into
    * carry-in/tail-carry row counts; pass 2 zips the sorted partition with
    * itself — one keys-only iterator records the local run lengths (8
    * bytes per local group, the only per-task state), the other emits
    * boundary rows.
    *
    * Pass 2 is this keys-then-rows `zipPartitions`, not [[scanSorted]]'s
    * single iterator: a row's quantiles need its run's full length before
    * the run's first row is emitted, and buffering a run instead would
    * hold up to one partition of external Rows in the task.
    *
    * Output contract: per group of c rows the row
    * at rank ceil(q·c/n) for q = 1..n−1 (one output row PER index when
    * several land on one row), plus rank 1 as 0 under `first` and rank c
    * as n under `last`; a pre-existing `quantileCol` is replaced in place,
    * otherwise the column is appended. Rows tied under (groupKeys ++
    * order) may settle differently between the passes — pass 1 and the
    * keys-only iterator read nothing beyond the keys, so summaries and run
    * lengths are unaffected (the same contract every key-scan here has).
    * Groups are those of `groupBy`: keys compare through `normKey`, so
    * -0.0 and 0.0 are one group, all NaNs one group, null one group.
    */
  private[ops] def quantileRowsGrouped(df: DataFrame, n: Int,
      groupKeys: Seq[Column], order: Seq[Column], first: Boolean,
      last: Boolean, quantileCol: String): DataFrame = {
    val spark = df.sparkSession
    val (proj, keyNames) = withKeyCols(df, groupKeys, "__qk")
    val keyIdx: Seq[Int] = keyNames.map(proj.schema.fieldIndex)
    val rdd = sortedByRange(proj,
      keyNames.map(org.apache.spark.sql.functions.col) ++ order).rdd
    // pass 1: O(1)-per-partition boundary summary
    val sums = partitionSummaries(rdd) { it =>
      var c = 0L
      var fk: Seq[Any] = null; var fr = 0L
      var lk: Seq[Any] = null; var lr = 0L
      while (it.hasNext) {
        val r = it.next(); val k = keyOf(r, keyIdx); c += 1
        if (fk == null) { fk = k; lk = k }
        if (k != lk) { lk = k; lr = 0L }
        if (lk == fk) fr += 1 // sorted ⇒ fk can only be the leading run
        lr += 1
      }
      (c, fk, fr, lk, lr)
    }
    // driver stitch: carryIn(i) = rows of partition i's FIRST group lying
    // in earlier partitions; tailCarry(i) = rows of its LAST group lying in
    // later partitions. Sorted order ⇒ firstKey == lastKey iff the whole
    // partition is one run; empty partitions are transparent.
    val offsets = sums.map(_._1).scanLeft(0L)(_ + _)
    val carryIn = new Array[Long](sums.length)
    val tailCarry = new Array[Long](sums.length)
    var runKey: Seq[Any] = null; var runLen = 0L
    for (i <- sums.indices) {
      val (c, fk, _, lk, lr) = sums(i)
      if (c > 0L) {
        carryIn(i) = if (runKey != null && fk == runKey) runLen else 0L
        if (fk == lk) {
          if (runKey != null && fk == runKey) runLen += c
          else { runKey = lk; runLen = c }
        } else { runKey = lk; runLen = lr }
      }
    }
    runKey = null; runLen = 0L
    for (i <- sums.indices.reverse) {
      val (c, fk, fr, lk, _) = sums(i)
      if (c > 0L) {
        tailCarry(i) = if (runKey != null && lk == runKey) runLen else 0L
        if (fk == lk) {
          if (runKey != null && lk == runKey) runLen += c
          else { runKey = fk; runLen = c }
        } else { runKey = fk; runLen = fr }
      }
    }
    // output: proj minus the key temp columns, quantileCol replaced in
    // place when the caller already has one, appended otherwise
    val dropIdx: Set[Int] = keyIdx.toSet
    val kept = proj.schema.fields.zipWithIndex
      .filterNot { case (_, i) => dropIdx(i) }
    val qField = StructField(quantileCol, IntegerType, nullable = false)
    val existingQ = kept.indexWhere(_._1.name == quantileCol)
    val outSchema = StructType(
      if (existingQ >= 0) kept.map(_._1).updated(existingQ, qField)
      else kept.map(_._1) :+ qField)
    val keptIdx = kept.map(_._2)
    val nL = n.toLong
    val bc = spark.sparkContext.broadcast((carryIn, tailCarry))
    val out = rdd.zipPartitions(rdd) { (keysIt, rowsIt) =>
      // iterator A (keys only): local run lengths, in run order
      val runs = scala.collection.mutable.ArrayBuffer.empty[Long]
      var lk: Seq[Any] = null
      while (keysIt.hasNext) {
        val k = keyOf(keysIt.next(), keyIdx)
        if (lk == null || k != lk) { runs += 0L; lk = k }
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
            val s = r.toSeq
            val base = keptIdx.map(s)
            def mk(q: Int): Row = Row.fromSeq(
              if (existingQ >= 0) base.updated(existingQ, q) else base :+ q)
            val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
            if (first && rank == 1L) rows += mk(0)
            var q = qlo
            while (q <= qhi) { rows += mk(q.toInt); q += 1L }
            if (last && rank == c) rows += mk(n)
            rows
          }
        }
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Scale-safe global running sum (ungrouped ITERATE/PROCESS with an
    * associative accumulator): the two-pass scan replaces the
    * `sum().over(Window.orderBy(...))` lowering, which moves the whole
    * dataset to ONE partition. Pass 1 sums each sorted partition; the
    * fold turns those into per-partition starting offsets; pass 2 emits
    * the prefix sums. Accumulates exactly: integrals in Long, decimals in
    * BigDecimal (result widened +10 precision digits like Spark's SUM),
    * everything else in Double. Nulls count as zero. `order` must be a
    * total order (append a tiebreak column if needed) — ties may settle
    * differently between the two passes otherwise.
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
    val outSchema = StructType(df.schema.fields :+
      StructField(as, outDt, nullable = false))
    val zero: Any = outDt match {
      case _: DecimalType => java.math.BigDecimal.ZERO
      case LongType       => 0L
      case _              => 0.0
    }
    def plus(a: Any, b: Any): Any = (a, b) match {
      case (x: Long, y: Long)     => x + y
      case (x: Double, y: Double) => x + y
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
    }
    def valueOf(r: Row): Any =
      if (r.isNullAt(vi)) zero
      else r.get(vi) match {
        case d: BigDecimal => d.bigDecimal
        case x             => x
      }
    scanSorted[Any, Any](wv, order, outSchema)(
      it => it.foldLeft(zero)((acc, r) => plus(acc, valueOf(r))))(
      _.scanLeft(zero)(plus)) { (offset, rows) =>
      var acc = offset
      rows.map { r => acc = plus(acc, valueOf(r)); Row.fromSeq(r.toSeq.init :+ acc) }
    }
  }

  /** Pass-1 summary of the positional scans: the partition's row count. */
  private def countRows(it: Iterator[Row]): Long = {
    var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
  }

  /** Normalize a key value so that Scala equality on key Seqs groups rows
    * exactly as `groupBy` does (null-safe, Spark's NormalizeFloatingNumbers):
    *  - `Row.get` returns `Array[Byte]` for BinaryType, whose `equals` is
    *    reference identity; an immutable ArraySeq compares the bytes.
    *  - -0.0 becomes 0.0 (Double and Float), so both signs are one key.
    *  - Every NaN becomes one sentinel. Scala's `==` on boxed floating
    *    values is IEEE (NaN != NaN), which would make each NaN row a run of
    *    its own; the range sort already places all NaNs together.
    *  - null stays null, one key of its own (`null == null`).
    * Floating values nested in structs or arrays are not normalized.
    */
  private[ops] def normKey(v: Any): Any = v match {
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case d: Double => if (d.isNaN) NaNKey else if (d == 0.0d) 0.0d else d
    case f: Float => if (f.isNaN) NaNKey else if (f == 0.0f) 0.0f else f
    case other => other
  }

  private case object NaNKey

  /** Read the key tuple of one row (normalized for value equality). */
  private[ops] def keyOf(r: Row, keyIdx: Seq[Int]): Seq[Any] =
    keyIdx.map(i => normKey(r.get(i)))

  /** Per-partition boundary summary for key-adjacency scans. */
  private[ops] final case class KeyRun(
      first: Option[Seq[Any]], last: Option[Seq[Any]], runs: Long)

  private[ops] def keyRunSummary(keyIdx: Seq[Int])(
      it: Iterator[Row]): KeyRun = {
    var first: Seq[Any] = null
    var last: Seq[Any] = null
    var runs = 0L
    while (it.hasNext) {
      // evaluate the row ONCE, then index it (a keyIdx.map(r.get) over a
      // shared it.next() prefix would consume one row per key column)
      val r = it.next()
      val k = keyOf(r, keyIdx)
      if (first == null) first = k
      if (last == null || k != last) runs += 1
      last = k
    }
    KeyRun(Option(first), Option(last), runs)
  }

  /** State carried into a partition by the key-adjacency fold: the last key
    * of the preceding non-empty partition and the number of runs before it.
    */
  private[ops] def advanceKeyRun(state: (Option[Seq[Any]], Long),
      s: KeyRun): (Option[Seq[Any]], Long) =
    s.first match {
      case None => state
      case Some(f) =>
        val continues = state._1.contains(f)
        (s.last, state._2 + s.runs - (if (continues) 1 else 0))
    }

  /** Materialize key expressions as temp columns so pass-2 row lambdas can
    * read them by index; returns (projected df, temp names).
    */
  private[ops] def withKeyCols(df: DataFrame, keys: Seq[Column],
      prefix: String): (DataFrame, Seq[String]) = {
    val names = keys.indices.map(i => s"$prefix$i")
    (keys.zip(names).foldLeft(df) { case (d, (k, n)) => d.withColumn(n, k) },
      names)
  }
}
