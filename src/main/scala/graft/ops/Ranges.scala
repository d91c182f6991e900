package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.functions._

/** Range (interval) joins: point-in-interval and interval-overlap — the
  * second half of the temporal-join family next to [[Temporal.asofJoin]].
  * ECL expresses these as JOIN with inequality conditions, which the
  * reference executes as an ALL join (nested loop — `TAKalljoin`,
  * `rtl/include/eclhelper.hpp`); Spark's native lowering for a pure
  * inequality condition is likewise BroadcastNestedLoopJoin — O(|L|·|R|).
  *
  * Lowering here — bucketed equi-join: pick a bucket width `w`, map each
  * point to bucket floor(t/w), explode each interval to every bucket it
  * spans, then EQUI-join on the bucket id with the exact range predicate
  * as the residual. Cost: one linear explode (intervals × avg-span/w
  * buckets) + one hash-partitioned equi-join — shuffle-parallel on the
  * bucket key, never a cartesian. Worst-case blowup is controlled by `w`:
  * choose w ≈ typical interval length so the average interval lands in
  * ~2 buckets.
  *
  * The overlap variant is dedup-free: a candidate pair could meet in every
  * shared bucket, so each pair is counted ONLY in the bucket holding
  * max(start1, start2) — which both sides span by definition of overlap —
  * making the match unique without a distinct.
  */
object Ranges {

  /** Point-in-interval join (inner): rows of `points` paired with every
    * row of `intervals` whose [startCol, endCol) half-open range contains
    * the point. Columns from both inputs survive; name collisions are the
    * caller's to resolve.
    *
    * @param bucketSec bucket width in seconds; choose ≈ the typical
    *        interval length (explode factor = span/width + 1).
    */
  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      pointTs: String,
      startTs: String,
      endTs: String,
      bucketSec: Long): DataFrame = {
    val p = points.withColumn("__rj_b",
      floor(unix_micros(col(pointTs)) / lit(bucketSec * 1000000L)))
    val iv = intervals.withColumn("__rj_b",
      explode(sequence(
        floor(unix_micros(col(startTs)) / lit(bucketSec * 1000000L)),
        // end is exclusive: a point exactly at `end` does not match, so the
        // last candidate bucket is the one containing end - 1µs
        floor((unix_micros(col(endTs)) - lit(1L)) / lit(bucketSec * 1000000L)))))
    p.join(iv, Seq("__rj_b"))
      .filter(col(pointTs) >= col(startTs) && col(pointTs) < col(endTs))
      .drop("__rj_b")
  }

  /** Interval-overlap join (inner): pairs (a, b) with
    * a.start < b.end AND b.start < a.end (half-open overlap). Dedup-free:
    * the pair materializes only in the bucket of max(aStart, bStart).
    */
  def intervalOverlap(
      a: DataFrame,
      b: DataFrame,
      aStart: String, aEnd: String,
      bStart: String, bEnd: String,
      bucketSec: Long): DataFrame = {
    val w = bucketSec * 1000000L
    val ae = a.withColumn("__rj_b",
      explode(sequence(
        floor(unix_micros(col(aStart)) / lit(w)),
        floor((unix_micros(col(aEnd)) - lit(1L)) / lit(w)))))
    val be = b.withColumn("__rj_bb",
      explode(sequence(
        floor(unix_micros(col(bStart)) / lit(w)),
        floor((unix_micros(col(bEnd)) - lit(1L)) / lit(w)))))
    ae.join(be, col("__rj_b") === col("__rj_bb"))
      .filter(col(aStart) < col(bEnd) && col(bStart) < col(aEnd))
      // count each overlapping pair exactly once: in the bucket that
      // contains the later of the two starts (both sides span it)
      .filter(col("__rj_b") ===
        floor(greatest(unix_micros(col(aStart)), unix_micros(col(bStart))) / lit(w)))
      .drop("__rj_b", "__rj_bb")
  }

  /** Per-key overlap COUNTS — the aggregate form of [[intervalOverlap]]
    * for callers that only need `COUNT(*) GROUP BY a-key` (zero-count keys
    * dropped, matching the inner join). r19, guide §1.1 first-principles:
    * counting overlaps never needs the pair product. With half-open
    * overlap (aStart < bEnd AND bStart < aEnd) and per-row constants,
    *
    *   n(a) = #{b : bStart < aEnd} − #{b : bEnd <= aStart}
    *
    * (the two excluded sets partition the non-overlapping b's, disjoint
    * because aStart < aEnd). Both ranks come from ONE range-sorted
    * boundary sweep over 2|A|+2|B| narrow rows (Positions.scanSorted —
    * the same two-pass offsets machinery as the positional operators),
    * so cost is O((A+B) log) regardless of how dense the overlaps are,
    * where the bucketed pair join materializes every overlapping pair
    * (quadratic in per-bucket density). Tie order is pinned by the typ
    * ordering: at equal t, start-count queries (0) precede b-ends (1),
    * which precede b-starts (2), which precede end-count queries (3) —
    * exactly the strict/inclusive mix the two ranks need.
    *
    * Rows with null bounds produce no counts (and no output), matching
    * the bucketed join, whose null bucket sequences explode to nothing.
    *
    * PRECONDITION (r19 advice): intervals must be well-formed — aStart ≤
    * aEnd and bStart < bEnd (STRICT on the b side). The rank identity
    * needs {b : bEnd ≤ aStart} ⊆ {b : bStart < aEnd}; with bStart < bEnd,
    * bEnd ≤ aStart ≤ aEnd gives bStart < aEnd, so the identity holds even
    * for zero-width a (for which the formula still counts exactly the
    * half-open overlaps — RangesSpec pins one). A zero-width b coinciding
    * with an a boundary, or an inverted interval on either side, breaks
    * the containment and yields negative deltas that silently undercount
    * (zero-width a meeting zero-width b at the same instant reads
    * n(a) = −1 where the join form yields no pair). Degenerate rows
    * therefore FAIL LOUDLY here (raise_error, one codegen'd comparison
    * per row) instead of returning wrong counts; callers with zero-width
    * b data should use the pair-producing [[intervalOverlap]].
    */
  def intervalOverlapCounts(
      a: DataFrame, keys: Seq[String],
      aStart: String, aEnd: String,
      b: DataFrame, bStart: String, bEnd: String,
      as: String): DataFrame = {
    import org.apache.spark.sql.types._
    val keyFields = keys.map(k => a.schema(a.schema.fieldIndex(k)))
    val t = "__io_t"; val typ = "__io_typ"; val delta = "__io_delta"
    // each side emits BOTH its boundary points from one scan (explode of a
    // 2-element array) rather than two scans per side
    def pts(df: DataFrame, ts1: Column, typ1: Int, ts2: Column, typ2: Int,
        withKeys: Boolean): DataFrame = {
      val kCols =
        if (withKeys) keys.map(col)
        else keyFields.map(f => lit(null).cast(f.dataType).as(f.name))
      df.select(explode(array(
          struct(unix_micros(ts1).as(t), lit(typ1).as(typ)),
          struct(unix_micros(ts2).as(t), lit(typ2).as(typ)))).as("__io_p") +:
          kCols: _*)
        .select(col(s"__io_p.$t").as(t) +: col(s"__io_p.$typ").as(typ) +:
          kCols.indices.map(i => col(keyFields(i).name)): _*)
    }
    // well-formedness gate: null bounds drop (matching the join form);
    // non-null degenerate bounds raise instead of silently undercounting
    // the guard is null-safe on its own (not via conjunct order, which
    // Catalyst may rewrite): null bounds pass the guard and die in the
    // null filter; only NON-NULL degenerate bounds raise. a side allows
    // zero width (the identity stays exact — see scaladoc), b side is
    // strict.
    def wellFormed(df: DataFrame, s: String, e: String, strict: Boolean,
        side: String) = {
      val ok = if (strict) col(s) < col(e) else col(s) <= col(e)
      val req = if (strict) "<" else "<="
      df.filter(col(s).isNotNull && col(e).isNotNull)
        .filter(when(col(s).isNull || col(e).isNull || ok,
          lit(true)).otherwise(raise_error(
          concat(lit(s"intervalOverlapCounts: degenerate $side interval " +
            s"(requires $s $req $e): start="), col(s).cast("string"),
            lit(" end="), col(e).cast("string")))))
    }
    val aq = wellFormed(a, aStart, aEnd, strict = false, "a")
    val bq = wellFormed(b, bStart, bEnd, strict = true, "b")
    val points =
      pts(aq, col(aEnd), 0, col(aStart), 3, withKeys = true)
        .unionAll(pts(bq, col(bEnd), 1, col(bStart), 2, withKeys = false))
    val swept = Positions.scanSorted[(Long, Long), (Long, Long)](
      points, Seq(col(t), col(typ)),
      Seq(StructField(delta, LongType, nullable = false)))(
      { it =>
        var s = 0L; var e = 0L
        while (it.hasNext) it.next().getInt(1) match {
          case 1 => e += 1; case 2 => s += 1; case _ => ()
        }
        (s, e)
      })(_.scanLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))) { (init, rows) =>
      var s = init._1; var e = init._2
      rows.flatMap { r =>
        r.getInt(1) match {
          case 1 => e += 1; None
          case 2 => s += 1; None
          case 0 => Some(new JoinedRow(r, InternalRow(s)))
          case _ => Some(new JoinedRow(r, InternalRow(-e)))
        }
      }
    }
    swept.groupBy(keys.map(col): _*).agg(sum(col(delta)).as(as))
      .filter(col(as) > 0)
  }

  /** Median-ish interval length (seconds) — the bucket-width heuristic for
    * callers that don't know their span distribution. One aggregate, one
    * scalar to the driver (bounded).
    */
  def suggestBucketSec(intervals: DataFrame, startTs: String, endTs: String): Long = {
    val row = intervals.select(
      percentile_approx((unix_micros(col(endTs)) - unix_micros(col(startTs))) / lit(1000000L),
        lit(0.75), lit(1000)).as("p"))
      .collect().head
    math.max(1L, row.getAs[Number]("p").longValue())
  }
}
