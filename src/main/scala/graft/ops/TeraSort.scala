package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.ByteArray

/** Terasort analog — the reference's signature benchmark
  * (`testing/benchmarks/ecl/terasort.ecl:20-34`: global UNSTABLE SORT of
  * n 100-byte records, generated in place, then validated). The Spark-first
  * lowering IS `orderBy`: Catalyst plans exactly one RangePartitioning
  * exchange (sampled split points — the same strategy the reference's
  * thorlcr/msort/tsortm.cpp implements by hand) followed by a per-partition
  * sort. Nothing here fights the engine; the operator exists so the
  * benchmark and its validation discipline (order certificate + permutation
  * checksum, "teravalidate") are first-class and plan-audited.
  *
  * Record layout: 10-byte binary key (deterministic md5-derived — no RNG
  * state to ship, and an oracle can reproduce it) + 90-byte filler.
  * BinaryType ordering in Spark is unsigned lexicographic, matching the
  * benchmark's byte-key contract.
  *
  * Scale: generation is embarrassingly parallel over `spark.range`; the
  * sort is one range exchange (n log n, linear per 10× in the exchange
  * and merge); validation is one summary pass collecting O(#partitions)
  * rows to the driver — no full-data materialization anywhere.
  */
object TeraSort {

  /** n deterministic 100-byte records: key = first 10 bytes of
    * md5(id), payload = 90 constant bytes (the sort pays to move them
    * either way). Embarrassingly parallel, no shuffle.
    */
  def generate(spark: SparkSession, n: Long,
      numPartitions: Int = 0): DataFrame = {
    val base = if (numPartitions > 0) spark.range(0, n, 1, numPartitions)
      else spark.range(n)
    base.select(
      unhex(substring(md5(col("id").cast("string")), 1, 20)).as("key"),
      expr("repeat(x'58', 90)").cast("binary").as("payload"))
  }

  /** Global unstable sort by `key` — lowers to ONE RangePartitioning
    * exchange + per-partition sort (PlanAuditSpec pins this).
    */
  def sortRecords(df: DataFrame, key: Column): DataFrame = df.orderBy(key)

  /** Per-partition validation summary: is the partition internally
    * sorted, its first/last key, row count, and a permutation checksum
    * (decimal sum of the FULL key read as an unsigned big-endian
    * integer — order-independent, overflow-safe, and
    * oracle-reproducible: DuckDB computes the same sum from the md5
    * hex, so the certificate row is hash-checkable end to end).
    */
  private final case class PartSummary(okWithin: Boolean,
      first: Array[Byte], last: Array[Byte], rows: Long,
      checksum: java.math.BigDecimal)

  /** Unsigned big-endian value of the FULL 10-byte key — the unit of the
    * permutation checksum (all bytes count: an 8-byte prefix would be
    * blind to corruption confined to the key tail). JVM-side twin of
    * [[keyChecksum]]. Fits DECIMAL(38,0) sums comfortably: each value
    * < 2^80 ≈ 1.2e24, so even 10^12 rows sum below 1.3e36.
    */
  private def keyValue(k: Array[Byte]): java.math.BigDecimal =
    new java.math.BigDecimal(new java.math.BigInteger(1, k))

  /** Column form of the checksum unit: the whole 10-byte key as an
    * unsigned decimal, assembled as prefix·2¹⁶ + tail (conv reads at
    * most 64 bits per call). DuckDB computes the identical number as
    * `CAST('0x'||substr(h,1,16) AS UBIGINT)::HUGEINT * 65536 +
    * CAST('0x'||substr(h,17,4) AS UBIGINT)::HUGEINT` over the md5 hex.
    */
  def keyChecksum(key: Column): Column =
    conv(substring(hex(key), 1, 16), 16, 10).cast(DecimalType(38, 0)) *
      lit(65536) +
      conv(substring(hex(key), 17, 4), 16, 10).cast(DecimalType(38, 0))

  /** One streaming pass over each partition of `sorted` (keyed by column
    * `key`): O(#partitions) rows to the driver, never the data.
    */
  private def summarize(sorted: DataFrame, key: String): Seq[PartSummary] =
    Positions.partitionSummaries(sorted.select(col(key)).queryExecution.toRdd) { it =>
      var ok = true
      var first: Array[Byte] = null
      var last: Array[Byte] = null
      var rows = 0L
      var sum = java.math.BigDecimal.ZERO
      it.foreach { r =>
        val k = r.getBinary(0) // a fresh array: UnsafeRow copies it out
        if (first == null) first = k
        if (last != null && ByteArray.compareBinary(last, k) > 0) ok = false
        last = k
        rows += 1
        sum = sum.add(keyValue(k))
      }
      PartSummary(ok, first, last, rows, sum)
    }

  /** Order-independent permutation checksum of `key` over `df` — one
    * streaming JVM pass (the hex→conv→decimal expression form computes
    * the same number but pays a string round-trip per row; TeraSortSpec
    * pins the two paths equal on the n=1000 golden value).
    */
  def checksum(df: DataFrame, key: Column): java.math.BigDecimal =
    Positions.partitionSummaries(df.select(key).queryExecution.toRdd)(_.foldLeft(
      java.math.BigDecimal.ZERO)((sum, r) => sum.add(keyValue(r.getBinary(0)))))
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))

  /** Full validation certificate over a sorted frame: every partition
    * internally sorted, partition boundaries globally ordered (range
    * partitioning's contract), row count, and the permutation checksum.
    */
  def validate(sorted: DataFrame, key: String): (Boolean, Long, java.math.BigDecimal) = {
    val parts = summarize(sorted, key).filter(_.rows > 0)
    val within = parts.forall(_.okWithin)
    val across = parts.sliding(2).forall {
      case Seq(a, b) => ByteArray.compareBinary(a.last, b.first) <= 0
      case _ => true
    }
    (within && across, parts.map(_.rows).sum,
      parts.map(_.checksum).foldLeft(java.math.BigDecimal.ZERO)(_.add(_)))
  }

  /** Split a (non-negative) permutation checksum into two signed-64
    * halves: (hi, lo) with value = hi·2⁶³ + lo, 0 ≤ lo < 2⁶³. Sums stay
    * below 1.3e36 < 2¹²⁶, so hi < 2⁶³ and both halves fit a BIGINT on
    * any engine — no wide-decimal canonicalization seam between hashers.
    */
  def splitChecksum(sum: java.math.BigDecimal): (Long, Long) = {
    val Array(hi, lo) = sum.toBigIntegerExact
      .divideAndRemainder(java.math.BigInteger.ONE.shiftLeft(63))
    (hi.longValueExact, lo.longValueExact)
  }

  /** generate → sort → validate, returning a ONE-ROW certificate:
    * (n_rows, sorted_ok, checksum_hi, checksum_lo). `sorted_ok` bundles
    * the order certificate AND the internal permutation check (output
    * sum equals the pre-sort sum); the checksum halves carry the
    * permutation checksum VALUE (hi·2⁶³ + lo), which an oracle
    * reproduces independently from the generation contract (sum over i
    * in [0,n) of the md5(i)-derived 10-byte key as an unsigned 80-bit
    * integer) — so the certificate row itself is hash-checkable, not
    * merely self-asserted. The checksum covers the ENTIRE key, so
    * corruption of any key byte (not just a prefix) breaks the multiset
    * equality. The value is emitted as two BIGINT halves rather than one
    * DECIMAL(38,0): every comparer canonicalizes a 64-bit integer the
    * same way, while full-width decimals proved to be a representation
    * seam between independent hashers of otherwise-equal outputs. The
    * bench entry times this whole pipeline — the reference's terasort +
    * teravalidate in one.
    */
  def run(spark: SparkSession, n: Long, numPartitions: Int = 0): DataFrame = {
    val in = generate(spark, n, numPartitions)
    val inSum = checksum(in, col("key"))
    val sorted = sortRecords(in, col("key"))
    val (ok, rows, outSum) = validate(sorted, "key")
    val (hi, lo) = splitChecksum(outSum)
    val schema = StructType(Seq(
      StructField("n_rows", LongType, nullable = false),
      StructField("sorted_ok", BooleanType, nullable = false),
      StructField("checksum_hi", LongType, nullable = false),
      StructField("checksum_lo", LongType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(rows, ok && inSum.compareTo(outSum) == 0, hi, lo)),
      schema)
  }
}
