package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INDEX / BUILD / keyed read / KEYED JOIN / FETCH (SURVEY §2.1, §2.4,
  * §2.10). The reference persists a B-tree of key+payload
  * (`system/jhtree/ctfile.hpp:32`) probed via `IKeyManager`
  * (`system/jhtree/jhtree.hpp:247`); our index is range-partitioned,
  * in-partition-sorted Parquet parts plus a top-level key ([[TopLevelKey]],
  * the `_tlk` file in the index dir). The TLK holds each part's name, length
  * and leading-key null count, min and max, and the parts' stored layout, so
  * a keyed read lists the dir once, reads no footer and opens only the parts
  * whose key range can match — the reference's TLK probe. Within a part,
  * row-group min/max stats skip the rest (data skipping). Readers fall back
  * to the plain parquet read, all parts, when the dir's files no longer
  * match the TLK (an append, a rewrite, a partial build) or it is missing or
  * unreadable.
  *
  * FETCH (TAKfetch :926) retrieves base-file records by file position; the
  * filepos surrogate here is an explicit `__filepos` column assigned at
  * build time (row_number over the key order — stable and join-able).
  */
object IndexedTable {

  /** BUILD(index) (TAKindexwrite :923): range-partition by key, sort within
    * partitions, write Parquet, then the TLK on the leading key. `payload`
    * columns ride along (a payload index); omit for key-only.
    */
  def build(df: DataFrame, keys: Seq[String], path: String,
      numPartitions: Int = 0): Unit = {
    val keyed = if (numPartitions > 0)
      df.repartitionByRange(numPartitions, keys.map(col): _*)
    else df.repartitionByRange(keys.map(col): _*)
    keyed.sortWithinPartitions(keys.map(col): _*)
      .write.mode("overwrite").parquet(path)
    TopLevelKey.write(df.sparkSession, path, keys.head)
  }

  /** BUILD with filepos: also writes the base table annotated with
    * `__filepos` plus a key→filepos index with its TLK (half-keyed pattern).
    */
  def buildWithFilepos(df: DataFrame, keys: Seq[String], basePath: String,
      indexPath: String): Unit = {
    // scale-safe filepos assignment: range-partitioned sort + broadcast
    // per-partition offsets (never a single-partition window)
    val withPos = graft.ops.Positions.withGlobalPosition(
      df, keys.map(col), "__filepos")
    withPos.write.mode("overwrite").parquet(basePath)
    withPos.select((keys.map(col) :+ col("__filepos")): _*)
      .repartitionByRange(keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .write.mode("overwrite").parquet(indexPath)
    TopLevelKey.write(df.sparkSession, indexPath, keys.head)
  }

  /** INDEX read with keyed filter (TAKindexread :963): the predicate is
    * pushed to the scan — the TLK drops the parts whose key range cannot
    * match, and row-group stats skip non-matching groups within the rest,
    * like the reference's key-range extraction (`ecl/hql/hqlfilter.hpp:111`).
    */
  def keyedRead(spark: SparkSession, path: String, pred: Column): DataFrame =
    Sources.parquet(spark, path).filter(pred)

  /** KEYED JOIN (TAKkeyedjoin :1046, half-keyed): LHS rows probe the index.
    * Catalyst plans SMJ/BHJ; the index's sortedness + stats give pruning.
    */
  def keyedJoin(lhs: DataFrame, spark: SparkSession, indexPath: String,
      cond: Column, typ: String = "inner"): DataFrame =
    lhs.join(Sources.parquet(spark, indexPath), cond, typ)

  /** FETCH (TAKfetch :926): full-keyed pattern — probe the index for
    * filepos, then retrieve base records by position.
    *
    * EAGER BY CONTRACT since r19 (advice note): the [min,max] filepos
    * bound runs a blocking driver job at construction time — that is the
    * point of the change (only a literal known at planning time reaches
    * the parquet scan as a pushed filter; a scalar subquery evaluates
    * per-row after the scan). The probe side is consequently scanned
    * twice (bounds aggregate + join), both times pushdown-pruned by
    * `keyPred` — O(probe), never O(base). Callers composing FETCH lazily
    * should call it at execution time, not plan-build time.
    */
  def fetch(spark: SparkSession, basePath: String, indexPath: String,
      keyPred: Column): DataFrame = {
    val pos = Sources.parquet(spark, indexPath).filter(keyPred)
      .select(col("__filepos"))
    // r19 (guide §6 — make pushdown reach the scan): FETCH is a
    // positional SEEK, but a bare join gives the base scan no pushable
    // predicate, so every base row group was read just to probe a tiny
    // position set. Bound the scan with the probe's [min, max] filepos
    // first — two longs to the driver (O(1), the same driver-by-contract
    // class as Sorting.quantile's count) — turned into LITERAL pushed
    // filters; the base was written range-sorted by key, so its row-group
    // filepos stats are tight and skipping is near-exact. The join then
    // keeps only the exact positions; results are unchanged (between is a
    // superset of the joined positions, and an empty probe short-circuits
    // to an empty scan).
    val base = Sources.parquet(spark, basePath)
    val r = pos.agg(min(col("__filepos")), max(col("__filepos"))).head()
    val bounded =
      if (r.isNullAt(0)) base.filter(lit(false))
      else base.filter(col("__filepos").between(r.getLong(0), r.getLong(1)))
    bounded.join(pos, "__filepos")
  }
}
