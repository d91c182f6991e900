package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.functions._

/** INDEX / BUILD / keyed read / KEYED JOIN / FETCH (SURVEY §2.1, §2.4,
  * §2.10). The reference persists a B-tree of key+payload
  * (`system/jhtree/ctfile.hpp:32`) probed via `IKeyManager`
  * (`system/jhtree/jhtree.hpp:247`); our index is sorted Parquet parts,
  * each a contiguous key range in part-name order (a key may span two
  * adjacent parts of a one-task build), plus a top-level key ([[TopLevelKey]],
  * the `_tlk` file in the index dir). The TLK holds each part's name, length
  * and leading-key null count, min and max, and the parts' stored layout, so
  * a keyed read lists the dir once, reads no footer and opens only the parts
  * whose key range can match — the reference's TLK probe. Within a part,
  * row-group min/max stats skip the rest (data skipping). A collected or
  * taken read left with one file split runs on the calling thread
  * ([[IndexLookup]]). Readers fall back to the plain parquet read, all
  * parts, when the dir's files no longer match the TLK (an append, a
  * rewrite, a partial build) or it is missing or unreadable.
  *
  * FETCH (TAKfetch :926) retrieves base-file records by file position; the
  * filepos surrogate here is an explicit `__filepos` column assigned at
  * build time (row_number over the key order — stable and join-able).
  */
object IndexedTable {

  /** BUILD(index) (TAKindexwrite :923): sort by key into parts that each
    * hold a contiguous key range, write Parquet, then the TLK on the leading
    * key. `payload` columns ride along (a payload index); omit for key-only.
    * `numPartitions` parts are written; 0 lets the build choose.
    *
    * A small input is written by one task, as the reference runs a small
    * build on the single-process hthor rather than Thor (`pickBestEngine`):
    * when `df` is a plain parquet read (only projections over a scan of
    * unpartitioned parquet files) no bigger than
    * `spark.sql.files.maxPartitionBytes`, its row count is summed from the
    * files' footers on the driver, and one task sorts every row and rolls
    * them into `max(numPartitions, 1)` parts of equal row count, in key
    * order by part name. That is one Spark job of one task. Any other input
    * (a filter, a join, a generated or local relation, a partitioned,
    * oversize or unreadable input) is range-partitioned by key
    * (`repartitionByRange`: a sampling job, then a shuffle), so the rows of
    * one key always share a part. In a one-task build the rows of one key
    * may span two adjacent parts; both parts' TLK ranges hold that key, so
    * keyed reads stay exact.
    */
  def build(df: DataFrame, keys: Seq[String], path: String,
      numPartitions: Int = 0): Unit = {
    val order = keys.map(col)
    plainParquetRows(df) match {
      case Some(rows) =>
        val parts = math.max(numPartitions, 1)
        df.coalesce(1).sortWithinPartitions(order: _*)
          .write.mode("overwrite").option("maxRecordsPerFile", (rows + parts - 1) / parts)
          .parquet(path)
      case None =>
        val keyed = if (numPartitions > 0) df.repartitionByRange(numPartitions, order: _*)
          else df.repartitionByRange(order: _*)
        keyed.sortWithinPartitions(order: _*).write.mode("overwrite").parquet(path)
    }
    TopLevelKey.write(df.sparkSession, path, keys.head)
  }

  /** The row count of `df` when it reads every row of unpartitioned parquet
    * files totalling at most `spark.sql.files.maxPartitionBytes`: the sum of
    * their footers' row-group row counts. None for any other plan, or when a
    * footer cannot be read.
    */
  private def plainParquetRows(df: DataFrame): Option[Long] = {
    def scan(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(_, child) => scan(child)
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
            r.partitionSchema.isEmpty => Some(r)
        case _ => None
      }
      case _ => None
    }
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    for {
      r <- scan(df.queryExecution.optimizedPlan)
      if r.sizeInBytes <= spark.sessionState.conf.filesMaxPartitionBytes
      rows <- Try(r.location.listFiles(Nil, Nil).flatMap(_.files).map { f =>
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f.fileStatus, conf), NO_FILTER)
          .getBlocks.asScala.map(_.getRowCount).sum
      }.sum).toOption
    } yield rows
  }

  /** BUILD with filepos: also writes the base table annotated with
    * `__filepos` plus a key→filepos index with its TLK (half-keyed pattern),
    * built by [[build]] from the base just written.
    */
  def buildWithFilepos(df: DataFrame, keys: Seq[String], basePath: String,
      indexPath: String): Unit = {
    // scale-safe filepos assignment: range-partitioned sort + broadcast
    // per-partition offsets (never a single-partition window)
    graft.ops.Positions.withGlobalPosition(df, keys.map(col), "__filepos")
      .write.mode("overwrite").parquet(basePath)
    build(Sources.parquet(df.sparkSession, basePath).select((keys :+ "__filepos").map(col): _*),
      keys, indexPath)
  }

  /** INDEX read with keyed filter (TAKindexread :963): the predicate is
    * pushed to the scan — the TLK drops the parts whose key range cannot
    * match, and row-group stats skip non-matching groups within the rest,
    * like the reference's key-range extraction (`ecl/hql/hqlfilter.hpp:111`).
    * The parsed TLK is cached by its file's length and modification time,
    * so a repeated lookup on an unchanged index lists the dir and parses
    * nothing, as Roxie keeps index nodes in its node cache. When the read is
    * collected or taken and the parts left make one file split, it plans as
    * an [[IndexLookupExec]] and is read on the calling thread with no Spark
    * job and no broadcast, as Roxie answers a keyed lookup on its worker
    * thread; inside a larger plan it is Spark's scan, in the same codegen
    * stage as the operators above it.
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
