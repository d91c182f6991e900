package graft.sources

import scala.collection.mutable.ArrayBuffer
import scala.language.reflectiveCalls

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, IntegerLiteral,
  InterpretedUnsafeProjection, PlanExpression, Predicate, SortOrder}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.datasources.{FilePartition, FileSourceStrategy,
  HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport,
  ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.util.SerializableConfiguration

/** The planner strategy that serves a one-split INDEX read on the calling
  * thread, as the reference's `pickBestEngine` (`hqlttcpp.cpp:14695`) sends
  * small work to the single-process hthor and Roxie answers a keyed lookup
  * on a server worker thread, with no Thor job.
  *
  * It matches only the root of an action: Project/Filter over a scan of a
  * [[TopLevelKey]]'d dir, collected (`ReturnAnswer(read)`) or taken
  * (`ReturnAnswer(Limit(n, read))`, planned as `CollectLimitExec(n, …)`, as
  * Spark's `SpecialLimits` plans it; extra strategies run first). It plans
  * the read with Spark's own `FileSourceStrategy`. When the parts the TLK
  * keeps form at most one file split under Spark's own split rule, the
  * planned scan is wrapped in an [[IndexLookupExec]]; any other read (a
  * multi-split range, a subquery in the filter, a stale or missing TLK, a
  * plain parquet dir) gets Spark's plan unchanged. An index read inside a
  * larger plan (an aggregate, a join, a write) is never matched, so it stays
  * in the whole-stage codegen of the operators above it. The gate reads
  * only the TLK's part lengths and the file-split confs.
  */
object IndexLookup extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Limit(IntegerLiteral(n), read)) =>
      lookup(read).map(exec => CollectLimitExec(limit = n, child = exec)).toSeq
    case ReturnAnswer(read) => lookup(read).toSeq
    case _ => Nil
  }

  private def lookup(read: LogicalPlan): Option[IndexLookupExec] = read match {
    case ScanOperation(_, _, _, LogicalRelation(r: HadoopFsRelation, _, _, _, _))
        if TopLevelKey.isIndex(r.location) =>
      FileSourceStrategy(read) match {
        case Seq(p) if servable(p) => Some(IndexLookupExec(p))
        case _ => None
      }
    case _ => None
  }

  /** Adds this strategy to `spark`'s planner once, however many threads
    * make their first index read at the same time.
    */
  def inject(spark: SparkSession): Unit = {
    val methods = spark.experimental
    if (!methods.extraStrategies.contains(this)) methods.synchronized {
      if (!methods.extraStrategies.contains(this))
        methods.extraStrategies = methods.extraStrategies :+ this
    }
  }

  /** `p` is Project/Filter over one scan that reads at most one split, and
    * holds no subquery.
    */
  private def servable(p: SparkPlan): Boolean =
    !p.exists(n => n.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) &&
      IndexLookupExec.pipeline(p).exists { case (scan, _) => oneSplit(scan).isDefined }

  /** The pieces of `scan`'s one file split, split and packed by Spark's own
    * rule as `FileSourceScanExec` plans its read; None when they make more
    * than one split (more than one task).
    */
  private[sources] def oneSplit(scan: FileSourceScanExec): Option[Seq[PartitionedFile]] = {
    val relation = scan.relation
    val spark = relation.sparkSession
    val listing = scan.selectedPartitions
    val maxSplitBytes = FilePartition.maxSplitBytes(spark, listing)
    val pieces = listing.filePartitionIterator.flatMap { p =>
      p.files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          relation.fileFormat.isSplitable(spark, relation.options, f.getPath), maxSplitBytes,
          p.values)
      }
    }.toSeq.sortBy(-_.length)
    FilePartition.getFilePartitions(spark, pieces, maxSplitBytes) match {
      case Seq() => Some(Nil)
      case Seq(split) => Some(split.files.toSeq)
      case _ => None
    }
  }
}

/** A one-split index read at the root of an action. `executeCollect` and
  * `executeTake(n)` (through `CollectLimitExec`) read the split on the
  * calling thread: Spark's own parquet reader (`ParquetPartitionReaderFactory`)
  * with the scan's pushed filters, so row groups are still skipped, then the
  * child's filters and projections, interpreted. No Spark job, no task, no
  * broadcast, and no generated class that holds the key. `doExecute` is the
  * child's, Spark's planned scan.
  */
final case class IndexLookupExec(child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "partsRead" -> SQLMetrics.createMetric(sparkContext, "number of parts read"),
    "rowsRead" -> SQLMetrics.createMetric(sparkContext, "number of rows read"))

  def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] =
    serve(Int.MaxValue).getOrElse(super.executeCollect())

  override def executeTake(n: Int): Array[InternalRow] =
    serve(n).getOrElse(super.executeTake(n))

  protected def withNewChildInternal(newChild: SparkPlan): IndexLookupExec =
    copy(child = newChild)

  /** The first `n` rows of the child, read on the calling thread; None when
    * the child is not the one-split read the strategy planned.
    */
  private def serve(n: Int): Option[Array[InternalRow]] = for {
    (scan, compute) <- IndexLookupExec.pipeline(child)
    split <- IndexLookup.oneSplit(scan)
  } yield {
    val reader = IndexLookupExec.reader(scan)
    val toUnsafe = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(output, child.output))
    val out = ArrayBuffer.empty[InternalRow]
    for (piece <- split if out.size < n) {
      metrics("partsRead") += 1
      val rows = reader.buildReader(piece)
      try {
        val read = Iterator.continually(rows.next()).takeWhile(identity).map { _ =>
          metrics("rowsRead") += 1
          rows.get()
        }
        val it = compute(read)
        while (out.size < n && it.hasNext) out += toUnsafe(it.next()).copy()
      } finally rows.close()
    }
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      (metrics.values ++ scan.driverMetrics.values).toSeq)
    out.toArray
  }
}

object IndexLookupExec {

  /** The data filters `scan` pushes to its reader
    * (`FileSourceScanLike.pushedDownFilters`: declared protected, compiled
    * public, so a structural call reaches it).
    */
  private def pushedDownFilters(scan: FileSourceScanExec): Seq[Filter] =
    scan.asInstanceOf[{ def pushedDownFilters: Seq[Filter] }].pushedDownFilters

  /** Spark's own parquet reader factory for `scan`, set up as
    * `ParquetFileFormat.buildReaderWithPartitionValues` and
    * `ParquetScan.createReaderFactory` both set it up: the scan's Hadoop conf
    * with the same read-support, schema, time-zone, case and parquet type
    * keys, the session's SQL conf and the relation's parquet options. The
    * conf is handed over in a [[LocalConf]], not broadcast.
    */
  private def reader(scan: FileSourceScanExec): ParquetPartitionReaderFactory = {
    val relation = scan.relation
    val spark = relation.sparkSession
    val sql = spark.sessionState.conf
    val conf = scan.getHadoopConf(spark, relation.options)
    val requested = scan.requiredSchema.json
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, requested)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sql.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
    ParquetPartitionReaderFactory(sql, new LocalConf(conf), relation.dataSchema,
      scan.requiredSchema, relation.partitionSchema, pushedDownFilters(scan).toArray, None,
      new ParquetOptions(relation.options, sql))
  }

  /** A conf read only by the calling thread, in the `Broadcast` type Spark's
    * reader factory takes: never serialized, stored or cleaned, so reading
    * it costs no broadcast.
    */
  private final class LocalConf(conf: Configuration)
      extends Broadcast[SerializableConfiguration](-1L) {
    private val held = new SerializableConfiguration(conf)
    override protected def getValue(): SerializableConfiguration = held
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }

  /** `p`'s one file scan and the function that computes `p`'s rows from
    * that scan's rows, interpreted; None when `p` holds a node other than a
    * filter, a projection or a codegen or columnar wrapper over one scan.
    */
  private[sources] def pipeline(
      p: SparkPlan): Option[(FileSourceScanExec, Iterator[InternalRow] => Iterator[InternalRow])] =
    p match {
      case s: FileSourceScanExec => Some((s, identity))
      case w: WholeStageCodegenExec => pipeline(w.child)
      case a: InputAdapter => pipeline(a.child)
      case c: ColumnarToRowExec => pipeline(c.child)
      case f: FilterExec => pipeline(f.child).map { case (s, below) =>
        val keep = Predicate.createInterpreted(
          BindReferences.bindReference(f.condition, f.child.output))
        keep.initialize(0)
        (s, rows => below(rows).filter(keep.eval))
      }
      case pr: ProjectExec => pipeline(pr.child).map { case (s, below) =>
        val project = InterpretedUnsafeProjection.createProjection(
          BindReferences.bindReferences(pr.projectList, pr.child.output))
        project.initialize(0)
        (s, rows => below(rows).map(project))
      }
      case _ => None
    }
}
