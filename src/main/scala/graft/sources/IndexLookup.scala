package graft.sources

import java.io.Closeable

import scala.collection.mutable.ArrayBuffer
import scala.language.reflectiveCalls

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences,
  InterpretedUnsafeProjection, PlanExpression, Predicate, SortOrder}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition,
  FileSourceStrategy, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.sources.Filter

/** The planner strategy that serves a one-split INDEX read on the calling
  * thread, as the reference's `pickBestEngine` (`hqlttcpp.cpp:14695`) sends
  * small work to the single-process hthor and Roxie answers a keyed lookup
  * on a server worker thread, with no Thor job.
  *
  * It matches Project/Filter over a scan of a [[TopLevelKey]]'d dir and
  * plans it with Spark's own `FileSourceStrategy`. When the parts the TLK
  * keeps form at most one file split under Spark's own split rule, the
  * planned scan is wrapped in an [[IndexLookupExec]]; any other read (a
  * multi-split range, a subquery in the filter, a stale or missing TLK, a
  * plain parquet dir) gets Spark's plan unchanged. The gate reads only the
  * TLK's part lengths and the file-split confs.
  */
object IndexLookup extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, _, LogicalRelation(r: HadoopFsRelation, _, _, _, _))
        if TopLevelKey.isIndex(r.location) =>
      FileSourceStrategy(plan) match {
        case Seq(p) if servable(p) => Seq(IndexLookupExec(p))
        case _ => Nil
      }
    case _ => Nil
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

/** A one-split index read. Inside a larger plan it is its child, Spark's
  * planned scan: `doExecute` is `child.execute()`. As the root of an action
  * (`collect`, or `take` through `CollectLimitExec`) it reads the split on
  * the calling thread instead: Spark's own parquet reader with the scan's
  * pushed filters, so row groups are still skipped, then the child's
  * filters and projections, interpreted. No Spark job, no task, and no
  * generated class that holds the key.
  */
final case class IndexLookupExec(child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "partsRead" -> SQLMetrics.createMetric(sparkContext, "number of parts read"),
    "rowsRead" -> SQLMetrics.createMetric(sparkContext, "number of rows read"))

  def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  protected def doExecute(): RDD[InternalRow] = child.execute()

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
    val relation = scan.relation
    val spark = relation.sparkSession
    val read = relation.fileFormat.buildReaderWithPartitionValues(spark, relation.dataSchema,
      relation.partitionSchema, scan.requiredSchema, IndexLookupExec.pushedDownFilters(scan),
      relation.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      scan.getHadoopConf(spark, relation.options))
    val toUnsafe = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(output, child.output))
    val out = ArrayBuffer.empty[InternalRow]
    for (piece <- split if out.size < n) {
      metrics("partsRead") += 1
      val rows = read(piece)
      try {
        val it = compute(rows.map { r => metrics("rowsRead") += 1; r })
        while (out.size < n && it.hasNext) out += toUnsafe(it.next()).copy()
      } finally rows match {
        case c: Closeable => c.close()
        // the row-based reader closes its file only at its end
        case rest => rest.foreach(_ => ())
      }
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
