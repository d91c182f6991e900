package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Counters for the `sources` and `exec` layers, read from outside the
  * engine by a `SparkListener`. Jobs are attributed to the benchmark phase
  * (`build` = inside `QueryDef.fn`, `exec` = running the planned frame,
  * `write` = the serving workload's writer, which is not counted) through
  * the `perfbench.phase` local property the caller sets.
  */
final class Probe extends SparkListener {
  val jobs, buildJobs, schemaJobs, stages, tasks = new AtomicLong
  val cpuNs, gcMs, runMs, inputBytes, inputRows = new AtomicLong
  val shuffleWrite, shuffleRead, shuffleRecords, spill = new AtomicLong
  private val ended = new AtomicLong
  @volatile private var lastEventNs = System.nanoTime()
  private val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  private val started = scala.collection.mutable.Map.empty[Int, Long]

  private val writeStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val writeJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties).map(_.getProperty(Probe.PhaseKey)).orNull
    if (phase == "write") {
      writeJobs.add(e.jobId)
      e.stageIds.foreach(writeStages.add)
      return
    }
    jobs.incrementAndGet()
    if (phase == "build") buildJobs.incrementAndGet()
    // the footer-reading job of parquet schema inference is named after
    // the reader's call site ("parquet at Tables.scala:13")
    if (e.stageInfos.exists(_.name.startsWith("parquet at")))
      schemaJobs.incrementAndGet()
    synchronized { started(e.jobId) = e.time }
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (writeJobs.contains(e.jobId)) return
    synchronized {
      started.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
    }
    ended.incrementAndGet()
    lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    if (writeStages.contains(e.stageInfo.stageId)) return
    stages.incrementAndGet()
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (writeStages.contains(e.stageId)) return
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      runMs.addAndGet(m.executorRunTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait (untimed) until every started job's end event has arrived and
    * the bus has been quiet briefly, so counters cover the finished work.
    */
  def settle(maxMs: Long = 2000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def quiet = System.nanoTime() - lastEventNs > 30000000L
    while (System.nanoTime() < deadline &&
        !(ended.get() == jobs.get() && quiet)) Thread.sleep(5)
  }

  /** Milliseconds of `[fromMs, toMs]` covered by no job interval. */
  def gapMs(fromMs: Long, toMs: Long): Long = {
    val iv = synchronized { intervals.toVector }
      .map { case (s, e) => (s max fromMs, e min toMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    covered += curE - curS
    (toMs - fromMs) - covered
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "build_jobs" -> buildJobs.get,
    "schema_jobs" -> schemaJobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "task_cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "task_run_ms" -> runMs.get, "input_bytes" -> inputBytes.get,
    "input_rows" -> inputRows.get, "shuffle_write_bytes" -> shuffleWrite.get,
    "shuffle_read_bytes" -> shuffleRead.get,
    "shuffle_records" -> shuffleRecords.get, "spill_bytes" -> spill.get)
}

object Probe {
  val PhaseKey = "perfbench.phase"

  /** Executed-plan operators that run outside whole-stage codegen.
    * Exchanges and adaptive-execution wrappers are plumbing, not operators,
    * and are walked through without counting.
    */
  def nocodegenOps(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => nocodegenOps(a.executedPlan)
    case s: QueryStageExec => nocodegenOps(s.plan)
    case w: WholeStageCodegenExec =>
      w.child.collect { case ia: InputAdapter => ia.child }.map(nocodegenOps).sum
    case _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec =>
      p.children.map(nocodegenOps).sum
    case _ => 1 + p.children.map(nocodegenOps).sum
  }
}
