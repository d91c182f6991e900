package graft.tools

import graft.{Session, SparkEntry}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The query probe (dev tool), on Bench's session shape:
  *
  * `runMain graft.tools.Probe <mode> <queries> [runs|tag]`
  *
  * against `SPARK_GRAFT_SF_DIR` (default sf0.1). `queries` is a
  * comma-separated list of query-name prefixes, probed in argument order,
  * each expanding alphabetically (so `a,b,a` measures whether running `b`
  * degrades `a` in a shared JVM). Every mode runs a query the same way:
  * build it, then execute its planned physical plan (`toRdd`), which
  * computes every output column and fills this plan's SQL metrics.
  *
  *  - `time [runs]`: wall time (build + run) and rows per run, default 3
  *    runs; the last run is the JIT-warm engine number.
  *  - `jobs [runs]`: the run's Spark jobs, Σ job time and the driver gap
  *    (wall − Σ job time); the last run lists each job.
  *  - `shuffle [runs]`: rows, bytes and records of each shuffle exchange
  *    of the executed (AQE-final) plan.
  *  - `plan <tag>`: writes `plans/<tag>/<query>.txt`, the formatted
  *    executed plan (AQE final and initial plan).
  *  - `exec-plans <tag>`: writes `plans/<tag>/<query>.exec.txt`, the
  *    formatted plan of every action the query runs while it is built,
  *    then its own executed plan.
  */
object Probe {
  private val Usage =
    "usage: Probe <time|jobs|shuffle|plan|exec-plans> <queries> [runs|tag]"

  def main(args: Array[String]): Unit = {
    val spark = Session.bench()
    try run(spark, args.toSeq,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      Paths.get("plans"))
    finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String], sfDir: String,
      plansRoot: Path): Unit = {
    require(args.size >= 2, Usage)
    val mode = args(0)
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names = args(1).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      .flatMap(p => all.filter(_.startsWith(p)))
    require(names.nonEmpty, s"no registered query matches ${args(1)}")
    mode match {
      case "time" | "jobs" | "shuffle" =>
        val runs = args.lift(2).fold(3)(_.toInt)
        for (name <- names; i <- 1 to runs) {
          val r = execute(spark, sfDir, name)
          mode match {
            case "time" =>
              println(f"[time] $name run $i: ${r.secs}%.2f s rows=${r.rows}")
            case "jobs" =>
              val jobSum = r.jobs.map(_._3).sum
              println(f"[jobs] $name run $i: ${r.secs}%.2f s jobs=${r.jobs.size} " +
                f"jobSum=$jobSum%.2f driverGap=${r.secs - jobSum}%.2f")
              if (i == runs) r.jobs.sortBy(_._1).foreach { case (id, stages, s) =>
                println(f"[jobs]   job $id%3d $s%6.2f s  ${stages.take(100)}")
              }
            case _ =>
              val shuffles = Aqe.collect(r.qe.executedPlan) {
                case s: ShuffleExchangeLike => s
              }
              println(f"[shuffle] $name run $i: ${r.secs}%.2f s rows=${r.rows} " +
                s"shuffles=${shuffles.size}")
              shuffles.zipWithIndex.foreach { case (s, j) =>
                def g(k: String) = s.metrics.get(k).fold("-")(_.value.toString)
                println(s"[shuffle]   ex$j dataSize=${g("dataSize")} " +
                  s"shuffleRecordsWritten=${g("shuffleRecordsWritten")} " +
                  s"bytesWritten=${g("shuffleBytesWritten")}")
              }
          }
        }
      case "plan" | "exec-plans" =>
        val out = plansRoot.resolve(args.lift(2).getOrElse(sys.error(Usage)))
        Files.createDirectories(out)
        names.foreach { name =>
          val r = execute(spark, sfDir, name)
          val (file, txt) =
            if (mode == "plan") (s"$name.txt", formatted(r.qe))
            else (s"$name.exec.txt",
              s"== $name: executed plans of every action (build + run) ==\n\n" +
              r.actions.map { case (action, ms, qe) =>
                s"== action: $action ($ms ms) ==\n${formatted(qe)}\n\n"
              }.mkString + s"== $name ==\n${formatted(r.qe)}")
          Files.writeString(out.resolve(file), txt)
          println(s"[$mode] wrote ${out.resolve(file)} (${txt.length} chars, " +
            s"${r.actions.size} build actions)")
        }
      case other => sys.error(s"unknown mode '$other'; $Usage")
    }
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  private def formatted(qe: QueryExecution): String =
    qe.explainString(ExplainMode.fromString("formatted"))

  /** One run of a query. `jobs`: (job id, stage names, seconds);
    * `actions`: (action, ms, plan) of each action run while building it.
    */
  private final case class Run(secs: Double, rows: Long, qe: QueryExecution,
      jobs: Seq[(Int, String, Double)], actions: Seq[(String, Long, QueryExecution)])

  private def execute(spark: SparkSession, sfDir: String, name: String): Run = {
    val starts = TrieMap[Int, (Long, String)]()
    val jobs = new ConcurrentLinkedQueue[(Int, String, Double)]()
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts(js.jobId) = (System.nanoTime(),
          js.stageInfos.map(_.name.takeWhile(_ != '(')).distinct.mkString("+"))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, stages) =>
          jobs.add((je.jobId, stages, (System.nanoTime() - t0) / 1e9)) }
    }
    val actions = new ConcurrentLinkedQueue[(String, Long, QueryExecution)]()
    val actionListener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        actions.add((action, ns / 1000000, qe))
      override def onFailure(action: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
    try {
      val t0 = System.nanoTime()
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      val rows = qe.toRdd.count()
      val secs = (System.nanoTime() - t0) / 1e9
      GraftBridge.awaitListeners(spark)
      Run(secs, rows, qe, jobs.asScala.toSeq, actions.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(actionListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }
}
