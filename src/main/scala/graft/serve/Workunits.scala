package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** workunitservices surface (ref `plugins/workunitservices/
  * workunitservices.hpp:45-72`: wsWorkunitExists / wsWorkunitList /
  * wsWorkunitTimeStamps / wsWorkunitMessages / wsWorkunitFilesRead):
  * query-execution metadata introspection. Each recorded run is a
  * "workunit": id, name, owner, state, wall-clock timing, result row
  * count, the parquet locations its plan actually scanned, and any
  * messages logged during the run.
  *
  * The registry is driver-side state (the reference keeps workunits in
  * Dali — also a metadata service); list results come back as DataFrames
  * so they compose with the engine like any other table, matching the
  * plugin's dataset-returning shape.
  */
final class Workunits(spark: SparkSession) {

  final case class WuRecord(wuid: String, name: String, owner: String,
      state: String, startMs: Long, endMs: Long, rows: Long,
      filesRead: Seq[String], messages: Seq[String],
      filesWritten: Seq[String] = Nil,
      timings: Seq[(String, Long)] = Nil,
      stats: Seq[(String, String, Long)] = Nil,
      appValues: Map[String, String] = Map.empty)

  private val runs =
    scala.collection.concurrent.TrieMap.empty[String, WuRecord]
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Reference wuid shape: `W<yyyymmdd>-<hhmmss>` (+ a uniquifying seq —
    * the reference bumps the seconds for collisions). String-sorted wuids
    * are therefore time-ordered, which is what makes [[wuidOnDate]] /
    * [[wuidDaysAgo]] usable as range bounds.
    */
  private def newWuid(at: Long): String = {
    val d = java.time.Instant.ofEpochMilli(at)
      .atZone(java.time.ZoneOffset.UTC)
    f"W${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d" +
      f"-${d.getHour}%02d${d.getMinute}%02d${d.getSecond}%02d" +
      f"-${seq.incrementAndGet()}%06d"
  }

  /** `WUIDonDate` (Workunit.ecl:104): the lowest wuid a workunit started
    * at that UTC time could have — a range bound for wuid filters.
    */
  def wuidOnDate(year: Int, month: Int, day: Int, hour: Int = 0,
      minute: Int = 0): String =
    f"W$year%04d$month%02d$day%02d-$hour%02d$minute%02d00"

  /** `WUIDdaysAgo` (Workunit.ecl:113). */
  def wuidDaysAgo(daysAgo: Int,
      now: Long = System.currentTimeMillis()): String = {
    val d = java.time.Instant.ofEpochMilli(now)
      .minus(java.time.Duration.ofDays(daysAgo.toLong))
      .atZone(java.time.ZoneOffset.UTC)
    wuidOnDate(d.getYear, d.getMonthValue, d.getDayOfMonth)
  }

  /** Spark's executed-plan walk: it unwraps `AdaptiveSparkPlanExec` and
    * descends into every query stage, so the nodes below an exchange are
    * reached under AQE.
    */
  private object ExecutedPlan extends AdaptiveSparkPlanHelper

  /** Paths the executed plan actually scanned (wsWorkunitFilesRead). */
  private def scannedPaths(df: DataFrame): Seq[String] =
    ExecutedPlan.flatMap(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
      case _ => Nil
    }.distinct.sorted

  /** Execute a query as a workunit: runs `body`, counts the result, and
    * records timing + scanned files. Failures record a `failed` workunit
    * and rethrow (the reference keeps failed workunits inspectable).
    */
  def record(name: String, owner: String = "",
      messages: Seq[String] = Nil)(body: => DataFrame): String = {
    val start = System.currentTimeMillis()
    val wuid = newWuid(start)
    try {
      val df = body
      val created = System.currentTimeMillis()
      // execute THE RECORDED PLAN (df.count() would execute a different,
      // count-optimized plan, leaving this plan's SQL metrics at zero —
      // WorkunitStatistics reads those metrics)
      val rows = df.queryExecution.executedPlan.execute().count()
      val end = System.currentTimeMillis()
      runs(wuid) = WuRecord(wuid, name, owner, "completed", start,
        end, rows, scannedPaths(df), messages,
        timings = Seq(("create", created - start),
          ("execute", end - created), ("total", end - start)),
        stats = planStats(df))
      wuid
    } catch {
      case t: Throwable =>
        runs(wuid) = WuRecord(wuid, name, owner, "failed", start,
          System.currentTimeMillis(), -1L, Nil,
          messages :+ String.valueOf(t.getMessage))
        throw t
    }
  }

  /** Post-execution plan metrics — `WorkunitStatistics`
    * (Workunit.ecl:167): one (activity, statistic, value) row per
    * populated SQL metric of the executed plan, the Spark twin of the
    * reference's per-activity statistics tree.
    */
  private def planStats(df: DataFrame): Seq[(String, String, Long)] =
    ExecutedPlan.flatMap(df.queryExecution.executedPlan) { node =>
      node.metrics.toSeq.collect {
        case (k, m) if m.value > 0 => (node.nodeName, k, m.value)
      }
    }

  /** wsWorkunitExists. */
  def workunitExists(wuid: String): Boolean = runs.contains(wuid)

  /** Atomic read-copy-update on a run record: TrieMap `replace` CAS
    * loop. The mutators below are called from a serving layer's request
    * threads (messages, statistics, written files land concurrently); a
    * bare get→copy→put would silently lose racing appends. `f` returning
    * None means "no change" (reported as false, e.g. a losing
    * no-overwrite app value); a lost CAS retries against the fresh record.
    */
  @annotation.tailrec
  private def updateRun(wuid: String)(
      f: WuRecord => Option[WuRecord]): Boolean =
    runs.get(wuid) match {
      case None => false
      case Some(r) => f(r) match {
        case None => false
        case Some(next) =>
          if (runs.replace(wuid, r, next)) true
          else updateRun(wuid)(f)
      }
    }

  /** Append a message to a recorded workunit — the write path behind
    * Std.System.Log's addWorkunitInformation/Warning/Error
    * ([[SystemInfo.Log.addWorkunitMessage]]). False when the wuid is
    * unknown (audit the miss, don't throw — the reference's services
    * return success flags).
    */
  def addMessage(wuid: String, severity: String, text: String,
      code: Int = 0): Boolean =
    updateRun(wuid)(r => Some(
      r.copy(messages = r.messages :+ s"$severity ($code): $text")))

  /** wsWorkunitList with wildcard filters on name/owner/state
    * (lowerwuid/upperwuid analog: the id range).
    */
  def workunitList(namePattern: String = "*", ownerPattern: String = "*",
      statePattern: String = "*"): DataFrame = {
    import spark.implicits._
    import graft.workflow.Events.wildcardMatch
    runs.values.toSeq
      .filter(r => wildcardMatch(namePattern, r.name) &&
        wildcardMatch(ownerPattern, r.owner) &&
        wildcardMatch(statePattern, r.state))
      .sortBy(_.wuid)
      .map(r => (r.wuid, r.name, r.owner, r.state, r.startMs, r.endMs,
        r.endMs - r.startMs, r.rows))
      .toDF("wuid", "name", "owner", "state", "start_ms", "end_ms",
        "elapsed_ms", "rows")
  }

  /** wsWorkunitTimeStamps: one row per timing edge of a workunit. */
  def workunitTimeStamps(wuid: String): DataFrame = {
    import spark.implicits._
    runs.get(wuid).toSeq
      .flatMap(r => Seq((r.wuid, "started", r.startMs),
        (r.wuid, "finished", r.endMs)))
      .toDF("wuid", "event", "ts_ms")
  }

  /** wsWorkunitFilesRead: the parquet locations the plan scanned. */
  def workunitFilesRead(wuid: String): DataFrame = {
    import spark.implicits._
    runs.get(wuid).toSeq.flatMap(r => r.filesRead.map((r.wuid, _)))
      .toDF("wuid", "path")
  }

  /** wsWorkunitMessages. */
  def workunitMessages(wuid: String): DataFrame = {
    import spark.implicits._
    runs.get(wuid).toSeq.flatMap(r => r.messages.map((r.wuid, _)))
      .toDF("wuid", "message")
  }

  /** `WorkunitFilesWritten` (Workunit.ecl:149). Writes happen inside the
    * body's own sinks, so they register explicitly — [[addFileWritten]]
    * is the hook OUTPUT-style helpers call.
    */
  def addFileWritten(wuid: String, path: String): Boolean =
    updateRun(wuid)(r => Some(
      r.copy(filesWritten = r.filesWritten :+ path)))

  def workunitFilesWritten(wuid: String): DataFrame = {
    import spark.implicits._
    runs.get(wuid).toSeq.flatMap(r => r.filesWritten.map((r.wuid, _)))
      .toDF("wuid", "path")
  }

  /** `WorkunitTimings` (Workunit.ecl:158): create/execute/total edges. */
  def workunitTimings(wuid: String): DataFrame = {
    import spark.implicits._
    runs.get(wuid).toSeq.flatMap(r =>
        r.timings.map { case (c, ms) => (r.wuid, c, ms) })
      .toDF("wuid", "component", "elapsed_ms")
  }

  /** `WorkunitStatistics` (Workunit.ecl:167): executed-plan SQL metrics,
    * optionally filtered by a statistic-name wildcard.
    */
  def workunitStatistics(wuid: String, filter: String = "*"): DataFrame = {
    import spark.implicits._
    runs.get(wuid).toSeq.flatMap(r => r.stats.collect {
        case (act, stat, v)
          if graft.workflow.Events.wildcardMatch(filter, stat) =>
          (r.wuid, act, stat, v)
      })
      .toDF("wuid", "activity", "statistic", "value")
  }

  /** Append an engine/operator statistic to a recorded workunit — the
    * channel for counters the executed plan's SQL metrics cannot carry
    * (e.g. the PARSE whole-row memo's accumulator-merged hits/misses).
    * Read back through [[workunitStatistics]] like any plan metric.
    */
  def addStatistic(wuid: String, activity: String, statistic: String,
      value: Long): Boolean =
    updateRun(wuid)(r => Some(
      r.copy(stats = r.stats :+ ((activity, statistic, value)))))

  /** `SetWorkunitAppValue` (Workunit.ecl:179) + its read-back. */
  def setWorkunitAppValue(wuid: String, app: String, key: String,
      value: String, overwrite: Boolean = true): Boolean = {
    val k = s"$app/$key"
    updateRun(wuid) { r =>
      if (!overwrite && r.appValues.contains(k)) None
      else Some(r.copy(appValues = r.appValues + (k -> value)))
    }
  }

  def workunitAppValue(wuid: String, app: String, key: String): Option[String] =
    runs.get(wuid).flatMap(_.appValues.get(s"$app/$key"))
}
