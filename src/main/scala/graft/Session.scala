package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. The session's SQL conf
  * drives Catalyst's physical planning (broadcast vs shuffle joins, the
  * shuffle partition count), so every program that runs the engine takes
  * one of exactly two shapes from here and plan evidence from a tool is
  * the plan Bench and Verify run.
  *
  *  - [[engine]]: `local[cores]` with `cores` shuffle partitions, UTC,
  *    parquet nanos as longs, `target/spark-warehouse`, UI off, WARN.
  *  - [[bench]]: the engine default plus the 64 MiB broadcast threshold and
  *    the status-store retention caps of a long-lived timing session.
  */
object Session {

  /** Cores of a run: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)

  def engine(cores: Int = cpus, appName: String = ""): SparkSession =
    start(builder(cores, appName))

  def bench(cores: Int = cpus): SparkSession =
    start(builder(cores, "")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // a long-lived session accumulates status-listener state across 80+
      // queries; keep retention minimal so allocation-heavy queries late in
      // the run don't pay growing GC costs
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000"))

  private def builder(cores: Int, appName: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
    if (appName.isEmpty) b else b.appName(appName)
  }

  private def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Workflow.Checkpointed releases superseded local checkpoints on
    // purpose; RDD.unpersist warns once per released RDD that its lineage
    // cannot be recomputed, which floods test and bench logs
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }
}
