package perfbench

import graft.Tables
import graft.serve.Published
import graft.sources.{FileCatalog, IndexedTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Roxie-style serving: a customer index published through
  * `Published.serveBounded`, with the live index generation held in a
  * `FileCatalog` superfile and the response cache keyed on the catalog's
  * data version.
  *
  * Published queries:
  *  - `lookup?key=K`: point lookup by `c_custkey` via `IndexedTable.keyedRead`
  *    on the live generation (cacheable);
  *  - `segment?seg=S&nonce=N`: per-nation aggregate of one market segment
  *    (the nonce makes every request a distinct, uncacheable key).
  * Both return the generation they read, so the load generator can check
  * that no request issued after a promote reads an older one.
  *
  * After set-up it prints `READY <port> <generation> <setup_s>` and then
  * answers commands on stdin, one per line:
  * `promote` → `PROMOTED <generation> <total_ms> <catalog_ms> <cpu_ms> <gc_ms>`
  * (`cpu_ms`: CPU time of the process, JIT compiler aside, during the
  * promote, of which `gc_ms` the garbage collector's),
  * `trace on|off`, `direct <n> <seed>` → `DIRECT {json}`,
  * `mark` → `MARKED` (starts the CPU clock of `stats`),
  * `stats` → `STATS {json}` (`cpu_ns`, `gc_ns`, `jit_ns`: CPU time since
  * `mark`, as in `promote`, and the JIT compiler's), `quit`.
  */
object Serve {
  val MaxRows = 100
  private val WarmPromotes = 2

  def main(args: Map[String, String], spark: SparkSession): Unit = {
    val cpus = args("cpus").toInt
    val keys = args("keys").toInt
    val root = s"${args("work")}/serve"
    val customer = Tables.customer(spark, args("data"))
    val cat = new FileCatalog(spark, s"$root/catalog")
    def genName(g: Int) = s"cust::g$g"
    def genPath(g: Int) = s"$root/gen/$g"
    def livePath(): String = {
      val sub = cat.superFileContents("live").head
      genPath(sub.stripPrefix("cust::g").toInt)
    }
    var gen = 0
    var catalogMs = 0.0

    // the writer: build the next index generation, catalog it and promote
    // it to live in one catalog commit
    def promote(): Unit = {
      val next = gen + 1
      spark.sparkContext.setLocalProperty(Probe.PhaseKey, "write")
      try IndexedTable.build(customer.withColumn("gen", lit(next)),
        Seq("c_custkey"), genPath(next), cpus)
      finally spark.sparkContext.setLocalProperty(Probe.PhaseKey, null)
      val t0 = System.nanoTime()
      cat.register(genName(next), genPath(next))
      cat.promoteSuperFileList(Seq("live", "prev"), addHead = Some(genName(next)))
      catalogMs = (System.nanoTime() - t0) / 1e6
      gen = next
    }
    IndexedTable.build(customer.withColumn("gen", lit(0)),
      Seq("c_custkey"), genPath(0), cpus)
    cat.register(genName(0), genPath(0))
    cat.createSuperFile("live")
    cat.createSuperFile("prev")
    cat.addSuperFile("live", genName(0))

    val pub = new Published(spark)
    def lookup(s: SparkSession, key: Long): DataFrame =
      IndexedTable.keyedRead(s, livePath(), col("c_custkey") === key)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "gen")
    pub.publish("lookup")((s, st) => lookup(s, st.long("key", -1L)))
    pub.publish("segment") { (s, st) =>
      IndexedTable.keyedRead(s, livePath(), col("c_mktsegment") === st("seg", ""))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("cents"),
          max("gen").as("gen"))
    }
    pub.withDataVersion(() => cat.dataVersion.toString)
    val port = pub.serveBounded(0, MaxRows, cacheTtlMs = 3600000L,
      workers = cpus, maxQueue = 4 * cpus)

    // untimed warm-up of the promote path; the read paths and the
    // response cache are warmed over HTTP by run.py's traffic, which also
    // counts in setup_s
    (0 until WarmPromotes).foreach(_ => promote())

    val setup = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    println(s"READY $port $gen $setup")
    var probe: Option[Probe] = None
    var mark = Harness.cpuSnapshot()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "quit") {
      line.split(" ").toList match {
        case "promote" :: Nil =>
          val cpu0 = Harness.cpuSnapshot()
          val t0 = System.nanoTime()
          promote()
          val wall = (System.nanoTime() - t0) / 1e6
          val used = Harness.cpuSince(cpu0)
          val cpu = used.counted / 1e6
          println(s"PROMOTED $gen $wall $catalogMs $cpu ${used.gc / 1e6}")
        case "trace" :: "on" :: Nil =>
          val p = new Probe
          spark.sparkContext.addSparkListener(p)
          probe = Some(p)
        case "trace" :: "off" :: Nil =>
          probe.foreach { p => p.settle(); spark.sparkContext.removeSparkListener(p) }
        case "direct" :: n :: seed :: Nil =>
          println("DIRECT " + direct(spark, pub, n.toInt, seed.toLong, keys, livePath))
        case "mark" :: Nil =>
          mark = Harness.cpuSnapshot()
          println("MARKED")
        case "stats" :: Nil =>
          val cpu = Harness.cpuSince(mark)
          val (hits, misses) = pub.cacheStats
          val layer = probe.map(_.snapshot).getOrElse(Map.empty)
          println("STATS " + Json.obj(Seq(
            "cache_hits" -> hits.toString, "cache_misses" -> misses.toString,
            "collapsed" -> pub.collapsedStats.toString,
            "shed" -> pub.shedStats.toString,
            "timeouts" -> pub.timeoutStats.toString,
            "peak_rss_mb" -> Harness.peakRssMb.toString,
            "cpu_ns" -> cpu.counted.toString, "gc_ns" -> cpu.gc.toString,
            "jit_ns" -> cpu.jit.toString) ++
            layer.toSeq.sorted.map { case (k, v) => k -> v.toString }))
        case other =>
          println(s"ERROR unknown command: ${other.mkString(" ")}")
      }
      System.out.flush()
      line = in.readLine()
    }
    pub.stopServing()
    spark.stop()
  }

  /** Engine time without HTTP: `Published.run(...)` plus collecting at most
    * `MaxRows` rows, and a bare `keyedRead(...).collect()` on the live
    * generation, for `n` seeded keys.
    */
  private def direct(spark: SparkSession, pub: Published, n: Int, seed: Long,
      keys: Int, livePath: () => String): String = {
    val rng = new scala.util.Random(seed)
    val engine, keyed, analysis, optimization, planning =
      scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until n).foreach { _ =>
      val key = rng.nextInt(keys).toLong
      val t0 = System.nanoTime()
      val q = pub.run("lookup", Map("key" -> key.toString)).limit(MaxRows)
      q.collect()
      engine += (System.nanoTime() - t0) / 1e6
      val ph = q.queryExecution.tracker.phases
      analysis += ph.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0)
      optimization += ph.get("optimization").map(_.durationMs / 1e3).getOrElse(0.0)
      planning += ph.get("planning").map(_.durationMs / 1e3).getOrElse(0.0)
      val t1 = System.nanoTime()
      IndexedTable.keyedRead(spark, livePath(), col("c_custkey") === key).collect()
      keyed += (System.nanoTime() - t1) / 1e6
    }
    def arr(xs: Seq[Double]) = xs.mkString("[", ",", "]")
    Json.obj(Seq("engine_ms" -> arr(engine.toSeq), "keyed_read_ms" -> arr(keyed.toSeq),
      "analysis_s" -> arr(analysis.toSeq), "optimization_s" -> arr(optimization.toSeq),
      "planning_s" -> arr(planning.toSeq)))
  }
}
