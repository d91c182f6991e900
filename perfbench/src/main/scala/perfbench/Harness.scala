package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction

/** The benchmark's engine process. `run.py` starts one per run and reads
  * what it reports; every statistic is computed there.
  *
  * Modes (arguments are `key=value`):
  *  - `thor`: untimed warm-up passes, then timed passes over `calls` for
  *    `seconds`; writes every call's wall and CPU times and result digest
  *    to `out`.
  *  - `serve`: see [[Serve]].
  *  - `digest`: digests and columns of the DuckDB oracle results under
  *    `oracles`, in the oracle's own schema.
  *  - `oracle-sql`: the registry oracle SQL stating each call's expected
  *    output, keyed by call name.
  */
object Harness {
  private val MinPasses = 3
  private val WarmPasses = 3
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def main(argv: Array[String]): Unit = {
    val args = argv.drop(1).map { a =>
      val Array(k, v) = a.split("=", 2); k -> v
    }.toMap
    argv.head match {
      case "thor" => thor(args)
      case "serve" => Serve.main(args, session(args))
      case "digest" => digests(args)
      case "oracle-sql" =>
        val calls = Calls.resolve(args("calls").split(',').toSeq, args("work"))
        write(args("out"), Json.obj(calls.flatMap(c =>
          c.oracleOf.flatMap(Calls.oracleSql).map(c.name -> Json.str(_)))))
    }
  }

  def session(args: Map[String, String]): SparkSession = {
    val n = args("cpus")
    val work = args("work")
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Digest of a frame's complete output: the row count and a hash over
    * every column of every row (Spark's Murmur3, columns in name order).
    * Row hashes of an unordered result are summed, so row order does not
    * matter. Those of an `ordered` result are folded by position, partition
    * by partition in partition order, so any change of order changes the
    * digest. Runs the planned physical plan (`toRdd`), so every output
    * column is computed and nothing is pruned.
    */
  def digest(df: DataFrame, ordered: Boolean): (Long, Long) = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val ords = fields.map(_._2)
    val types = fields.map(_._1.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { rows =>
      var n = 0L
      var acc = 0L
      rows.foreach { r =>
        var h = 42L
        var i = 0
        while (i < ords.length) {
          val v = if (r.isNullAt(ords(i))) null else r.get(ords(i), types(i))
          h = Murmur3HashFunction.hash(v, types(i), h)
          i += 1
        }
        acc = if (ordered) acc * Mix + h else acc + h * Mix
        n += 1
      }
      Iterator((n, acc))
    }.collect()
    parts.foldLeft((0L, 0L)) { case ((n, acc), (pn, pAcc)) =>
      (n + pn, if (ordered) acc * pow(Mix, pn) + pAcc else acc + pAcc)
    }
  }

  private val Mix = 0x9E3779B97F4A7C15L

  /** `b` to the power `e`, wrapping like the folds above. */
  private def pow(b: Long, e: Long): Long = {
    var (r, x, k) = (1L, b, e)
    while (k > 0) {
      if ((k & 1) == 1) r *= x
      x *= x
      k >>= 1
    }
    r
  }

  /** A frame's output columns as `name:type`, in name order. */
  def schemaOf(df: DataFrame): String =
    df.schema.fields.sortBy(_.name).map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")

  private def hex(d: (Long, Long)): String = f"${d._1}%d:${d._2}%016x"

  private def phase[T](spark: SparkSession, p: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(Probe.PhaseKey, p)
    try body finally spark.sparkContext.setLocalProperty(Probe.PhaseKey, null)
  }

  private def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time each thread of this process has run so far, in ns, keyed
    * by thread id, from `/proc/self/task/<tid>/schedstat`. The scheduler
    * counts only time a thread ran: time the host gives to other guests
    * (steal) and time spent waiting for a core are not in it, so it reads
    * the same on a quiet and on a busy shared host.
    */
  def cpuSnapshot(): Map[String, Long] = {
    val tids = Option(new java.io.File("/proc/self/task").list()).getOrElse(Array.empty)
    tids.flatMap { tid =>
      try {
        val stat = new String(Files.readAllBytes(
          Paths.get(s"/proc/self/task/$tid/schedstat")), UTF_8)
        Some(tid -> stat.substring(0, stat.indexOf(' ')).toLong)
      } catch { case _: java.io.IOException => None } // the thread has ended
    }.toMap
  }

  /** CPU time since `from` (a [[cpuSnapshot]]), in ns, by kind of thread.
    * A thread that started since counts from 0; one that ended since drops
    * out, with the time it ran in between.
    */
  def cpuSince(from: Map[String, Long]): CpuTime = {
    var engine, gc, jit = 0L
    cpuSnapshot().foreach { case (tid, ns) =>
      val d = ns - from.getOrElse(tid, 0L)
      if (d > 0) kindOf(tid) match {
        case Jit => jit += d
        case Gc => gc += d
        case _ => engine += d
      }
    }
    CpuTime(engine, gc, jit)
  }

  private val Jit = "jit"
  private val Gc = "gc"
  private val kinds = new java.util.concurrent.ConcurrentHashMap[String, String]
  private def kindOf(tid: String): String = kinds.computeIfAbsent(tid, { t =>
    val name = new String(Files.readAllBytes(
      Paths.get(s"/proc/self/task/$t/comm")), UTF_8).trim
    if (name.matches("C\\d Compiler.*")) Jit
    else if (name.startsWith("GC Thread") || name.startsWith("G1 ")) Gc
    else "engine"
  })

  /** Peak resident set size of this process in MB (Linux VmHWM). */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def thor(args: Map[String, String]): Unit = {
    val spark = session(args)
    val data = args("data")
    val calls = Calls.resolve(args("calls").split(',').toSeq, args("work"))
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cpus = args("cpus").toInt
    val ordered = orderedCalls(args)
    val records = ArrayBuffer.empty[String]
    val passes = ArrayBuffer.empty[String]

    def runCall(c: Call, pass: Int, probe: Option[Probe]): Unit = {
      val cpu0 = cpuSnapshot()
      val thread0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      var build = 0.0
      var nocodegen = 0
      var phases = Map.empty[String, Double]
      var schema = ""
      val (result, error) = try {
        val df = phase(spark, "build")(c.fn(spark, data))
        build = secs(t0)
        val d = phase(spark, "exec")(digest(df, ordered(c.name)))
        if (probe.nonEmpty) {
          nocodegen = Probe.nocodegenOps(df.queryExecution.executedPlan)
          phases = df.queryExecution.tracker.phases.map { case (k, v) =>
            k -> v.durationMs / 1e3 }
        }
        schema = schemaOf(df)
        (hex(d), "")
      } catch { case e: Exception =>
        ("", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      val wall = secs(t0)
      val used = cpuSince(cpu0)
      val cpu = used.counted / 1e9
      val jit = used.jit / 1e9
      val gc = used.gc / 1e9
      val driverCpu = (threads.getCurrentThreadCpuTime - thread0) / 1e9
      System.err.println(f"[perfbench] ${c.name} pass=$pass wall=$wall%.3f s $error")
      records += Json.obj(Seq("name" -> Json.str(c.name),
        "module" -> Json.str(c.module), "pass" -> pass.toString,
        "traced" -> probe.nonEmpty.toString, "wall_s" -> wall.toString,
        "cpu_s" -> cpu.toString, "jit_s" -> jit.toString,
        "gc_cpu_s" -> gc.toString, "driver_cpu_s" -> driverCpu.toString,
        "build_s" -> build.toString,
        "digest" -> Json.str(result), "schema" -> Json.str(schema),
        "error" -> Json.str(error),
        "nocodegen_ops" -> nocodegen.toString) ++
        phases.toSeq.sorted.map { case (k, v) => s"catalyst_$k" -> v.toString })
    }

    // Untimed warm-up passes: JIT, codegen caches and file listings settle
    // here, and they count in setup_s. They run in the listed order for
    // every seed: the order code first runs in shapes the JIT's profiles,
    // and with it the speed of the whole run.
    (1 to WarmPasses).foreach(w => calls.foreach(runCall(_, -w, None)))
    // Every timed pass runs the calls in an order of its own, drawn from
    // the seed, so no one order (and what each write leaves behind for the
    // next call) holds for a whole run.
    val seed = args("seed").toLong
    def order(pass: Int): Seq[Call] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(calls)
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val start = System.nanoTime()
    var pass = 0
    // Whole passes only, so every sample set has the same call mix: a new
    // pass starts while time is left, and at least MinPasses run, so the
    // sample count (and with it the reported tail percentile) does not
    // drop on a slow machine. Traced runs alternate untraced and traced
    // passes, so the tracing overhead is measured inside one process.
    while (secs(start) < seconds || pass < MinPasses) {
      val probe = if (traced && pass % 2 == 1) Some(new Probe) else None
      probe.foreach(spark.sparkContext.addSparkListener)
      val p0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      var wall = 0.0
      order(pass).foreach { c =>
        val c0 = System.nanoTime()
        runCall(c, pass, probe)
        wall += secs(c0)
        probe.foreach(_.settle())
      }
      val layer = probe.map { p =>
        p.settle()
        spark.sparkContext.removeSparkListener(p)
        val gap = p.gapMs(w0, System.currentTimeMillis()) / 1e3 -
          (secs(p0) - wall)
        (p.snapshot.map { case (k, v) => k -> v.toString } +
          ("driver_gap_s" -> gap.toString)).toSeq.sorted
      }.getOrElse(Seq.empty)
      passes += Json.obj(Seq("pass" -> pass.toString,
        "traced" -> probe.nonEmpty.toString, "wall_s" -> wall.toString) ++ layer)
      pass += 1
    }
    write(args("out"), Json.obj(Seq(
      "setup_s" -> setup.toString, "cpus" -> cpus.toString,
      "peak_rss_mb" -> peakRssMb.toString,
      "calls" -> records.mkString("[", ",", "]"),
      "passes" -> passes.mkString("[", ",", "]"))))
    spark.stop()
  }

  /** Names of the calls whose output is defined in order (`ordered=a,b`). */
  private def orderedCalls(args: Map[String, String]): Set[String] =
    args.get("ordered").toSeq.flatMap(_.split(',')).filter(_.nonEmpty).toSet

  /** Expected outputs: the digest and the columns of each call's DuckDB
    * oracle result (written by run.py under `oracles`), read in the
    * oracle's own schema. Nothing here runs the program being measured.
    * Each oracle result is one small parquet file, read as one partition
    * in file order. DuckDB writes TIMESTAMP without a zone; it is read as
    * Spark's `timestamp` in the UTC session zone, which is what the
    * registry's oracle SQL means by it.
    */
  private def digests(args: Map[String, String]): Unit = {
    val spark = session(args)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val ordered = orderedCalls(args)
    val out = args("calls").split(',').toSeq.map { name =>
      val path = s"${args("oracles")}/$name.parquet"
      val entry =
        if (!Files.exists(Paths.get(path))) "null"
        else {
          val df = spark.read.parquet(path)
          Json.obj(Seq("digest" -> Json.str(hex(digest(df, ordered(name)))),
            "schema" -> Json.str(schemaOf(df))))
        }
      name -> entry
    }
    write(args("out"), Json.obj(out))
    spark.stop()
  }

  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(UTF_8))
}

/** CPU time of a process's threads over some interval, in ns: the
  * engine's own threads, the garbage collector's, and the JIT compiler's.
  * `counted` is what the benchmark reports as CPU time: all but the JIT
  * compiler's, whose work is warm-up.
  */
final case class CpuTime(engine: Long, gc: Long, jit: Long) {
  def counted: Long = engine + gc
}

/** Minimal JSON rendering for the flat reports above. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
