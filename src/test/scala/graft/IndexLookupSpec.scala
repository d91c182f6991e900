package graft

import java.nio.file.{Files, Paths}
import java.util.HexFormat
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import graft.serve.Published
import graft.sources.{IndexLookup, IndexLookupExec, IndexedTable, Sources}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** A collected or taken keyed read whose TLK leaves at most one file split
  * is planned as an [[IndexLookupExec]] and read on the calling thread: it
  * must return exactly the rows, in the same order, that the same plan's
  * Spark job returns, under every reader conf, run no job and no broadcast,
  * and still skip row groups. Every other read, and an index read inside a
  * larger plan, keeps Spark's own plan.
  */
class IndexLookupSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import TopLevelKeySpec.{keyPreds, keyed}

  private def tmp(name: String): String = Files.createDirectories(
    Paths.get(s"target/graft_io/lookup/$name-${System.nanoTime()}")).resolve("idx").toString

  private def index(df: DataFrame, name: String, parts: Int, keys: String*): String = {
    val dir = tmp(name)
    IndexedTable.build(df, keys, dir, numPartitions = parts)
    dir
  }

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def lookups(df: DataFrame): Seq[IndexLookupExec] =
    collect(df.queryExecution.executedPlan) { case e: IndexLookupExec => e }

  /** The first `n` rows of `df`'s plan read on the calling thread, and
    * through the plan's Spark job, each as the bytes of its unsafe row. The
    * job's tasks see the session's SQL confs, as an action's tasks do.
    */
  private def bothPaths(df: DataFrame, n: Int): (Seq[String], Seq[String]) = {
    val plan = df.queryExecution.executedPlan
    val unsafe = UnsafeProjection.create(df.schema)
    def render(rows: Seq[InternalRow]) =
      rows.map(r => HexFormat.of.formatHex(unsafe(r).getBytes))
    val local = if (n == Int.MaxValue) plan.executeCollect() else plan.executeTake(n)
    val viaJob = SQLExecution.withSQLConfPropagated(spark.asInstanceOf[classic.SparkSession]) {
      plan.execute().map(_.copy()).collect().take(n)
    }
    (render(local.toSeq), render(viaJob.toSeq))
  }

  /** `df` is a calling-thread read with no job, row-exact against the
    * plan's job: all its rows, and the first two.
    */
  private def assertSame(df: DataFrame, what: String): Unit =
    for (n <- Seq(Int.MaxValue, 2)) {
      assert(df.queryExecution.executedPlan.isInstanceOf[IndexLookupExec],
        s"$what:\n${df.queryExecution.executedPlan}")
      val ((local, viaJob), jobs, _) = jobsAndTasks(bothPaths(df, n))
      assert(local == viaJob, s"$what, first $n")
      assert(jobs == 1, s"$what: $jobs jobs (the calling-thread read must add none)")
    }

  /** On a one-part index every read of `pred` is a calling-thread read with
    * no job, row-exact against the plan's job: the filtered rows and a
    * projection of them.
    */
  private def assertSameRows(dir: String, pred: Column): Unit =
    for (df <- Seq(Sources.parquet(spark, dir).filter(pred),
        Sources.parquet(spark, dir).filter(pred).select(col("v"), col("k"),
          concat_ws("/", col("k").cast("string"), col("v").cast("string")).as("kv"))))
      assertSame(df, s"$pred over $dir")

  private lazy val rows = spark.range(0, 400).withColumn("v", (col("id") % 7).cast("int"))

  test("differential: every TLK key kind and predicate, read on the calling " +
      "thread and by the plan's job, row-exact, vectorized reader on and off") {
    val dirs = keyed.map { case (kind, key, at) =>
      (index(rows.withColumn("k", key).select("k", "v", "id"), kind, 1, "k"), at)
    }
    val two = index(rows.select((col("id") / 150).cast("long").as("k"), col("id").as("b"),
      col("v")), "two", 1, "k", "b")
    val keys = Seq(-0.0, 0.0, Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000000123L),
      1.5, -2.5, Double.PositiveInfinity, Double.NegativeInfinity)
    val double = index(spark.range(0, 400).select(
      when(col("id") % 9 === 8, lit(null))
        .otherwise(element_at(typedLit(keys), (col("id") % 9 + 1).cast("int"))).as("k"),
      (col("id") % 7).cast("int").as("v")), "double", 1, "k")
    val nulls = index(rows.select(when(col("id") % 5 === 0, lit(null)).otherwise(col("id")).as("k"),
      col("v")), "nulls", 1, "k")
    val empty = index(rows.select(col("id").as("k"), col("v")).filter(lit(false)), "empty", 1, "k")
    val k = col("k")
    for (vectorized <- Seq("true", "false"))
      withConf("spark.sql.parquet.enableVectorizedReader", vectorized) {
        for ((dir, at) <- dirs; pred <- keyPreds(k, at) ++ Seq(k > at(399), k < at(0), k.isNull,
            col("v") === 3, (k === at(5)) || (col("v") === 3), !(k === at(5))))
          assertSameRows(dir, pred)
        for (pred <- Seq(k === 0, k === 2, (k === 1) && (col("b") === 200), col("b") === 5))
          assertSameRows(two, pred)
        for (pred <- Seq(k === 0.0, k === -0.0, k.isNaN, k === Double.NaN, k > 1.0, k < -1.0,
            k.isin(-0.0, Double.NaN), k.isNull, k <=> lit(null).cast("double"),
            k.isNull || (k === 1.5)))
          assertSameRows(double, pred)
        for (pred <- Seq(k.isNull, k <=> lit(null).cast("long"), k <=> 7L, k === 399L,
            k.isNull || (k === 399L), k.isNotNull))
          assertSameRows(nulls, pred)
        for (pred <- Seq(k === 1L, col("v") === 1))
          assertSameRows(empty, pred)
      }
  }

  private def withConfs[T](confs: Seq[(String, String)])(f: => T): T =
    confs.foldRight(() => f) { case ((key, value), inner) => () => withConf(key, value)(inner()) }()

  test("differential under the confs the reader set-up reads: filter pushdown off, " +
      "record-level filter, case sensitivity, INT96 under a non-UTC zone, LEGACY-rebased " +
      "dates and timestamps read LEGACY and CORRECTED; vectorized reader on and off") {
    val base = spark.range(0, 400).select(col("id").as("k"), (col("id") % 7).cast("int").as("v"))
    val k = col("k")
    val keyPreds = Seq(k === 5L, k.between(10L, 20L), col("v") === 3, k > 395L, k.isNull)
    val caseSensitive = "spark.sql.caseSensitive" -> "true"
    val rebaseRead = "spark.sql.parquet.datetimeRebaseModeInRead"
    val day0 = lit("1000-01-01").cast("date")
    // name, write confs, input, key, predicates, read confs
    val cases = Seq(
      ("pushdown-off", Nil, base, "k", keyPreds,
        Seq(Seq("spark.sql.parquet.filterPushdown" -> "false"))),
      ("record-filter", Nil, base, "k", keyPreds,
        Seq(Seq("spark.sql.parquet.recordLevelFilter.enabled" -> "true"))),
      ("case-sensitive", Seq(caseSensitive),
        base.select(k.as("Key"), (-k).as("key"), col("v")), "Key",
        Seq(col("Key") === 7L, col("key") === -7L, col("Key") > 390L, col("key") < -390L),
        Seq(Seq(caseSensitive))),
      ("int96", Seq("spark.sql.parquet.outputTimestampType" -> "INT96",
          "spark.sql.parquet.int96RebaseModeInWrite" -> "LEGACY"),
        base.withColumn("ts96", timestamp_seconds(lit(-15000000000L) + k * 86399)), "k",
        keyPreds :+ (col("ts96") < timestamp_seconds(lit(-14990000000L))),
        Seq(Seq("spark.sql.session.timeZone" -> "America/Los_Angeles"))),
      ("legacy-rebase", Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
          "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY"),
        base.withColumn("d", date_add(day0, (k * 37).cast("int")))
          .withColumn("ts", timestamp_seconds(lit(-20000000000L) + k * 7919)), "k",
        keyPreds ++ Seq(col("d") <= date_add(day0, 370),
          col("ts") > timestamp_seconds(lit(-19999000000L))),
        Seq(Seq(rebaseRead -> "LEGACY"), Seq(rebaseRead -> "CORRECTED"))))
    for ((name, write, df, key, preds, reads) <- cases) {
      val dir = withConfs(write)(index(df, name, 1, key))
      for (read <- reads; vectorized <- Seq("true", "false"))
        withConfs(read :+ ("spark.sql.parquet.enableVectorizedReader" -> vectorized)) {
          for (pred <- preds) {
            val q = Sources.parquet(spark, dir).filter(pred)
            val what = s"$name under $read, vectorized $vectorized: $pred"
            assertSame(q, what)
            assertSame(q.select(q.columns.reverse.toSeq.map(col): _*), s"$what, projected")
          }
        }
    }
  }

  // the job and task counts below are those the same reads ran before
  // IndexLookup existed
  test("reads outside the one-split gate plan Spark's scan with no lookup, " +
      "and run the jobs they ran before it") {
    val four = rows.select((col("id") * 3).as("k"), col("v"))
    val dir = index(four, "four", 4, "k")
    def assertStandard(name: String, df: DataFrame, counts: (Int, Int)): Unit = {
      val (_, jobs, tasks) = jobsAndTasks(df.collect())
      assert(lookups(df).isEmpty, s"$name:\n${df.queryExecution.executedPlan}")
      assert((jobs, tasks) == counts, s"$name: $jobs jobs, $tasks tasks")
    }
    // a key range over all four parts: four splits
    assertStandard("range", Sources.parquet(spark, dir).filter(col("k").between(270, 930)),
      (1, 4))
    val stale = index(four, "stale", 4, "k")
    Seq((7L, 99)).toDF("k", "v").write.mode("append").parquet(stale)
    assertStandard("stale", Sources.parquet(spark, stale).filter(col("k") === 21), (1, 3))
    val missing = index(four, "missing", 4, "k")
    new java.io.File(s"$missing/_tlk").delete()
    assertStandard("missing", Sources.parquet(spark, missing).filter(col("k") === 21), (1, 4))
    val plain = tmp("plain")
    four.coalesce(1).write.parquet(plain)
    assertStandard("plain", Sources.parquet(spark, plain).filter(col("k") === 21), (1, 1))

    // under an aggregate the lookup is not planned: the scan fuses with the
    // operators above it
    val agg = Sources.parquet(spark, dir).filter(col("k") === 21).groupBy("v").count()
    val (got, jobs, tasks) = jobsAndTasks(agg.collect())
    assert(lookups(agg).size == 0, agg.queryExecution.executedPlan)
    assert((jobs, tasks) == (2, 2), s"aggregate: $jobs jobs, $tasks tasks")
    assert(got.toSeq == Seq(Row(0, 1L)))
  }

  test("a calling-thread point lookup still skips row groups through the " +
      "scan's pushed filters") {
    val dir = withConf("parquet.block.size", "2048") {
      index(spark.range(0, 4000).select(col("id").as("k"), (col("id") % 7).cast("int").as("v")),
        "row-groups", 1, "k")
    }
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
    assert(part.size == 1)
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.head.getAbsolutePath), conf))
    val groups = try reader.getFooter.getBlocks.size finally reader.close()
    assert(groups >= 4, s"$groups row groups")
    for (vectorized <- Seq("true", "false"))
      withConf("spark.sql.parquet.enableVectorizedReader", vectorized) {
        val q = Sources.parquet(spark, dir).filter(col("k") === 2500L)
        val (got, jobs, _) = jobsAndTasks(q.collect())
        assert(jobs == 0 && got.toSeq == Seq(Row(2500L, 2500 % 7)))
        val exec = lookups(q).head
        val read = exec.metrics("rowsRead").value
        assert(exec.metrics("partsRead").value == 1)
        assert(read > 0 && read < 4000, s"vectorized $vectorized: read $read of 4000 rows")
      }
  }

  test("16 threads serve distinct keys through serveBounded on a 4-part " +
      "index: every response is the plain read's rows, and no job runs") {
    val idx = index(Tables.customer(spark, sf), "served", 4, "c_custkey")
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    val pub = new Published(spark)
    pub.publish("lookup") { (s, stored) =>
      IndexedTable.keyedRead(s, idx, col("c_custkey") === stored.long("key", -1L))
        .select(cols.map(col): _*)
    }
    // the response body of each key, rendered from the plain parquet read
    val keys = (1L to 80L).toSeq
    def json(r: Row): String = cols.indices.map { i =>
      val v = r.get(i) match {
        case s: String =>
          assert(!s.exists(c => c == '"' || c == '\\' || c < ' '), s)
          "\"" + s + "\""
        case other => String.valueOf(other)
      }
      "\"" + cols(i) + "\":" + v
    }.mkString("{", ",", "}")
    val plain = spark.read.parquet(idx).filter(col("c_custkey").isin(keys: _*))
      .select(cols.map(col): _*).collect().groupBy(_.getLong(0))
    val want = keys.map { k =>
      val rows = plain.getOrElse(k, Array.empty[Row]).map(json)
      k -> s"""{"lookupResponse":{"Results":{"rowCount":${rows.length},"rows":[${rows.mkString(",")}]}}}"""
    }.toMap
    assert(want.values.count(_.contains("\"rowCount\":1")) == keys.size)
    val port = pub.serveBounded(0, 100, cacheTtlMs = 0, workers = 4, maxQueue = 16)
    def get(key: Long): (Int, String) = {
      val conn = new java.net.URI(s"http://127.0.0.1:$port/query/lookup?key=$key").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      try (code, scala.io.Source.fromInputStream(is, "UTF-8").mkString) finally is.close()
    }
    val pool = Executors.newFixedThreadPool(16)
    try {
      val ((answers, jobs, tasks), made) = broadcasts(jobsAndTasks {
        (0 until 16).map { t =>
          pool.submit(new Callable[Seq[(Long, (Int, String))]] {
            def call(): Seq[(Long, (Int, String))] =
              keys.filter(_ % 16 == t).map(k => k -> get(k))
          })
        }.flatMap(_.get())
      })
      assert(answers.size == keys.size)
      for ((k, (code, body)) <- answers)
        assert(code == 200 && body == want(k), s"key $k: $code $body\nwant ${want(k)}")
      assert((jobs, tasks) == (0, 0), s"$jobs jobs, $tasks tasks")
      assert(made == 0, s"$made broadcasts")
    } finally {
      pool.shutdown()
      pub.stopServing()
    }
  }

  test("8 threads making their first index read on a fresh session inject " +
      "the strategy exactly once") {
    val idx = index(rows.select(col("id").as("k"), col("v")), "fresh", 4, "k")
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(IndexLookup))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val reads = (0 until 8).map { i =>
        pool.submit(new Callable[Array[Row]] {
          def call(): Array[Row] = {
            start.await()
            Sources.parquet(fresh, idx).filter(col("k") === i * 50L).collect()
          }
        })
      }
      start.countDown()
      for ((r, i) <- reads.zipWithIndex)
        assert(r.get().toSeq == Seq(Row(i * 50L, (i * 50) % 7)))
    } finally pool.shutdown()
    assert(fresh.experimental.extraStrategies.count(_ == IndexLookup) == 1,
      fresh.experimental.extraStrategies)
  }
}
