package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors}

import scala.jdk.CollectionConverters._

import graft.sources.{IndexedTable, Sources, TopLevelKey}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** An INDEX dir read through its top-level key: every keyed read must return
  * exactly the rows of `filter` over the plain `spark.read.parquet(dir)`,
  * scan only the parts whose leading-key stats can match, and launch no
  * job to plan; a dir whose files no longer match its TLK, or that has none,
  * must read every part.
  */
class TopLevelKeySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import TopLevelKeySpec._

  private def tmp(name: String): String = Files.createDirectories(
    Paths.get(s"target/graft_io/tlk/$name-${System.nanoTime()}")).resolve("idx").toString

  private def index(df: DataFrame, name: String, keys: String*): String = {
    val dir = tmp(name)
    IndexedTable.build(df, keys, dir, numPartitions = 4)
    dir
  }

  private def parts(dir: String): Seq[String] =
    new java.io.File(dir).list().filter(_.endsWith(".parquet")).sorted.toSeq.map(n => s"$dir/$n")

  /** Part files holding a row that satisfies `pred`. */
  private def partsWith(dir: String, pred: Column): Int =
    parts(dir).count(p => !spark.read.parquet(p).filter(pred).isEmpty)

  /** Reads `dir` filtered by `pred` through `Sources.parquet` and checks its
    * rows against the plain read; returns the part files the scan read and
    * whether it read through the TLK.
    */
  private def read(dir: String, pred: Column): (Long, Boolean) = {
    val (df, jobs, _) = jobsAndTasks(Sources.parquet(spark, dir))
    assert(jobs == 0, s"planning the read of $dir launched $jobs jobs")
    val q = df.filter(pred)
    def rendered(df: DataFrame) = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("bytes(", ",", ")")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq
    val got = rendered(q)
    val want = rendered(spark.read.parquet(dir).filter(pred))
    assert(got == want, s"$pred over $dir")
    val scan = collectFirst(q.queryExecution.executedPlan) { case s: FileSourceScanExec => s }.get
    assert(scan.relation.location.rootPaths.map(_.toUri.getPath) ==
      Seq(new java.io.File(dir).getAbsolutePath), scan.relation.location.rootPaths)
    (scan.metrics("numFiles").value,
      scan.relation.location.getClass.getName.startsWith(TopLevelKey.getClass.getName))
  }

  /** The TLK read of `pred` scans exactly `expected` parts. */
  private def assertScans(dir: String, pred: Column, expected: Int): Unit = {
    val (files, tlk) = read(dir, pred)
    assert(tlk, s"$dir was not read through its TLK")
    assert(files == expected, s"$pred scanned $files parts, expected $expected")
  }

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private lazy val rows = spark.range(0, 400).withColumn("v", (col("id") % 7).cast("int"))

  test("long, int, string and date leading keys: point, In, range and " +
      "flipped comparisons scan only the parts that hold a match") {
    for ((kind, key, at) <- keyed) {
      val dir = index(rows.withColumn("k", key).select("k", "v", "id"), kind, "k")
      assert(parts(dir).size == 4)
      val k = col("k")
      for (pred <- keyPreds(k, at))
        assertScans(dir, pred, partsWith(dir, pred))
      assertScans(dir, k > at(399), 0)
      assertScans(dir, k < at(0), 0)
      assertScans(dir, k.isNull, 0)
      // a non-key predicate, alone or in an Or with a key one, keeps every part
      assertScans(dir, col("v") === 3, 4)
      assertScans(dir, (k === at(5)) || (col("v") === 3), 4)
      assertScans(dir, !(k === at(5)), 4)
    }
  }

  test("a two-column key prunes on its leading column, whose values span " +
      "part boundaries") {
    val dir = index(rows.select((col("id") / 150).cast("long").as("a"), col("id").as("b"),
      col("v")), "two", "a", "b")
    val a = col("a")
    assert(partsWith(dir, a === 0) >= 2, "a leading value must span a part boundary")
    assertScans(dir, a === 0, partsWith(dir, a === 0))
    assertScans(dir, a === 2, partsWith(dir, a === 2))
    assertScans(dir, (a === 1) && (col("b") === 200), partsWith(dir, a === 1))
    assertScans(dir, col("b") === 5, 4)
  }

  test("a double key with -0.0 and NaN never prunes") {
    val keys = Seq(-0.0, 0.0, Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000000123L),
      1.5, -2.5, Double.PositiveInfinity, Double.NegativeInfinity)
    val df = spark.range(0, 400)
      .select(element_at(typedLit(keys), (col("id") % keys.size + 1).cast("int")).as("k"),
        col("id"))
    val dir = index(df, "double", "k")
    val k = col("k")
    for (pred <- Seq(k === 0.0, k === -0.0, k.isNaN, k === Double.NaN, k > 1.0, k < -1.0,
        k.isin(-0.0, Double.NaN)))
      assertScans(dir, pred, parts(dir).size)
  }

  test("null keys: IsNull and <=> read the parts that hold nulls or the value") {
    val df = rows.select(when(col("id") % 5 === 0, lit(null)).otherwise(col("id")).as("k"),
      col("v"))
    val dir = index(df, "nulls", "k")
    val k = col("k")
    for (pred <- Seq(k.isNull, k <=> lit(null).cast("long"), k <=> 7L, k === 399L,
        k.isNull || (k === 399L)))
      assertScans(dir, pred, partsWith(dir, pred))
    assertScans(dir, k.isNotNull, parts(dir).size)
  }

  test("an empty index reads Spark's schema and no part for a keyed read") {
    val dir = index(rows.select(col("id").as("k"), col("v")).filter(lit(false)), "empty", "k")
    assert(Sources.parquet(spark, dir).schema == spark.read.parquet(dir).schema)
    assertScans(dir, col("k") === 1L, 0)
    assertScans(dir, col("v") === 1, parts(dir).size)
  }

  test("an appended part, a truncated or missing _tlk and a plain parquet " +
      "dir fall back to the full read") {
    val df = rows.select(col("id").as("k"), col("v"))
    def fallsBack(dir: String, pred: Column): Unit = {
      val (files, tlk) = read(dir, pred)
      assert(!tlk && files == parts(dir).size, s"$dir: $files parts, TLK $tlk")
    }
    val appended = index(df, "appended", "k")
    Seq((7L, 99)).toDF("k", "v").write.mode("append").parquet(appended)
    fallsBack(appended, col("k") === 7L)
    assert(Sources.parquet(spark, appended).filter(col("k") === 7L).count() == 2)

    val truncated = index(df, "truncated", "k")
    val tlkPath = new Path(s"$truncated/${TopLevelKey.FileName}")
    val fs = tlkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val text = new String(fs.open(tlkPath).readAllBytes(), UTF_8)
    val out = fs.create(tlkPath, true)
    try out.write(text.linesIterator.toSeq.init.mkString("\n").getBytes(UTF_8))
    finally out.close()
    fallsBack(truncated, col("k") === 7L)

    val missing = index(df, "missing", "k")
    fs.delete(new Path(s"$missing/${TopLevelKey.FileName}"), false)
    fallsBack(missing, col("k") === 7L)

    val plain = tmp("plain")
    df.repartition(4).write.parquet(plain)
    fallsBack(plain, col("k") === 7L)
  }

  test("the TLK read's schema is Spark's under the parquet read confs, with no job") {
    val df = rows.select(col("id").as("k"), col("v"), col("id").cast("string").as("s"),
      col("id").cast("string").cast("binary").as("bin"), current_timestamp().as("ts"),
      current_date().as("d"), (col("id") / 3).cast("decimal(12,2)").as("dec"),
      array(col("v")).as("arr"), struct(col("v").as("x")).as("st"))
    val dir = index(df, "schema", "k")
    for (ntz <- Seq("true", "false"); bin <- Seq("true", "false"))
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled", ntz) {
        withConf("spark.sql.parquet.binaryAsString", bin) {
          val (ours, jobs, _) = jobsAndTasks(Sources.parquet(spark, dir))
          assert(jobs == 0)
          assert(ours.schema == spark.read.parquet(dir).schema, ours.schema.treeString)
          assertScans(dir, col("k") === 5L, 1)
        }
      }
  }

  test("a point lookup on a 4-part index runs no job, no task, no broadcast and no " +
      "Janino compile") {
    val idx = index(Tables.customer(spark, sf), "lookup", "c_custkey")
    val firstKeys = parts(idx).map(p =>
      spark.read.parquet(p).agg(min("c_custkey")).head.getAs[Number](0).longValue)
    assert(firstKeys.size == 4)
    def lookup(key: Long) =
      IndexedTable.keyedRead(spark, idx, col("c_custkey") === key).limit(100).collect()
    assert(lookup(firstKeys.head + 1).length == 1)
    for (key <- firstKeys) {
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ((rows, jobs, tasks), made) = broadcasts(jobsAndTasks(lookup(key)))
      assert(rows.length == 1)
      assert((jobs, tasks) == (0, 0), s"key $key: $jobs jobs, $tasks tasks")
      assert(made == 0, s"key $key: $made broadcasts")
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
        s"key $key compiled ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles} classes")
    }
  }

  /** `f`'s result with the bytes this thread read through Hadoop file
    * systems while it ran.
    */
  private def bytesRead[T](f: => T): (T, Long) = {
    def total = FileSystem.getAllStatistics.asScala.map(_.getThreadStatistics.getBytesRead).sum
    val before = total
    val out = f
    (out, total - before)
  }

  test("a second read of an unchanged index dir reads no byte of its _tlk") {
    val dir = index(rows.select(col("id").as("k"), col("v")), "cached", "k")
    val (_, cold) = bytesRead(Sources.parquet(spark, dir))
    assert(cold > 0, "the first read of a dir must read its TLK")
    val (_, warm) = bytesRead(Sources.parquet(spark, dir))
    assert(warm == 0, s"the second read read $warm bytes")
    assertScans(dir, col("k") === 5L, 1)
  }

  test("an index rebuilt in place is read through its new TLK, with the new " +
      "generation's rows") {
    val dir = tmp("rebuilt")
    for (gen <- 0 to 2) {
      IndexedTable.build(rows.select(col("id").as("k"), lit(gen).as("gen")), Seq("k"), dir,
        numPartitions = 4)
      assert(Sources.parquet(spark, dir).filter(col("k") === 5L).collect().toSeq ==
        Seq(Row(5L, gen)), s"generation $gen")
      assertScans(dir, col("k") === 5L, 1)
    }
  }

  test("8 threads reading a cold index dir at once get equal answers, the plain read's") {
    val dir = index(rows.select(col("id").as("k"), col("v")), "cold", "k")
    val preds = Seq(col("k") === 250L, col("k").between(90L, 310L))
    def answers(df: DataFrame): Seq[Seq[Row]] =
      preds.map(p => df.filter(p).collect().toSeq.sortBy(_.getLong(0)))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val reads = (0 until 8).map { _ =>
        pool.submit(new Callable[Seq[Seq[Row]]] {
          def call(): Seq[Seq[Row]] = {
            start.await()
            answers(Sources.parquet(spark, dir))
          }
        })
      }
      start.countDown()
      val want = answers(spark.read.parquet(dir))
      for (r <- reads) assert(r.get() == want)
    } finally pool.shutdown()
    assertScans(dir, col("k") === 250L, 1)
  }

  /** `df` written as parquet and read back: a plain parquet read. */
  private def stored(df: DataFrame, name: String): DataFrame = {
    val dir = tmp(s"$name-input")
    df.write.parquet(dir)
    Sources.parquet(spark, dir)
  }

  /** The parts' `keys` in part-name order, then in file order, equal the
    * whole index's sorted by `keys` (nulls first): each part is sorted and
    * the parts' key ranges are ordered by name.
    */
  private def assertOrdered(dir: String, keys: Seq[String]): Unit = {
    val byPart = parts(dir).flatMap(p => spark.read.parquet(p).select(keys.map(col): _*).collect())
    val sorted = spark.read.parquet(dir).select(keys.map(col): _*)
      .orderBy(keys.map(col(_).asc_nulls_first): _*).collect().toSeq
    assert(byPart == sorted, s"$dir: parts out of key order")
  }

  /** Builds the parquet read `in` into a 4-part index twice: with
    * `spark.sql.files.maxPartitionBytes` at the input's size, through the
    * one-task path (1 job, 1 task), then one byte below it, through the range
    * shuffle (≥ 2 jobs). Checks both layouts' key order and returns each dir
    * with whether it is the one-task build.
    */
  private def bothBuilds(in: DataFrame, name: String, keys: String*): Seq[(String, Boolean)] = {
    val bytes = in.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum
    for (oneTask <- Seq(true, false)) yield {
      val dir = tmp(s"$name-${if (oneTask) "one-task" else "shuffle"}")
      val (_, jobs, tasks) = withConf("spark.sql.files.maxPartitionBytes",
          (if (oneTask) bytes else bytes - 1).toString) {
        jobsAndTasks(IndexedTable.build(in, keys, dir, numPartitions = 4))
      }
      if (oneTask) assert((jobs, tasks) == (1, 1), s"$name one-task build: $jobs jobs, $tasks tasks")
      else assert(jobs >= 2, s"$name shuffle build: $jobs jobs")
      assertOrdered(dir, keys)
      (dir, oneTask)
    }
  }

  test("one-task and shuffle builds of long, string and date keys, with nulls " +
      "and a key spanning parts: ordered parts and row-exact keyed reads") {
    for ((kind, key, at) <- keyed if kind != "int") {
      // ids 0–399 keyed as above, then 8 null keys, then 150 more rows of
      // id 150's key: more than a part's 140 rows
      val in = stored(spark.range(0, 558).select(
          when(col("id") >= 408, at(150)).when(col("id") >= 400, lit(null))
            .otherwise(key).as("k"),
          (col("id") % 7).cast("int").as("v"), col("id")), kind)
      for ((dir, oneTask) <- bothBuilds(in, kind, "k")) {
        val k = col("k")
        if (oneTask) assert(parts(dir).size == 4)
        val nulls = parts(dir).map(p => spark.read.parquet(p).filter(k.isNull).count())
        assert(nulls.head == 8 && nulls.tail.forall(_ == 0), s"$kind: nulls per part $nulls")
        val dup = partsWith(dir, k === at(150))
        if (oneTask) assert(dup >= 2, s"$kind: the duplicate key spans no part boundary")
        else assert(dup == 1, s"$kind: a shuffle build split one key over $dup parts")
        for (pred <- keyPreds(k, at) ++ Seq(k.isNull, k <=> at(150), k === at(150)))
          assertScans(dir, pred, partsWith(dir, pred))
      }
    }
  }

  test("one-task and shuffle builds of a two-column key, fewer rows than " +
      "parts and an empty input") {
    val two = stored(rows.select((col("id") / 150).cast("long").as("a"), col("id").as("b"),
      col("v")), "two")
    for ((dir, _) <- bothBuilds(two, "two", "a", "b"); a <- 0 to 2)
      assertScans(dir, col("a") === a, partsWith(dir, col("a") === a))

    val few = stored(Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "s"), "few")
    for ((dir, oneTask) <- bothBuilds(few, "few", "k")) {
      if (oneTask) assert(parts(dir).size == 3)
      for (key <- 0L to 3L)
        assertScans(dir, col("k") === key, partsWith(dir, col("k") === key))
    }

    val empty = stored(rows.select(col("id").as("k"), col("v")).filter(lit(false)), "none")
    for ((dir, _) <- bothBuilds(empty, "none", "k")) {
      assert(Sources.parquet(spark, dir).schema == spark.read.parquet(dir).schema)
      assertScans(dir, col("k") === 1L, 0)
    }
  }

  test("a small parquet build runs one job with one task: equal parts in key order") {
    val dir = tmp("small")
    val (_, jobs, tasks) = jobsAndTasks(IndexedTable.build(
      Tables.customer(spark, sf).withColumn("gen", lit(1)), Seq("c_custkey"), dir, 4))
    assert((jobs, tasks) == (1, 1), s"$jobs jobs, $tasks tasks")
    val sizes = parts(dir).map(p => spark.read.parquet(p).count())
    val perPart = (sizes.sum + 3) / 4
    assert(sizes.size == 4 && sizes.init.forall(_ == perPart) && sizes.last <= perPart, sizes)
    assertOrdered(dir, Seq("c_custkey"))
  }

  test("a filtered parquet input and a generated input keep the range shuffle") {
    val in = stored(rows, "filtered")
    for ((name, df) <- Seq("filtered" -> in.filter(col("v") =!= 3), "range" -> rows)) {
      val dir = tmp(name)
      val (_, jobs, _) = jobsAndTasks(IndexedTable.build(df, Seq("id"), dir, 4))
      assert(jobs >= 2, s"$name: $jobs jobs")
      assert(parts(dir).size == 4)
      assertOrdered(dir, Seq("id"))
    }
  }

  test("buildWithFilepos builds its index from the base it wrote: one-task " +
      "index, FETCH by position unchanged") {
    val orders = Tables.orders(spark, sf)
    val (base, idx) = (tmp("fetch-base"), tmp("fetch-index"))
    val (_, jobs, tasks) = jobsAndTasks(
      IndexedTable.buildWithFilepos(orders, Seq("o_orderkey"), base, idx))
    // the positions pass and base write, then the index build: one job, one task
    assert((jobs, tasks) == (5, 5), s"$jobs jobs, $tasks tasks")
    assert(parts(idx).size == 1)
    assertOrdered(idx, Seq("o_orderkey"))
    val got = IndexedTable.fetch(spark, base, idx, col("o_orderkey") <= 1000)
      .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey").collect().toSeq
    val want = orders.filter(col("o_orderkey") <= 1000)
      .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey").collect().toSeq
    assert(got.nonEmpty && got == want)
  }
}

object TopLevelKeySpec {
  /** Leading keys of each prunable kind: the key column over `id`, and the
    * key value of a given `id`.
    */
  val keyed = Seq(
    ("long", col("id") * 3, (i: Long) => lit(i * 3)),
    ("int", (col("id") * 3).cast("int"), (i: Long) => lit((i * 3).toInt)),
    ("string", format_string("k%05d", col("id")), (i: Long) => lit(f"k$i%05d")),
    ("date", date_add(lit(java.sql.Date.valueOf("2020-01-01")), col("id").cast("int")),
      (i: Long) => lit(java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)))))

  /** Point, In, range and flipped-comparison predicates on `k` over ids 0–399. */
  def keyPreds(k: Column, at: Long => Column): Seq[Column] =
    Seq(k === at(399), at(7) === k, k <=> at(250), k.isin(at(3), at(398)),
      k.between(at(90), at(310)), k < at(50), at(50) >= k, k > at(380),
      at(200) < k, k >= at(399), k <= at(0), (k === at(5)) || (k === at(395)),
      (k > at(100)) && (k < at(120)), k.isin(at(390), lit(null)))
}
