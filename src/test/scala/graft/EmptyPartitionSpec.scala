package graft

import graft.model.GraftFrame
import graft.ops.{DedupRollup, Positions, Sorting}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Every two-pass scan over a range sort with more partitions than
  * distinct sort keys, so the sort leaves empty partitions: each scan must
  * treat them as transparent and match its window or `groupBy` lowering
  * row for row. Rows that tie under a scan's sort are identical, so the
  * expected output does not depend on how ties settle.
  */
class EmptyPartitionSpec extends SparkSpec {
  import spark.implicits._

  // 6 distinct (g, h) sort keys, 3 distinct g, 2 groups h; w and s are
  // functions of (g, h)
  private val rows: Seq[(Int, Int, Long, String)] =
    for {
      h <- 0 to 1; g <- 1 to 3
      _ <- 1 to Seq(5, 1, 3, 2, 4, 6)(h * 3 + g - 1)
    } yield (h, g, h * 100L + g, s"r$h$g")

  private def df: DataFrame = rows.toDF("h", "g", "w", "s").repartition(3)
  private val order = Seq(col("g"), col("h"))
  private val byOrder = Window.orderBy(order: _*)

  /** Runs `f` with 8 shuffle partitions and AQE's coalescing off, so every
    * range sort here is asked for more partitions than it has distinct
    * keys.
    */
  private def sparse[T](f: => T): T = {
    val confs = Seq("spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private def sorted(d: DataFrame): Seq[String] =
    d.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def sameRows(got: DataFrame, expected: DataFrame): Unit = {
    assert(got.columns.toSeq == expected.columns.toSeq)
    assert(sorted(got) == sorted(expected))
  }

  test("the range sort leaves an empty partition") (sparse {
    // one partition per distinct key (every key is a sampled bound), then
    // the empty one past the largest bound
    val sizes = Positions.partitionSummaries(
      df.repartitionByRange(order: _*).rdd)(_.size)
    assert(sizes == Seq(5, 2, 1, 4, 3, 6, 0), s"partition sizes: $sizes")
  })

  test("withGlobalPosition (ENTH, ds[n]) == row_number over the order") (sparse {
    val ranked = df.withColumn("__rn", row_number().over(byOrder))
    for ((num, den) <- Seq((1L, 3L), (2L, 5L), (1L, 1L)))
      sameRows(Sorting.enth(df, num, den, order),
        ranked.filter((col("__rn") * num) % den < num).drop("__rn"))
    for (n <- Seq(1, 7, rows.size, rows.size + 1))
      sameRows(Sorting.selectNth(df, n, order),
        ranked.filter(col("__rn") === n).drop("__rn"))
  })

  test("quantileRows == row_number at ceil(q·total/n)") (sparse {
    val total = rows.size.toLong
    for (n <- Seq(2, 5, 30)) {
      val ranked = df.withColumn("__rn", row_number().over(byOrder))
      val qs = (1 until n).map(q => ((q * total + n - 1) / n, q)).toDF("__at", "quantile")
      val expected = ranked.join(qs, col("__rn") === col("__at"))
        .drop("__rn", "__at")
      sameRows(Sorting.quantile(df, n, order), expected)
    }
  })

  test("quantileRowsGrouped with FIRST/LAST == row_number/count per group") (sparse {
    val byH = Window.partitionBy("h")
    val ranked = df.withColumn("__rank", row_number().over(byH.orderBy("g")))
      .withColumn("__c", count(lit(1)).over(byH))
    for (n <- Seq(2, 4, 20)) {
      val expected = ranked.select($"*", explode(array((0 to n).map(lit): _*)).as("quantile"))
        .filter((col("quantile") === 0 && col("__rank") === 1) ||
          (col("quantile") === n && col("__rank") === col("__c")) ||
          (col("quantile") > 0 && col("quantile") < n &&
            (col("quantile") * col("__c") + n - 1).cast("long").divide(n).cast("long")
              === col("__rank")))
        .drop("__rank", "__c")
      sameRows(Sorting.quantileGrouped(df, n, Seq(col("h")), Seq(col("g")),
        first = true, last = true), expected)
    }
  })

  test("dedupAdjacent == row_number() = 1 per key") (sparse {
    sameRows(DedupRollup.dedupAdjacent(df, Seq(col("g")), order),
      df.withColumn("__rn", row_number().over(Window.partitionBy("g").orderBy("h")))
        .filter(col("__rn") === 1).drop("__rn"))
  })

  test("runIds == dense_rank over the key") (sparse {
    sameRows(DedupRollup.runIds(df, Seq(col("g")), order, "run"),
      df.withColumn("run", dense_rank().over(Window.orderBy("g")).cast("long")))
  })

  test("runningSumSorted == sum over the order, unbounded preceding") (sparse {
    sameRows(Positions.runningSumSorted(df, col("w"), order, "rs"),
      df.withColumn("rs", sum(col("w")).over(
        byOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
  })

  test("GraftFrame.checkSorted: passes over empty partitions, names the " +
      "violation inside a partition and across an empty one") (sparse {
    GraftFrame(df.orderBy(order: _*)).checkSorted("g", "h")
    def parts(p: Seq[Int]*): DataFrame =
      spark.sparkContext.parallelize(p, p.size).flatMap(identity).toDF("g")
    GraftFrame(parts(Seq(1, 2), Nil, Seq(2, 3), Nil)).checkSorted("g")
    val inside = intercept[IllegalStateException] {
      GraftFrame(parts(Nil, Seq(2, 1), Seq(3))).checkSorted("g")
    }
    assert(inside.getMessage.contains("inside partition 1"), inside.getMessage)
    val boundary = intercept[IllegalStateException] {
      GraftFrame(parts(Seq(1, 2), Nil, Seq(0))).checkSorted("g")
    }
    assert(boundary.getMessage.contains("partition boundary 0/2"),
      boundary.getMessage)
  })
}
