package graft

import graft.model.GraftFrame
import graft.ops.{DedupRollup, Sorting, TeraSort}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType,
  IntegerType, StructField, StructType}

/** The key-run scans (grouped QUANTILE, adjacent DEDUP, ROLLUP) and the
  * per-group ITERATE fold must group floating keys exactly as
  * `groupBy`/`row_number` do: -0.0 and 0.0 are one key, every NaN is one
  * key, null is one key — including when a group's run crosses several
  * range partitions.
  */
class FloatingKeySpec extends SparkSpec {
  import spark.implicits._

  private val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)

  // x is unique per row, so (.., x) names the row whatever its key's sign
  private val rows: Seq[(Option[Double], Int)] =
    Seq.tabulate(400)(i => (Some(if (i % 2 == 0) -0.0 else 0.0), i)) ++
      Seq.tabulate(6)(i => (Some(if (i % 2 == 0) Double.NaN else otherNaN), 1000 + i)) ++
      Seq.tabulate(4)(i => (None, 2000 + i)) ++
      Seq((Some(1.5), 3000), (Some(1.5), 3001), (Some(-2.0), 3002))

  private def keyed(t: DataType): DataFrame =
    scala.util.Random.javaRandomToRandom(new java.util.Random(11)).shuffle(rows)
      .toDF("g", "x").withColumn("g", col("g").cast(t)).repartition(7)

  private val byG = Window.partitionBy("g")

  /** Runs `f` with AQE's partition coalescing off: at this size it would
    * fold the range sort into one partition, and no run would cross one.
    */
  private def uncoalesced[T](f: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, old)
  }

  test("the zero-key group spans 3+ range partitions of the key scans' sort") {
    uncoalesced {
      val parts = keyed(DoubleType).repartitionByRange(col("g"), col("x"))
        .sortWithinPartitions(col("g"), col("x")).rdd
        .mapPartitions(it => Iterator(it.exists(_.getInt(1) < 400)))
        .collect().count(identity)
      assert(parts >= 3, s"zero group spans $parts partitions")
    }
  }

  for (t <- Seq(DoubleType, FloatType)) {
    test(s"grouped QUANTILE == row_number/count over partitionBy ($t keys)") (uncoalesced {
      val df = keyed(t)
      val ranked = df.withColumn("rank", row_number().over(byG.orderBy("x")))
        .withColumn("c", count(lit(1)).over(byG))
        .select("x", "rank", "c").as[(Int, Int, Long)].collect()
      for (n <- Seq(2, 5)) {
        // rank p of c rows carries the q with ceil(q·c/n) = p, plus FIRST/LAST
        val expected = ranked.flatMap { case (x, rank, c) =>
          ((if (rank == 1) Seq(0) else Nil) ++
            (1 until n).filter(q => (q.toLong * c + n - 1) / n == rank) ++
            (if (rank == c) Seq(n) else Nil)).map(q => (q, x))
        }.sorted.toSeq
        val got = Sorting.quantileGrouped(df, n, Seq(col("g")), Seq(col("x")),
            first = true, last = true)
          .select("quantile", "x").as[(Int, Int)].collect().sorted.toSeq
        assert(got == expected, s"n=$n: only-got=${got.diff(expected).take(5)} " +
          s"only-exp=${expected.diff(got).take(5)}")
      }
    })

    test(s"adjacent DEDUP == row_number() = 1 over partitionBy ($t keys)") (uncoalesced {
      val df = keyed(t)
      val expected = df.withColumn("rn", row_number().over(byG.orderBy("x")))
        .filter(col("rn") === 1).select("x").as[Int].collect().sorted.toSeq
      val got = DedupRollup.dedupAdjacent(df, Seq(col("g")), Seq(col("g"), col("x")))
        .select("x").as[Int].collect().sorted.toSeq
      assert(got == expected)
      assert(got.size == 5) // ±0.0, NaN, null, 1.5, -2.0
    })

    test(s"ROLLUP runs == groupBy ($t keys)") (uncoalesced {
      val df = keyed(t)
      val aggs = Seq(count(lit(1)).as("n"), min("x").as("lo"), max("x").as("hi"))
      def runs(d: DataFrame) =
        d.select("n", "lo", "hi").as[(Long, Int, Int)].collect().sorted.toSeq
      val expected = runs(df.groupBy("g").agg(aggs.head, aggs.tail: _*))
      val got = runs(DedupRollup.rollupRuns(df, Seq(col("g")),
        Seq(col("g"), col("x")), aggs))
      assert(got == expected)
      assert(expected.map(_._1) == Seq(1L, 2L, 4L, 6L, 400L))
    })

    test(s"ITERATE per group == row_number over partitionBy ($t keys)") (uncoalesced {
      val df = keyed(t)
      val expected = df.withColumn("rn", row_number().over(byG.orderBy("x")))
        .select("x", "rn").as[(Int, Int)].collect().sorted.toSeq
      val outSchema = StructType(Seq(
        StructField("x", IntegerType), StructField("rn", IntegerType)))
      val got = DedupRollup.iterateGroups(df, Seq("g"), Seq(col("x")),
          outSchema) { (prev, r) =>
        Row(r.getInt(1), prev.fold(1)(_.getInt(1) + 1))
      }.as[(Int, Int)].collect().sorted.toSeq
      assert(got == expected)
      assert(got.count(_._2 == 1) == 5) // ±0.0, NaN, null, 1.5, -2.0
    })
  }

  test("checkSorted accepts what Spark's sort ties: ±0.0 and NaNs in one " +
      "partition") {
    GraftFrame(Seq(0.0, -0.0, 0.0, Double.NaN, otherNaN).toDF("k")
      .coalesce(1)).checkSorted("k")
  }

  test("checkSorted accepts Spark's order of binary keys") {
    GraftFrame(TeraSort.generate(spark, 500, 3).orderBy("key"))
      .checkSorted("key")
  }
}
