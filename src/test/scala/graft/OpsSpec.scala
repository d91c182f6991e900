package graft

import graft.ops._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Operator semantics on small in-memory data — the edge cases the oracle
  * queries can't isolate (ATMOST vs truncate, KEEP determinism, ITERATE
  * non-associative folds, LIMIT-as-guard).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  // guide §3.2 / r19 verdict #3: the Bloom pre-filter may only REMOVE
  // definitely-non-matching big-side rows — the inner join's result must
  // be identical with and without it, at any fpp, and the size gate must
  // make it a no-op below the threshold.
  test("bloomSemiPrefilter: inner join results identical; gate no-op; " +
      "empty small side short-circuits") {
    // range-based big side: a local Seq would fold the whole filter into a
    // LocalTableScan at planning time and hide the probe from the plan
    val big = spark.range(1, 1001)
      .select(col("id").as("bk"), concat(lit("v"), col("id")).as("bv"))
    val small = Seq(3L, 500L, 999L, 1000L, 7L).toDF("sk")
    val expected = big.join(small, col("bk") === col("sk"))
      .select("bk", "bv").as[(Long, String)].collect().toSet
    spark.conf.set("spark.graft.bloom.minBigBytes", "0") // force the filter on
    try {
      val filtered = Joins.bloomSemiPrefilter(big, col("bk"), small, col("sk"))
      // the filter is a superset of the matching rows (no false negatives)
      val fRows = filtered.as[(Long, String)].collect().toMap
      assert(expected.forall { case (k, v) => fRows.get(k).contains(v) })
      val joined = filtered.join(small, col("bk") === col("sk"))
        .select("bk", "bv").as[(Long, String)].collect().toSet
      assert(joined == expected)
      // the probe is the native might_contain expression, not a UDF
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), s"plan:\n$plan")
      assert(!plan.toLowerCase.contains("batchevalscala") &&
        !plan.contains("UDF"), s"plan:\n$plan")
      // empty small side: inner-join contract → empty big side
      val none = Joins.bloomSemiPrefilter(big, col("bk"),
        small.filter(lit(false)), col("sk"))
      assert(none.count() == 0)
    } finally spark.conf.unset("spark.graft.bloom.minBigBytes")
    // default gate (256 MB) stays closed for a tiny frame: same plan object
    val ungated = Joins.bloomSemiPrefilter(big, col("bk"), small, col("sk"))
    assert(ungated eq big, "gate should return the big side untouched")
  }

  test("ATMOST drops ALL matches for keys over the limit — not a truncate") {
    val r = Seq((1, "x"), (1, "y"), (2, "z")).toDF("k", "v")
    val kept = Joins.atmostRhs(r, Seq("k"), 1)
    assert(kept.collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("keepN keeps the first n matches per left row, deterministically") {
    val l = Seq(1, 2).toDF("k")
    val r = Seq((1, 30), (1, 10), (1, 20), (2, 5)).toDF("rk", "v")
    val j = Joins.join(l, r, col("k") === col("rk"), Joins.Inner)
    val kept = Joins.keepN(j, Seq(col("k")), Seq(col("v")), 2)
      .select(col("k"), col("v")).as[(Int, Int)].collect().toSet
    assert(kept == Set((1, 10), (1, 20), (2, 5)))
  }

  test("lookupJoinFirst takes the FIRST rhs row per key (non-MANY LOOKUP)") {
    val l = Seq(1, 2).toDF("k")
    val r = Seq((1, "b"), (1, "a"), (2, "c")).toDF("rk", "v")
    val out = Joins.lookupJoinFirst(l, r, Seq("rk"), Seq(col("v")),
      col("k") === col("rk")).select(col("k"), col("v"))
      .as[(Int, String)].collect().toSet
    assert(out == Set((1, "a"), (2, "c")))
  }

  test("limitGuard passes under the bound and throws over it") {
    val df = Seq(1, 2, 3).toDF("x")
    assert(Sorting.limitGuard(df, 5).count() == 3)
    intercept[IllegalStateException] { Sorting.limitGuard(df, 2) }
    assert(Sorting.limitSkip(df, 2).count() == 0)
  }

  test("choosesets honors per-category quotas with first-match routing") {
    val df = Seq(1, 2, 3, 4, 5, 6, 7, 8).toDF("x")
    val out = Sorting.choosesets(df,
      Seq((col("x") % 2 === 0, 2), (col("x") > 0, 3)), Seq(col("x")))
      .as[Int].collect().toSet
    // evens: first 2 (2,4); remaining odd rows match cond2: first 3 (1,3,5)
    assert(out == Set(2, 4, 1, 3, 5))
  }

  test("sample/enth are deterministic and evenly spaced") {
    val df = (1 to 100).toDF("x")
    val s = Sorting.sample(df, 10, 3, Seq(col("x"))).as[Int].collect().toSeq
    assert(s == (3 to 100 by 10).toSeq)
    val e = Sorting.enth(df, 1, 50, Seq(col("x"))).as[Int].collect().toSeq
    assert(e.size == 2)
  }

  test("quantile emits the n-quantile boundary rows") {
    val df = (1 to 100).toDF("x")
    val q = Sorting.quantile(df, 4, Seq(col("x")))
      .select(col("quantile"), col("x")).as[(Int, Int)].collect().toSet
    assert(q == Set((1, 25), (2, 50), (3, 75)))
  }

  test("quantile: total < n lands several indices on one row; empty input " +
      "emits nothing; a pre-existing quantile column sorts but is replaced " +
      "(r20 fused-count lowering keeps the join shape's contract)") {
    // total=2, n=4: ceil(q*2/4) = 1,1,2 — indices 1 and 2 share the first row
    val two = Seq(10, 20).toDF("x")
    val q2 = Sorting.quantile(two, 4, Seq(col("x")))
      .select(col("quantile"), col("x")).as[(Int, Int)].collect().toSet
    assert(q2 == Set((1, 10), (2, 10), (3, 20)))
    // empty input: no boundary rows at all
    assert(Sorting.quantile(two.limit(0), 4, Seq(col("x"))).count() == 0)
    // a caller column named `quantile` may drive the sort and must be
    // replaced in the output, not duplicated
    val named = Seq((1, 9), (2, 8), (3, 7), (4, 6)).toDF("x", "quantile")
    val qn = Sorting.quantile(named, 2, Seq(col("quantile")))
    assert(qn.columns.toSeq == Seq("x", "quantile"))
    // sort by the OLD quantile column (descending values 9..6): position 2
    // of that order is (x=3, quantile=7) → emitted with new index 1
    assert(qn.select(col("x"), col("quantile")).as[(Int, Int)]
      .collect().toSet == Set((3, 1)))
  }

  test("quantileGrouped n=1 without FIRST/LAST emits no rows (no interior " +
      "boundaries; sequence(1,0) would be the descending [1,0] trap)") {
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("g", "x")
    assert(Sorting.quantileGrouped(df, 1, Seq(col("g")), Seq(col("x")))
      .count() == 0)
    // but FIRST/LAST still yield the endpoints under n=1
    val fl = Sorting.quantileGrouped(df, 1, Seq(col("g")), Seq(col("x")),
        first = true, last = true)
      .select(col("g"), col("quantile"), col("x")).as[(String, Int, Int)]
      .collect().toSet
    assert(fl == Set(("a", 0, 1), ("a", 1, 2), ("b", 0, 3), ("b", 1, 3)))
  }

  test("quantileGrouped == brute-force reference across n in 1..7, group " +
      "sizes 1..9 (incl. n > group size: several quantiles on one row)") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 8).flatMap { g =>
      (0 until (1 + rnd.nextInt(9))).map(i => (s"g$g", g * 1000 + i))
    }
    val df = rnd.shuffle(rows).toDF("g", "x")
    val byGroup = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for (n <- 1 to 7; first <- Seq(false, true); last <- Seq(false, true)) {
      val expected = byGroup.flatMap { case (g, xs) =>
        val c = xs.size
        val interior = (1 until n).map(q =>
          (g, q, xs((q.toLong * c + n - 1).toInt / n - 1)))
        val f = if (first) Seq((g, 0, xs.head)) else Nil
        val l = if (last) Seq((g, n, xs.last)) else Nil
        f ++ interior ++ l
      }.toSet
      val got = Sorting.quantileGrouped(df, n, Seq(col("g")), Seq(col("x")),
          first, last)
        .select(col("g"), col("quantile"), col("x"))
        .as[(String, Int, Int)].collect().toSet
      assert(got == expected,
        s"n=$n first=$first last=$last: only-got=${(got -- expected).take(3)} " +
          s"only-exp=${(expected -- got).take(3)}")
    }
  }

  test("quantileGrouped: a group spanning several range partitions is " +
      "stitched exactly (r20 fused lowering: carry-in/tail-carry replace " +
      "the stats join)") {
    // one dominant group (400 rows — far more than the 4 shuffle
    // partitions, so its run crosses every boundary) plus a tiny group on
    // each side of the sort order, repartitioned pathologically first
    val rows = Seq.tabulate(400)(i => ("m", i)) ++
      Seq(("a", -1), ("a", -2)) ++ Seq(("z", 1000))
    val df = scala.util.Random.javaRandomToRandom(new java.util.Random(7))
      .shuffle(rows).toDF("g", "x").repartition(7)
    val byGroup = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for (n <- Seq(1, 4, 7); first <- Seq(false, true); last <- Seq(false, true)) {
      val expected = byGroup.flatMap { case (g, xs) =>
        val c = xs.size
        val interior = (1 until n).map(q =>
          (g, q, xs(((q.toLong * c + n - 1) / n).toInt - 1)))
        (if (first) Seq((g, 0, xs.head)) else Nil) ++ interior ++
          (if (last) Seq((g, n, xs.last)) else Nil)
      }.toSet
      val got = Sorting.quantileGrouped(df, n, Seq(col("g")), Seq(col("x")),
          first, last)
        .select(col("g"), col("quantile"), col("x"))
        .as[(String, Int, Int)].collect()
      assert(got.length == expected.size && got.toSet == expected,
        s"n=$n first=$first last=$last: got=${got.length} rows, " +
          s"only-got=${(got.toSet -- expected).take(3)} " +
          s"only-exp=${(expected -- got.toSet).take(3)}")
    }
  }

  test("quantileGrouped with EMPTY groupKeys degenerates to one global " +
      "group (broadcast single-stats row, no window)") {
    val df = (1 to 100).toDF("x")
    val q = Sorting.quantileGrouped(df, 4, Seq.empty, Seq(col("x")),
        first = true, last = true)
      .select(col("quantile"), col("x")).as[(Int, Int)].collect().toSet
    assert(q == Set((0, 1), (1, 25), (2, 50), (3, 75), (4, 100)))
  }

  test("quantile/quantileGrouped survive caller columns named __c/__rn/" +
      "__gp/__gs (helper names are __q-prefixed, never the caller's)") {
    // before r14 a caller __c made the stats-join div expression ambiguous
    // (analysis failure) and __rn/__gp were silently overwritten+dropped
    val df = (1 to 100).map(i => (i, i, i, i, i)).toDF(
      "x", "__c", "__rn", "__gp", "__gs")
    val q = Sorting.quantile(df, 4, Seq(col("x")))
      .select(col("quantile"), col("x"), col("__rn")).as[(Int, Int, Int)]
      .collect().toSet
    assert(q == Set((1, 25, 25), (2, 50, 50), (3, 75, 75)))
    val g = Sorting.quantileGrouped(df, 2, Seq.empty, Seq(col("x")))
      .select(col("quantile"), col("x"), col("__c"), col("__gs"))
      .as[(Int, Int, Int, Int)].collect().toSet
    assert(g == Set((1, 50, 50, 50)))
  }

  test("dedupAdjacent removes only adjacent duplicates (order matters)") {
    val df = Seq((1, "a"), (2, "a"), (3, "b"), (4, "a")).toDF("pos", "k")
    val out = DedupRollup.dedupAdjacent(df, Seq(col("k")), Seq(col("pos")))
      .select(col("pos")).as[Int].collect().toSeq.sorted
    assert(out == Seq(1, 3, 4)) // the 'a' at pos 4 survives: not adjacent
  }

  test("rollupRuns folds each maximal run once") {
    val df = Seq((1, "a", 10), (2, "a", 20), (3, "b", 5), (4, "a", 1))
      .toDF("pos", "k", "v")
    val out = DedupRollup.rollupRuns(df, Seq(col("k")), Seq(col("pos")),
      Seq(sum(col("v")).as("sv"), count(lit(1)).as("n")))
      .select(col("k"), col("sv"), col("n")).as[(String, Long, Long)]
      .collect().toSet
    assert(out == Set(("a", 30L, 2L), ("b", 5L, 1L), ("a", 1L, 1L)))
  }

  test("iterateGroups runs a non-associative fold in sorted order per group") {
    val df = Seq((1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (2, 1, "x"))
      .toDF("g", "pos", "s")
    val outSchema = StructType(Seq(
      StructField("g", IntegerType), StructField("acc", StringType)))
    val out = DedupRollup.iterateGroups(df, Seq("g"), Seq(col("pos")),
      outSchema) { (prev, r) =>
      val acc = prev.map(_.getString(1)).getOrElse("") + r.getString(2)
      Row(r.getInt(0), acc)
    }
    val last = out.groupBy(col("g")).agg(max(length(col("acc"))).as("n"),
        max(col("acc")).as("acc"))
      .select(col("g"), col("acc")).as[(Int, String)].collect().toSet
    assert(last == Set((1, "abc"), (2, "x")))
  }

  test("combine zips positionally") {
    val a = Seq("x", "y", "z").toDF("s")
    val b = Seq(30, 10, 20).toDF("v")
    val out = Shape.combine(a, Seq(col("s")), b, Seq(col("v")))
      .as[(String, Int)].collect().toSet
    // a sorted: x,y,z ; b sorted: 10,20,30
    assert(out == Set(("x", 10), ("y", 20), ("z", 30)))
  }

  test("normalize emits n rows per input with 1-based COUNTER") {
    val df = Seq("r").toDF("s")
    val out = Shape.normalize(df, lit(3), "c").select(col("c"))
      .as[Int].collect().toSeq.sorted
    assert(out == Seq(1, 2, 3))
  }

  test("nonempty picks the first non-empty input lazily") {
    val empty = Seq.empty[Int].toDF("x")
    val full = Seq(1, 2).toDF("x")
    assert(Shape.nonempty(Seq(empty, full)).count() == 2)
    assert(Shape.nonempty(Seq(empty, empty)).count() == 0)
  }

  test("nwayRouted sends each row exactly to its target partition") {
    val df = (0 until 40).map(i => (i, i % 4)).toDF("v", "target")
    val routed = Distribute.nwayRouted(df, col("target"), 4)
    val placement = routed
      .select(col("target"), spark_partition_id().as("p"))
      .distinct().as[(Int, Int)].collect().toSet
    assert(placement == Set((0, 0), (1, 1), (2, 2), (3, 3)))
    // replicate-all: every partition holds every row (SDFisall)
    val repl = Distribute.nwayRouted(df, col("target"), 3, replicateAll = true)
    assert(repl.count() == 120)
    // a null target lands in partition 0; a negative one is taken pmod n
    val edge = Seq[(Int, Option[Int])]((40, None), (41, Some(-1)))
      .toDF("v", "target")
    assert(Distribute.nwayRouted(edge, col("target"), 4)
      .select(col("v"), spark_partition_id()).as[(Int, Int)].collect().toSet
      == Set((40, 0), (41, 3)))
  }

  test("distribute co-locates keys (LOCAL ops see whole key groups)") {
    val df = (1 to 100).map(i => (i % 7, i)).toDF("k", "v")
    val parts = Distribute.byHash(df, Seq(col("k")), Some(4))
      .select(col("k"), spark_partition_id().as("p"))
      .distinct().groupBy(col("k")).count()
      .filter(col("count") > 1).count()
    assert(parts == 0) // every key lives in exactly one partition
  }

  test("mergeJoinMofN keeps every row whose key appears in >= m inputs") {
    val a = Seq((1, "a"), (2, "a")).toDF("k", "v")
    val b = Seq((2, "b"), (3, "b")).toDF("k", "v")
    val c = Seq((3, "c"), (4, "c"), (3, "c2")).toDF("k", "v")
    val out2 = Joins.mergeJoinMofN(Seq(a, b, c), Seq("k"), 2)
    assert(out2.as[(Int, String)].collect().toSet ==
      Set((2, "a"), (2, "b"), (3, "b"), (3, "c"), (3, "c2")))
    // m = 1 degenerates to FUNNEL; m = N is the full AND
    assert(Joins.mergeJoinMofN(Seq(a, b, c), Seq("k"), 1).count() == 7)
    assert(Joins.mergeJoinMofN(Seq(a, b, c), Seq("k"), 3).count() == 0)
  }

  test("mergeJoinProximity: stable under recompute, keeps duplicate rows") {
    val a = Seq((10, "a1"), (20, "a2"), (20, "a2"), (90, "a3")).toDF("k", "v")
    val b = Seq((11, "b1"), (50, "b2")).toDF("k", "v")
    val run = () => Joins.mergeJoinProximity(Seq(a, b), "k", 2L, 2)
      .select("k", "v").as[(Int, String)].collect().sorted.toSeq
    val first = run()
    // 10/11 are within d=2 of each other (2 distinct sources); the
    // duplicate (20,"a2") rows share a content id but both survive
    assert(first == Seq((10, "a1"), (11, "b1")))
    // content-derived ids: recomputation after cache eviction (task retry
    // analog) yields identical output — monotonically_increasing_id did not
    spark.catalog.clearCache()
    assert(run() == first)
    // duplicates qualify with their multiplicity preserved
    val dup = Joins.mergeJoinProximity(Seq(a, b), "k", 40L, 2)
      .select("k", "v").as[(Int, String)].collect().sorted.toSeq
    assert(dup.count(_ == ((20, "a2"))) == 2)
  }

  test("hash sampling is content-addressed: partitioning-independent") {
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("s", (col("id") % 3).cast("string"))
    def ids(d: org.apache.spark.sql.DataFrame) =
      Sorting.hashSampleBy(d, col("id"), col("s"), Map("0" -> 10), 50)
        .select("id").as[Long].collect().toSet
    val a = ids(df.repartition(2))
    val b = ids(df.repartition(17, col("s")))
    assert(a == b) // same keys survive under any layout
    assert(a.nonEmpty && a.size < 1000)
    // rates are approximately honored per stratum
    val byStratum = Sorting.hashSampleBy(df, col("id"), col("s"),
        Map("0" -> 10), 50)
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(byStratum("0") < 80)                      // ~10% of 334
    assert(byStratum("1") > 100 && byStratum("2") > 100) // ~50% of 333
  }
}
