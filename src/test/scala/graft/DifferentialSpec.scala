package graft

import graft.agg.Aggregators
import graft.ops.{DedupRollup, Sorting}
import org.apache.spark.sql.functions._

/** Differential self-testing (SURVEY §5): where one capability has two
  * independent lowerings, they must agree on real data — the same
  * cross-checking idea as the reference's hthor/thor/roxie triple runs.
  */
class DifferentialSpec extends SparkSpec {
  import spark.implicits._

  test("DEDUP BEST: window lowering == typed-Aggregator lowering") {
    val c = Tables.customer(spark, sf)
    val viaWindow = DedupRollup.dedupBest(
      c.select(col("c_nationkey"), col("c_custkey"), col("c_acctbal")),
      Seq(col("c_nationkey")),
      Seq(col("c_acctbal").desc, col("c_custkey")))
      .select(col("c_nationkey"), col("c_custkey"))
      .as[(Int, Long)].collect().toSet
    val best = udaf(Aggregators.BestByScore)
    val viaAgg = c.groupBy(col("c_nationkey"))
      // BestByScore ties by smaller id; mirror the window's (bal desc,
      // custkey asc) order by negating nothing — score=bal, id=custkey
      .agg(best(col("c_acctbal"), col("c_custkey")).as("c_custkey"))
      .as[(Int, Long)].collect().toSet
    assert(viaWindow == viaAgg)
  }

  test("ITERATE cumsum: mapPartitions fold == window running aggregate") {
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(25, 6)) *
          1000000).cast("long").as("micros"))
    val viaWindow = DedupRollup.runningAgg(e, Seq(col("user_id")),
        Seq(col("ts"), col("event_id")), sum(col("micros")), "cum")
      .select(col("user_id"), col("event_id"), col("cum"))
      .as[(Long, Long, Long)].collect().toSet
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cum",
        org.apache.spark.sql.types.LongType)))
    val viaFold = DedupRollup.iterateGroups(e, Seq("user_id"),
        Seq(col("ts"), col("event_id")), outSchema) { (prev, r) =>
      org.apache.spark.sql.Row(r.getLong(0), r.getLong(1),
        prev.map(_.getLong(2)).getOrElse(0L) + r.getLong(3))
    }.as[(Long, Long, Long)].collect().toSet
    assert(viaWindow == viaFold)
  }

  test("DEDUP ALL: dropDuplicates == groupBy-min identity selection") {
    val o = Tables.orders(spark, sf)
    val a = DedupRollup.dedupAll(
      o.select(col("o_custkey"), col("o_orderstatus")),
      Seq("o_custkey", "o_orderstatus")).count()
    val b = o.groupBy(col("o_custkey"), col("o_orderstatus")).count().count()
    assert(a == b)
  }

  test("TOPN: TakeOrderedAndProject == sort-then-limit") {
    val o = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_totalprice"))
    val fast = Sorting.topn(o, 25,
      Seq(col("o_totalprice").desc, col("o_orderkey")))
      .as[(Long, Double)].collect().toSeq
    val slow = o.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .collect().take(25).map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fast == slow)
  }

  test("packSequences two-pass prefix sum == naive global-window lowering") {
    // the scale-safe Positions scan must agree with the thing it replaces
    // (a single-partition window) on real data
    val docs = Tables.documents(spark, sf)
    val fast = graft.text.TextOps.packSequences(docs, col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")), 512)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val naive = docs
      .select(col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("cum", sum(col("n")).over(w))
      .select(col("doc_id"), col("n"), (col("cum") - col("n")).as("off"),
        floor((col("cum") - col("n")) / 512).cast("long"),
        floor((col("cum") - 1) / 512).cast("long"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(fast == naive)
  }

  test("loopFiltered row routing == loopN with a conditional in-place body") {
    // routing rows OUT of the loop must equal keeping them in with a
    // no-op guard, for a body that's idempotent past the fixpoint
    val base = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("q"))
    val routed = graft.workflow.Workflow
      .loopFiltered(base, maxIter = 10, col("q") > 10) { (d, _) =>
        d.withColumn("q", col("q") - 7)
      }
      .as[(Long, Int, Long)].collect().toSet
    val guarded = graft.workflow.Workflow.loopN(base, 6) { (d, _) =>
      d.withColumn("q", when(col("q") > 10, col("q") - 7).otherwise(col("q")))
    }.as[(Long, Int, Long)].collect().toSet
    assert(routed == guarded)
  }

  test("SAMPLE formula == explicit position filter") {
    val c = Tables.customer(spark, sf).select(col("c_custkey"))
    val viaOp = Sorting.sample(c, 7, 3, Seq(col("c_custkey")))
      .as[Long].collect().toSet
    val keys = c.orderBy(col("c_custkey")).as[Long].collect()
    val manual = keys.zipWithIndex
      .filter { case (_, i) => (i + 1 - 3) % 7 == 0 && (i + 1) >= 3 }
      .map(_._1).toSet
    assert(viaOp == manual)
  }

  test("AS-OF join: union-merge window lowering == naive per-row scan " +
      "over real events") {
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val viaOp = graft.ops.Temporal
      .asofJoin(pur, clicks, "user_id", "ts", "ts", Seq("value"))
      .select(col("event_id"), col("matched_ts")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getTimestamp(1))).toMap
    // naive: collect both sides, scan per purchase
    val cs = clicks.collect().map(r =>
      (r.getLong(0), r.getTimestamp(1))).groupBy(_._1)
    val naive = pur.collect().map { r =>
      val prior = cs.getOrElse(r.getLong(1), Array.empty)
        .map(_._2).filter(!_.after(r.getTimestamp(2)))
      r.getLong(0) -> (if (prior.isEmpty) null else prior.max)
    }.toMap
    assert(viaOp == naive)
  }

  test("AS-OF join: ONE monster key (one task holds every row) == naive " +
      "per-row scan, backward, toleranceSec = 4 and forward") {
    import spark.implicits._
    val n = 20000
    // right ts 10·id s; left ts 20·id + id%7 s, so the backward gap runs
    // 0..6 s (0 = an exact tie) and the tolerance keeps only some matches
    val right = spark.range(n).select(lit(1L).as("k"),
      timestamp_seconds(col("id") * 10).as("ts"),
      (col("id") * 2).as("v"))
    val left = spark.range(n / 2).select(lit(1L).as("k"),
      timestamp_seconds(col("id") * 20 + col("id") % 7).as("ts"),
      col("id").as("lid"))
    val rTs = (0L until n).map(_ * 10).toArray
    val lTs = (0L until n / 2).map(id => id * 20 + id % 7)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lid"), col("v")).as[(Long, Option[Long])].collect().toSet
    // naive: scan every right row for each left row
    def naive(forward: Boolean, tol: Option[Long]): Set[(Long, Option[Long])] =
      lTs.zipWithIndex.map { case (t, lid) =>
        var best = -1
        var i = 0
        while (i < rTs.length) {
          val ok = if (forward) rTs(i) >= t else rTs(i) <= t
          if (ok && (best < 0 || (if (forward) rTs(i) < rTs(best)
              else rTs(i) > rTs(best)))) best = i
          i += 1
        }
        val m = Option(best).filter(b => b >= 0 &&
          tol.forall(tl => math.abs(t - rTs(b)) <= tl))
        (lid.toLong, m.map(_ * 2L))
      }.toSet
    def asof(tol: Option[Long], forward: Boolean) = norm(graft.ops.Temporal
      .asofJoin(left, right, "k", "ts", "ts", Seq("v"), tol, forward))
    val back = naive(forward = false, None)
    assert(back.forall(_._2.isDefined))
    assert(asof(None, forward = false) == back)
    val tol = naive(forward = false, Some(4L))
    assert(tol.exists(_._2.isDefined) && tol.exists(_._2.isEmpty))
    assert(asof(Some(4L), forward = false) == tol)
    assert(asof(None, forward = true) == naive(forward = true, None))
  }

  test("embedding ops: double production mode == decimal oracle mode on " +
      "every discrete output (ids, ranks, buckets, cells, survivors)") {
    import graft.text.Embeddings
    val emb = Tables.embeddings(spark, sf)
    // r11 verdict #1: the decimal fold exists for cross-engine SCORE
    // parity; outputs are discrete, so double (the production default)
    // must land on identical verdicts whenever scores sit further than
    // the ~1e-11 accumulation-error band from a threshold or tie.
    def ranks(exact: Boolean) = Embeddings.cosineTopK(
        emb.filter(col("vec_id") < 20), emb,
        col("vec_id"), col("vec_id"), col("embedding"), col("embedding"),
        5, exact = exact)
      .as[(Long, Long, Long)].collect().toSet
    assert(ranks(exact = false) == ranks(exact = true))

    def buckets(exact: Boolean) = Embeddings.rpLshBucket(emb,
        col("vec_id"), col("embedding"), 8, exact = exact)
      .as[(Long, Long)].collect().toSet
    assert(buckets(exact = false) == buckets(exact = true))

    def sem(exact: Boolean) = Embeddings.semDeDupAuto(emb,
        col("vec_id"), col("embedding"), 0.35, exact = exact)
      .as[(Long, Long)].collect().toSet
    assert(sem(exact = false) == sem(exact = true))

    def dedup(exact: Boolean) = Embeddings.cosineNearDupDedupAuto(emb,
        col("vec_id"), col("embedding"), tau = 0.25, numTables = 2,
        exact = exact)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(dedup(exact = false) == dedup(exact = true))
  }

  test("embedding verdict margins: no within-cell cosine sits within 1e-6 " +
      "of the q215 tau (the condition that GUARANTEES mode equivalence)") {
    import graft.text.Embeddings
    val emb = Tables.embeddings(spark, sf)
    val c = math.max(8L, (emb.count() + 255) / 256).toInt
    val init = Embeddings.ivfInitHashSample(emb, col("vec_id"),
      col("embedding"), c)
    val cents = Embeddings.ivfTrain(emb, col("vec_id"), col("embedding"),
      init, 1, exact = true)
    val base = emb.select(col("vec_id"), col("embedding"))
      .withColumn("__n", Embeddings.normExact(col("embedding")))
    val cells = Embeddings.ivfAssign(base, col("vec_id"), col("embedding"),
      cents, exact = true)
    val withCell = base.join(cells, "vec_id")
    val a = withCell.select(col("cell"), col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("__n").as("q_n"))
    val b = withCell.select(col("cell"), col("vec_id").as("r_id"),
      col("embedding").as("r_emb"), col("__n").as("r_n"))
    val minMargin = a.join(b, Seq("cell")).filter(col("q_id") > col("r_id"))
      .select(abs(Embeddings.dotExact(col("q_emb"), col("r_emb")) /
        (col("q_n") * col("r_n")) - 0.35).as("margin"))
      .agg(min(col("margin"))).collect().head.getDouble(0)
    assert(minMargin > 1e-6, f"tau margin too tight: $minMargin%g")
  }

  test("range join: bucketed equi-join lowering == plain inequality join") {
    val ev = Tables.events(spark, sf)
    val win = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("win_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 45 MINUTES")).as("w_end"))
    val clk = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts"))
    val viaOp = graft.ops.Ranges
      .pointInInterval(clk, win, "ts", "w_start", "w_end", 600L)
      .select(col("win_id"), col("click_id"))
      .as[(Long, Long)].collect().toSet
    val naive = clk.join(win,
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select(col("win_id"), col("click_id"))
      .as[(Long, Long)].collect().toSet
    assert(viaOp == naive)
  }
}
