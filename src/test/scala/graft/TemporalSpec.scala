package graft

import graft.ops.Temporal
import org.apache.spark.sql.functions._

/** AS-OF join semantics on hand-built frames — the edge cases the DuckDB
  * oracle gates (q205–q207) exercise only statistically: exact-timestamp
  * ties, no-match null extension, tolerance boundaries, and the plan
  * contract (the union-merge lowering must contain NO join operator and
  * exactly one hash exchange).
  */
class TemporalSpec extends SparkSpec {
  import spark.implicits._

  private def mkLeft(rows: (Int, Long, String)*) =
    rows.toDF("k", "lt", "tag")
      .select(col("k"), timestamp_seconds(col("lt")).as("lt"), col("tag"))
  private def mkRight(rows: (Int, Long, Double)*) =
    rows.toDF("k", "rt", "price")
      .select(col("k"), timestamp_seconds(col("rt")).as("rt"), col("price"))

  test("picks the latest at-or-before right row per key") {
    val l = mkLeft((1, 100L, "a"), (1, 200L, "b"), (2, 150L, "c"))
    val r = mkRight((1, 50L, 1.0), (1, 150L, 2.0), (2, 150L, 3.0), (2, 160L, 4.0))
    val out = Temporal.asofJoin(l, r, "k", "lt", "rt", Seq("price"))
      .select(col("tag"), col("price")).collect()
      .map(x => x.getString(0) -> (if (x.isNullAt(1)) -1.0 else x.getDouble(1)))
      .toMap
    assert(out == Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0))
  }

  test("exact timestamp tie matches (at-or-before includes equality)") {
    val l = mkLeft((1, 100L, "a"))
    val r = mkRight((1, 100L, 9.0))
    val row = Temporal.asofJoin(l, r, "k", "lt", "rt", Seq("price")).collect().head
    assert(row.getAs[Double]("price") == 9.0)
  }

  test("left rows with no prior right row survive with null match") {
    val l = mkLeft((1, 100L, "a"), (3, 100L, "orphan-key"))
    val r = mkRight((1, 150L, 1.0))
    val out = Temporal.asofJoin(l, r, "k", "lt", "rt", Seq("price"))
    assert(out.count() == 2)
    assert(out.filter(col("matched_ts").isNotNull).count() == 0)
  }

  test("tolerance nulls stale matches but does NOT fall back to older rows") {
    val l = mkLeft((1, 1000L, "fresh"), (1, 5000L, "stale"))
    val r = mkRight((1, 900L, 1.0), (1, 950L, 2.0))
    val out = Temporal.asofJoin(l, r, "k", "lt", "rt", Seq("price"),
        toleranceSec = Some(100L))
      .select(col("tag"), col("price")).collect()
      .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getDouble(1)))
      .toMap
    // "fresh" at t=1000 matches the t=950 row (age 50 ≤ 100); "stale" at
    // t=5000 would match t=950 (age 4050) — nulled, not replaced by t=900
    assert(out("fresh") == 2.0)
    assert(out("stale") == null)
  }

  test("tolerance boundary is inclusive (age == tolerance matches)") {
    val l = mkLeft((1, 1000L, "edge"))
    val r = mkRight((1, 900L, 7.0))
    val row = Temporal.asofJoin(l, r, "k", "lt", "rt", Seq("price"),
      toleranceSec = Some(100L)).collect().head
    assert(row.getAs[Double]("price") == 7.0)
  }

  test("forward direction picks the EARLIEST at-or-after row, ties included") {
    val l = mkLeft((1, 100L, "a"), (1, 300L, "b"))
    val r = mkRight((1, 100L, 1.0), (1, 200L, 2.0), (1, 250L, 3.0))
    val out = Temporal.asofJoin(l, r, "k", "lt", "rt", Seq("price"),
        forward = true)
      .select(col("tag"), col("price")).collect()
      .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getDouble(1)))
      .toMap
    // "a" at t=100 ties the t=100 row (included); "b" at t=300 has nothing
    // after it → null
    assert(out("a") == 1.0)
    assert(out("b") == null)
  }

  test("forward tolerance bounds how far ahead the match may be") {
    val l = mkLeft((1, 100L, "near"), (1, 500L, "far"))
    val r = mkRight((1, 150L, 1.0), (1, 900L, 2.0))
    val out = Temporal.asofJoin(l, r, "k", "lt", "rt", Seq("price"),
        toleranceSec = Some(100L), forward = true)
      .select(col("tag"), col("price")).collect()
      .map(x => x.getString(0) -> (if (x.isNullAt(1)) null else x.getDouble(1)))
      .toMap
    assert(out("near") == 1.0) // 50s ahead, within 100s
    assert(out("far") == null) // 400s ahead, beyond tolerance — nulled
  }

  test("plan contract: union-merge lowers to ONE hash exchange and NO join") {
    val l = mkLeft((1, 100L, "a"))
    val r = mkRight((1, 50L, 1.0))
    val plan = Temporal.asofJoin(l, r, "k", "lt", "rt", Seq("price"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"no join operator expected:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"exactly one hash exchange expected:\n$plan")
    assert(plan.contains("Window"), s"carry must be a window:\n$plan")
  }

  test("building an as-of frame over parquet inputs launches no Spark job") {
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("value"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val (_, jobs, tasks) = jobsAndTasks {
      Seq((None, false), (Some(60L), false), (Some(60L), true)).map {
        case (tol, fwd) => Temporal.asofJoin(pur, clicks, "user_id", "ts",
          "cts", Seq("value"), tol, fwd).queryExecution.analyzed
      }
    }
    assert(jobs == 0 && tasks == 0, s"$jobs jobs, $tasks tasks at build time")
  }

  test("reserved internal columns and output-name collisions on the left " +
      "input are rejected up front") {
    val r = mkRight((1, 50L, 1.0))
    // any staged internal name, not just __asof_p
    val resv = mkLeft((1, 100L, "a")).withColumn("__asof_side", lit(1))
    val e1 = intercept[IllegalArgumentException] {
      Temporal.asofJoin(resv, r, "k", "lt", "rt", Seq("price"))
    }
    assert(e1.getMessage.contains("__asof_side"))
    // a left column named like the matched-ts output
    val mts = mkLeft((1, 100L, "a")).withColumn("matched_ts", lit(0L))
    val e2 = intercept[IllegalArgumentException] {
      Temporal.asofJoin(mts, r, "k", "lt", "rt", Seq("price"))
    }
    assert(e2.getMessage.contains("matched_ts"))
    // a left column shadowing a payload name
    val pay = mkLeft((1, 100L, "a")).withColumn("price", lit(9.9))
    val e3 = intercept[IllegalArgumentException] {
      Temporal.asofJoin(pay, r, "k", "lt", "rt", Seq("price"))
    }
    assert(e3.getMessage.contains("price"))
  }

  test("q205 lowering on real events: single window pass, no join operator") {
    val df = SparkEntry.queries("q205_asof_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"no join operator expected:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"one shuffle for |L|+|R| rows:\n$plan")
  }
}
