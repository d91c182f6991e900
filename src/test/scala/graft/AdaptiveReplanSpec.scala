package graft

import graft.text.Embeddings
import graft.workflow.Workflow
import org.apache.spark.sql.functions._

/** The reused-plan-under-data-growth gate class (r13's ADVICE found one op
  * — LSH hot-bucket routing — whose plan-time decision went stale when the
  * data changed under a reused plan; r14 moved that decision to execution
  * time). This spec audits the REMAINING plan-time-adaptive ops: each must
  * either answer from its build-time snapshot, re-route correctly at
  * execution, or fail loudly — never silently mix a stale decision with
  * fresh data.
  *
  *  - `Workflow.dictionaryAuto` (probe-capped size classes): a dictionary
  *    is a BUILD — both size classes snapshot at construction, so the
  *    class chosen can never change staleness semantics.
  *  - `Embeddings.planesFor`/`ivfAssignAuto` (corpus-size probes): the
  *    probed value is a bucketing/occupancy knob — growth under a stale
  *    knob degrades occupancy or recall, NEVER the correctness contract
  *    (exact duplicates still collide; assignment stays total).
  */
class AdaptiveReplanSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    s"/root/repo/target/graft_io/adaptive_spec/$tag-${System.nanoTime()}"

  private def scanFree(df: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    !plan.contains("FileScan") && !plan.toLowerCase.contains("scan parquet")
  }

  test("dictionaryAuto LITERAL class: lookups answer from the build-time " +
      "snapshot after the source is overwritten in place") {
    val p = tmp("dict-lit")
    Seq(("a", "1"), ("b", "2")).toDF("k", "v").write.parquet(p)
    val dict = Workflow.dictionaryAuto(
      spark.read.parquet(p), col("k"), col("v"))
    Seq(("a", "CHANGED"), ("b", "CHANGED")).toDF("k", "v")
      .write.mode("overwrite").parquet(p)
    val out = Workflow.dictGet(Seq("a", "b").toDF("k"), dict, col("k"), "v")
      .orderBy("k").collect().map(_.getString(1)).toSeq
    assert(out == Seq("1", "2"),
      s"literal dictionary leaked post-build source state: $out")
  }

  test("dictionaryAuto JOIN class: same snapshot semantics — the size " +
      "class a dict lands in must not change its staleness behavior") {
    val p = tmp("dict-join")
    (1 to 100).map(i => (s"k$i", s"v$i")).toDF("k", "v").write.parquet(p)
    val dict = Workflow.dictionaryAuto(
      spark.read.parquet(p), col("k"), col("v"), maxLiteralRows = 10)
    assert(dict.literal.isEmpty, "fixture must land in the join class")
    // the build is PINNED: the dict side's plan has no source scan left —
    // re-execution cannot reach the (possibly mutated) source at all
    assert(scanFree(dict.kv),
      s"dict kv still scans the source:\n${dict.kv.queryExecution.executedPlan}")
    (1 to 100).map(i => (s"k$i", "CHANGED")).toDF("k", "v")
      .write.mode("overwrite").parquet(p)
    val out = Workflow.dictGet(Seq("k5").toDF("k"), dict, col("k"), "v")
      .collect()
    assert(out.head.getString(1) == "v5",
      s"join-class dictionary leaked post-build source state: ${out.toSeq}")
  }

  test("planesFor growth contract: a plane count probed from a SMALLER " +
      "corpus still co-buckets every exact duplicate in the grown corpus " +
      "(occupancy degrades, the correctness contract does not)") {
    def vec(i: Int): Array[Float] =
      Array((i % 7).toFloat - 3, (i % 5).toFloat - 2,
        (i % 3).toFloat - 1, (i % 11).toFloat - 5)
    val stalePlanes = Embeddings.planesFor(64, 8) // probed pre-growth
    assert(stalePlanes < Embeddings.planesFor(640, 8),
      "fixture must make the stale knob genuinely undersized")
    // 10x the probe-time corpus, with explicit duplicate pairs (i, i+10000)
    val grown = ((0 until 640).map(i => (i.toLong, vec(i))) ++
      (0 until 640 by 7).map(i => (i + 10000L, vec(i))))
      .toDF("vid", "emb")
    val buckets = Embeddings.rpLshBucket(grown, col("vid"), col("emb"),
      stalePlanes, dim = 4)
    val pairs = buckets.as("a").join(buckets.as("b"),
        col("a.vec_id") + 10000L === col("b.vec_id"))
      .select(col("a.bucket").as("ba"), col("b.bucket").as("bb"))
      .collect()
    assert(pairs.length == (0 until 640 by 7).size)
    assert(pairs.forall(r => r.getLong(0) == r.getLong(1)),
      "an exact duplicate pair landed in different buckets under the " +
        "stale plane count — growth broke the collision contract")
  }

  test("ivfAssignAuto with build-time centroids over a grown corpus: " +
      "assignment stays TOTAL and lands on valid centroids (quality is " +
      "the only drift)") {
    def vec(i: Int): Array[Float] =
      Array((i % 13).toFloat, (i % 17).toFloat, (i % 19).toFloat,
        (i % 23).toFloat)
    val small = (0 until 50).map(i => (i.toLong, vec(i))).toDF("vid", "emb")
    val centroids = Embeddings.ivfInitHashSample(
      small, col("vid"), col("emb"), 4) // trained pre-growth
    val grown = (0 until 500).map(i => (i.toLong, vec(i))).toDF("vid", "emb")
    val assigned = Embeddings.ivfAssignAuto(
      grown, col("vid"), col("emb"), centroids)
    val cellCol = assigned.columns.find(_ != "vec_id")
      .getOrElse(fail("no cell column"))
    val rows = assigned.collect()
    assert(rows.length == 500, s"assignment dropped rows: ${rows.length}")
    val validCells = centroids.map(_._1).toSet
    val cells = assigned.select(col(cellCol).cast("long")).collect()
      .map(_.getLong(0)).toSet
    assert(cells.subsetOf(validCells),
      s"stale centroids produced out-of-vocabulary cells: $cells")
  }
}
