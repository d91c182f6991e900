package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._

/** Connected-components semantics the q99 oracle can't isolate: chain
  * collapse (the O(diameter) killer for naive propagation), isolated
  * vertices, orientation/duplicate-edge insensitivity, determinism.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def cc(verts: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val v = verts.toDF("id")
    val e = edges.toDF("a", "b")
    Graph.connectedComponents(v, col("id"), e, col("a"), col("b"))
      .as[(Long, Long)].collect().toMap
  }

  test("long chain collapses to the min id (star contraction, not diameter walks)") {
    val n = 200L
    val labels = cc(1L to n, (1L until n).map(i => (i, i + 1)))
    assert(labels.size == n)
    assert(labels.values.forall(_ == 1L))
  }

  test("separate components keep separate min labels; isolated nodes label themselves") {
    val labels = cc(Seq(1L, 2L, 3L, 10L, 11L, 99L),
      Seq((2L, 3L), (10L, 11L), (3L, 1L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("edge orientation, duplicates, and self-loops don't change the labeling") {
    val base = cc(1L to 5L, Seq((1L, 2L), (2L, 3L), (4L, 5L)))
    val messy = cc(1L to 5L,
      Seq((2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L), (5L, 4L), (3L, 3L)))
    assert(base == messy)
    assert(base == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("local contraction pre-pass: labels match a brute-force oracle on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 40 + trial * 17
      val verts = (1L to n.toLong).toSeq
      val edges = Seq.fill(n * 2)(
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
      // brute-force oracle: repeated relabel-to-min until fixpoint
      val oracle = {
        val label = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
        var changed = true
        while (changed) {
          changed = false
          edges.foreach { case (a, b) =>
            val m = math.min(label(a), label(b))
            if (label(a) != m) { label(a) = m; changed = true }
            if (label(b) != m) { label(b) = m; changed = true }
          }
        }
        label.toMap
      }
      val v = verts.toDF("id").repartition(5)
      val e = edges.toDF("a", "b").repartition(7)
      val labels = Graph.connectedComponents(v, col("id"), e, col("a"), col("b"))
        .as[(Long, Long)].collect().toMap
      assert(labels == oracle, s"trial $trial: pre-pass vs oracle")
    }
  }

  test("local contraction emits at most one row per non-root node, oriented u > v") {
    // one partition holding a 6-clique's 15 pairs must contract to 5 rows
    val clique = (for (i <- 1L to 6L; j <- 1L until i) yield (i, j))
    val contracted = Graph.localContract(clique.toDF("u", "v").coalesce(1))
      .as[(Long, Long)].collect().toSeq
    assert(contracted.toSet == (2L to 6L).map(i => (i, 1L)).toSet)
  }

  test("labels are deterministic across runs and partitionings") {
    val edges = (1L to 60L).flatMap(i => Seq((i, i % 7 + 100L)))
    val a = cc(1L to 60L, edges)
    val b = Graph.connectedComponents(
        (1L to 60L).toDF("id").repartition(13), col("id"),
        edges.toDF("a", "b").repartition(7), col("a"), col("b"))
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }
}
