package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph primitives for near-duplicate CLUSTER resolution —
  * the step after candidate generation + exact refine: near-dup relations
  * are rarely transitive-closed by construction (A~B, B~C but A!~C), so
  * corpus dedup at scale labels each document with its connected
  * component and keeps one representative per component.
  *
  * Reference contract: the reference resolves link clusters with
  * iterative JOIN + ROLLUP graph loops (`thorlcr/thorutil/thgraph`
  * loop-activity machinery; SALT's clustering generates exactly this
  * shape). Spark-native re-expression: DataFrame rounds with
  * localCheckpoint lineage truncation.
  */
object Graph {

  /** EXACT fixpoint test for two canonically-oriented distinct edge sets:
    * equal count + empty anti-join ⇒ equal sets. Both inputs are already
    * checkpointed, so this is two cheap jobs over materialized frames — a
    * hash-signature shortcut would make convergence probabilistic, and a
    * false stop silently mislabels components.
    */
  private def sameEdges(a: DataFrame, b: DataFrame,
      aCount: Long, bCount: Long): Boolean =
    aCount == bCount &&
      b.join(a, Seq("u", "v"), "left_anti").isEmpty

  /** Large-star round: every node connects its LARGER neighbors to its
    * minimum known neighbor (or itself). Input/output edges oriented
    * u > v; output is distinct. One groupBy shuffle + one join, both
    * hash-partitioned on the node id (PlanAuditSpec pins the plan).
    */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star round: every node connects its SMALLER neighbors (its
    * whole out-neighborhood under the u > v orientation) plus itself to
    * its minimum neighbor. Output oriented u > v, distinct.
    */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("u").agg(min(col("v")).as("m"))
    edges.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
  }

  /** Partition-local union-find contraction (the "local contraction"
    * optimization from Kiveris et al. SoCC'14 §6): each partition replaces
    * its edges by the star forest node → partition-local component minimum.
    * Zero shuffles — a single mapPartitions over the raw (oriented,
    * non-distinct) edge stream. Connectivity is preserved exactly: every
    * input edge (u,v) lives in SOME partition, and there u and v share a
    * local root, so the union of the per-partition stars connects them.
    * Per partition the star has (nodes − components) ≤ edges rows — never
    * more output than input, and on clustered graphs (near-dup components
    * are dense by construction) FAR fewer: a partition holding a k-node
    * clique's k²/2 candidate pairs emits k−1 rows. That shrinks the first
    * global distinct() shuffle and hands the star rounds a pre-collapsed
    * graph, typically saving a full global round — two hash shuffles of
    * the whole edge set at 100 TB. Roots are component minima, so output
    * rows keep the u > v orientation the star rounds require. State is
    * bounded by the partition's node count (≤ 2× its rows ≤
    * maxPartitionBytes-sized), not the graph.
    */
  private[graft] def localContract(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("u"), col("v")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          var p = parent.getOrDefault(r, r)
          while (p != r) { r = p; p = parent.getOrDefault(r, r) }
          var c = x // path compression
          while (c != r) {
            val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
          }
          r
        }
        it.foreach { case (u, v) =>
          val ru = find(u); val rv = find(v)
          if (ru != rv) { // union by min id: the root IS the local minimum
            if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
          }
        }
        val keys = new Array[Long](parent.size())
        val kit = parent.keySet().iterator()
        var i = 0
        while (kit.hasNext) { keys(i) = kit.next(); i += 1 }
        keys.iterator.map(k => (k, find(k)))
          .filter { case (k, r) => k != r }
      }
      .toDF("u", "v")
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): O(log² n) rounds worst-case and a handful on real
    * near-dup graphs, each round two hash-shuffles. The naive
    * label-propagation alternative needs O(diameter) rounds — a chain of
    * 1M near-identical crawl snapshots would take 1M shuffles; star
    * contraction collapses it in ~log n. Rounds are localCheckpoint-ed so
    * lineage (and the plan Catalyst must analyze) stays O(1) per round,
    * not O(rounds) — the standard iterative-algorithm discipline on
    * Spark.
    *
    * `vertices`/`vid`: one row per node (isolated nodes label
    * themselves). `edges`/`src`/`dst`: undirected relation rows, any
    * orientation, self-loops ignored. Returns (id, component) where
    * component = MIN node id of the connected component — deterministic
    * regardless of partitioning or round count.
    */
  def connectedComponents(vertices: DataFrame, vid: Column,
      edges: DataFrame, src: Column, dst: Column,
      maxRounds: Int = 30): DataFrame = {
    import graft.workflow.Workflow.{checkpointEager, checkpointLazy, Checkpointed}
    val verts = vertices.select(vid.cast("long").as("id"))
    // superseded rounds release their checkpoint blocks through the RDD
    // handle (Workflow.Checkpointed) — Dataset.unpersist is a no-op on
    // checkpoints, so the previous shape silently pinned EVERY round's
    // edge set until driver GC (O(rounds·|E|) block-store pressure at
    // sf10 — the same leak class the r12 rehearsal found in LOOP)
    val oriented = edges
      .select(src.cast("long").as("u"), dst.cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
    // contract BEFORE the distinct(): the first shuffle then carries the
    // per-partition star forests (≤ raw edge count, far less on the dense
    // clusters near-dup graphs produce) instead of the raw pair stream.
    // Lazy checkpoint + count fuses materialization with the convergence
    // count into ONE job (r20, verdict #4: the fixpoint loop's cost at
    // small SF is fixed jobs per round — eager localCheckpoint runs an
    // internal count whose result is discarded, and we then counted again)
    // rdd-level count: ONE plain job that both materializes the lazy
    // checkpoint's blocks and returns the row count — a Dataset count
    // plans an exchange that AQE materializes as a separate job
    def countMaterializing(ck: Checkpointed): Long =
      ck.df.queryExecution.toRdd.count()
    var e = checkpointLazy(localContract(oriented).distinct())
    var eCount = countMaterializing(e)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // checkpoint between the stars stays EAGER: smallStar consumes its
      // input twice (groupBy + join) and Catalyst does not CSE across the
      // self-join — without this the large-star shuffle chain runs twice
      // per round. The round's OUTPUT is lazy: its materialization fuses
      // with the convergence count (2 jobs/round instead of 3).
      val ls = checkpointEager(largeStar(e.df))
      val next = checkpointLazy(smallStar(ls.df))
      val nextCount = countMaterializing(next)
      ls.release()
      converged = sameEdges(e.df, next.df, eCount, nextCount)
      e.release() // next is materialized and the fixpoint test is done
      eCount = nextCount
      e = next
      rounds += 1
    }
    require(converged,
      s"connectedComponents: no fixpoint after $maxRounds rounds")
    // Fixpoint is a star forest oriented child > root: child's component
    // is its (unique) out-neighbor; roots and isolated nodes label
    // themselves. The label frame is materialized EAGERLY so the final
    // edge checkpoint can be released before returning — otherwise each
    // call leaves |E| blocks pinned until driver GC, and back-to-back
    // component runs degrade as dead blocks crowd the store (measured
    // 128 s → 252 s across two sf10 runs in one session). The O(|V|)
    // label blocks stay until the ContextCleaner collects the frame.
    val roots = e.df.groupBy(col("u").as("id")).agg(min(col("v")).as("m"))
    val out = checkpointEager(verts.join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("m"), col("id")).as("component")))
    e.release()
    out.df
  }
}
