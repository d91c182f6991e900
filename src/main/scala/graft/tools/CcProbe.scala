package graft.tools

import graft.Tables
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Stage-level timing probe for the q99 shape (dev tool): splits the
  * near-dup component pipeline into candidate generation (shingle →
  * minhash → LSH → jaccard refine) and the connected-components rounds,
  * and times each star round individually with its edge count — so a
  * "q99 is slow at sfN" report can be attributed to a specific stage
  * instead of the composite, and superlinearity in the star-contraction
  * rounds is directly visible (per-round cost should track edge count).
  *
  * `args(0)` picks the FIXTURE storage discipline (the task-side memory
  * contract is unaffected — HotBucketStressSpec pins that separately):
  *  - `heap` — deserialized MEMORY_AND_DISK persists + MEMORY_AND_DISK
  *    localCheckpoints (the r13/r14 shape: all fixture storage shares the
  *    one local[N] heap; at sf30 this needed ~96 GB);
  *  - `ser`  — MEMORY_AND_DISK_SER persists, DISK_ONLY checkpoints (the
  *    cluster-faithful shape: storage is serialized/spilled, the heap
  *    holds only live task state — the r15 64 GB re-proof mode);
  *  - `disk` — DISK_ONLY everything (floor of the storage axis).
  *
  * `runMain graft.tools.CcProbe [heap|ser|disk] [contract|plain]` against
  * `SPARK_GRAFT_SF_DIR` (plain-java launch for big SFs — pick -Xmx per
  * run). `contract` (r16 default) applies Graph.localContract before the
  * initial distinct; an accumulator inside the contraction pass counts the
  * raw oriented pairs (no extra job), so ONE contract run prints raw vs
  * contracted vs post-distinct edge counts — the pre-pass's shuffle saving
  * is visible without a paired plain run. Wall-clock A/B still needs a
  * plain run: the per-stage and per-round timing lines are the comparison.
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val mode = if (args.length > 0) args(0) else "heap"
    val contract = if (args.length > 1) args(1) == "contract" else true
    val (persistLevel, ckLevel) = mode match {
      case "heap" => (StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
      case "ser"  => (StorageLevel.MEMORY_AND_DISK_SER, StorageLevel.DISK_ONLY)
      case "disk" => (StorageLevel.DISK_ONLY, StorageLevel.DISK_ONLY)
      case other  => sys.error(s"unknown storage mode: $other")
    }
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.bench(32)
    import graft.workflow.Workflow.checkpointEager
    println(s"[cc] storage mode: $mode (persist=$persistLevel, checkpoint=$ckLevel)")

    def timed[A](label: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[cc] $label: $s%.2f s")
      (r, s)
    }

    val sets = graft.ops.Shape.split(TextOps.shingleSet(
      Tables.documents(spark, dir), col("doc_id"), col("text"), 3),
      persistLevel)
    timed("stage 1: shingle sets (persist)") {
      println(s"[cc]   docs with shingles: ${sets.count()}")
    }
    val bands = graft.ops.Shape.split(
      TextOps.lshBandKeys(TextOps.minhashSig(sets, 8), 8, 2), persistLevel)
    timed("stage 2: minhash sigs + band keys (persist)") {
      println(s"[cc]   band rows: ${bands.count()}")
    }
    val (cands, _) = timed("stage 3: LSH bucket self-join (distinct pairs)")(
      checkpointEager(TextOps.lshCandidates(bands), ckLevel))
    println(s"[cc]   candidate pairs: ${cands.df.count()}")

    // lshJaccardPairs routes hot buckets at execution time (no eager
    // probe since r14); construction is cheap but keep it in the block
    val oriented = TextOps.lshJaccardPairs(bands, sets, 0.5)
      .select(col("doc_a").cast("long").as("u"),
        col("doc_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
    val rawPairs =
      if (contract) Some(spark.sparkContext.longAccumulator("cc_raw_pairs"))
      else None
    val starRows =
      if (contract) Some(spark.sparkContext.longAccumulator("cc_star_rows"))
      else None
    val (e0, _) = timed(if (contract)
        "stage 4: jaccard refine + localContract (bucket-local fused)"
      else "stage 4: jaccard refine (bucket-local fused)")(
      checkpointEager(
        (if (contract)
           graft.ops.Graph.localContract(oriented, rawPairs, starRows)
         else oriented)
          .distinct(), ckLevel))
    var e = e0
    var (eCount, _) = timed("edge count")(e.df.count())
    for (raw <- rawPairs; st <- starRows) println(
      f"[cc] pre-contract oriented pairs: ${raw.value} -> star-forest rows " +
        f"entering distinct(): ${st.value} " +
        f"(first-shuffle contraction ${raw.value.toDouble / math.max(1L, st.value.toLong)}%.2fx)")
    println(s"[cc] initial edges: $eCount")
    var converged = false
    var rounds = 0
    while (!converged && rounds < 30) {
      val edgesIn = eCount
      val (ls, lsSec) = timed(s"round $rounds largeStar")(
        checkpointEager(graft.ops.Graph.largeStar(e.df), ckLevel))
      val (next, ssSec) = timed(s"round $rounds smallStar")(
        checkpointEager(graft.ops.Graph.smallStar(ls.df), ckLevel))
      val nextCount = next.df.count()
      ls.release()
      val (conv, fpSec) = timed(s"round $rounds fixpoint test")(
        eCount == nextCount &&
          next.df.join(e.df, Seq("u", "v"), "left_anti").isEmpty)
      converged = conv
      e.release()
      // one machine-greppable line per contraction round: cost must track
      // the round's edge count (superlinearity shows here immediately)
      println(f"[cc] ROUND n=$rounds edges_in=$edgesIn edges_out=$nextCount " +
        f"largeStar_s=$lsSec%.1f smallStar_s=$ssSec%.1f " +
        f"fixpoint_s=$fpSec%.1f converged=$converged")
      eCount = nextCount
      e = next
      rounds += 1
    }
    spark.stop()
  }
}
