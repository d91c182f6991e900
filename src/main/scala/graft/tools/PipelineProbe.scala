package graft.tools

import graft.Tables
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end curation-pipeline probe (dev tool, r17 verdict #4): the FULL
  * q228 composition — LSH near-dup candidates → jaccard refine → connected
  * components → keeper semi-join → ExactSubstr span removal — with
  * per-stage wall-clock telemetry, under the r15 64 GB `ser` storage
  * discipline (MEMORY_AND_DISK_SER persists, DISK_ONLY checkpoints: the
  * cluster-faithful shape where fixture storage spills instead of crowding
  * the one rehearsal heap). CcProbe times the refine and CC stages in
  * isolation; this probe times the COMPOSITION, whose checkpoint/memory
  * interaction (three persisted fixtures live across the CC rounds, then
  * the span stage re-reads the surviving corpus) is what an isolated
  * stage run cannot see.
  *
  * `runMain graft.tools.PipelineProbe [outDir]` against
  * `SPARK_GRAFT_SF_DIR` (plain-java launch for big SFs — pick -Xmx per
  * run). When `outDir` is given, the final frame is written as
  * `outDir/q228_curation_dedup_pipeline` parquet, the exact layout
  * `tools/oracle_q228.py <sfDir> <outDir>` expects — so the sf30 run gets
  * VALUE parity against the staged oracle, not just timings.
  */
object PipelineProbe {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.bench(32)
    val t00 = System.nanoTime()

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[pipeline] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val docs = Tables.documents(spark, dir)
    val sets = graft.ops.Shape.split(TextOps.shingleSet(
      docs, col("doc_id"), col("text"), 3), StorageLevel.MEMORY_AND_DISK_SER)
    timed("stage 1: shingle sets (persist ser)") {
      println(s"[pipeline]   docs: ${sets.count()}")
    }
    val bands = graft.ops.Shape.split(
      TextOps.lshBandKeys(TextOps.minhashSig(sets, 8), 8, 2),
      StorageLevel.MEMORY_AND_DISK_SER)
    timed("stage 2: minhash + band keys (persist ser)") {
      println(s"[pipeline]   band rows: ${bands.count()}")
    }
    // refine is lazy; its cost lands inside the CC stage's first
    // checkpoint (exactly as in q228) — the edge count printed there is
    // the refine's output measure
    val edges = TextOps.lshJaccardPairs(bands, sets, 0.5)
    val (labels, releaseLabels) = timed("stage 3+4: jaccard refine + " +
        "connected components (DISK_ONLY rounds)") {
      graft.ops.Graph.connectedComponentsReleasable(
        docs, col("doc_id"), edges, col("doc_a"), col("doc_b"),
        ckLevel = StorageLevel.DISK_ONLY)
    }
    val keepers = labels.filter(col("id") === col("component"))
      .select(col("id").as("doc_id"))
    val surviving = graft.ops.Shape.split(
      docs.join(keepers, Seq("doc_id"), "left_semi"),
      StorageLevel.MEMORY_AND_DISK_SER)
    timed("stage 5: keeper semi-join (persist ser)") {
      println(s"[pipeline]   surviving docs: ${surviving.count()}")
    }
    val cleaned = TextOps.removeDupSpans(
      surviving, col("doc_id"), col("text"), k = 8)
    timed("stage 6: ExactSubstr span removal" +
        outDir.fold(" (count)")(_ => " (+ write)")) {
      outDir match {
        case Some(out) =>
          cleaned.orderBy(col("doc_id")).coalesce(1).write
            .mode("overwrite").parquet(s"$out/q228_curation_dedup_pipeline")
          println(s"[pipeline]   wrote $out/q228_curation_dedup_pipeline")
        case None =>
          println(s"[pipeline]   cleaned docs: ${cleaned.count()}")
      }
    }
    releaseLabels()
    println(f"[pipeline] TOTAL: ${(System.nanoTime() - t00) / 1e9}%.2f s")
    spark.stop()
  }
}
