package graft.tools

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Writes PLANS.md: formatted physical plans of the headline queries, the
  * scale-contract evidence (PushedFilters / ReadSchema pruning / broadcast
  * joins / TakeOrderedAndProject / partial aggregation) in reviewable form.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // sf0.01 minimum: q174's pinned rollup summary asserts >= 1500
    // customer keys (c736d40's ADVICE guard) and fails fast below that
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.engine(4)

    val picks = Seq(
      "q01_agg" -> "TPC-H Q1 spine: pushed filter, pruned schema, partial agg",
      "q05_topn" -> "TOPN: TakeOrderedAndProject, no global sort",
      "q31_star_join" -> "star join: broadcast dims, single fact scan",
      "q45_iterate" -> "ITERATE: one shuffle + in-partition sorted fold",
      "q86_minhash_lsh" -> "MinHash+LSH: bucket join, no all-pairs",
      "q90_cosine_knn" -> "ANN brute-force: broadcast query side",
      "q89_simhash_neardup" ->
        "60-bit SimHash banding: equality join on (band,key), no cartesian",
      "q93_ann_multitable" ->
        "multi-table RP-LSH: per-row sign folds, bucket-equality candidates",
      "q33_mergejoin_proximity" ->
        "proximity mergejoin: bucket-banded equality join, residual range filter",
      "q160_blas_gemm" ->
        "distributed GEMM: contraction join + partial/final hash aggregate",
      "q18_shipping_priority" ->
        "TPC-H Q3 shape: no forced broadcast on SF-scaling dims (AQE decides)",
      "q150_profile" ->
        "profiler pass 2: gated value-counts collapse, no coalesce funnel",
      "q92b_ann_adaptive" ->
        "corpus-adaptive RP-LSH: per-vector norm fold BEFORE the pair join (dot+divide only per pair)",
      "q70_pii_scrub" ->
        "PII scrub: chained regexp projections, scan-speed, zero pre-sort shuffles",
      "q71_decontaminate" ->
        "decontamination: eval gram set broadcasts — the training corpus never shuffles",
      "q73_dup_passages" ->
        "duplicate passages: one linear gram shuffle with partial+final agg, no doc-pair product",
      "q76_curation_pipeline" ->
        "curation composite (quality→langid→exact-dedup→LSH-CC→decontaminate→sample→scrub): broadcast eval grams, bucket-equality LSH joins, one persist per reused stage, no cartesian anywhere",
      "q72_unigram_lm" ->
        "unigram-LM scoring: one persisted token explode feeds vocab + scoring join; 1-row totals broadcast; decimal-routed aggregate",
      "q171_dedup_lines" ->
        "C4 line dedup: explode, ONE line-count aggregate (partial+final), anti-join back — corpus streams twice, no doc-pair product",
      "q174_h3_rollup" ->
        "geo cell rollup: scan-speed UDF indexing, ONE hash exchange on the 64-bit cell key, coarser re-rollup as pure bit math on the tiny aggregate — no join, no geometry recomputation",
      "q175_phone_parse" ->
        "phone parse: literal frame through one UDF projection + struct explosion — scan-shaped, zero data exchanges beyond the final sort",
      "q176_h3_geojoin" ->
        "geo join: driver-side polyfill pushed as an IN-collection cell prefilter + exact refine — no join operator, zero hash exchanges",
      "q178_bucketed_join" ->
        "bucketed co-located join: both sides same-bucketed and per-bucket sorted at write time — SortMergeJoin with ZERO hash/broadcast exchange",
      "q180_exists_priority" ->
        "TPC-H Q4 shape: EXISTS lowered to LEFT SEMI on the correlation key (inequality as residual), no distinct/count",
      "q181_late_supplier" ->
        "TPC-H Q21 shape: l2/l3 EXISTS folded into a (order,supplier) pair pre-agg + ONE window over the orderkey (no countDistinct Expand, no fact-fact re-join); region dims broadcast",
      "q182_idle_customers" ->
        "TPC-H Q22 shape: 1-row scalar broadcast-crossed + LEFT ANTI against the date-pruned fact (filter pushed to orders scan)",
      "q183_small_qty_revenue" ->
        "TPC-H Q17 shape: brand-filtered part broadcast narrows the fact; correlated per-part avg = keyed agg broadcast back — zero fact shuffles",
      "q184_min_cost_supplier" ->
        "TPC-H Q2 shape: correlated MIN = re-aggregate of the derived cost frame broadcast back on (part,cost); dims broadcast; TakeOrderedAndProject",
      "q187_dominant_share" ->
        "TPC-H Q20 shape: nested IN chain = semi-join ladder; every IN a broadcast LEFT SEMI, nothing wider than keys materializes",
      "q191_nation_volume" ->
        "TPC-H Q7 shape: six tables — nation dims broadcast, the two fact joins plain equi-joins (AQE broadcast small-SF / SMJ at scale), no cartesian despite the disjunctive pair predicate",
      "q193_order_distribution" ->
        "TPC-H Q13 shape: ON-predicate pruned BEFORE the outer join; chained groupBys with partial aggregation",
      "q195_shipping_priority" ->
        "TPC-H Q3 shape: segment customers broadcast LEFT SEMI into date-pruned orders; top-10 is TakeOrderedAndProject, never a global sort",
      "q198_product_profit" ->
        "TPC-H Q9 shape: name-filtered parts broadcast-narrow the fact BEFORE the (part,supp) cost aggregate; derived cost frame broadcasts back",
      "q202_parts_supplier_count" ->
        "TPC-H Q16 shape: partsupp = one distinct over the fact's pair shuffle; complaints exclusion a broadcast LEFT ANTI; part attrs broadcast",
      "q203_large_volume_customer" ->
        "TPC-H Q18 shape: HAVING subquery = ONE keyed aggregate reused for both the filter and the output column — fact scanned once, shuffled once",
      "q204_bracket_revenue" ->
        "TPC-H Q19 shape: disjunctive brackets prune the broadcast part side pre-join; mixed residual post-join; fact read once, no union of scans",
      "q205_asof_join" ->
        "AS-OF join: union-merge lowering — ONE hash exchange + window carry over |L|+|R| rows, NO join operator, no range probe",
      "q208_range_join" ->
        "range join: interval explode to spanned buckets + EQUI-join on bucket id (exact predicate residual) — never a BroadcastNestedLoopJoin",
      "q213_heavy_hitters" ->
        "exact heavy hitters: per-partition SpaceSaving candidates (bounded state), broadcast-semi recount — the full key domain never shuffles",
      "q215_semdedup" ->
        "SemDeDup: broadcast IVF assignment (zero shuffle, codegen vec_mat_dots kernel), ONE cell-id hash shuffle for the within-cell pair join, codegen vec_dot refine",
      "q217_fuzzy_join" ->
        "fuzzy join: deletion-variant explode + equi-join on the signature — no BNLJ despite the edit-distance predicate",
      "q223_terasort" ->
        "terasort oracle gate: embarrassingly-parallel generate, ONE RangePartitioning exchange for the global sort, two-pass position scan (no single-partition window)",
      "q224_terasort_scale" ->
        "sf-scaled terasort certificate (oracle-checkable; r14: the permutation checksum rides as two BIGINT halves — no wide-decimal canonicalization seam): the summary row is driver-built from O(#partitions) validation summaries — the plan shows only the trivial LocalTableScan; the sort itself is q223's single range exchange",
      "q227_ivf_two_level" ->
        "two-level IVF quantizer gate (C=144 > HierThreshold): broadcast-free per-row assignment — the supers and the ragged child matrices are plan literals, the two argmax levels run inside one Project, ONE shuffle only for the final orderBy",
      "q228_curation_dedup_pipeline" ->
        "end-to-end curation dedup (LSH refine → components → keeper semi-join → span removal): both refine routes in-plan split by EXECUTION-TIME bucket size over one shared size aggregate (r14 — no plan-time probe), keeper filter a semi-join, span removal one linear gram shuffle")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for the scale contract\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` at $dir. What to look\n")
    sb.append("for: `PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin`\n")
    sb.append("for dims, `TakeOrderedAndProject` for TOPN, paired\n")
    sb.append("`HashAggregate` (partial+final) around exchanges, `*(n)`\n")
    sb.append("whole-stage-codegen fusion markers.\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    // r16: the contraction pre-pass ahead of the first distinct() — the
    // mapPartitions union-find must sit BELOW the first Exchange with an
    // exchange-free subtree (PlanAuditSpec pins the same shape; this is
    // the committed plan evidence the r16 verdict asked for).
    sb.append("\n## q99_dedup_components — localContract pre-pass: zero-shuffle mapPartitions feeding the first distinct() exchange\n\n")
    sb.append("`Graph.localContract` replaces each partition's raw candidate-pair\n")
    sb.append("stream with its local star forest BEFORE the initial distinct():\n")
    sb.append("the MapPartitions node sits directly on the scan-side plan with no\n")
    sb.append("Exchange below it — the first shuffle the edges ever cross is the\n")
    sb.append("distinct()'s, and it carries the contracted rows (sf1: 2.2x fewer).\n\n```\n")
    // no limit(): its single-partition exchange would sit below the
    // MapPartitions and the tiny input would let distinct() skip its own
    // exchange — the raw scan keeps the plan the honest production shape
    val rawEdges = Tables.documents(spark, dir)
      .select(col("doc_id").as("a"), (col("doc_id") % 7).as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
    sb.append(graft.ops.Graph.localContract(rawEdges).distinct()
      .queryExecution.explainString(ExplainMode.fromString("formatted")))
    sb.append("```\n")
    // q99 is iterative (one plan per star round) — show one round's plan
    // instead of the trivial final label join.
    sb.append("\n## q99_dedup_components — one large-star round: two hash exchanges, no cartesian\n\n")
    sb.append("Connected components is iterative (O(log n) rounds, each\n")
    sb.append("localCheckpoint-ed — `ops/Graph.scala`), so the final label join's\n")
    sb.append("plan is trivial; the scale evidence is ONE round's plan: symmetrize\n")
    sb.append("(union), per-node min (partial+final HashAggregate), re-join — all\n")
    sb.append("hash-partitioned on the node id, never a cartesian.\n\n```\n")
    val e = Tables.documents(spark, dir).limit(64)
      .select(col("doc_id").as("u"), (col("doc_id") + 1).as("v"))
    sb.append(graft.ops.Graph.largeStarPlan(e))
    sb.append("```\n")
    sb.append("""
## q162–q168, q172 — scan-shaped prep ops: ZERO exchanges by construction

The round-9 additions (audio/video decode, BPE tokenize, chunking, HTML
strip, URL canonicalization) are all narrow per-row/per-blob transforms,
so the scale contract is simply "no shuffle appears": one `FileScan →
Project/MapPartitions → (Generate)` chain per query, partition-parallel
over however many partitions the 100 TB input has. `PlanAuditSpec`'s
"scan-shaped prep ops plan ZERO exchanges" test asserts `executedPlan`
contains no `Exchange` for chunking (`sequence/slice/array_join` array
codegen), HTML strip (chained `regexp_replace`, whole-stage codegen'd —
plan prefix `*(1)`), URL canonicalization (same chained-`regexp_replace`
shape), WAV synth→decode (`mapPartitions` batch passes), and BPE tokenize
(broadcast-rank UDF + `Generate explode`). BPE *training* is the one
shuffling stage in the family — a single word-count aggregate
(partial+final) with only the top-`maxWords` vocabulary collected, the
same bounded-driver contract as `ivfTrain`/`dictionaryAuto`.
""")
    // sf1 broadcast-cliff section (r11 verdict #5): the five shapes whose
    // dim-narrowed sides broadcast at sf0.1 but cross the threshold at
    // sf1 — the dump shows the transition lands on SortMergeJoin, never a
    // nested-loop/cartesian degeneration (PlanAuditSpec asserts the same).
    if (new java.io.File("/tmp/sf1/lineitem.parquet").exists()) {
      sb.append("\n# sf1 broadcast-cliff plans (synthetic 10×, graft.tools.ScaleUp)\n\n")
      sb.append("At sf0.1 these sides broadcast; at sf1 they correctly shuffle —\n")
      sb.append("a one-time plan transition (3–5× wall ratio, SCALE_NOTES), n log n\n")
      sb.append("beyond it. At 100 TB the SMJ is the only viable plan anyway.\n")
      Seq("q180_exists_priority", "q181_late_supplier", "q191_nation_volume",
        "q192_market_share", "q196_local_supplier_volume").foreach { name =>
        val df = SparkEntry.queries(name)(spark, "/tmp/sf1")
        sb.append(s"\n## $name @ sf1\n\n```\n")
        sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        sb.append("```\n")
      }
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("[plandump] wrote /root/repo/PLANS.md")
    spark.stop()
  }
}
