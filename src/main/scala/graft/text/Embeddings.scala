package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths:
  *  - [[cosineTopK]]: brute-force exact cosine top-k of a (small) query set
  *    against the corpus — the baseline. The query side is broadcast; the
  *    corpus is streamed once. Exact decimal accumulation makes scores
  *    bit-identical across engines and partitionings.
  *  - [[rpLshBucket]]: random-hyperplane LSH bucketing — the scale path:
  *    sign-bit sketch per vector, candidates = same bucket, refine with
  *    exact cosine within buckets only.
  *
  * Hyperplanes are derived deterministically from md5 so the DuckDB oracle
  * reproduces them exactly (no RNG state to ship).
  */
object Embeddings {

  /** Exact-decimal sum over an array of doubles — the codegen'd scalar
    * analog of groupBy+sum(decimal): same addends, same exact result, no
    * explode/shuffle.
    */
  private def decimalArraySum(arr: Column): Column =
    aggregate(arr,
      lit(0).cast(DecimalType(38, 12)),
      (acc, x) => (acc + x.cast(DecimalType(30, 12))).cast(DecimalType(38, 12)))

  /** Precision router for the per-row folds (r11 verdict #1: the decimal
    * arithmetic that exists for cross-engine SCORE parity was also the
    * production hot path — 2–6× the cost of the same fold in binary
    * doubles). Two facts make the double mode safe as the DEFAULT:
    *
    *  1. `aggregate` over an array is a PER-ROW fold with a fixed
    *     left-to-right order — unlike a cross-partition SUM(double) it is
    *     fully deterministic on any cluster layout, so results are stable
    *     run to run (the reason ivfTrain's cross-partition centroid SUM
    *     alone stays decimal unconditionally).
    *  2. Every public output of this object is DISCRETE — ids, ranks,
    *     buckets, cells, survival verdicts — never the raw score. Double
    *     and decimal disagree on a discrete outcome only when a score sits
    *     within the accumulation-error band (~1e-11: the decimal path
    *     itself rounds each addend at scale 12) of a threshold/tie, which
    *     random float embeddings do not produce. DifferentialSpec pins
    *     double==decimal outputs; the DuckDB oracle gates (which compute
    *     in decimal SQL) hold under the double default for the same
    *     reason.
    *
    * `exact = true` restores the decimal fold for callers that need
    * bit-reproducible SCORES (the oracle's own formulation).
    */
  private def arraySum(arr: Column, exact: Boolean): Column =
    if (exact) decimalArraySum(arr)
    else aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Codegen'd dot kernel (round 12, [[graft.functions.VecMath]]): the
    * double mode's HOF folds were still interpreted per element; these
    * run the identical IEEE operation sequence as ONE generated call per
    * row. Used on every `exact = false` path below.
    */
  private def vecDot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.VecDot(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** Codegen'd vec-against-matrix-rows kernel → array<double> of dots. */
  private def vecMatDots(vec: Column, mat: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.VecMatDots(
      org.apache.spark.sql.GraftBridge.expression(vec),
      org.apache.spark.sql.GraftBridge.expression(mat)))

  /** Dot product of two vector columns: one per-row fold over the zipped
    * per-position products (all in whole-stage codegen). Double fold by
    * default; decimal-exact under `exact` (see [[arraySum]]).
    *
    * Degenerate inputs follow the SAME zero-fill contract in both modes
    * (matching [[graft.functions.VecMath.dot]]): a null element or a
    * position past the shorter array contributes 0 — hence the coalesce
    * in the exact fold, without which a single null would NULL the whole
    * decimal result while the default path returned a number.
    */
  def dot(a: Column, b: Column, exact: Boolean = false): Column =
    if (exact)
      arraySum(zip_with(a, b,
        (x, y) => coalesce(x.cast("double") * y.cast("double"), lit(0.0))),
        exact).cast("double")
    else vecDot(a, b)

  /** Exact cosine between two vector columns: decimal dot product over the
    * zipped per-position products (all in whole-stage codegen).
    */
  def dotExact(a: Column, b: Column): Column = dot(a, b, exact = true)

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors by cosine similarity (self excluded). Scores are exact-decimal
    * dot products over a broadcast query side; ties broken by corpus id.
    * Output: (q_id, c_id, rank).
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, qid: Column,
      cid: Column, qvec: Column, cvec: Column, k: Int,
      exact: Boolean = false): DataFrame = {
    // Broadcast the (small) query set and fold the dot product per (query,
    // corpus) pair — the corpus streams once with no shuffle before the
    // per-query ranking window. Norms are computed ONCE PER SIDE before
    // the join (each corpus norm was previously re-folded per query — ~2/3
    // of the arithmetic on a 20-query set). Under `exact = true` the
    // decimal accumulation keeps scores bit-identical to the oracle's
    // explode+SUM(DECIMAL); the default double path relies on the
    // discrete-output argument (ranks, not scores, are emitted — see
    // DifferentialSpec's double==decimal verdict certificate).
    val q = queries.select(qid.as("q_id"), qvec.as("q_emb"))
      .withColumn("q_norm", norm(col("q_emb"), exact))
    val c = corpus.select(cid.as("c_id"), cvec.as("c_emb"))
      .withColumn("c_norm", norm(col("c_emb"), exact))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        (dot(col("q_emb"), col("c_emb"), exact) /
          (col("q_norm") * col("c_norm"))).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank").cast("long").as("rank"))
  }

  /** Exact cosine top-k over PRE-SELECTED candidate pairs (the refine step
    * after LSH bucketing), with CALLER-SUPPLIED norm columns: norms are
    * computed once per vector before the pair join (once per vector beats
    * once per pair — at ~30 candidates/vector the norm folds are 2/3 of
    * all arithmetic), so dot and the divide are the only per-pair
    * arithmetic left. Dot uses the same decimal accumulation as
    * [[cosineTopK]] under `exact`. Output: (q_id, c_id, rank).
    */
  def cosinePairsTopKNormed(pairs: DataFrame, qid: Column, cid: Column,
      qvec: Column, cvec: Column, qnorm: Column, cnorm: Column,
      k: Int, exact: Boolean = false): DataFrame = {
    // Dot folds per pair row (decimal-exact, same addends as an
    // explode+agg — identical values), so the ONLY shuffle here is the
    // per-query ranking window. The previous explode + hash-agg + 3-way
    // norm join shape shuffled 64× the pair count and re-planned the pair
    // source three times — measured 8× slower on the q93 candidate set.
    val scored = pairs.select(qid.as("q_id"), cid.as("c_id"),
        (dot(qvec, cvec, exact) / (qnorm * cnorm)).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank").cast("long").as("rank"))
  }

  /** L2 norm of one vector column — per-row fold; double by default,
    * decimal-accumulated under `exact` (see [[arraySum]]).
    */
  def norm(vec: Column, exact: Boolean = false): Column =
    if (exact)
      sqrt(arraySum(transform(vec, v =>
        v.cast("double") * v.cast("double")), exact).cast("double"))
    else sqrt(vecDot(vec, vec))

  /** Exact L2 norm of one vector column (decimal-accumulated, scalar). */
  def normExact(vec: Column): Column = norm(vec, exact = true)

  /** Deterministic ±1 hyperplane component for (plane, pos): +1 iff the
    * first hex digit of md5("<salt>p<plane>_<pos>") is even. `salt`
    * namespaces independent hash tables (multi-table amplification).
    *
    * Computed ONCE on the driver per (plane, pos) — the signs depend only
    * on constants, so evaluating the md5 inside the row expression (the
    * previous shape) re-hashed numRows × numPlanes times; at 2k vectors ×
    * 20 plane-tables that was 2.5M md5 calls for 1,280 distinct values.
    * The oracle keeps computing the same digits in SQL.
    */
  def planeSignsLocal(numPlanes: Int, dim: Int,
      salt: String = ""): Array[Array[Double]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(numPlanes, dim) { (p, i) =>
      val hex = digest.digest(s"${salt}p${p}_$i"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      digest.reset()
      // first hex digit = high nibble of byte 0
      if (((hex(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
    }
  }

  /** Signed decimal-exact projection of `vec` onto plane `p`'s sign vector
    * — a per-row fold, no explode, no shuffle, whole plan stays scalar.
    */
  private def planeProj(vec: Column, signs: Array[Double],
      exact: Boolean): Column =
    // coalesce: vectors shorter than `dim` zip against trailing nulls —
    // those positions contribute 0, same as the exploded formulation
    // (VecDot's zero-fill contract is identical)
    if (exact)
      arraySum(zip_with(vec, typedLit(signs.toSeq),
        (v, s) => coalesce(v.cast("double") * s, lit(0.0))), exact)
    else vecDot(vec, typedLit(signs.toSeq))

  /** Plane count that keeps expected LSH bucket occupancy near
    * `targetBucketSize` at a given corpus size: buckets = 2^planes, and
    * the within-bucket exact refine is quadratic in occupancy, so planes
    * MUST grow with log2(corpus) — a fixed plane count that works at SF
    * 0.1 does ~100× the refine work per 10× corpus growth (measured in
    * the sf1 rehearsal, SCALE_NOTES.md). Recall lost to narrower buckets
    * is recovered with more OR-amplification tables
    * ([[rpLshBucketTables]] numTables), not wider buckets.
    */
  def planesFor(corpusSize: Long, targetBucketSize: Long = 64L): Int = {
    require(corpusSize > 0 && targetBucketSize > 0, "sizes must be positive")
    // Integer-exact ceil(log2(corpus/target)): smallest p with
    // target·2^p >= corpus. Float log2 rounds unpredictably at exact
    // power-of-two boundaries, and the DuckDB oracle must derive the SAME
    // plane count — integer arithmetic is identical on both engines.
    var p = 0
    var cap = targetBucketSize
    while (cap < corpusSize && p < 62) { cap <<= 1; p += 1 }
    math.max(p, 1)
  }

  /** Guard: planeProj zero-fills positions past `dim`, so a vector whose
    * length differs from the declared dim would silently hash into wrong
    * buckets. Fail loudly instead (folds to +0 on the happy path).
    */
  private def dimGuard(vec: Column, dim: Int): Column =
    coalesce(assert_true(size(vec) === dim,
      concat(lit(s"rpLsh: expected $dim-dim vector, got "),
        size(vec).cast("string"))).cast("long"), lit(0L))

  /** Random-hyperplane LSH bucket id (numPlanes sign bits) per vector.
    * Output: (vec_id, bucket). Pure per-row projection folds — NO shuffle
    * at all; the decimal accumulation keeps each sign bit-identical to the
    * oracle's SUM(DECIMAL) regardless of partitioning.
    */
  def rpLshBucket(df: DataFrame, id: Column, vec: Column,
      numPlanes: Int, dim: Int = 64, exact: Boolean = false): DataFrame = {
    val bucket = (0 until numPlanes).map { p =>
      when(planeProj(vec, planeSignsLocal(numPlanes, dim)(p), exact) > 0,
        lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
    df.select(id.as("vec_id"), (bucket + dimGuard(vec, dim)).as("bucket"))
  }

  /** Multi-table RP-LSH (OR-amplification, the recall knob the single-table
    * path lacks): `numTables` independent plane sets — table t salts its
    * hyperplanes with "t<t>_" — give each vector one bucket per table.
    * A qualifying neighbor is found if the pair collides in ANY table:
    * recall 1-(1-p^b)^R instead of p^b. Per-row folds + one explode to
    * (vec_id, tbl, bucket) — numTables rows per vector, no shuffle.
    */
  def rpLshBucketTables(df: DataFrame, id: Column, vec: Column,
      numPlanes: Int, numTables: Int, dim: Int = 64,
      exact: Boolean = false): DataFrame = {
    val tables = (0 until numTables).map { t =>
      val signs = planeSignsLocal(numPlanes, dim, s"t${t}_")
      val bucket = (0 until numPlanes).map { p =>
        when(planeProj(vec, signs(p), exact) > 0, lit(1L << p)).otherwise(0L)
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), (bucket + dimGuard(vec, dim)).as("bucket"))
    }
    df.select(id.as("vec_id"), explode(array(tables: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** [[rpLshBucket]] with the plane count derived from the corpus itself
    * ([[planesFor]] over `df.count()`) — the default entry point: a caller
    * who pins `numPlanes` owns the occupancy math; this overload keeps
    * bucket occupancy near `targetBucketSize` at ANY corpus size. The
    * count() is one metadata-cheap job, paid once per query.
    */
  def rpLshBucketAuto(df: DataFrame, id: Column, vec: Column,
      dim: Int = 64, targetBucketSize: Long = 64L,
      exact: Boolean = false): DataFrame =
    rpLshBucket(df, id, vec, planesFor(df.count(), targetBucketSize), dim,
      exact)

  /** Embedding-cosine near-duplicate DEDUP: keep one representative per
    * near-dup relation — a vector is removed iff some candidate neighbor
    * with a SMALLER id has cosine >= `tau` (greedy smaller-id-wins, the
    * standard corpus-dedup policy: one anti-join, no transitive closure).
    * Candidates come from multi-table RP-LSH bucket collisions, so no
    * all-pairs product ever forms; the exact cosine refine touches
    * candidates only. Returns the surviving (vec_id, embedding) rows.
    *
    * numPlanes is the occupancy knob ([[planesFor]]); numTables the recall
    * knob. A pair the tables miss stays unmerged — recall tuning, not a
    * correctness hazard (same contract as MinHash-LSH text dedup).
    */
  def cosineNearDupDedup(df: DataFrame, id: Column, vec: Column,
      tau: Double, numPlanes: Int, numTables: Int,
      dim: Int = 64, exact: Boolean = false): DataFrame = {
    // norms ride the persisted base: folded once per VECTOR, not once per
    // candidate pair (pairs/vector grows with near-dup density)
    val base = graft.ops.Shape.split(
      df.select(id.as("vec_id"), vec.as("emb"))
        .withColumn("__norm", norm(col("emb"), exact)))
    val buckets = rpLshBucketTables(base, col("vec_id"), col("emb"),
      numPlanes, numTables, dim, exact)
    // orient pairs larger-id-first: q_id is the potential removal
    val cand = annCandidatePairs(buckets).filter(col("q_id") > col("c_id"))
    val removed = cand
      .join(base.select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("__norm").as("q_norm")), "q_id")
      .join(base.select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
        col("__norm").as("c_norm")), "c_id")
      .filter((dot(col("q_emb"), col("c_emb"), exact) /
        (col("q_norm") * col("c_norm"))) >= tau)
      .select(col("q_id").as("vec_id")).distinct()
    base.join(removed, Seq("vec_id"), "left_anti").drop("__norm")
  }

  /** [[cosineNearDupDedup]] with corpus-adaptive plane count — the scale
    * default. A fixed plane count measured 17.5× more refine work per 10×
    * corpus growth (SCALE_NOTES.md); [[planesFor]] keeps the within-bucket
    * quadratic refine bounded by targetBucketSize² per bucket.
    */
  def cosineNearDupDedupAuto(df: DataFrame, id: Column, vec: Column,
      tau: Double, numTables: Int, dim: Int = 64,
      targetBucketSize: Long = 64L, exact: Boolean = false): DataFrame =
    cosineNearDupDedup(df, id, vec, tau,
      planesFor(df.count(), targetBucketSize), numTables, dim, exact)

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering first, then EXACT pairwise cosine within each cluster —
    * the cluster pass bounds the quadratic (occupancy ~N/C per cell, C ~
    * sqrt(N)), which is the whole trick: within-cluster all-pairs is
    * affordable precisely because the cluster assignment already grouped
    * the near-duplicates. Removal policy matches [[cosineNearDupDedup]]
    * (smaller-id-wins dominance, one anti-join). Unlike the RP-LSH path
    * this has NO recall miss within a cell — every within-cell pair ≥ tau
    * is found; pairs split across cells are the (intended) recall knob.
    *
    * Lowering: zero-shuffle broadcast cell assignment ([[ivfAssign]]),
    * ONE hash shuffle on the cell id for the self-join, decimal-exact
    * refine. Output: surviving (vec_id, cell).
    */
  /** [[semDeDup]] with corpus-adaptive cell count — the scale default
    * (same discipline as [[planesFor]]/[[cosineNearDupDedupAuto]]): C =
    * max(8, ⌈N/targetCellSize⌉) trained centroids keeps expected cell
    * occupancy at the target, so within-cell pair volume stays ~N·target
    * (linear) instead of N²/C. A FIXED C measured 17.9×/10× in the sf1
    * rehearsal (268 s at 50k vectors — the q92-style fixed-parameter
    * trap); the adaptive default measured 2.3×/10× on the same corpus.
    *
    * Residual superlinear term: FLAT assignment is N·C = N²/target dot
    * folds. Past ~10M vectors the ship path is a two-level quantizer
    * (argmax over √C super-centroids, then over that super's children:
    * N·2√C dots) — it only re-scopes WHICH pairs are compared (a recall
    * knob, like LSH table count), never the exactness of a comparison,
    * so the dedup contract survives the approximation.
    */
  def semDeDupAuto(df: DataFrame, id: Column, vec: Column, tau: Double,
      targetCellSize: Long = 256L, iters: Int = 1,
      exact: Boolean = false): DataFrame = {
    val c = math.max(8L, (df.count() + targetCellSize - 1) / targetCellSize).toInt
    val init = ivfInitHashSample(df, id, vec, c)
    val cents = ivfTrain(df, id, vec, init, iters, exact)
    semDeDup(df, id, vec, cents, tau, exact)
  }

  def semDeDup(df: DataFrame, id: Column, vec: Column,
      centroids: Seq[(Long, Array[Double])], tau: Double,
      exact: Boolean = false): DataFrame = {
    val base = graft.ops.Shape.split(
      df.select(id.as("vec_id"), vec.as("emb"))
        .withColumn("__norm", norm(col("emb"), exact)))
    val cells = ivfAssignAuto(base, col("vec_id"), col("emb"), centroids,
      exact)
    val withCell = graft.ops.Shape.split(base.join(cells, "vec_id"))
    val a = withCell.select(col("cell"), col("vec_id").as("q_id"),
      col("emb").as("q_emb"), col("__norm").as("q_norm"))
    val b = withCell.select(col("cell"), col("vec_id").as("r_id"),
      col("emb").as("r_emb"), col("__norm").as("r_norm"))
    val removed = a.join(b, Seq("cell"))
      .filter(col("q_id") > col("r_id"))
      .filter((dot(col("q_emb"), col("r_emb"), exact) /
        (col("q_norm") * col("r_norm"))) >= tau)
      .select(col("q_id").as("vec_id")).distinct()
    withCell.join(removed, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** IVF cell assignment — the coarse-quantizer ANN alternative to RP-LSH
    * (inverted-file search: candidates come from the nearest centroid
    * cell instead of hash buckets). `centroids` is a SMALL driver-held
    * array (index, vector) — train it however you like (k-means on a
    * sample) or use deterministic exemplars. Assignment is SPHERICAL
    * (argmax dot(v, c), ties to the lowest centroid index — the MIPS /
    * spherical-k-means quantizer): the per-row cost is C decimal-exact
    * dot folds over the broadcast centroids, NO shuffle to assign, and the
    * dot is the same bit-reproducible machinery the refine step uses — no
    * cross-engine float-summation hazard a squared-L2 centroid-norm term
    * would reintroduce. Output: (vec_id, cell).
    *
    * Scale contract: C grows with sqrt(corpus) in classic IVF; candidates
    * are bounded by cell occupancy ~N/C — same occupancy math as
    * [[planesFor]].
    */
  def ivfAssign(df: DataFrame, id: Column, vec: Column,
      centroids: Seq[(Long, Array[Double])],
      exact: Boolean = false): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    // Each dot expression appears EXACTLY ONCE, in an array; argmax is
    // array_max + array_position (first occurrence = lowest centroid index
    // on ties, same contract as a strict-greater fold). The previous
    // when()-fold nested the accumulator twice per centroid — a 2^C
    // expression tree that cost ~14 s of compile at C=8 and would never
    // survive C ~ sqrt(N) at real scale.
    //
    // Above MatrixThreshold centroids, the per-centroid expression list
    // ITSELF becomes the bottleneck — not at runtime (array HOF folds are
    // interpreted either way, never whole-stage codegen'd) but in the
    // driver: analysis/optimization walks O(C·dim) expression nodes per
    // rule pass. The matrix form below does the identical arithmetic with
    // an O(1)-size plan: the centroid MATRIX is ONE array<array<double>>
    // literal and the C dots come from one `transform` over
    // sequence(1, C) — same fold order per dot, same argmax, same
    // tie-break, so the two forms are result-identical in both precision
    // modes (TextOpsSpec pins this).
    val arr =
      if (!exact)
        // production path: ONE codegen'd kernel call per row, O(1) plan
        // size at any C (the matrix is a single literal)
        vecMatDots(vec, typedLit(centroids.map(_._2.toSeq)))
      else if (centroids.size <= MatrixThreshold)
        array(centroids.map { case (_, cvec) =>
          arraySum(zip_with(vec, typedLit(cvec.toSeq),
            (v, c) => coalesce(v.cast("double") * c, lit(0.0))), exact)
            .cast("double")
        }: _*)
      else {
        val matrix = typedLit(centroids.map(_._2.toSeq))
        transform(sequence(lit(1), lit(centroids.size)), i =>
          arraySum(zip_with(vec, element_at(matrix, i),
            (v, c) => coalesce(v.cast("double") * c, lit(0.0))), exact)
            .cast("double"))
      }
    val idx = array_position(arr, array_max(arr)).cast("int")
    df.select(id.as("vec_id"),
      element_at(typedLit(centroids.map(_._1)), idx).as("cell"))
  }

  /** Centroid count above which [[ivfAssign]] switches from the unrolled
    * per-centroid expression list to the single matrix-literal transform
    * (identical results; O(1) plan size instead of O(C·dim) nodes).
    */
  private[graft] val MatrixThreshold = 64

  /** [[ivfAssign]] through a TWO-LEVEL quantizer — the >10M-vector path
    * the flat argmax's N·C dot cost demands (q98b scaladoc). Centroids
    * group under ⌈√C⌉ super-centroids (driver-side spherical Lloyd over
    * the C points — trivially small); each row takes the argmax over the
    * supers, then the argmax over ONLY that super's children, lazily via
    * a CASE branch per super — Catalyst evaluates one branch per row, so
    * the per-row cost is √C + C/√C dots instead of C. The assignment is
    * approximate exactly the way IVF search is (nearest super need not
    * contain the globally-nearest centroid): it re-scopes WHICH cell a
    * vector lands in — a recall knob — never the exactness of any
    * downstream comparison. Ties and ordering stay deterministic (first
    * max wins at both levels).
    */
  def ivfAssignHierarchical(df: DataFrame, id: Column, vec: Column,
      centroids: Seq[(Long, Array[Double])],
      exact: Boolean = false): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val s = math.max(1, math.ceil(math.sqrt(centroids.size)).toInt)
    // Driver-side spherical Lloyd over the C centroid points — in the
    // SAME order-independent decimal arithmetic as [[unitize]]/[[ivfTrain]]
    // (scale-12 HALF_UP terms, exact sums), so an oracle can reproduce
    // the super-centroid structure in SQL verbatim (q227 gates this
    // path end to end). Comparisons happen on the exact decimals (never
    // on rounded doubles — two distinct decimal dots must not collapse
    // into one double and flip a first-max tie across engines).
    import java.math.{BigDecimal => JBD, RoundingMode}
    def term(x: Double): JBD = new JBD(x).setScale(12, RoundingMode.HALF_UP)
    def decDot(a: Array[Double], b: Array[Double]): JBD = {
      var acc = JBD.ZERO
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc = acc.add(term(a(i) * b(i))); i += 1 }
      acc
    }
    val sorted = centroids.sortBy(_._1)
    var supers: Seq[Array[Double]] = sorted.take(s).map(c => unitize(c._2))
    var groups: Map[Int, Seq[(Long, Array[Double])]] = Map.empty
    (0 until 3).foreach { _ =>
      groups = sorted.groupBy { case (_, cv) =>
        // first-max argmax over supers on the exact decimal dot
        var best = 0
        var bestD = decDot(supers.head, cv)
        var i = 1
        while (i < supers.length) {
          val d = decDot(supers(i), cv)
          if (d.compareTo(bestD) > 0) { best = i; bestD = d }
          i += 1
        }
        best
      }.map { case (k, v) => k -> v.toSeq }
      supers = supers.indices.map { i =>
        groups.get(i) match {
          case Some(members) =>
            // per-position decimal mean of the member vectors → unitize
            val n = members.size
            val mean = members.map(_._2).transpose.map { xs =>
              xs.foldLeft(JBD.ZERO)((acc, x) => acc.add(term(x)))
                .doubleValue / n
            }.toArray
            unitize(mean)
          case None => supers(i)
        }
      }
    }
    // only supers that OWN centroids participate in assignment (an empty
    // super has no children to descend into); ascending index order keeps
    // the first-max tie-break = lowest surviving super index
    val liveIdx = supers.indices.filter(groups.contains)
    val liveSupers = liveIdx.map(supers)
    // Both levels in O(1) PLAN SIZE (round 12): the supers are one
    // array<array<double>> literal, the children one RAGGED 3-D literal
    // indexed by the winning super — element_at picks that super's child
    // matrix and only ITS dots are computed for the row (the lazy-branch
    // property of the old per-super CASE chain, without its O(C·dim)
    // expression nodes, which at C~800 made driver analysis the
    // bottleneck). First-max ties at both levels, as before.
    def dotsAgainst(mat: Column): Column =
      if (exact)
        transform(mat, cv =>
          arraySum(zip_with(vec, cv,
            (v, c) => coalesce(v.cast("double") * c, lit(0.0))), exact)
            .cast("double"))
      else vecMatDots(vec, mat)
    val superM = typedLit(liveSupers.map(_.toSeq))
    val sArr = dotsAgainst(superM)
    val sIdx = array_position(sArr, array_max(sArr)).cast("int")
    val childVecs: Seq[Seq[Seq[Double]]] = liveIdx.map(i =>
      groups(i).map(_._2.toSeq))
    val childIds: Seq[Seq[Long]] = liveIdx.map(i => groups(i).map(_._1))
    val kids = element_at(typedLit(childVecs), sIdx)
    val kArr = dotsAgainst(kids)
    val kIdx = array_position(kArr, array_max(kArr)).cast("int")
    val cell = element_at(element_at(typedLit(childIds), sIdx), kIdx)
    df.select(id.as("vec_id"), cell.as("cell"))
  }

  /** Assignment router: flat argmax (exactly the quantizer the oracle
    * unrolls) below [[HierThreshold]] centroids; the two-level quantizer
    * above it. Flat assignment is N·C dot folds, and with the corpus-
    * adaptive C ∝ N that term is QUADRATIC in N — measured 13.3×/10× at
    * the sf10 rehearsal (C=782). Two-level is N·(√C + C/√C). The switch
    * re-scopes which cell borderline vectors land in (a recall knob, same
    * contract as LSH table count), never the exactness of a downstream
    * comparison; verify-SF corpora sit far below the threshold, so oracle
    * gates always take the flat path the SQL unrolls.
    */
  private[graft] val HierThreshold = 128
  def ivfAssignAuto(df: DataFrame, id: Column, vec: Column,
      centroids: Seq[(Long, Array[Double])],
      exact: Boolean = false): DataFrame =
    if (centroids.size > HierThreshold)
      ivfAssignHierarchical(df, id, vec, centroids, exact)
    else ivfAssign(df, id, vec, centroids, exact)

  /** Deterministic, RNG-free trainer init — the k-means‖ oversampling
    * stand-in: the `c` corpus vectors with the smallest
    * `md5(vec_id)` (content-addressed pseudo-random spread, same idea as
    * [[graft.ops.Sorting.hashSampleBy]]; md5 because the oracle can
    * reproduce it in SQL, unlike engine-private hashes). Returned keyed by
    * the exemplar's own vec_id so downstream tie-breaks are
    * engine-independent.
    */
  def ivfInitHashSample(df: DataFrame, id: Column, vec: Column,
      c: Int): Seq[(Long, Array[Double])] = {
    require(c >= 1, "need at least one centroid")
    df.select(id.cast("long").as("vec_id"), vec.as("emb"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(c).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1).toSeq
  }

  /** Scale-12 HALF_UP decimal sum of squares → L2 norm: the DRIVER replica
    * of the engine's `CAST(x*x AS DECIMAL(30,12))` sum, so centroid norms
    * computed here are bit-identical to an oracle computing them in SQL.
    */
  private def unitize(v: Array[Double]): Array[Double] = {
    val sum = v.foldLeft(java.math.BigDecimal.ZERO) { (acc, x) =>
      acc.add(new java.math.BigDecimal(x * x)
        .setScale(12, java.math.RoundingMode.HALF_UP))
    }
    val norm = math.sqrt(sum.doubleValue)
    if (norm == 0.0) v else v.map(_ / norm)
  }

  /** Deterministic spherical k-means trainer for the IVF coarse quantizer
    * (closes the "centroids are pluggable but nothing trains them" gap):
    * unitize the init exemplars, then `iters` rounds of
    * [[ivfAssign]] → per-cell decimal-exact mean → re-unitize. No RNG
    * anywhere — same data, same init, same centroids, on any cluster
    * layout (decimal sums are order-independent; ties in assignment break
    * to the lowest centroid id). Cells that go empty keep their previous
    * centroid (the standard k-means dead-cell rule).
    *
    * Scale contract: each iteration is one broadcast-assign (zero shuffle)
    * plus one (cell, pos) hash aggregate; only the C×dim centroid table
    * (C ~ sqrt(N) — ~50 MB at N=10^10, dim=64) ever reaches the driver.
    */
  def ivfTrain(df: DataFrame, id: Column, vec: Column,
      init: Seq[(Long, Array[Double])], iters: Int,
      exact: Boolean = false): Seq[(Long, Array[Double])] = {
    require(init.nonEmpty && iters >= 0, "need init centroids, iters >= 0")
    val base = graft.ops.Shape.split(
      df.select(id.as("vec_id"), vec.as("emb")))
    var cents = init.map { case (j, v) => (j, unitize(v)) }
    for (_ <- 1 to iters) {
      // `exact` routes only the per-row ASSIGNMENT dots; the per-cell
      // centroid mean below stays decimal unconditionally — it is a
      // cross-partition SUM, where double would make the centroids (and
      // every downstream cell assignment) partitioning-dependent.
      val cells = ivfAssignAuto(base, col("vec_id"), col("emb"), cents, exact)
      val sums = base.join(cells, "vec_id")
        .select(col("cell"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(col("v").cast("double").cast(DecimalType(30, 12))).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getLong(0)).map { case (cell, rows) =>
        val dim = rows.map(_.getInt(1)).max + 1
        val m = new Array[Double](dim)
        rows.foreach(r =>
          m(r.getInt(1)) = r.getDecimal(2).doubleValue / r.getLong(3))
        cell -> m
      }
      cents = cents.map { case (j, old) =>
        (j, byCell.get(j).map(unitize).getOrElse(old))
      }
    }
    cents
  }

  /** Candidate pairs that share a bucket in at least one table, deduped —
    * the OR of the per-table collision sets. Equality join on (tbl,
    * bucket); the bucketed frame feeds both sides, so it is persisted.
    */
  def annCandidatePairs(buckets: DataFrame): DataFrame = {
    val bk = graft.ops.Shape.split(buckets)
    val a = bk.select(col("tbl"), col("bucket"), col("vec_id").as("q_id"))
    val b = bk.select(col("tbl"), col("bucket"), col("vec_id").as("c_id"))
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id")).distinct()
  }
}
