package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators for training-data pipelines:
  * tokenization, word-shingling, MinHash signatures + LSH banding, exact
  * n-gram Jaccard verification, SimHash, language-ID heuristics, quality
  * scoring, fingerprinting.
  *
  * All hashing is md5-based so results are engine-portable (the DuckDB
  * oracle computes the identical value); the ECL-native FNV hashes
  * (graft.functions.EclHash) are the faster non-portable alternative.
  *
  * Scale notes: every op here is a scan + groupBy/join on derived keys —
  * no global order required anywhere, so everything shuffles on content
  * keys and parallelizes linearly. MinHash+LSH is the 100 TB near-dup
  * path: candidate generation touches only band-bucket collisions
  * (O(docs × bands) shuffle rows), and exact Jaccard runs on candidates
  * only — never all pairs.
  */
object TextOps {

  /** Default LSH bucket-size threshold above which [[lshJaccardPairs]]
    * routes a bucket through the distributed join lowering instead of the
    * bucket-local generator.
    */
  val DefaultMaxBucket = 1024

  /** Whitespace tokenization (the portable baseline). */
  def words(text: Column): Column =
    filter(split(trim(text), "\\s+"), w => length(w) > 0)

  /** BPE-ish token counting: letter runs / digit runs / single symbols. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|\\S"), lit(0)))

  /** DISTINCT word k-shingles per document. Built with array `transform`
    * over the token array — pure whole-stage codegen, NO window and no
    * shuffle until the final distinct (a windowed lead() formulation costs
    * a doc_id shuffle + sort and benched 4× slower). Output:
    * (doc_id, shingle).
    */
  def shingles(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    // One compiled-regex pass per doc: at each word start a lookahead
    // captures the k-word window, then one word is consumed — all k-grams
    // in a single regexp_extract_all (Spark's array HOFs are interpreted;
    // a transform/element_at formulation benched ~2.5× slower).
    val window = (1 until k).map(_ => "\\S+ ").mkString + "\\S+"
    val pattern = s"(?=($window))\\S+ ?"
    df.select(id.as("doc_id"),
        explode(regexp_extract_all(
          regexp_replace(trim(text), "\\s+", " "), lit(pattern), lit(1)))
          .as("shingle"))
      .distinct()
  }

  /** MinHash signature: for seed i in [0, numHashes), the lexicographic min
    * of md5("<i>|" + shingle) over the doc's shingle set. Output:
    * (doc_id, i, h). Partial aggregation makes this one shuffle of
    * numHashes rows per doc.
    */
  def minhash(shingles: DataFrame, numHashes: Int): DataFrame =
    shingles
      .withColumn("i", explode(sequence(lit(0), lit(numHashes - 1))))
      .groupBy(col("doc_id"), col("i"))
      .agg(min(md5(concat(col("i").cast("string"), lit("|"), col("shingle"))))
        .as("h"))

  /** LSH banding: group the signature into bands of `rowsPerBand` seeds,
    * band key = md5 of the in-seed-order concat. Output: (doc_id, band, bk).
    */
  def lshBands(sig: DataFrame, rowsPerBand: Int): DataFrame =
    sig.withColumn("band", floor(col("i") / rowsPerBand))
      .groupBy(col("doc_id"), col("band"))
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct(col("i"), col("h")))),
          x => x.getField("h")), "")).as("bk"))

  // ---- array-wise MinHash pipeline ----------------------------------------
  // The row pipeline above (explode → groupBy per stage) shuffles at every
  // step; these equivalents keep the whole shingle→signature→band-key
  // derivation INSIDE one scalar projection per document — the first
  // shuffle in the plan is the candidate self-join itself. Values are
  // bit-identical to the row pipeline (same md5 inputs, min over the same
  // distinct set), so the DuckDB oracles are unchanged.

  /** Per-doc DISTINCT shingle set as one array column: (doc_id, sset).
    * Docs with no shingles (shorter than k words) are dropped, matching the
    * row pipeline where they simply have no rows.
    */
  def shingleSet(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val window = (1 until k).map(_ => "\\S+ ").mkString + "\\S+"
    val pattern = s"(?=($window))\\S+ ?"
    df.select(id.as("doc_id"),
        array_distinct(regexp_extract_all(
          regexp_replace(trim(text), "\\s+", " "), lit(pattern), lit(1)))
          .as("sset"))
      .filter(size(col("sset")) > 0)
  }

  /** MinHash signature array: sig[i] = lexicographic min over the shingle
    * set of md5("<i>|" + shingle) — one scalar fold, no explode/groupBy.
    * Computed by the [[graft.functions.Minhash]] codegen kernel (one JVM
    * loop per doc, reused digest, raw-byte minima): identical values to
    * the HOF `transform`/`array_min` formulation the oracles reproduce,
    * ~10× the throughput (the HOF path was 341 s of q99's sf10 cold run).
    */
  def minhashSig(sets: DataFrame, numHashes: Int): DataFrame =
    sets.withColumn("sig", org.apache.spark.sql.GraftBridge.column(
      graft.functions.MinhashSigExpr(
        org.apache.spark.sql.GraftBridge.expression(col("sset")),
        numHashes)))

  /** Band keys from the signature array: band b spans seeds
    * [b·r, b·r+r), key = md5 of the in-seed-order concat — same key the
    * row pipeline's collect_list+sort produced. Output: (doc_id, band, bk).
    */
  def lshBandKeys(sig: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      struct(lit(b.toLong).as("band"),
        md5(concat((0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1)): _*)).as("bk"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
  }

  /** Exact Jaccard for candidate pairs against packed shingle sets
    * (doc_id, sset) — [[jaccard]] minus the packing groupBy.
    *
    * The intersection size runs through [[graft.functions.IntersectCount]]:
    * each side is `array_sort`-ed ONCE PER DOC (below the join, so the
    * per-pair work is a zero-allocation merge walk), not hash-intersected
    * per pair — at sf10 the refine evaluates 27 M pairs and
    * `array_intersect`'s per-call hash map + result array was the
    * dominant cost of the whole near-dup family. Counts are identical:
    * the inputs are distinct-element arrays, so sorted merge-count ==
    * |array_intersect|.
    */
  def jaccardSets(pairs: DataFrame, sets: DataFrame): DataFrame =
    pairs
      .join(sets.select(col("doc_id").as("doc_a"),
        array_sort(col("sset")).as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"),
        array_sort(col("sset")).as("set_b")), "doc_b")
      .withColumn("inter", org.apache.spark.sql.GraftBridge.column(
        graft.functions.SortedIntersectCount(
          org.apache.spark.sql.GraftBridge.expression(col("set_a")),
          org.apache.spark.sql.GraftBridge.expression(col("set_b")))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("inter")).cast("double"))
      .drop("set_a", "set_b")

  /** Fused LSH refine: candidate pairs AND their exact jaccard in one
    * bucket-local pass — (doc_a, doc_b, inter, jac), doc_a < doc_b,
    * jac >= minJac, one row per distinct pair.
    *
    * Equivalent to `jaccardSets(lshCandidates(bands), sets)
    * .filter(jac >= minJac)` but with the SCALE-CRITICAL difference in
    * data motion: the join lowering ships one ~2 KB shingle-set payload
    * PER CANDIDATE PAIR through the doc_b exchange (~10² GB at sf10,
    * measured as the near-dup family's dominant cold cost), while this
    * lowering ships each doc's set once per band (4 × |sets|), groups by
    * bucket, and emits only slim pair rows from
    * [[graft.functions.BucketJaccardPairs]]. Values are identical — same
    * merge-count, same double division — pinned by TextOpsSpec.
    *
    * Skew guard: the bucket-local step concentrates a bucket's s member
    * payloads (one `collect_list` buffer) and s²/2 merge walks in ONE
    * task. Real corpora produce degenerate band keys (boilerplate pages,
    * empty docs, template spam) whose buckets grow with the corpus, so at
    * 100 TB an unguarded collect would OOM an executor. Buckets larger
    * than `maxBucket` are therefore routed through the distributed join
    * lowering instead — quadratic either way (that is LSH's contract on a
    * hot key), but spread across tasks and spillable.
    *
    * Routing is decided AT EXECUTION, not at plan construction: both
    * routes are always in the plan, split by a `__bsz` filter over one
    * shared bucket-size aggregate. The former design probed the hot-key
    * table eagerly and omitted the hot route when it came back empty —
    * one extra job per plan, and a correctness hazard if bucket sizes
    * grew between construction and execution (regenerated-in-place
    * corpus, reused plan): oversize buckets fell out of the small path
    * with no hot route to catch them. With execution-time routing every
    * band row is claimed by exactly one route no matter when the data
    * changes, and the size aggregate is computed ONCE — its shuffle
    * exchange is canonically identical under all three consumers
    * (small-key semi-join, hot-key semi-join, hot-key candidate join),
    * so Catalyst's ReuseExchange rule shares one physical exchange
    * (pinned by PlanAuditSpec). On healthy corpora the hot route costs
    * one semi-join probe that finds nothing, and AQE's empty-relation
    * propagation collapses the downstream joins. Both routes emit
    * byte-identical rows, so a pair sharing a small bucket in one band
    * and a hot bucket in another collapses under the same
    * `dropDuplicates`.
    *
    * Singleton buckets — the overwhelming majority of band rows on a
    * LOW-duplication corpus — are excluded by a slim (band, bk)
    * semi-join BEFORE the shingle-set payloads attach, so the payload
    * join + bucket groupBy move O(collision rows), not O(|bands|).
    */
  def lshJaccardPairs(bands: DataFrame, sets: DataFrame,
      minJac: Double, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val sized = bands.groupBy("band", "bk").agg(count(lit(1)).as("__bsz"))
    val smallKeys = sized
      .filter(col("__bsz") > 1 && col("__bsz") <= maxBucket)
      .select(col("band"), col("bk"))
    val hotKeys = sized.filter(col("__bsz") > maxBucket)
      .select(col("band"), col("bk"))
    val buckets = bands.join(smallKeys, Seq("band", "bk"), "left_semi")
      .join(sets.select(col("doc_id"), array_sort(col("sset")).as("ss")),
        "doc_id")
      .groupBy("band", "bk")
      .agg(collect_list(struct(col("doc_id"), col("ss"))).as("ms"))
    val smallPairs = buckets.select(
      GraftBridge.column(graft.functions.BucketJaccardPairs(
        GraftBridge.expression(col("ms")), minJac))
        .as(Seq("doc_a", "doc_b", "inter", "jac")))
    val hotPairs = jaccardSets(
        lshCandidates(bands.join(hotKeys, Seq("band", "bk"), "left_semi")),
        sets)
      .filter(col("jac") >= minJac)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jac"))
    smallPairs.union(hotPairs).dropDuplicates("doc_a", "doc_b")
  }

  /** Candidate near-dup pairs: docs sharing any band bucket (a < b). The
    * self-join is on (band, bk) — bucket-local, never all-pairs.
    */
  def lshCandidates(bands: DataFrame): DataFrame = {
    val a = bands.select(col("band"), col("bk"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band").as("band_b"), col("bk").as("bk_b"),
      col("doc_id").as("doc_b"))
    a.join(b, a("band") === b("band_b") && a("bk") === b("bk_b") &&
        a("doc_a") < b("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Exact Jaccard over shingle sets for given candidate pairs:
    * |A∩B| / |A|+|B|-|A∩B|. Joins on shingle content — candidates only.
    */
  def jaccard(pairs: DataFrame, shingles: DataFrame): DataFrame = {
    // Pack each doc's (distinct) shingles into one array row, join the pair
    // list against it twice, and intersect per pair in a scalar expression.
    // Versus the former explode-style plan (pairs × per-doc shingle rows
    // joined on (doc, shingle), then count + two size joins) this moves two
    // O(candidates × shingles/doc) shuffles into a per-row array op; the
    // per-doc array is bounded by document length, so executor memory is
    // safe at any corpus size.
    jaccardSets(pairs, shingles.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("sset")))
  }

  /** First `hexDigits` md5 hex digits as a long — up to 15 digits (60 bits)
    * so the value stays positive in a signed 64-bit long on both engines.
    */
  def hashHex(c: Column, hexDigits: Int): Column = {
    require(hexDigits >= 1 && hexDigits <= 15, "1..15 hex digits fit a long")
    conv(substring(md5(c), 1, hexDigits), 16, 10).cast("long")
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the local-minimum selection behind code/plagiarism
    * near-dup systems): hash every character k-gram of the
    * whitespace-normalized text, then keep the MINIMUM hash of each
    * sliding window of `window` consecutive k-grams, deduped and sorted.
    * Guarantee: any shared substring of length >= window + k - 1
    * contributes at least one COMMON fingerprint, so fingerprint-set
    * overlap detects partial-content reuse that the whole-document hash
    * ([[fingerprint]]) misses.
    *
    * Whole computation is per-row array expressions (sequence/transform/
    * slice/array_min) — scan-speed, no shuffle, no UDF; hashes use
    * [[hashHex]] so a DuckDB oracle reproduces them digit-for-digit. The
    * k-gram hash array materializes as a real column between projections —
    * referencing it from inside the window lambda would otherwise
    * re-evaluate every md5 per window position. Output:
    * (doc_id, fingerprints array<long>).
    */
  def winnow(df: DataFrame, id: Column, text: Column, k: Int,
      window: Int): DataFrame = {
    require(k >= 1 && window >= 1, "k and window must be >= 1")
    val norm = regexp_replace(trim(text), "\\s+", " ")
    // when-guard: sequence(1, n) DESCENDS for n < 1 — short texts must
    // yield an empty gram array, not [1, 0]
    val grams = when(length(norm) >= k,
      transform(sequence(lit(1), length(norm) - (k - 1)),
        i => hashHex(norm.substr(i, lit(k)), 15)))
      .otherwise(array().cast("array<bigint>"))
    val numWins = size(col("__g")) - (window - 1)
    df.select(id.as("doc_id"), grams.as("__g"))
      .select(col("doc_id"),
        when(numWins >= 1,
          array_sort(array_distinct(transform(sequence(lit(1), numWins),
            j => array_min(slice(col("__g"), j, lit(window)))))))
          .otherwise(array().cast("array<bigint>"))
          .as("fingerprints"))
  }

  /** SimHash (16-bit, frequency-weighted): bit j of the fingerprint is 1
    * iff sum over word occurrences of ±1 (per bit j of the word's first 4
    * md5 hex digits) is positive. One groupBy(doc) of 16 conditional sums — single shuffle.
    */
  def simhash16(df: DataFrame, id: Column, text: Column): DataFrame =
    simhashWide(df, id, text, 16)

  /** SimHash at an arbitrary width up to 60 bits (15 md5 hex digits). The
    * 16-bit variant keeps q88's compact fingerprint; near-dup banding wants
    * 60 bits so each 15-bit band has 32k keys and band buckets stay small
    * as the corpus grows (16-bit banding degrades to near-all-pairs past a
    * few thousand docs — the bucket count, not the join shape, is what
    * scales).
    */
  def simhashWide(df: DataFrame, id: Column, text: Column,
      nBits: Int): DataFrame = {
    require(nBits % 4 == 0 && nBits <= 60, "nBits: multiple of 4, <= 60")
    // [[graft.functions.Simhash]] codegen kernel: the fingerprint folds in
    // one JVM loop inside the scan projection — no per-token explode, no
    // nBits-column aggregate shuffle (the former shape's ~10⁸ token rows
    // at sf10 were the simhash family's dominant cost). Values identical
    // (same md5-prefix hash, same sign rule) — pinned by TextOpsSpec.
    // size > 0 matches the former explode semantics: a doc with no tokens
    // emitted no rows, hence no group.
    df.select(id.as("doc_id"), words(text).as("__w"))
      .filter(size(col("__w")) > 0)
      .select(col("doc_id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.SimhashExpr(
          org.apache.spark.sql.GraftBridge.expression(col("__w")), nBits))
        .as("simhash"))
  }

  /** Scale-safe SimHash near-dup pairs: band the fingerprint into `bands`
    * contiguous bit groups and equality-join on (band, key). Pigeonhole:
    * `maxHamming` differing bits can touch at most `maxHamming` bands, so
    * whenever `maxHamming < bands` every qualifying pair matches exactly in
    * at least one band — full recall with candidates drawn only from
    * band-bucket collisions (shuffle keyed on (band, key)), never an
    * all-pairs product. The exact hamming verify runs on the collisions
    * in place; only qualifying pairs enter the dedup exchange.
    *
    * With 16-bit fingerprints there are only 2^4 keys per band, so bucket
    * sizes grow linearly with corpus size; at real scale use a wider
    * fingerprint (e.g. 64-bit, 4×16-bit bands) — the banding here is
    * width-agnostic.
    */
  def simhashNearDup(sh: DataFrame, nBits: Int = 16, bands: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < bands, "need maxHamming < bands for full recall")
    val bitsPerBand = nBits / bands
    val mask = (1L << bitsPerBand) - 1
    val bandCols = (0 until bands).map { i =>
      struct(lit(i).as("band"),
        shiftright(col("simhash"), i * bitsPerBand).bitwiseAND(lit(mask)).as("key"))
    }
    // both join sides consume the banded frame — persist it once (TAKsplit)
    val banded = graft.ops.Shape.split(
      sh.select(col("doc_id"), col("simhash"),
          explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key")))
    val a = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    // hamming verify runs BEFORE the dedup: bit_count is a scalar op that
    // costs nothing per colliding pair, and filtering first means the
    // distinct() exchange carries only qualifying (doc_a, doc_b, hamming)
    // rows — strictly fewer and narrower than shuffling every collision
    // with both 60-bit fingerprints attached (re-verification of
    // multi-band collisions is cheaper than a wider exchange)
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** Default English stopword sample used by the language-ID heuristic. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

  /** Stopword-ratio language ID: 'en' iff ratio of stopword tokens ≥ thresh. */
  def langIdEn(text: Column, thresh: Double = 0.03): Column = {
    val ws = words(text)
    val stops = filter(ws, w => w.isInCollection(EnStopwords))
    when(size(ws) > 0 &&
      size(stops).cast("double") / size(ws).cast("double") >= thresh, "en")
      .otherwise("und")
  }

  /** Quality signals: token count, mean token length, stopword ratio,
    * punctuation ratio — the standard pretraining-filter features.
    */
  def qualityColumns(text: Column): Seq[Column] = {
    val ws = words(text)
    val nTok = size(ws)
    val nChar = length(text)
    val nPunct = nChar - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))
    val nStop = size(filter(ws, w => w.isInCollection(EnStopwords)))
    Seq(
      nTok.cast("long").as("n_tokens"),
      (length(regexp_replace(text, "\\s", "")).cast("double") /
        nTok.cast("double")).as("mean_token_len"),
      (nStop.cast("double") / nTok.cast("double")).as("stopword_ratio"),
      (nPunct.cast("double") / nChar.cast("double")).as("punct_ratio"))
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  // ---- PII detection / scrubbing (training-data pipeline) ----------------

  /** (pattern, replacement) in APPLICATION ORDER — specific before general
    * (an SSN would otherwise be half-eaten by a looser digit pattern).
    * Patterns stay inside the RE2-compatible subset (no lookaround) so the
    * DuckDB oracle can apply the very same expressions.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\(\\d{3}\\) ?\\d{3}-\\d{4}" -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  /** Occurrence count of one PII pattern — computed on the PRE-scrub text
    * (the audit side of the pipeline: how much PII did this doc carry).
    */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Redact every [[PiiPatterns]] match with its placeholder — one chained
    * regexp_replace projection, scan-speed, zero shuffles.
    */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (t, (p, r)) => regexp_replace(t, p, r) }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1 / C4,
    * Raffel et al. 2020 — the PUBLISHED pretraining filter heuristics),
    * line- and word-level, all integer/ratio arithmetic so the SQL oracle
    * reproduces every flag: word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio (# and … as junk markers), bullet-/ellipsis-line
    * fractions, duplicate-line fraction, and a must-carry-stopwords gate.
    * `gopher_pass` is the conjunction. One narrow projection — scan-shaped,
    * zero shuffle, composes in front of the dedup/decontaminate stages.
    */
  def gopherColumns(text: Column, minWords: Int = 50, maxWords: Int = 100000)
      : Seq[Column] = {
    val ws = words(text)
    val nW = size(ws)
    val meanLen = length(regexp_replace(text, "\\s", "")).cast("double") /
      nW.cast("double")
    val nHash = size(regexp_extract_all(text, lit("#"), lit(0)))
    val nEllipsis = size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0)))
    val symbolRatio = (nHash + nEllipsis).cast("double") / nW.cast("double")
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val nL = size(lines)
    val bulletFrac = size(filter(lines, l =>
      trim(l).startsWith("- ") || trim(l).startsWith("* ") ||
        trim(l).startsWith("•"))).cast("double") / nL.cast("double")
    val ellipsisFrac = size(filter(lines, l =>
      trim(l).endsWith("..."))).cast("double") / nL.cast("double")
    val dupLineFrac = lit(1.0) -
      size(array_distinct(transform(lines, trim(_)))).cast("double") /
        nL.cast("double")
    val nStop = size(filter(ws, w => lower(w).isInCollection(EnStopwords)))
    val pass = nW.between(minWords, maxWords) &&
      meanLen.between(3.0, 10.0) && symbolRatio < 0.1 &&
      bulletFrac < 0.9 && ellipsisFrac < 0.3 && dupLineFrac < 0.3 &&
      nStop >= 2
    Seq(
      nW.cast("long").as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(bulletFrac, 6).as("bullet_line_frac"),
      round(ellipsisFrac, 6).as("ellipsis_line_frac"),
      round(dupLineFrac, 6).as("dup_line_frac"),
      nStop.cast("long").as("n_stopwords"),
      pass.as("gopher_pass"))
  }

  /** C4-style cross-document duplicate-line removal (Raffel et al. 2020
    * §2.2: "we discarded all but one of any three-sentence span occurring
    * more than once" — generalized here to lines): a line whose normalized
    * form appears in more than `maxDocs` documents is dropped from EVERY
    * document, then docs are reassembled in original line order. Scale
    * shape: explode → one line-count aggregate (partial+final, the only
    * shuffle) → broadcast-eligible join back — the corpus streams twice,
    * no doc-pair product anywhere. Output: (doc_id, text) with boilerplate
    * lines removed.
    */
  def dedupLines(df: DataFrame, id: Column, text: Column,
      maxDocs: Int = 1): DataFrame = {
    val lines = df.select(id.as("doc_id"),
        posexplode(split(text, "\n")).as(Seq("line_no", "line")))
      .withColumn("norm", trim(col("line")))
      .filter(length(col("norm")) > 0)
    val counts = lines.groupBy(col("norm"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
    lines.join(counts, Seq("norm"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("line_no"), col("line")))),
        x => x.getField("line")), "\n").as("text"))
  }

  /** Span-level duplicate-text REMOVAL (Lee et al. 2021, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better" — the
    * ExactSubstr operation): q73 COUNTS cross-doc duplicated k-gram
    * passages; this op produces the CLEANED CORPUS, cutting every token
    * covered by a k-gram that also appears in another document, except
    * in the gram's canonical keeper doc (MIN doc_id — same
    * smaller-id-wins policy as the document-level dedups). Overlapping
    * removed grams union their token spans; documents shorter than k
    * tokens pass through untouched; a fully-boilerplate doc comes back
    * as an empty string, not a dropped row.
    *
    * Lowering — linear end to end, no pair products anywhere:
    * gram generation is a per-row array transform (zero shuffle);
    * ONE gram-keyed aggregate finds cross-doc grams (partial+final);
    * removed token positions explode k rows per removed occurrence and
    * anti-join back onto the token stream; reconstruction is one
    * doc-keyed aggregate (sort-by-position inside the row, the
    * [[dedupLines]] pattern). Gram shuffle volume = token count — the
    * q73 class. Output: (doc_id, text_clean, n_removed).
    */
  def removeDupSpans(df: DataFrame, id: Column, text: Column,
      k: Int): DataFrame = {
    require(k >= 2, "span gram size must be >= 2")
    val base = graft.ops.Shape.split(
      df.select(id.as("doc_id"), words(text).as("w")))
    // gram at 0-based token offset i covers tokens [i, i+k-1]
    val grams = base.select(col("doc_id"),
      posexplode(when(size(col("w")) >= k,
        transform(sequence(lit(0), size(col("w")) - k),
          i => array_join(slice(col("w"), i + 1, lit(k)), " ")))
        .otherwise(array().cast("array<string>"))).as(Seq("gpos", "gram")))
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(col("doc_id")).as("keeper"))
      .filter(col("nd") >= 2)
    val removedPos = grams.join(dup, "gram")
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"),
        explode(sequence(col("gpos"), col("gpos") + (k - 1))).as("pos"))
      .distinct()
    val toks = base.select(col("doc_id"),
      posexplode(col("w")).as(Seq("pos", "word")))
    val kept = toks.join(removedPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("word")))),
        x => x.getField("word")), " ").as("text_clean"),
        count(lit(1)).as("n_kept"))
    base.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        (size(col("w")) - coalesce(col("n_kept"), lit(0L))).cast("long")
          .as("n_removed"))
  }

  /** URL canonicalization for crawl dedup — the standard syntax-based
    * normalizations (RFC 3986 §6): lowercase scheme+host, strip default
    * ports (http:80 / https:443), drop fragments, strip tracking params
    * (utm_* / fbclid / gclid) wherever they sit in the query, drop an
    * emptied '?', collapse duplicate slashes in the path (the authority's
    * '://' is held out, so it is never touched), and drop a trailing
    * slash. Path/query case is preserved — only scheme+host fold. Pure
    * chained regexp projection — scan-shaped, RE2-compatible patterns
    * (global replace; DuckDB needs the 'g' flag for parity).
    */
  private val AuthorityRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"

  /** (pattern, replacement) pairs applied in order to the part AFTER the
    * scheme+authority. Tracking params need three shapes so the query
    * string stays well-formed: '&k=v' drops outright; a leading '?k=v&'
    * promotes the next param; a lone '?k=v' drops with its '?'.
    */
  val UrlCanonPatterns: Seq[(String, String)] = Seq(
    "#.*$" -> "",                                  // fragment
    "&(utm_[a-z]+|fbclid|gclid)=[^&#]*" -> "",     // '&tracker=v'
    "\\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&" -> "?", // '?tracker=v&next'
    "\\?(utm_[a-z]+|fbclid|gclid)=[^&#]*$" -> "",  // '?tracker=v' alone
    "\\?$" -> "",                                  // emptied query
    "/{2,}" -> "/",                                // dup path slashes
    "/$" -> "")                                    // trailing slash

  def canonicalUrl(url: Column): Column = {
    val auth = regexp_replace(
      regexp_replace(lower(regexp_extract(url, AuthorityRe, 0)),
        "^(http://.*):80$", "$1"),
      "^(https://.*):443$", "$1")
    val rest = UrlCanonPatterns.foldLeft(regexp_replace(url, AuthorityRe, "")) {
      case (u, (p, r)) => regexp_replace(u, p, r)
    }
    concat(auth, rest)
  }

  // ---- chunking + markup stripping (training-sample prep) ----------------

  /** Split each document into fixed-size token windows with overlap — the
    * standard context-length prep before tokenization: chunk c starts at
    * token c·(size − overlap) and carries up to `size` whitespace tokens.
    * Output: (doc_id, chunk_idx, n_tokens, chunk_text). Entirely
    * whole-stage-codegen array ops (`sequence` → `slice` → `array_join`),
    * ZERO shuffle — chunking 100 TB is scan-shaped work.
    */
  def chunkByTokens(df: DataFrame, id: Column, text: Column, size: Int,
      overlap: Int): DataFrame = {
    require(size >= 1, "chunk size must be >= 1")
    require(overlap >= 0 && overlap < size, "0 <= overlap < size")
    val stride = size - overlap
    val toks = words(text)
    df.select(id.as("doc_id"), toks.as("__toks"))
      .select(col("doc_id"),
        posexplode(sequence(lit(0),
          greatest(org.apache.spark.sql.functions.size(col("__toks")) - 1,
            lit(0)),
          lit(stride))).as(Seq("chunk_idx", "__start")),
        col("__toks"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("__toks"), col("__start") + 1, lit(size)).as("__chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        org.apache.spark.sql.functions.size(col("__chunk")).cast("long")
          .as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
      .filter(col("n_tokens") > 0)
  }

  /** GPT-style training-sequence packing manifest: lay the corpus out as
    * ONE token stream in `idCol` order (document concatenation — the
    * standard pretraining batch layout), slice the stream into
    * `window`-token contexts, and report for each doc its global token
    * offset plus the range of sequence ids it lands in (`seq_first` ==
    * `seq_last` iff the doc fits one context; docs straddle otherwise).
    *
    * Scale shape: the global offset is [[graft.ops.Positions]]'
    * two-pass range-partitioned prefix sum — NOT a single-partition
    * window — so packing a 100 TB corpus is one sort shuffle plus two
    * parallel scans; everything downstream is per-row arithmetic.
    * Zero-token docs are dropped (they occupy no stream positions).
    */
  def packSequences(docs: DataFrame, id: Column, tokens: Column,
      window: Int): DataFrame = {
    require(window >= 1, "context window must be >= 1")
    val withTok = docs
      .select(id.as("doc_id"), tokens.cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    graft.ops.Positions.runningSumSorted(withTok, col("n_tokens"),
        Seq(col("doc_id")), "cum_tokens")
      .select(col("doc_id"), col("n_tokens"),
        (col("cum_tokens") - col("n_tokens")).as("tok_offset"),
        floor((col("cum_tokens") - col("n_tokens")) / lit(window))
          .cast("long").as("seq_first"),
        floor((col("cum_tokens") - 1) / lit(window))
          .cast("long").as("seq_last"))
  }

  /** HTML → text extraction: drop script/style blocks and comments, strip
    * tags, decode the common entities, collapse whitespace. One chained
    * regexp_replace projection (scan-speed, zero shuffle); every pattern is
    * RE2-compatible so the DuckDB oracle applies the identical expressions.
    * This is the boilerplate-removal front door of a web-crawl pipeline —
    * heuristic main-content extraction layers on top of it.
    */
  val HtmlStripPatterns: Seq[(String, String)] = Seq(
    "(?is)<script\\b[^>]*>.*?</script>" -> " ",
    "(?is)<style\\b[^>]*>.*?</style>" -> " ",
    "(?s)<!--.*?-->" -> " ",
    "<[^>]+>" -> " ",
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&nbsp;" -> " ",
    "&amp;" -> "&") // last, or &amp;lt; would double-decode

  def stripHtml(html: Column): Column =
    trim(regexp_replace(
      HtmlStripPatterns.foldLeft(html) { case (t, (p, r)) =>
        regexp_replace(t, p, r)
      }, "\\s+", " "))

  /** Like [[shingles]] but keeps EVERY occurrence (passage-level duplicate
    * mining needs occurrence counts, not set membership).
    */
  def shinglesAll(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    val window = (1 until k).map(_ => "\\S+ ").mkString + "\\S+"
    val pattern = s"(?=($window))\\S+ ?"
    df.select(id.as("doc_id"),
      explode(regexp_extract_all(
        regexp_replace(trim(text), "\\s+", " "), lit(pattern), lit(1)))
        .as("shingle"))
  }

  /** Cross-document duplicate passages: word k-grams occurring in >= 2
    * DISTINCT documents (the exact-substring signal behind "deduplicating
    * training data" pipelines). One linear hash-shuffle on the gram — never
    * a doc×doc product. At 100 TB run the same aggregate over [[winnow]]
    * fingerprints instead of all grams (anchors sample ~2/(w+1) of
    * positions with a coverage guarantee); the gram path is the exact
    * variant.
    */
  def duplicatePassages(df: DataFrame, id: Column, text: Column,
      k: Int, minDocs: Int = 2): DataFrame =
    shinglesAll(df, id, text, k)
      .groupBy(col("shingle"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") >= minDocs)

  /** BM25 relevance of each document to a bag of query terms (Robertson/
    * Lucene idf variant: ln(1 + (N-df+0.5)/(df+0.5))) — the standard
    * relevance/quality-classifier feature in data-curation pipelines.
    * Shape: the term explode FILTERS to query terms before its groupBy
    * (the only corpus-sized shuffle carries just matching (doc, term)
    * rows); doc-frequency and corpus stats are single-row/tiny frames that
    * BROADCAST into the scoring join. Per-term scores are plain double
    * math (bit-identical to the oracle's); the per-doc sum routes through
    * DECIMAL(25,6) so summation order can't smear the low bits.
    * Output: (doc_id, bm25) for docs matching >= 1 term.
    */
  def bm25(df: DataFrame, id: Column, text: Column, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val dls = df.select(id.as("doc_id"),
      size(words(text)).cast("long").as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    // TAKsplit: tf feeds BOTH dfreq and the scoring join — persist or the
    // corpus explode+shuffle runs twice
    val tf = graft.ops.Shape.split(
      df.select(id.as("doc_id"), explode(words(text)).as("term"))
        .filter(col("term").isin(queryTerms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .join(dls, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("s", col("idf") *
        (col("tf").cast("double") * lit(k1 + 1.0)) /
        (col("tf").cast("double") + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * (col("dl").cast("double") / col("avgdl")))))
      .groupBy("doc_id")
      .agg(sum(col("s").cast(org.apache.spark.sql.types.DecimalType(25, 6)))
        .cast("double").as("bm25"))
  }

  /** Benchmark decontamination: flag training docs that share any word
    * k-gram with an eval corpus — the published n-gram-overlap procedure
    * (GPT-3 appendix C / PaLM style, typically k = 8..13). The eval gram
    * set is tiny next to the training corpus, so it BROADCASTS and the
    * training side streams once — no shuffle of the corpus, no join
    * re-partitioning. Output: (doc_id, n_hits) per TRAINING doc, n_hits =
    * distinct contaminated grams (0 = clean).
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, id: Column,
      text: Column, k: Int): DataFrame = {
    val evalGrams = shingles(evalDocs, id, text, k)
      .select(col("shingle")).distinct()
    val hits = shingles(train, id, text, k)
      .join(broadcast(evalGrams), "shingle")
      .groupBy("doc_id").agg(countDistinct(col("shingle")).as("n_hits"))
    train.select(id.as("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Unigram language-model quality score — the CCNet-style perplexity
    * proxy (published pipeline: score each document by the average
    * negative log-probability of its tokens under a corpus LM; high =
    * unusual/junk, low = fluent). The LM here is the corpus's own unigram
    * distribution with add-one smoothing: p(t) = (c_t + 1) / (T + V).
    *
    * Scale shape: one linear token shuffle builds the vocab, the scoring
    * join shuffles on the term (AQE broadcasts the vocab side when it
    * fits), the per-doc aggregate is partial+final. No driver state — the
    * vocab stays a DataFrame however large the corpus.
    * Output: (doc_id, n_tokens, avg_neg_logp).
    */
  def unigramScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = graft.ops.Shape.split(
      df.select(id.as("doc_id"), explode(words(text)).as("t")))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("c"))
    val totals = vocab.agg(sum(col("c")).as("tt"), count(lit(1)).as("v"))
    toks.join(vocab, "t")
      .crossJoin(broadcast(totals))
      // per-token -ln(p) goes through DECIMAL before the aggregate: the
      // scoring join scatters a document's tokens across partitions, so a
      // double sum would be order-dependent (hash-unstable vs the oracle);
      // the decimal sum is exact and order-free
      .withColumn("nlp", (-log((col("c").cast("double") + lit(1.0)) /
        (col("tt").cast("double") + col("v").cast("double"))))
        .cast("decimal(25,15)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nlp")).cast("double") / count(lit(1)), 6)
          .as("avg_neg_logp"))
  }

  /** Temperature-scaled mixture weights over strata — the multilingual/
    * multi-domain data-mixing step (published recipe: sampling weights
    * ∝ count^alpha, alpha<1 upsamples the tail): per stratum the corpus
    * share, the alpha-tempered mixture weight, and the per-document
    * sampling rate that realizes the mixture capped at 1 (the largest
    * upsampled stratum keeps every row; others scale proportionally).
    * One aggregate; all arithmetic on the O(#strata) result.
    */
  def mixtureWeights(df: DataFrame, stratum: Column,
      alpha: Double): DataFrame = {
    val counts = df.groupBy(stratum.as("stratum"))
      .agg(count(lit(1)).as("n"))
    val tempered = counts.withColumn("w0",
      pow(col("n").cast("double"), lit(alpha)))
    val totals = tempered.agg(sum(col("n")).as("tn"), sum(col("w0")).as("tw"))
    val withW = tempered.crossJoin(broadcast(totals))
      .withColumn("share", col("n").cast("double") / col("tn").cast("double"))
      .withColumn("weight", col("w0") / col("tw"))
      // rate ∝ weight/share; normalize so the max rate is exactly 1
      .withColumn("r0", col("weight") / col("share"))
    val maxR = withW.agg(max(col("r0")).as("mr"))
    withW.crossJoin(broadcast(maxR))
      .select(col("stratum"), col("n"),
        round(col("share"), 6).as("share"),
        round(col("weight"), 6).as("weight"),
        round(col("r0") / col("mr"), 6).as("sample_rate"))
  }
}
