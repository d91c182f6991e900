package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's join family (SURVEY §2.4; flags `JF*`
  * `rtl/include/eclhelper.hpp:1713-1748`, base contracts `:1764-1901`).
  *
  * Join *types* (INNER / LEFT|RIGHT|FULL OUTER / LEFT|RIGHT ONLY) map to
  * Spark join types directly; the ECL-specific *modifiers* — LOOKUP
  * first-match, KEEP(n), ATMOST(n) — are composed from broadcast hints,
  * per-key row-number filters and per-key count filters.
  *
  * Scale notes: plain joins lower to Catalyst SortMergeJoin with both sides
  * shuffled on the key — correct default at 100 TB. LOOKUP joins broadcast
  * the RHS (reference `CBroadcaster`
  * `thorlcr/activities/lookupjoin/thlookupjoinslave.cpp:88`); SMART-join
  * failover (broadcast → hash) is Spark AQE's broadcast-threshold + skew
  * handling, on by default. KEEP/ATMOST add one extra window/agg pass over
  * the join key — the shuffle is shared with the join itself when keys match.
  */
object Joins {

  /** ECL join types → Spark join type strings.
    * LEFT ONLY / RIGHT ONLY (`JFexclude` :1716-1718) are anti-joins.
    */
  val Inner = "inner"
  val LeftOuter = "left_outer"
  val RightOuter = "right_outer"
  val FullOuter = "full_outer"
  val LeftOnly = "left_anti"

  def join(l: DataFrame, r: DataFrame, cond: Column, typ: String): DataFrame =
    l.join(r, cond, typ)

  /** RIGHT ONLY: rows of `r` with no match in `l` (anti from the right). */
  def rightOnly(l: DataFrame, r: DataFrame, cond: Column): DataFrame =
    r.join(l, cond, "left_anti")

  /** LOOKUP join (TAKlookupjoin :1044): RHS broadcast; without MANY
    * (`JFmanylookup` :1732) only the FIRST match per key is used — we dedup
    * the RHS by key first (deterministically: min over `pick`'s order).
    *
    * @param rhsKeys   join key columns on the RHS (used for the dedup)
    * @param pick      deterministic tiebreak ordering that defines "first"
    */
  def lookupJoinFirst(l: DataFrame, r: DataFrame, rhsKeys: Seq[String],
      pick: Seq[Column], cond: Column, typ: String = Inner): DataFrame = {
    val w = Window.partitionBy(rhsKeys.map(col): _*).orderBy(pick: _*)
    val firstPerKey = r.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    l.join(broadcast(firstPerKey), cond, typ)
  }

  /** LOOKUP, MANY: broadcast join keeping all matches. */
  def lookupJoinMany(l: DataFrame, r: DataFrame, cond: Column,
      typ: String = Inner): DataFrame =
    l.join(broadcast(r), cond, typ)

  /** JOIN ... ALL (TAKalljoin :1047): no equality required — nested-loop
    * over a replicated RHS. Catalyst plans BroadcastNestedLoopJoin.
    */
  def allJoin(l: DataFrame, r: DataFrame, cond: Column,
      typ: String = Inner): DataFrame =
    l.join(broadcast(r), cond, typ)

  /** Bloom-filter pre-filter for an equi-join's big side (guide §3.2,
    * r19 verdict #3): build a Bloom filter over `smallKey`'s values and
    * drop definitely-non-matching rows from `big` BEFORE the join shuffles
    * it. False positives only cost a little extra shuffle; false negatives
    * cannot exist, so an INNER or SEMI join on the same key returns
    * identical rows — do NOT use it under an outer join (dropped big rows
    * would lose their null-extended outputs).
    *
    * Why not Spark's automatic runtime filter: its creation-side cap (10 MB
    * estimated) and application-side floor (10 GB scanned) never both hold
    * at bench SFs, and at 100 TB the creation side outgrows the cap — the
    * manual form keys the decision on OUR size knowledge and controls the
    * sizing. The probe is the native `BloomFilterMightContain` expression
    * over `xxhash64(bigKey)` (codegen'd, no UDF); the build side hashes
    * with the same seed-42 xxhash64, so stored and probed values agree.
    *
    * Shape: exactly what Spark's InjectRuntimeFilter would build —
    * `might_contain(scalar-subquery(bloom_filter_agg(xxhash64(k))),
    * xxhash64(bigKey))`. The subquery evaluates lazily at execution (no
    * eager driver jobs, FETCH-style, at construction), its one-row result
    * ships once per stage in the task binary, and the plan dump stays
    * readable (an inline binary literal of the filter rendered multi-MB
    * explain output). An EMPTY small side needs no special case:
    * `bloom_filter_agg` over zero rows yields a null filter, might_contain
    * returns null, and the filter drops every row — the inner/semi-join
    * contract.
    *
    * Costs and the gate: the small side is scanned once extra (the filter
    * aggregate), so the filter only pays when the avoided shuffle is
    * large. Gate: the big side's optimizer size estimate must reach
    * `spark.graft.bloom.minBigBytes` (default 256 MB — roughly where one
    * fact shuffle outweighs a dimension-slice scan; at 100 TB any fact
    * scan clears it, at sf0.1/sf1 the gate stays closed and plans are
    * byte-identical to the ungated form). The filter is sized for 4 M
    * items (Spark's own maxExpectedNumItems default) at ~1% fpp
    * (10 bits/item ≈ 5 MB); creation sides beyond it degrade the fpp
    * gracefully, never the results.
    */
  def bloomSemiPrefilter(big: DataFrame, bigKey: Column,
      small: DataFrame, smallKey: Column): DataFrame = {
    val minBigBytes = big.sparkSession.conf.getOption("spark.graft.bloom.minBigBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val items = 4L << 20
    val bigBytes = big.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bigBytes < minBigBytes) return big
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bloom = small
      .agg(GraftBridge.column(new BloomFilterAggregate(
          GraftBridge.resolvedExpression(xxhash64(smallKey)),
          Literal(items), Literal(items * 10L)) // ~1% fpp at `items` keys
        .toAggregateExpression()).as("__bf"))
    big.filter(GraftBridge.column(
      BloomFilterMightContain(
        ScalarSubquery(bloom.queryExecution.analyzed),
        GraftBridge.resolvedExpression(xxhash64(bigKey)))))
  }

  /** KEEP(n) (`getKeepLimit` :1771): at most n matches kept per LEFT row.
    * `pick` orders the RHS matches deterministically; the first n survive.
    * Implemented as a post-join window over the left row's identity.
    */
  def keepN(joined: DataFrame, leftId: Seq[Column], pick: Seq[Column],
      n: Int): DataFrame = {
    val w = Window.partitionBy(leftId: _*).orderBy(pick: _*)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** ATMOST(n) (`getMatchAbortLimit` :1772): if a key matches MORE than n
    * RHS rows the key is treated as having NO match at all (not truncated —
    * the classic trap, see lookupjoin.ecl golden test). For inner joins:
    * pre-filter the RHS to keys with <= n rows.
    */
  def atmostRhs(r: DataFrame, keys: Seq[String], n: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    r.withColumn("__kc", count(lit(1)).over(w))
      .filter(col("__kc") <= n).drop("__kc")
  }

  /** N-way MERGEJOIN with MOFN(m) (`IHThorNWayMergeJoinArg`
    * `rtl/include/eclhelper.hpp:2795`; TAKnwaymergejoin): all inputs share
    * one record type and a sort key; a key value QUALIFIES when it appears
    * in at least `m` distinct inputs, and the output is every input row
    * whose key qualifies. The reference streams N sorted cursors in step;
    * the declarative lowering is one union + key-level count + left-semi
    * join — the qualifying-key set shuffles once on the key, matching the
    * stepped engine's per-key work without requiring presorted inputs.
    */
  def mergeJoinMofN(inputs: Seq[DataFrame], keys: Seq[String],
      m: Int): DataFrame = {
    require(inputs.nonEmpty && m >= 1 && m <= inputs.size,
      s"MOFN m=$m out of range for ${inputs.size} inputs")
    val keyCols = keys.map(col)
    val perInputKeys = inputs.map(_.select(keyCols: _*).distinct())
    val qualifying = perInputKeys.reduce(_ unionAll _)
      .groupBy(keyCols: _*).agg(count(lit(1)).as("__nsrc"))
      .filter(col("__nsrc") >= m)
      .select(keyCols: _*)
    inputs.reduce(_ unionAll _).join(qualifying, keys, "left_semi")
  }

  /** N-way MERGEJOIN proximity / STEPPED range (`IHThorNWayMergeJoinArg`
    * `rtl/include/eclhelper.hpp:2795`, `getJoinFlags` MJFhasrange; the
    * stepped text-search engine joins on `LEFT.pos BETWEEN RIGHT.pos-d AND
    * RIGHT.pos+d`): a row QUALIFIES when rows from at least `m` distinct
    * inputs (its own counted) carry a key within ±`d` of it, and the output
    * is every qualifying input row.
    *
    * Scale lowering: NOT an all-pairs range join. Keys are banded into
    * buckets of width max(d,1); any two keys within d land in the same or
    * an adjacent bucket, so the probe side replicates each row into its
    * bucket ±1 and the join is a pure EQUALITY join on the bucket id with
    * an `abs(diff) <= d` residual filter — shuffle is O(rows·3) and
    * bucket-local, never cartesian. The banded union is persisted
    * ([[Shape.split]]) so the self-join's two branches share one scan and
    * the row ids stay consistent.
    */
  def mergeJoinProximity(inputs: Seq[DataFrame], key: String, d: Long,
      m: Int): DataFrame = {
    require(inputs.nonEmpty && m >= 1 && m <= inputs.size && d >= 0,
      s"proximity m=$m/d=$d out of range for ${inputs.size} inputs")
    val w = math.max(d, 1L)
    val tagged = inputs.zipWithIndex
      .map { case (in, i) => in.withColumn("__src", lit(i)) }
      .reduce(_ unionAll _)
    // Content-derived row id — monotonically_increasing_id is not stable
    // under task retry / persist eviction (a recomputed partition re-ids
    // its rows mid-query). Two seeded 64-bit hashes (128 bits) make
    // cross-content collisions negligible at any corpus size; rows
    // identical in every column share an id, which is safe here because
    // qualification depends only on (key, __src) — duplicates qualify
    // identically and the final rid join preserves their multiplicity.
    // Each column is paired with its isNull flag in the hash input:
    // Spark's hash expressions skip null children, so without the flag
    // (x, null) and (null, x) across equal-typed columns would collide
    // structurally (not probabilistically) on both seeds.
    val allCols = tagged.columns.toSeq.map(col)
      .flatMap(c => Seq(c.isNull, c))
    val rows = Shape.split(tagged
      .withColumn("__rid", struct(
        xxhash64(lit(1) +: allCols: _*).as("h1"),
        xxhash64(lit(2) +: allCols: _*).as("h2")))
      .withColumn("__b", floor(col(key) / w)))
    val probes = rows
      .select(col(key).as("__pk"), col("__src").as("__psrc"),
        explode(array(col("__b") - 1, col("__b"), col("__b") + 1)).as("__pb"))
    val qualifying = rows.select(col("__rid"), col(key), col("__b"))
      .join(probes, col("__b") === col("__pb") &&
        abs(col(key) - col("__pk")) <= d)
      .groupBy("__rid").agg(countDistinct(col("__psrc")).as("__ns"))
      .filter(col("__ns") >= m)
      .select("__rid")
    rows.join(qualifying, "__rid").drop("__rid", "__b")
  }

  /** DENORMALIZE(GROUP) (TAKdenormalizegroup :1068): join then nest ALL
    * matches as a child-rowset column — `groupBy(left).agg(collect_list)`.
    * The LHS columns are preserved; matches land in `childCol`. Left rows
    * with no match get an EMPTY child rowset (collect_list skips the nulls
    * produced by the outer join — `rhsKey` marks a real match).
    */
  def denormalizeGroup(l: DataFrame, r: DataFrame, cond: Column,
      childCol: String, rhsKey: Column): DataFrame = {
    val rCols = r.columns.map(r(_))
    l.join(r, cond, "left_outer")
      .groupBy(l.columns.map(l(_)): _*)
      .agg(collect_list(when(rhsKey.isNotNull, struct(rCols: _*))).as(childCol))
  }
}
