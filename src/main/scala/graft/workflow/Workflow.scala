package graft.workflow

import graft.sources.Sources
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Workflow services (SURVEY §2.13): PERSIST, STORED, SEQUENTIAL/WHEN
  * handlers, LOOP/GRAPH iteration, DICTIONARY.
  */
object Workflow {

  /** PERSIST('name') (`WFModePersist` `common/workunit/workunit.hpp:591`):
    * materialize once, rebuild only when the plan changes. The reference
    * invalidates by CRC of the generated ECL (`PersistVersion`
    * `common/workunit/workflow.hpp:62`); we fingerprint the canonicalized
    * optimized plan — same idea, plan-level.
    */
  def persist(df: DataFrame, store: String, name: String): DataFrame = {
    val spark = df.sparkSession
    val fp = java.lang.Integer.toHexString(
      df.queryExecution.optimizedPlan.canonicalized.semanticHash())
    val path = s"$store/$name-$fp"
    // Hadoop FileSystem API, not java.io.File: the persist store lives on
    // whatever filesystem the URI names (HDFS/S3/local) in a cluster deploy
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) df.write.mode("overwrite").parquet(path)
    Sources.parquet(spark, path)
  }

  /** STORED('name') (`no_stored` hqlexpr.hpp:287): externally-settable
    * parameters with defaults — a config map resolved at plan-build time.
    */
  final case class Stored(params: Map[String, String]) {
    def apply(name: String, default: String): String =
      params.getOrElse(name, default)
    def long(name: String, default: Long): Long =
      params.get(name).map(_.toLong).getOrElse(default)
  }

  /** A localCheckpoint'd frame plus a handle that ACTUALLY releases its
    * blocks. `Dataset.unpersist()` is a no-op here: checkpoint blocks are
    * RDD-level persistence on the internal RDD, not a CacheManager entry,
    * so they would otherwise only be freed by the ContextCleaner after a
    * driver GC. We pull the checkpointed RDD out of the resulting
    * LogicalRDD leaf and unpersist IT when the frame is superseded.
    */
  private[graft] final case class Checkpointed(df: DataFrame,
      release: () => Unit)

  /** Eager localCheckpoint at MEMORY_AND_DISK (`localCheckpoint()`'s
    * level): one job materializes the blocks before this returns.
    */
  private[graft] def checkpointEager(df: DataFrame): Checkpointed =
    checkpoint(df, eager = true)

  /** LAZY localCheckpoint: the caller's FIRST action over the returned
    * frame materializes the blocks as a side effect (RDD persistence
    * populates on first compute). Eager checkpoints run one job just to
    * materialize (`Dataset.localCheckpoint(true)` counts the RDD and
    * throws the number away) — when the caller's next step is itself a
    * whole-frame action (a convergence count, an aggregate), fusing the
    * two halves the per-iteration job count of a fixpoint loop (r19
    * verdict #4/#5: the CC and LOOP paths' cost at small SF is fixed jobs
    * per round, not data). ONLY safe when exactly one action runs before
    * any multi-consumer fan-out: two concurrent first consumers may both
    * compute a partition before either caches it (wasted work, not
    * wrongness) — for frames consumed twice structurally (e.g. smallStar's
    * groupBy+join input), keep [[checkpointEager]].
    */
  private[graft] def checkpointLazy(df: DataFrame): Checkpointed =
    checkpoint(df, eager = false)

  private def checkpoint(df: DataFrame, eager: Boolean): Checkpointed = {
    val ck = df.localCheckpoint(eager,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rdds = ck.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    Checkpointed(ck, () => rdds.foreach(_.unpersist(blocking = false)))
  }

  /** LOOP(ds, n, body) (TAKloopcount :987): driver-side iteration;
    * localCheckpoint every few rounds truncates lineage so plans don't
    * grow exponentially (`LFparallel` flags :2671 are Spark's scheduler's
    * concern).
    */
  def loopN(df: DataFrame, n: Int, checkpointEvery: Int = 4)(
      body: (DataFrame, Int) => DataFrame): DataFrame =
    loopWhile(df, math.max(n, 0), checkpointEvery)(_ => true)(body)

  /** LOOP(ds, loopcondition, body) (TAKlooprow/dataset condition forms,
    * eclhelper.hpp:989 loopAgain): iterate while the driver-evaluated
    * dataset predicate holds (e.g. `_.isEmpty` negation — the reference
    * evaluates loop conditions between graph executions the same way).
    * `maxIter` is the runaway backstop the reference's MAXITERATIONS
    * option provides.
    */
  def loopWhile(df: DataFrame, maxIter: Int, checkpointEvery: Int = 4)(
      continueWhile: DataFrame => Boolean)(
      body: (DataFrame, Int) => DataFrame): DataFrame = {
    require(maxIter >= 0, "maxIter must be >= 0")
    var cur = df
    // superseded checkpoints must be RELEASED: eager localCheckpoint
    // truncates the new frame's lineage at its own blocks, so once the
    // next checkpoint is materialized nothing can reference the previous
    // one — leaving it cached pins O(iterations) full copies of the data
    // and thrashed the block store at the sf10 rehearsal (q190 class).
    // Release goes through the checkpointed RDD handle (Checkpointed),
    // not Dataset.unpersist, which cannot see checkpoint blocks.
    var prev: Option[Checkpointed] = None
    var i = 1
    while (i <= maxIter && continueWhile(cur)) {
      cur = body(cur, i)
      if (i % checkpointEvery == 0) {
        val ck = checkpointEager(cur)
        cur = ck.df
        prev.foreach(_.release())
        prev = Some(ck)
      }
      i += 1
    }
    cur
  }

  /** LOOP(ds, loopfilter, body) (TAKloopdataset :988 with a loop filter):
    * per-iteration ROW ROUTING — rows matching `cond` feed the body
    * again; rows that stop matching EXIT to the final result immediately,
    * exactly the reference's loop-filter semantics. Each iteration costs
    * one driver-side existence probe (`limit(1).count`) — the reference's
    * engine makes the same between-graph decision — plus the body; exited
    * rows accumulate as a lazy union, checkpointed with the loop body so
    * lineage stays bounded.
    */
  def loopFiltered(df: DataFrame, maxIter: Int, cond: Column)(
      body: (DataFrame, Int) => DataFrame): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    // Memory contract (found at the sf10 rehearsal: 444 s → block-store
    // thrash): exits are checkpointed EAGERLY (they are disjoint slices,
    // their total is exactly |df|) so the superseded looping checkpoint
    // can be released the moment its successor is materialized — via the
    // checkpointed-RDD handle (Checkpointed), since Dataset.unpersist is
    // a no-op on checkpoint blocks. Pinned blocks are then
    // ≤ |exits so far| + |current looping set| ≈ |df|, instead of the sum
    // of every iteration's (shrinking but large) looping copy — the
    // previous shape pinned ~3–4× |df| and evicted.
    //
    // Job contract (r20, guide §1.2/§5 — at small SF this loop's cost is
    // jobs per iteration, not data): each iteration runs exactly TWO jobs —
    // the exit-slice checkpoint, and ONE fused job that materializes the
    // looped frame AND counts its still-matching rows (lazy checkpoint +
    // aggregate; RDD persistence populates on first compute). The previous
    // shape ran three (a limit(1) existence probe, the exit checkpoint,
    // and an eager checkpoint whose internal count is discarded). The
    // matching-row count drives the loop exactly like the probe did: the
    // body still only runs against non-empty looping sets.
    // the fused job counts at the RDD level: a Dataset count/agg plans an
    // exchange, which AQE materializes as its own job (2 jobs again);
    // toRdd.count() over the filtered plan is ONE plain job that computes
    // (and therefore caches) every checkpoint partition and sums
    // per-partition counts on the driver
    def matchingCount(ck: Checkpointed): Long =
      ck.df.filter(cond).queryExecution.toRdd.count()
    var cur = checkpointLazy(df)
    var matching = matchingCount(cur)
    var exits = List.empty[DataFrame]
    var i = 1
    while (i <= maxIter && matching > 0) {
      exits = cur.df.filter(!cond).localCheckpoint() :: exits
      val next = checkpointLazy(body(cur.df.filter(cond), i))
      matching = matchingCount(next)
      cur.release() // exits + next are materialized; nothing reads cur now
      cur = next
      i += 1
    }
    (exits.reverse :+ cur.df).reduce(_ unionAll _)
  }

  /** GRAPH(ds, n, body) (TAKgraphloop :995): body sees ALL prior iteration
    * results (TAKgraphloopresultread :996).
    *
    * Memory: unlike loopN, NOTHING here is superseded — every iteration's
    * result stays addressable by contract, so all n checkpoints remain
    * pinned while the vector is live (Σ|result_i| blocks, the same
    * footprint the reference's graph-loop result store holds). Callers
    * that only need the last k results should use [[graphWindowed]],
    * which releases results as they fall out of the window.
    */
  def graphN(df: DataFrame, n: Int)(
      body: (Vector[DataFrame], Int) => DataFrame): Vector[DataFrame] = {
    var results = Vector(df)
    for (i <- 1 to n)
      results = results :+ body(results, i).localCheckpoint()
    results
  }

  /** GRAPH with a bounded result window: the body sees only the last
    * `window` iteration results (still 1-indexed positionally from the
    * window's start), and results that fall out of the window have their
    * checkpoint blocks released eagerly — pinned storage stays
    * ≤ window·max|result| instead of Σ|result_i|. This is the form to
    * use for long graph iterations at scale when the dependency depth is
    * known (most GRAPH bodies read only the previous 1–2 results).
    */
  def graphWindowed(df: DataFrame, n: Int, window: Int)(
      body: (Vector[DataFrame], Int) => DataFrame): DataFrame = {
    require(window >= 1, "window must be >= 1")
    var live = Vector(checkpointEager(df))
    for (i <- 1 to n) {
      val res = checkpointEager(body(live.map(_.df), i))
      live = live :+ res
      if (live.length > window) {
        live.head.release()
        live = live.tail
      }
    }
    live.last.df
  }

  /** DICTIONARY (type_dictionary=46 rtlconst.hpp:72): hash lookup built
    * from a dataset. Small dicts become a map-literal Column (codegen'd
    * element_at); big dicts should use a broadcast join instead.
    */
  def dictionary(df: DataFrame, key: Column, value: Column): Map[String, String] =
    df.select(key.cast("string"), value.cast("string")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** key IN dict / dict[key] lookup as a literal MapType column. */
  def dictLookup(dict: Map[String, String], key: Column): Column =
    if (dict.isEmpty) lit(null)
    else element_at(
      map(dict.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
      key.cast("string"))

  /** A DICTIONARY that never has to fit on the driver. The reference's
    * dictionaries are distributed structures (`rtl/include/eclhelper.hpp:
    * 2913`) — only the literal-map fast path may collect, and only after
    * proving the dict is small.
    */
  final case class GraftDict private[workflow] (
      kv: DataFrame, literal: Option[Map[String, String]],
      broadcastable: Boolean,
      releaseFn: () => Unit = () => ()) {
    /** Free the join-class build's pinned checkpoint blocks when the
      * dictionary is no longer needed (a workflow that builds several
      * large dictionaries in one long-lived session must not accumulate
      * unreclaimable storage until the driver GCs the handle). Idempotent;
      * literal-class dicts are driver maps and hold no blocks.
      */
    def release(): Unit = releaseFn()
  }

  /** Build a dictionary with a size-adaptive lookup plan: ≤ maxLiteralRows
    * → driver map literal (codegen'd element_at, zero joins); ≤
    * maxBroadcastRows → broadcast hash join; bigger → plain equi-join
    * (AQE picks the shuffle strategy). Duplicate keys keep one arbitrary
    * row, matching a hash-dictionary build.
    */
  def dictionaryAuto(df: DataFrame, key: Column, value: Column,
      maxLiteralRows: Long = 4096, maxBroadcastRows: Long = 2L * 1000 * 1000)
      : GraftDict = {
    val kv = df.select(key.cast("string").as("__dict_key"),
        value.cast("string").as("__dict_val"))
      .dropDuplicates("__dict_key")
    // probe with an early-stopping limit; only collect when provably small
    val probeCap = math.min(maxLiteralRows + 1, Int.MaxValue.toLong).toInt
    val probe = kv.limit(probeCap).collect()
    if (probe.length < probeCap)
      GraftDict(kv, Some(probe.map(r => r.getString(0) -> r.getString(1)).toMap),
        broadcastable = true)
    else {
      // SNAPSHOT the build (eager localCheckpoint): the literal path
      // already snapshots by collecting, and a dictionary's semantics must
      // not depend on which size class it landed in — after the build,
      // source mutation either leaves lookups unchanged (pinned blocks) or
      // fails loudly (lost checkpoint blocks cannot silently recompute
      // from newer source data). Also pins the broadcastable row count:
      // a dict sized ≤ maxBroadcastRows at build can never grow past the
      // broadcast cliff under a reused plan (AdaptiveReplanSpec). The
      // checkpoint handle rides the dict so callers can release the
      // pinned blocks (GraftDict.release) instead of waiting for GC.
      val built = checkpointEager(kv)
      GraftDict(built.df, None,
        broadcastable = built.df.count() <= maxBroadcastRows,
        releaseFn = built.release)
    }
  }

  /** dict[key] → value column appended as `as` (null when absent) —
    * literal map, broadcast join, or shuffle join per the dict's size class.
    */
  def dictGet(df: DataFrame, dict: GraftDict, key: Column, as: String)
      : DataFrame =
    dict.literal match {
      case Some(m) => df.withColumn(as, dictLookup(m, key))
      case None =>
        val kv = if (dict.broadcastable) broadcast(dict.kv) else dict.kv
        df.join(kv, key.cast("string") === col("__dict_key"), "left")
          .withColumnRenamed("__dict_val", as)
          .drop("__dict_key")
    }

  /** key IN dict, same plan selection as [[dictGet]]. */
  def dictContains(df: DataFrame, dict: GraftDict, key: Column, as: String)
      : DataFrame =
    dict.literal match {
      case Some(m) =>
        df.withColumn(as, dictLookup(m, key).isNotNull)
      case None =>
        dictGet(df, dict, key, "__dict_hit")
          .withColumn(as, col("__dict_hit").isNotNull).drop("__dict_hit")
    }
}
