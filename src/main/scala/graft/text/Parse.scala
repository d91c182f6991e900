package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentHashMap

/** PARSE (SURVEY §2.10; TAKparse `rtl/include/eclhelper.hpp:2366`): pattern
  * matching over a text column producing one row per match, with
  * MATCHED()/MATCHTEXT() accessors. The reference ships three engines
  * (`NLPAregexStack/NLPAtomita/NLPAregexHeap`,
  * `common/thorhelper/thorparse.hpp:28`): the regex engine covers plain
  * patterns ([[parse]]/[[parseGroups]]); recursive, ambiguous, and
  * left-recursive RULE grammars — the Tomita engine's territory — are
  * handled by [[Grammar]] with MAX/MIN/ALL selection.
  *
  * PATTERN/RULE compose as plain regex combinators; matching lowers to
  * `regexp_extract_all` + explode — codegen'd scan, no custom runtime.
  */
object Parse {

  /** The packrat matcher's recursion depth is bounded by derivation
    * depth, which adversarial grammars push past the ~1 MiB default task
    * thread stack (e.g. S → S S over hundreds of chars — linear depth,
    * but tens of frames per level). Grammar entry points therefore run on
    * a per-calling-thread cached worker with a 64 MiB stack: one daemon
    * worker per executor core, ~µs handoff per call — the standard JVM
    * remedy for deep recursive descent without rewriting the matcher into
    * an explicit-stack machine.
    */
  private object DeepStack {
    private val workers =
      new ThreadLocal[java.util.concurrent.ExecutorService]() {
        override def initialValue(): java.util.concurrent.ExecutorService =
          java.util.concurrent.Executors.newSingleThreadExecutor { r =>
            val t = new Thread(null, r, "graft-parse-deepstack", 64L << 20)
            t.setDaemon(true)
            t
          }
      }
    /** Texts at or below this length run INLINE on the task thread: the
      * matcher's recursion depth is bounded by NESTING depth (the seed
      * fixpoint, GRep levels, and GSeq position folds are all iterative),
      * and nesting depth is at most text length (right-recursive or
      * bracket-tower grammars descend ~10–15 frames per level), so the
      * bound must be conservative against a default 1 MiB task stack:
      * 64 levels × ~15 frames × ~250 B ≈ 240 KiB worst-case. Skipping
      * the worker handoff removes a submit/park/unpark round-trip from
      * EVERY short row (the dominant texts in the parse gates are 10–50
      * chars, all under this bound).
      */
    private val InlineMax = 64
    def apply[A](f: => A): A = {
      val fut = workers.get().submit(
        new java.util.concurrent.Callable[A] { def call(): A = f })
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }
    def forText[A](text: String)(f: => A): A =
      if (text == null || text.length <= InlineMax ||
        Thread.currentThread().getName == "graft-parse-deepstack") f
      else apply(f)
  }

  /** Parsed-result memo across rows: PARSE inputs are frequently
    * CATEGORICAL (built from low-cardinality columns), so whole-row
    * results repeat millions of times at scale while the matcher
    * re-derives them from scratch. One map PER GRAMMAR INSTANCE (a
    * member, not a static keyed on the grammar — structurally hashing
    * the rule AST on every probe would tax exactly the hot path the
    * memo serves; per-task instances after closure deserialization
    * still see every row of their partitions). Bounded three ways:
    * short keys only (≤ [[MaxTextLen]]), small VALUES only (a MatchAll
    * result on an ambiguous grammar can be O(len²) chars — oversized
    * results are returned uncached), and at capacity new keys are
    * simply not admitted — first-come retention keeps the hot
    * categorical entries instead of clear()-thrashing them. High-
    * cardinality corpora therefore degrade to plain parsing, never to
    * memory growth or hit-rate collapse.
    */
  private final class ParseCache(
      hitAcc: Option[org.apache.spark.util.LongAccumulator],
      missAcc: Option[org.apache.spark.util.LongAccumulator]) {
    private val MaxEntries = 8192
    private val MaxTextLen = 512
    private val MaxValueChars = 1 << 16
    private val cache = new ConcurrentHashMap[(AnyRef, String), AnyRef]()
    private def sizeOk(v: AnyRef): Boolean = v match {
      case xs: Vector[_] =>
        var n = 0
        xs.foreach {
          case s: String => n += s.length
          case (s: String, m: Map[_, _]) =>
            n += s.length
            m.foreach { case (_, t: String) => n += t.length; case _ => }
          case _ => n += 64
        }
        n <= MaxValueChars
      case _ => true
    }
    def cached[A <: AnyRef](key: AnyRef, text: String)(f: => A): A = {
      // memo-ineligible texts count as misses: the hit RATE is
      // hits/(hits+misses) over every parse the memo could have served
      if (text == null || text.length > MaxTextLen) {
        missAcc.foreach(_.add(1)); return f
      }
      val k = (key, text)
      val hit = cache.get(k)
      if (hit != null) { hitAcc.foreach(_.add(1)); return hit.asInstanceOf[A] }
      missAcc.foreach(_.add(1))
      val v = f
      if (cache.size < MaxEntries && sizeOk(v)) cache.put(k, v)
      v
    }
  }

  /** PATTERN combinators (compile-time objects, §1.2 pattern types). */
  sealed trait Pattern { def re: String }
  final case class Lit(s: String) extends Pattern {
    def re: String = java.util.regex.Pattern.quote(s)
  }
  final case class Re(re: String) extends Pattern
  final case class Seq2(ps: Pattern*) extends Pattern {
    def re: String = ps.map(p => s"(?:${p.re})").mkString
  }
  final case class Or(ps: Pattern*) extends Pattern {
    def re: String = ps.map(p => s"(?:${p.re})").mkString("|")
  }
  final case class Rep(p: Pattern, min: Int, max: Int) extends Pattern {
    def re: String = s"(?:${p.re}){$min,$max}"
  }
  final case class Opt(p: Pattern) extends Pattern {
    def re: String = s"(?:${p.re})?"
  }

  /** PARSE(ds, field, pattern, t): one output row per (possibly
    * overlapping=false) match; `as` holds MATCHTEXT. All other columns of
    * the input ride along (the TRANSFORM sees LEFT).
    */
  def parse(df: DataFrame, field: Column, p: Pattern, as: String): DataFrame =
    df.withColumn(as, explode(regexp_extract_all(field, lit(p.re), lit(0))))

  /** PARSE with a capture-group projection: `groups` maps output column
    * name → 1-based capture index (MATCHTEXT(rule) analog).
    */
  def parseGroups(df: DataFrame, field: Column, p: Pattern,
      groups: Map[String, Int]): DataFrame = {
    val base = df.withColumn("__m",
      explode(regexp_extract_all(field, lit(p.re), lit(0))))
    groups.foldLeft(base) { case (d, (name, idx)) =>
      d.withColumn(name, regexp_extract(col("__m"), p.re, idx))
    }.drop("__m")
  }

  // ---- recursive RULE grammars (the Tomita engine's territory) -------------

  /** Grammar pattern AST for RECURSIVE PATTERN/RULE definitions — what the
    * reference compiles to its Tomita-GLR engine (`ecl/hqlcpp/hqltomita.cpp`,
    * engine selection `common/thorhelper/thorparse.hpp:28`) because regexes
    * cannot count nesting. Interpreted here by a memoized recursive-descent
    * (packrat) matcher over END-POSITION SETS: each (rule, position)
    * computes the set of ALL derivation ends, so ambiguity is carried
    * through rather than resolved greedily — the GLR property that matters
    * for PARSE's MAX/MIN/ALL selection. LEFT-RECURSIVE rules (the Tomita
    * engine's signature case, e.g. the Dragon-book `E := E '+' T | T` in
    * `testing/regress/ecl/parse.ecl`) are supported by seed-growing: a
    * re-entered rule returns its current seed set and the rule iterates to
    * the least fixpoint (monotone over position sets, so the chain is
    * increasing and bounded by text length).
    */
  sealed trait GPat
  final case class GLit(s: String) extends GPat
  /** Terminal regex, matched anchored & greedy at the current position. */
  final case class GTok(re: String) extends GPat
  final case class GSeq(ps: GPat*) extends GPat
  final case class GOr(ps: GPat*) extends GPat
  final case class GRep(p: GPat, min: Int, max: Int) extends GPat
  final case class GOpt(p: GPat) extends GPat
  /** USE/RULE reference by name — recursion (incl. mutual) happens here. */
  final case class GRef(name: String) extends GPat

  /** A named-rule grammar with a start symbol. */
  final case class Grammar(rules: Map[String, GPat], start: String) {
    require(rules.contains(start), s"start rule '$start' undefined")

    // ---- memo observability (r14): the whole-row memo is per-Grammar-
    // instance and per-task after closure deserialization, so plain
    // counters would be invisible to the driver on a cluster. Spark
    // accumulators are the engine's mechanism for exactly this: they ride
    // into task closures and merge driver-side on task completion. Opt-in
    // (withMemoMetrics) — an un-instrumented grammar pays nothing.
    private var memoHitAcc: Option[org.apache.spark.util.LongAccumulator] = None
    private var memoMissAcc: Option[org.apache.spark.util.LongAccumulator] = None

    /** Register hit/miss accumulators so the memo's effectiveness on a
      * production corpus is MEASURED, not assumed. Driver-side read via
      * [[memoStats]]; surfaced as workunit statistics through
      * `Workunits.addStatistic` (the reference publishes engine counters
      * the same way — Workunit.ecl:167 WorkunitStatistics). Standard
      * Spark accumulator semantics: updates from retried/speculative
      * tasks can over-count — these are engine metrics, not ledgers,
      * exactly like Spark's own SQL metrics.
      */
    def withMemoMetrics(spark: org.apache.spark.sql.SparkSession,
        label: String = "parse_memo"): this.type = {
      memoHitAcc = Some(spark.sparkContext.longAccumulator(s"$label.hits"))
      memoMissAcc = Some(spark.sparkContext.longAccumulator(s"$label.misses"))
      this
    }

    /** (hits, misses) merged across all tasks since instrumentation. */
    def memoStats: (Long, Long) = (
      memoHitAcc.map(_.value.longValue).getOrElse(0L),
      memoMissAcc.map(_.value.longValue).getOrElse(0L))

    // GTok regexes compile once per grammar instance, not once per matched
    // position (the matcher probes every position of every row)
    @transient private lazy val parseMemo =
      new ParseCache(memoHitAcc, memoMissAcc)

    @transient private lazy val tokRes =
      new ConcurrentHashMap[String, java.util.regex.Pattern]()
    private def tokRe(re: String): java.util.regex.Pattern =
      tokRes.computeIfAbsent(re, java.util.regex.Pattern.compile(_))

    /** Matcher working state: packrat memo, in-flight (growing) rule
      * expansions with their seed end-sets, and the set of in-flight seeds
      * the current computation has READ — a result that depended on a
      * still-growing seed is provisional and must not be memoized.
      *
      * The memo is IDENTITY-keyed (pattern node → position → end set):
      * grammar ASTs are fixed object graphs, and structural keys would
      * recompute a deep case-class hashCode on every probe — measurably
      * slow on the hot scan path. The two node shapes the matcher
      * synthesizes (GSeq tails and GRep rests during [[derive]]'s unroll)
      * are interned per Ctx so each logical subpattern is ONE object.
      */
    private final class Ctx {
      private val memo =
        new java.util.IdentityHashMap[GPat, java.util.HashMap[Int, Set[Int]]]()
      def memoGet(p: GPat, pos: Int): Set[Int] = {
        val m = memo.get(p)
        if (m == null) null else m.get(pos)
      }
      def memoPut(p: GPat, pos: Int, v: Set[Int]): Unit = {
        var m = memo.get(p)
        if (m == null) {
          m = new java.util.HashMap[Int, Set[Int]]()
          memo.put(p, m)
        }
        m.put(pos, v)
      }
      private val interned = new java.util.IdentityHashMap[GPat, GPat]()
      /** GSeq(q, rest…) → the interned GSeq(rest…). */
      def tailOf(s: GSeq): GPat = {
        var t = interned.get(s)
        if (t == null) { t = GSeq(s.ps.drop(1): _*); interned.put(s, t) }
        t
      }
      /** GRep(q, min, max) → the interned GRep(q, min-1, max-1). */
      def restOf(r: GRep): GPat = {
        var t = interned.get(r)
        if (t == null) {
          t = GRep(r.p, math.max(r.min - 1, 0), r.max - 1)
          interned.put(r, t)
        }
        t
      }
      val inFlight = collection.mutable.Set.empty[(String, Int)]
      val seeds = collection.mutable.Map.empty[(String, Int), Set[Int]]
      var readSeeds = Set.empty[(String, Int)]
      // cycle guard for derivation reconstruction (nullable left recursion
      // would otherwise re-derive the same (rule, span) forever)
      val deriving = collection.mutable.Set.empty[(String, Int, Int)]
      // negative memo for derive(): a (pattern, pos, target) that failed
      // without consulting an in-progress cycle is final (identity-keyed,
      // spans packed into one long). With the ends() viability gate, only
      // cycle-adjacent probes can fail at all; this keeps even those O(1).
      private val failed =
        new java.util.IdentityHashMap[GPat, java.util.HashSet[Long]]()
      private def span(pos: Int, target: Int): Long =
        (pos.toLong << 32) | (target.toLong & 0xffffffffL)
      def failedHas(p: GPat, pos: Int, target: Int): Boolean = {
        val s = failed.get(p)
        s != null && s.contains(span(pos, target))
      }
      def failedAdd(p: GPat, pos: Int, target: Int): Unit = {
        var s = failed.get(p)
        if (s == null) { s = new java.util.HashSet[Long](); failed.put(p, s) }
        s.add(span(pos, target))
      }
      var cycleHits = 0
      /** Composite-node memoization costs more than plain recursion on the
        * simple-grammar scan path; it only PAYS once [[derive]] starts
        * probing split viability. Scan-only matching (parseGrammar) never
        * flips this, so it keeps r8's zero-bookkeeping recursion.
        */
      var memoComposites = false
    }

    /** All possible end offsets of a match of `p` beginning at `pos`.
      * Packrat-memoized for EVERY composite node, not just rule bodies:
      * [[derive]] prunes its split search through these sets, so each
      * (pattern, position) must be O(1) after first computation or the
      * reconstruction inherits a per-probe recomputation factor. A result
      * computed while it READ some enclosing rule's still-growing seed is
      * provisional and is not memoized (same discipline as GRef).
      */
    private def ends(text: String, p: GPat, pos: Int, ctx: Ctx): Set[Int] =
      p match {
        case GLit(s) =>
          if (text.startsWith(s, pos)) Set(pos + s.length) else Set.empty
        case _: GRef => endsImpl(text, p, pos, ctx)
        case _ if !ctx.memoComposites => endsImpl(text, p, pos, ctx)
        case _ =>
          val cached = ctx.memoGet(p, pos)
          if (cached != null) cached
          else {
            val outerReads = ctx.readSeeds
            ctx.readSeeds = Set.empty
            val r = endsImpl(text, p, pos, ctx)
            val reads = ctx.readSeeds
            if (reads.isEmpty) ctx.memoPut(p, pos, r)
            ctx.readSeeds = outerReads ++ reads
            r
          }
      }

    private def endsImpl(text: String, p: GPat, pos: Int, ctx: Ctx): Set[Int] = {
      import ctx.{inFlight, seeds}
      p match {
      case GLit(s) =>
        if (text.startsWith(s, pos)) Set(pos + s.length) else Set.empty
      case GTok(re) =>
        val m = tokRe(re).matcher(text).region(pos, text.length)
        if (m.lookingAt()) Set(m.end()) else Set.empty
      case GSeq(ps @ _*) =>
        ps.foldLeft(Set(pos)) { (starts, q) =>
          starts.flatMap(s => ends(text, q, s, ctx))
        }
      case GOr(ps @ _*) =>
        ps.toSet.flatMap((q: GPat) => ends(text, q, pos, ctx))
      case GOpt(q) => ends(text, q, pos, ctx) + pos
      case GRep(q, min, max) =>
        // level(i) = positions reachable with exactly i reps. A nullable
        // inner pattern makes level sequences eventually stationary; on a
        // fixpoint every further count reaches the same set, so jump
        // straight to min and stop. The cap bounds pathological non-
        // monotone grammars: beyond it every additional rep revisits a
        // position set already accumulated.
        var level = Set(pos)
        var acc = if (min == 0) Set(pos) else Set.empty[Int]
        val cap = math.min(max.toLong, (text.length - pos).toLong + min + 1)
        var i = 0
        var done = false
        while (i < cap && level.nonEmpty && !done) {
          val next = level.flatMap(s => ends(text, q, s, ctx))
          i += 1
          if (next == level) { // stationary: counts min..max all reach `next`
            if (i < min) i = min
            done = true
          }
          if (i >= min) acc ++= next
          level = next
        }
        acc
      case GRef(name) =>
        val rule = rules.getOrElse(name,
          throw new IllegalArgumentException(s"undefined rule '$name'"))
        val key = (name, pos)
        Option(ctx.memoGet(rule, pos)) match {
          case Some(cached) => cached
          case None if inFlight.contains(key) =>
            // left-recursive re-entry: answer with the current seed — the
            // outer fixpoint loop below grows it until stationary — and
            // record the dependency so provisional results stay unmemoized
            ctx.readSeeds += key
            seeds.getOrElse(key, Set.empty)
          case None =>
            inFlight.add(key)
            val outerReads = ctx.readSeeds
            try {
              var seed = Set.empty[Int]
              var stable = false
              var lastReads = Set.empty[(String, Int)]
              while (!stable) {
                seeds(key) = seed
                ctx.readSeeds = Set.empty
                val r = ends(text, rule, pos, ctx)
                lastReads = ctx.readSeeds
                if (r == seed) stable = true else seed = r
              }
              // our own converged seed is no longer provisional; memoize
              // unless the result read some ENCLOSING rule's growing seed
              val foreign = lastReads - key
              if (foreign.isEmpty) ctx.memoPut(rule, pos, seed)
              ctx.readSeeds = outerReads ++ foreign
              seed
            } finally { inFlight.remove(key); seeds.remove(key) }
        }
      }
    }

    /** All derivation end offsets of the start rule at `pos` (fresh memo —
      * the ambiguity set itself, for callers doing their own selection).
      */
    def matchEnds(text: String, pos: Int = 0): Set[Int] =
      DeepStack { ends(text, GRef(start), pos, new Ctx) }

    /** SCAN-mode match texts: at each position try the start rule; on a
      * match apply the selection mode (PARSE's MAX/MIN/ALL keywords —
      * `getMatchAction` flags in `IHThorParseArg`) and resume after the
      * longest emitted derivation.
      */
    def scan(text: String, mode: MatchMode = MatchMax): Vector[String] =
      if (text == null) Vector.empty
      else parseMemo.cached(mode, text) {
        DeepStack.forText(text) { scanImpl(text, mode) }
      }

    private def scanImpl(text: String, mode: MatchMode): Vector[String] = {
      val ctx = new Ctx
      val out = Vector.newBuilder[String]
      var pos = 0
      while (pos < text.length) {
        val es = ends(text, GRef(start), pos, ctx).filter(_ > pos)
        if (es.isEmpty) pos += 1
        else {
          mode match {
            case MatchMax => out += text.substring(pos, es.max)
            case MatchMin => out += text.substring(pos, es.min)
            case MatchAll =>
              es.toVector.sorted.foreach(e => out += text.substring(pos, e))
          }
          // resume past the longest even in MIN mode — the reference's
          // SCAN advances beyond the matched region, and restarting inside
          // the longest derivation would re-emit its sub-derivations
          pos = es.max
        }
      }
      out.result()
    }

    /** Reconstruct ONE derivation of `p` over [pos, target): the spans of
      * every GRef fired along it, deterministically biased to the first
      * alternative and the longest prefix split (the MAX discipline).
      * Returns None when no derivation reaches `target` — callers pass a
      * target from [[ends]], so None only happens for sub-splits probed
      * during search. This is the MATCHED()/MATCHTEXT(rule) machinery:
      * the reference's parse trees (`getParseTree`) carry the same
      * (rule, start, end) information.
      */
    private def derive(text: String, p: GPat, pos: Int, target: Int,
        ctx: Ctx): Option[List[(String, Int, Int)]] = {
      // viability gate: reconstruction never descends a span the memoized
      // ends() table rules out — this is what keeps derive() polynomial on
      // ambiguous grammars (the split search below only proposes mids that
      // pass this same gate, so non-cycle failures cannot occur at all)
      ctx.memoComposites = true
      if (!ends(text, p, pos, ctx).contains(target)) return None
      if (ctx.failedHas(p, pos, target)) return None
      val hits0 = ctx.cycleHits
      val r = deriveImpl(text, p, pos, target, ctx)
      // only a failure that never consulted an in-progress cycle is final
      if (r.isEmpty && ctx.cycleHits == hits0) ctx.failedAdd(p, pos, target)
      r
    }

    private def deriveImpl(text: String, p: GPat, pos: Int, target: Int,
        ctx: Ctx): Option[List[(String, Int, Int)]] = p match {
      case GLit(s) =>
        if (target == pos + s.length && text.startsWith(s, pos)) Some(Nil)
        else None
      case GTok(re) =>
        val m = tokRe(re).matcher(text).region(pos, text.length)
        if (m.lookingAt() && m.end() == target) Some(Nil) else None
      case s @ GSeq(ps @ _*) =>
        if (ps.isEmpty) { if (target == pos) Some(Nil) else None }
        else {
          // longest-first split keeps reconstruction aligned with MAX;
          // a mid is proposed only when BOTH halves' memoized end-sets
          // admit it, so the recursion below cannot fail except through
          // a derivation cycle (nullable left recursion)
          val q = ps.head
          val restP = ctx.tailOf(s)
          ends(text, q, pos, ctx)
            .filter(m => m <= target &&
              ends(text, restP, m, ctx).contains(target))
            .toList.sorted.reverse
            .iterator.flatMap { mid =>
              for {
                a <- derive(text, q, pos, mid, ctx)
                b <- derive(text, restP, mid, target, ctx)
              } yield a ++ b
            }.nextOption()
        }
      case GOr(ps @ _*) =>
        ps.iterator.flatMap(q => derive(text, q, pos, target, ctx))
          .nextOption()
      case GOpt(q) =>
        if (target == pos) Some(Nil) else derive(text, q, pos, target, ctx)
      case r @ GRep(q, min, max) =>
        // unroll: zero reps only if allowed and target==pos; else one rep
        // then the remainder with min-1
        val zero = if (min <= 0 && target == pos) Some(Nil) else None
        zero.orElse {
          if (max <= 0) None
          else {
            val restP = ctx.restOf(r)
            ends(text, q, pos, ctx)
              // zero-width first rep makes no progress — skip it; any end
              // position it reaches is reachable without it
              .filter(m => m > pos && m <= target &&
                ends(text, restP, m, ctx).contains(target))
              .toList.sorted.reverse.iterator.flatMap { mid =>
                for {
                  a <- derive(text, q, pos, mid, ctx)
                  b <- derive(text, restP, mid, target, ctx)
                } yield a ++ b
              }.nextOption()
          }
        }
      case GRef(name) =>
        val rule = rules(name)
        val key = (name, pos, target)
        if (ctx.deriving.contains(key)) { ctx.cycleHits += 1; None }
        else if (!ends(text, GRef(name), pos, ctx).contains(target)) None
        else {
          ctx.deriving.add(key)
          try derive(text, rule, pos, target, ctx)
            .map((name, pos, target) :: _)
          finally ctx.deriving.remove(key)
        }
    }

    /** MATCHTEXT(rule): for each scan match (mode semantics as [[scan]]),
      * the matched text plus the FIRST-fired span of each requested rule
      * in the reconstructed derivation ('' when the rule did not fire —
      * the reference's MATCHED()=false / MATCHTEXT()='' contract).
      */
    def scanExtract(text: String, ruleNames: Seq[String],
        mode: MatchMode = MatchMax): Vector[(String, Map[String, String])] =
      if (text == null) Vector.empty
      else parseMemo.cached((ruleNames, mode), text) {
        DeepStack.forText(text) { scanExtractImpl(text, ruleNames, mode) }
      }

    private def scanExtractImpl(text: String, ruleNames: Seq[String],
        mode: MatchMode): Vector[(String, Map[String, String])] = {
      val ctx = new Ctx
      val out = Vector.newBuilder[(String, Map[String, String])]
      def emit(pos: Int, end: Int): Unit = {
        val spans = derive(text, GRef(start), pos, end, ctx).getOrElse(Nil)
        val byRule = ruleNames.map { r =>
          r -> spans.find(_._1 == r)
            .map { case (_, s, e) => text.substring(s, e) }.getOrElse("")
        }.toMap
        out += text.substring(pos, end) -> byRule
      }
      var pos = 0
      while (pos < text.length) {
        val es = ends(text, GRef(start), pos, ctx).filter(_ > pos)
        if (es.isEmpty) pos += 1
        else {
          mode match {
            case MatchMax => emit(pos, es.max)
            case MatchMin => emit(pos, es.min)
            case MatchAll => es.toVector.sorted.foreach(e => emit(pos, e))
          }
          pos = es.max
        }
      }
      out.result()
    }
  }

  /** Ambiguity-selection modes: PARSE(..., MAX) keeps the longest
    * derivation per position, MIN the shortest, ALL every derivation.
    */
  sealed trait MatchMode
  case object MatchMax extends MatchMode
  case object MatchMin extends MatchMode
  case object MatchAll extends MatchMode

  /** PARSE with a recursive grammar: one row per match of the start rule,
    * matched text in `as`. The per-row matcher runs as a scalar UDF —
    * partition-parallel, no shuffle; the explode is the only plan change.
    */
  def parseGrammar(df: DataFrame, field: Column, g: Grammar, as: String,
      mode: MatchMode = MatchMax): DataFrame = {
    val fn = udf((s: String) => g.scan(s, mode))
    df.withColumn(as, explode(fn(field)))
  }

  /** PARSE with per-rule MATCHTEXT capture: one row per match carrying the
    * match text in `as` plus one column per entry of `ruleCols`
    * (rule name → output column) holding that rule's first-fired span
    * ('' when it did not fire). Same UDF+explode lowering as
    * [[parseGrammar]].
    */
  def parseGrammarExtract(df: DataFrame, field: Column, g: Grammar,
      as: String, ruleCols: Map[String, String],
      mode: MatchMode = MatchMax): DataFrame = {
    val ruleNames = ruleCols.keys.toSeq.sorted
    val fn = udf { (s: String) =>
      g.scanExtract(s, ruleNames, mode)
        .map { case (m, by) => m +: ruleNames.map(by) }
    }
    val exploded = df.withColumn("__match", explode(fn(field)))
    val withCols = ruleNames.zipWithIndex.foldLeft(
      exploded.withColumn(as, col("__match").getItem(0))) {
      case (d, (r, i)) =>
        d.withColumn(ruleCols(r), col("__match").getItem(i + 1))
    }
    withCols.drop("__match")
  }
}
