package graft

import graft.model.GraftFrame
import graft.sources.{KeyDiff, Soapcall}
import graft.text.Parse
import org.apache.spark.sql.functions._

/** Grouped-dataset model, KEYDIFF/KEYPATCH, PARSE combinators, SOAPCALL. */
class ModelSpec extends SparkSpec {
  import spark.implicits._

  test("GraftFrame: the same op means global vs per-group by plan state") {
    val df = Seq((1, 10), (1, 20), (1, 30), (2, 5), (2, 50)).toDF("g", "v")
    // ungrouped TOPN: global top-2
    val globalTop = GraftFrame(df).topn(2, col("v").desc).df
      .select(col("v")).as[Int].collect().toSet
    assert(globalTop == Set(50, 30))
    // grouped TOPN: top-2 per group
    val groupedTop = GraftFrame(df).group("g").topn(2, col("v").desc).df
      .select(col("g"), col("v")).as[(Int, Int)].collect().toSet
    assert(groupedTop == Set((1, 30), (1, 20), (2, 50), (2, 5)))
    // grouped aggregate vs global aggregate
    val gAgg = GraftFrame(df).group("g").aggregate(sum(col("v")).as("s")).df
      .as[(Int, Long)].collect().toSet
    assert(gAgg == Set((1, 60L), (2, 55L)))
    val total = GraftFrame(df).aggregate(sum(col("v")).as("s")).df
      .as[Long].head()
    assert(total == 115L)
  }

  test("GraftFrame: SORTED metadata elides redundant sorts; ASSERT checks") {
    val df = Seq((3, "c"), (1, "a"), (2, "b")).toDF("k", "s")
    // declared-sorted + compatible sort → elided (identical plan object)
    val declared = GraftFrame(df).markSorted("k", "s")
    assert(declared.sort(col("k")).df eq df)
    assert(declared.sort(col("k"), col("s")).df eq df)
    // incompatible key → real sort
    assert(!(declared.sort(col("s")).df eq df))
    // a real sort records its order, so sort-sort collapses
    val once = GraftFrame(df).sort(col("k"))
    assert(once.sort(col("k")).df eq once.df)
    // runtime ASSERT(SORTED): passes on ordered layout, throws on violation
    val ordered = df.orderBy("k")
    GraftFrame(ordered).checkSorted("k") // must not throw
    val bad = Seq(2, 1, 3).toDF("k").coalesce(1)
    intercept[IllegalStateException] {
      GraftFrame(bad).checkSorted("k")
    }
  }

  test("GraftFrame: ungrouped runningSum is an exact global prefix sum") {
    val df = spark.range(1, 101).toDF("v").repartition(4)
    val out = GraftFrame(df).runningSum(col("v"), Seq(col("v")), "rs").df
    val got = out.orderBy("v").collect().map(_.getLong(1)).toSeq
    assert(got == (1 to 100).map(n => n.toLong * (n + 1) / 2))
    // decimal accumulation widens precision and stays exact
    val dec = Seq("0.1", "0.2", "0.3").toDF("s")
      .select(col("s").cast("decimal(10,1)").as("d")).repartition(2)
    val drs = GraftFrame(dec).runningSum(col("d"), Seq(col("d")), "rs").df
    assert(drs.orderBy("d").collect().map(_.getDecimal(1).toPlainString).toSeq
      == Seq("0.1", "0.3", "0.6"))
  }

  test("GraftFrame: a decimal running sum past its widened precision fails, " +
      "never reads null") {
    val big = Seq("9" * 38, "9" * 38).toDF("s")
      .select(col("s").cast("decimal(38,0)").as("d")).repartition(2)
    val e = intercept[Exception] {
      GraftFrame(big).runningSum(col("d"), Seq(col("d")), "rs").df.collect()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(c => String.valueOf(c.getMessage)).toSeq
    assert(causes.exists(_.contains("NUMERIC_VALUE_OUT_OF_RANGE")),
      causes.mkString("\n"))
  }

  test("GraftFrame: regroup requires matching keys and unions groups") {
    val a = GraftFrame(Seq((1, 1)).toDF("g", "v")).group("g")
    val b = GraftFrame(Seq((1, 2)).toDF("g", "v")).group("g")
    assert(a.regroup(b).df.count() == 2)
    intercept[IllegalArgumentException] {
      a.regroup(GraftFrame(Seq((1, 2)).toDF("g", "v")).group("v"))
    }
  }

  test("KeyDiff.diff labels I/D/U and patch reproduces the new table") {
    val old = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val neu = Seq((2, "b"), (3, "C"), (4, "d")).toDF("k", "v")
    val delta = KeyDiff.diff(old, neu, Seq("k"))
    val ops = delta.select(col("k"), col("__op")).as[(Int, String)]
      .collect().toSet
    assert(ops == Set((1, "D"), (3, "U"), (4, "I")))
    val patched = KeyDiff.patch(old, delta, Seq("k"))
      .as[(Int, String)].collect().toSet
    assert(patched == neu.as[(Int, String)].collect().toSet)
  }

  test("Parse combinators compose to regex and emit a row per match") {
    val df = Seq((1, "call 555-1234 or 555-9876 now")).toDF("id", "t")
    val phone = Parse.Seq2(Parse.Re("[0-9]{3}"), Parse.Lit("-"),
      Parse.Re("[0-9]{4}"))
    val out = Parse.parse(df, col("t"), phone, "m")
      .select(col("m")).as[String].collect().toSet
    assert(out == Set("555-1234", "555-9876"))
    val opt = Parse.Or(Parse.Lit("call"), Parse.Lit("now"))
    assert(Parse.parse(df, col("t"), opt, "m").count() == 2)
  }

  test("parseGrammar: recursive rules count nesting that regex cannot") {
    import graft.text.Parse._
    val balanced = Grammar(Map(
      "expr" -> GOr(GSeq(GLit("("), GRef("expr"), GLit(")")),
        GTok("[a-z ]+"))), "expr")
    assert(balanced.scan("((abc))") == Vector("((abc))"))
    // unbalanced tail: longest balanced prefix wins, scan resumes after
    assert(balanced.scan("((abc)") == Vector("(abc)"))
    assert(balanced.scan("(a)(bb)") == Vector("(a)", "(bb)"))
    // mutual recursion
    val mutual = Grammar(Map(
      "a" -> GOr(GSeq(GLit("x"), GRef("b")), GLit("x")),
      "b" -> GSeq(GLit("y"), GRef("a"))), "a")
    assert(mutual.scan("xyxyx") == Vector("xyxyx"))
    // ambiguity surfaced with MatchAll
    val amb = Grammar(Map(
      "t" -> GOr(GTok("[ab]"), GTok("[ab]{2}"))), "t")
    assert(amb.scan("ab", MatchAll) == Vector("a", "ab"))
    // bounded repetition through alternative-length tokens
    val rep = Grammar(Map(
      "r" -> GRep(GOr(GLit("aa"), GLit("a")), 3, 3)), "r")
    assert(rep.scan("aaa") == Vector("aaa"))
    // LEFT recursion: seed-growing reaches the fixpoint (no infinite loop)
    val leftRec = Grammar(Map(
      "l" -> GOr(GSeq(GRef("l"), GLit("a")), GLit("a"))), "l")
    assert(leftRec.scan("aaa") == Vector("aaa"))
    assert(leftRec.matchEnds("aaa") == Set(1, 2, 3)) // every derivation
    // ambiguous reconstruction over a long span: S → S S | x⁴ | x⁷ has
    // exponentially many derivations of 400 chars — derive() stays
    // polynomial because every split is pre-gated through the memoized
    // ends() sets (both halves must admit it), so reconstruction never
    // descends a subproblem that cannot reach its target
    val frob = Grammar(Map(
      "s" -> GOr(GSeq(GRef("s"), GRef("s")), GLit("x" * 4), GLit("x" * 7))),
      "s")
    val hits = frob.scanExtract("x" * 400, Seq("s"))
    assert(hits.size == 1 && hits.head._1.length == 400)
    // DataFrame lowering: one row per match, other columns ride along
    val df = Seq((1, "(a)(bb)")).toDF("id", "t")
    val out = graft.text.Parse.parseGrammar(df, col("t"), balanced, "m")
    assert(out.select("id", "m").as[(Int, String)].collect().toSeq ==
      Seq((1, "(a)"), (1, "(bb)")))
  }

  test("Dragon expression grammar: left recursion + MAX/MIN/ALL selection") {
    import graft.text.Parse._
    // testing/regress/ecl/parse.ecl: E := E '+' T | T; T := T '*' F | F;
    // F := '(' E ')' | id — left-recursive AND ambiguous in match length;
    // no regex can parse it (unbounded nesting + left recursion)
    val g = Grammar(Map(
      "E" -> GOr(GSeq(GRef("E"), GLit("+"), GRef("T")), GRef("T")),
      "T" -> GOr(GSeq(GRef("T"), GLit("*"), GRef("F")), GRef("F")),
      "F" -> GOr(GSeq(GLit("("), GRef("E"), GLit(")")),
        GTok("[a-z]+"))), "E")
    assert(g.scan("abc*def+ghi") == Vector("abc*def+ghi")) // MAX default
    assert(g.scan("abc*def+ghi", MatchMin) == Vector("abc"))
    assert(g.scan("a+b*c", MatchAll) == Vector("a", "a+b", "a+b*c"))
    assert(g.scan("(a+b)*(c+d)") == Vector("(a+b)*(c+d)"))
    // nesting + left recursion together
    assert(g.scan("((a+b))*c+d") == Vector("((a+b))*c+d"))
    assert(g.matchEnds("a+b*c") == Set(1, 3, 5))
  }

  test("parse-result memo: mode/rule-set keyed (no cross-mode collisions), " +
      "long texts bypass, repeated calls stay correct") {
    import graft.text.Parse._
    val g = Grammar(Map(
      "E" -> GOr(GSeq(GRef("E"), GLit("+"), GRef("T")), GRef("T")),
      "T" -> GTok("[a-z]+")), "E")
    // same text under different modes must NOT collide in the cache
    (1 to 3).foreach { _ =>
      assert(g.scan("a+b+c") == Vector("a+b+c"))
      assert(g.scan("a+b+c", MatchMin) == Vector("a"))
      assert(g.scan("a+b+c", MatchAll) == Vector("a", "a+b", "a+b+c"))
    }
    // scanExtract keyed separately per rule set
    val x1 = g.scanExtract("a+b", Seq("T"))
    val x2 = g.scanExtract("a+b", Seq("E"))
    assert(x1.head._2.keySet == Set("T") && x2.head._2.keySet == Set("E"))
    // a text past the cache's length bound still parses (bypass path)
    val long = ("a+" * 400) + "a" // 801 chars > MaxTextLen, > InlineMax
    assert(g.scan(long, MatchMin) == Vector("a"))
    assert(g.scan(long).head == long)
  }

  test("memo observability: accumulator-merged hit/miss counters over a " +
      "repeated-value corpus, surfaced through workunit statistics") {
    import graft.text.Parse._
    import org.apache.spark.sql.functions.{col, expr}
    val g = Grammar(Map(
      "E" -> GOr(GSeq(GRef("E"), GLit("+"), GRef("T")), GRef("T")),
      "T" -> GTok("[a-z]+")), "E").withMemoMetrics(spark, "memo_spec")
    // categorical corpus: 400 rows, 4 distinct texts, 8 partitions — each
    // task's memo pays ≤4 misses, so hits dominate and the rate is
    // MEASURED from task-side accumulators, not assumed
    val df = spark.range(0, 400, 1, 8).select(expr(
      "element_at(array('a+b','c+d','e+f','g+h'), " +
        "cast(id % 4 + 1 as int))").as("t"))
    val wu = new graft.serve.Workunits(spark)
    val wuid = wu.record("parse_memo_job") {
      parseGrammar(df, col("t"), g, "m")
    }
    val (hits, misses) = g.memoStats
    assert(hits + misses == 400,
      s"every row probes the memo once: hits=$hits misses=$misses")
    assert(misses <= 8 * 4 && hits >= 400 - 8 * 4,
      s"per-task misses bounded by distinct texts: hits=$hits misses=$misses")
    // production surface: the counters publish as workunit statistics
    assert(wu.addStatistic(wuid, "parse", "memo_hits", hits))
    assert(wu.addStatistic(wuid, "parse", "memo_misses", misses))
    val stats = wu.workunitStatistics(wuid, "memo_*")
      .select(col("statistic"), col("value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats == Map("memo_hits" -> hits, "memo_misses" -> misses))
  }

  test("scanExtract: MATCHTEXT(rule) spans from the winning derivation") {
    import graft.text.Parse._
    val g = Grammar(Map(
      "E" -> GOr(GSeq(GRef("E"), GLit("+"), GRef("T")), GRef("T")),
      "T" -> GOr(GSeq(GRef("T"), GLit("*"), GRef("F")), GRef("F")),
      "F" -> GOr(GSeq(GLit("("), GRef("E"), GLit(")")),
        GTok("[a-z]+"))), "E")
    // first-fired spans: E covers the whole match; the first F under MAX
    // reconstruction is the leftmost id
    val Vector((m, by)) = g.scanExtract("ab*cd+ef", Seq("E", "T", "F"))
    assert(m == "ab*cd+ef")
    assert(by("E") == "ab*cd+ef")
    assert(by("T") == "ab*cd") // leftmost T of the top-level E+T split
    assert(by("F") == "ab")
    // a rule that never fires reports '' (MATCHED()=false contract); a
    // simple id derives through T and F but never the E+T or T*F branches
    val Vector((_, by2)) = g.scanExtract("xy", Seq("F", "T"))
    assert(by2("F") == "xy" && by2("T") == "xy")
    // parse2.ecl shape: terms separated by , or ; — extract the words rule
    val terms = Grammar(Map(
      "term" -> GSeq(GRef("words"), GTok("[,;]")),
      "words" -> GTok("[^,;]+")), "term")
    val got = terms.scanExtract("abc,def;", Seq("words", "absent"))
    assert(got.map(_._2("words")) == Vector("abc", "def"))
    // a rule that never fires reports '' (MATCHED()=false contract)
    assert(got.forall(_._2("absent") == ""))
    // DataFrame lowering: match + rule columns ride along
    val df = Seq((7, "a+b")).toDF("id", "t")
    val out = parseGrammarExtract(df, col("t"), g, "m",
      Map("F" -> "first_f"))
      .select("id", "m", "first_f").as[(Int, String, String)]
      .collect().toSeq
    assert(out == Seq((7, "a+b", "a")))
  }

  test("Soapcall retries transient failures and preserves row order fields") {
    val df = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "payload")
    // transport fails on first attempt per payload, succeeds on retry
    val out = Soapcall.callPerRow(df,
      Soapcall.Config("stub://", parallelism = 2, retries = 2),
      "payload", "resp") { (_, p) =>
      // deterministic per-JVM-static failure injection
      if (SoapFailOnce.shouldFail(p)) throw new RuntimeException("transient")
      p.toUpperCase
    }
    val got = out.select(col("id"), col("resp")).as[(Long, String)]
      .collect().toSet
    assert(got == Set((1L, "X"), (2L, "Y"), (3L, "Z")))
  }
}

/** Executor-side failure injector: fails exactly once per payload. */
object SoapFailOnce {
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def shouldFail(p: String): Boolean = seen.add(p)
}
