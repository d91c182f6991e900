package graft

import graft.analysis.DataPatterns
import org.apache.spark.sql.Row

/** Std.DataPatterns semantics (ref `ecllibrary/std/DataPatterns/Profile.ecl`
  * docs): fill/nil contract, exact cardinality, modes (>1 occurrence, top
  * 5), low-cardinality breakdown, palette patterns, best-type inference,
  * numeric stats, Benford first-digit distribution.
  */
class DataPatternsSpec extends SparkSpec {
  import spark.implicits._

  test("Validate.report: null FKs are not RI violations; unique counts " +
      "rows beyond the first per key; predicate nulls count as ok") {
    import graft.analysis.Validate
    val dim = Seq(1, 2).toDF("id")
    val df = Seq(
      (Some(1), Some(5.0)), (Some(1), None), (Some(9), Some(20.0)),
      (None, Some(5.0)), (Some(2), Some(5.0)), (Some(1), Some(5.0))
    ).toDF("fk", "v")
    val got = Validate.report(df, Seq(
        Validate.notNull("fk"),
        Validate.inRange("v", 0.0, 10.0),
        Validate.unique("fk"),
        Validate.refIntegrity("fk", dim, "id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("not_null:fk") == 1)     // one null fk row
    // v=20 violates; the NULL v row does NOT count (predicate null ≠ false
    // violation — same semantics as SQL WHERE NOT(...))
    assert(got("in_range:v") == 1)
    // fk=1 appears 3× (2 extra); others unique → 2
    assert(got("unique:fk") == 2)
    // fk=9 misses the dim; the null fk is excluded from RI by contract
    assert(got("ref:fk->id") == 1)
  }

  test("Validate.report: rule names with quotes round-trip verbatim " +
      "(typed unpivot, no SQL string quoting)") {
    import graft.analysis.Validate
    import org.apache.spark.sql.functions.col
    val df = Seq(1, 2, 3).toDF("v")
    val name = "it's o'clock \"quoted\" rule"
    val got = Validate.report(df,
        Seq(Validate.satisfies(name, col("v") < 3)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got(name) == 1) // v=3 violates; the name survives untouched
  }
  import spark.implicits._

  private lazy val df = Seq(
    (1, "Alpha", "red", 10.0, true),
    (2, "Beta9", "red", 20.0, false),
    (3, "Gamma", "blue", 30.0, true),
    (4, "", "red", 0.0, true),       // empty string + zero are nil
    (5, "Alpha", "blue", 50.0, false)
  ).toDF("id", "name", "color", "score", "flag")

  private lazy val prof = DataPatterns.profile(df).collect()
    .map(r => r.getAs[String]("attribute") -> r).toMap

  test("profile pass 1 keeps the declarative aggregate in codegen: the " +
      "regex/cast work runs in HashAggregate, ObjectHashAggregate carries " +
      "only the percentile/HLL sketches (r20, guide §4)") {
    import org.apache.spark.sql.catalyst.expressions.RLike
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec}
    val plans =
      new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // every node of the plan, through AQE's query stages
    object Nodes extends AdaptiveSparkPlanHelper {
      def apply(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case p => p }
    }
    def evidence(a: BaseAggregateExec): Boolean =
      a.resultExpressions.exists(_.name.startsWith("allint__"))
    spark.listenerManager.register(listener)
    try {
      DataPatterns.profile(df).count()
      // execution-listener events post asynchronously; wait for the pass-1
      // action (the one carrying the best-type evidence columns) to land
      val deadline = System.nanoTime() + 10_000_000_000L
      def pass1: Option[Seq[SparkPlan]] = {
        val it = plans.iterator()
        var found: Option[Seq[SparkPlan]] = None
        while (it.hasNext && found.isEmpty) {
          val nodes = Nodes(it.next())
          if (nodes.exists { case a: BaseAggregateExec => evidence(a); case _ => false })
            found = Some(nodes)
        }
        found
      }
      var p1 = pass1
      while (p1.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100); p1 = pass1
      }
      assert(p1.nonEmpty, "no executed plan contains the pass-1 aggregate")
      val nodes = p1.get
      def plan = nodes.headOption.map(_.treeString).getOrElse("")
      // ONE TypedImperative agg forces the whole operator onto interpreted
      // ObjectHashAggregate, so the split is load-bearing: the declarative
      // side (rlike/try_cast per input row) must be a codegen'd
      // HashAggregate...
      def stage(p: SparkPlan): Seq[SparkPlan] =
        p +: (p match {
          case _: InputAdapter => Nil
          case _ => p.children.flatMap(stage)
        })
      val codegened = nodes.collect { case w: WholeStageCodegenExec => w }
        .flatMap(w => stage(w.child))
      assert(codegened.exists { case h: HashAggregateExec => evidence(h); case _ => false },
        s"pass-1 declarative aggregate not codegen'd:\n$plan")
      // ...and no ObjectHashAggregate node may carry the per-row regex work
      // (sketches only — percentile_approx / approx_count_distinct)
      val objAggs = nodes.collect { case o: ObjectHashAggregateExec => o }
      assert(objAggs.nonEmpty, s"sketch aggregate missing:\n$plan")
      assert(!objAggs.exists(o => evidence(o) ||
          o.expressions.exists(_.exists(_.isInstanceOf[RLike]))),
        s"regex work leaked into ObjectHashAggregate:\n$plan")
    } finally spark.listenerManager.unregister(listener)
  }

  test("fill contract: empty string and zero are nil, booleans always filled") {
    assert(prof("id").getAs[Long]("fill_count") == 5)
    assert(prof("name").getAs[Long]("fill_count") == 4)
    assert(prof("score").getAs[Long]("fill_count") == 4)
    assert(prof("flag").getAs[Long]("fill_count") == 5)
    assert(prof("name").getAs[Double]("fill_rate") == 80.0)
    assert(prof("id").getAs[Long]("rec_count") == 5)
  }

  test("cardinality is exact over non-nil values; breakdown under limit") {
    assert(prof("color").getAs[Long]("cardinality") == 2)
    assert(prof("name").getAs[Long]("cardinality") == 3) // Alpha dup, '' nil
    val bd = prof("color").getSeq[Row](prof("color").fieldIndex("cardinality_breakdown"))
    assert(bd.map(r => (r.getString(0), r.getLong(1))).toList ==
      List(("red", 3L), ("blue", 2L)))
  }

  test("modes: only values occurring more than once, most frequent first") {
    val m = prof("color").getSeq[Row](prof("color").fieldIndex("modes"))
    assert(m.map(r => (r.getString(0), r.getLong(1))).toList ==
      List(("red", 3L), ("blue", 2L)))
    val mn = prof("name").getSeq[Row](prof("name").fieldIndex("modes"))
    assert(mn.map(_.getString(0)).toList == List("Alpha"))
    // id values are unique -> no mode
    assert(prof("id").getSeq[Row](prof("id").fieldIndex("modes")).isEmpty)
  }

  test("patterns use the A/a/9/B palette with deterministic examples") {
    val pp = prof("name").getSeq[Row](prof("name").fieldIndex("popular_patterns"))
    assert(pp.head.getString(0) == "Aaaaa") // 3 of Alpha/Gamma/Alpha
    assert(pp.head.getLong(1) == 3)
    assert(pp.map(_.getString(0)).contains("Aaaa9"))
    val fp = prof("flag").getSeq[Row](prof("flag").fieldIndex("popular_patterns"))
    assert(fp.map(_.getString(0)).toList == List("B"))
  }

  test("best-type inference: given numerics kept, strings evidence-driven") {
    // numeric/boolean GIVEN types pass through (Profile.ecl:1008 MAP)
    assert(prof("id").getAs[String]("best_attribute_type") == "integer4")
    assert(prof("flag").getAs[String]("best_attribute_type") == "boolean")
    assert(prof("name").getAs[String]("best_attribute_type") == "string5")
    assert(prof("score").getAs[String]("best_attribute_type") == "real8")
    assert(prof("id").getAs[String]("given_attribute_type") == "integer4")
  }

  test("BestRecordStructure: tightest RECORD + coercing TRANSFORM, reference emission") {
    val in = Seq(("12", "-3", "true", "1.5", "abc"),
      ("345", "7", "false", "2.25", "defgh"),
      ("6", "-89", "true", "0.75", "ij")).toDF("u", "i", "b", "f", "t")
    val plain = DataPatterns.bestRecordStructure(in)
      .orderBy("idx").collect().map(_.getString(1)).toSeq
    assert(plain == Seq(
      "NewLayout := RECORD",
      "    UNSIGNED2 u;", "    INTEGER1 i;", "    BOOLEAN b;",
      "    REAL8 f;", "    STRING5 t;",
      "END;"))
    val withTf = DataPatterns.bestRecordStructure(in, emitTransform = true)
      .orderBy("idx").collect().map(_.getString(1)).toSeq
    // the TRANSFORM coerces exactly the fields whose generic type class
    // changed (string→numeric/boolean); t stays string, so no assignment
    assert(withTf.contains("NewLayout Make_NewLayout(OldLayout r) := TRANSFORM"))
    assert(withTf.contains("    SELF.u := (UNSIGNED2)r.u;"))
    assert(withTf.contains("    SELF.b := (BOOLEAN)r.b;"))
    assert(!withTf.exists(_.contains("SELF.t :=")))
    assert(withTf.takeRight(2) == Seq("oldDS := DATASET([], OldLayout);",
      "newDS := PROJECT(oldDS, Make_NewLayout(LEFT));"))
    // given non-string types pass through the emission unchanged
    val given = DataPatterns.bestRecordStructure(df)
      .orderBy("idx").collect().map(_.getString(1)).toSeq
    assert(given.contains("    INTEGER4 id;"))
    assert(given.contains("    BOOLEAN flag;"))
  }

  test("bestStructType maps evidence to the tightest containing Spark types") {
    import org.apache.spark.sql.types._
    val in = Seq(("12", "-3", "true", "1.5", "abc"),
      ("345", "7", "false", "2.25", "defgh"),
      ("6", "-89", "true", "0.75", "ij")).toDF("u", "i", "b", "f", "t")
    val st = DataPatterns.bestStructType(in)
    assert(st("u").dataType == IntegerType) // unsigned2 needs the next signed size
    assert(st("i").dataType == ByteType)
    assert(st("b").dataType == BooleanType)
    assert(st("f").dataType == DoubleType)
    assert(st("t").dataType == StringType)
    // the tightened schema actually reads the data back
    val casted = in.select(st.fields.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType)): _*)
    assert(casted.schema == st)
    assert(casted.count() == 3)
  }

  test("numeric stats ignore nils and zero-out non-numerics") {
    assert(prof("score").getAs[Boolean]("is_numeric"))
    assert(prof("score").getAs[Double]("numeric_min") == 10.0)
    assert(prof("score").getAs[Double]("numeric_max") == 50.0)
    assert(prof("score").getAs[Double]("numeric_mean") == 27.5)
    assert(!prof("color").getAs[Boolean]("is_numeric"))
    assert(prof("color").getAs[Double]("numeric_max") == 0.0)
  }

  test("correlations: numeric pairs, symmetric, descending") {
    val c = prof("id").getSeq[Row](prof("id").fieldIndex("correlations"))
    assert(c.map(_.getString(0)).toSet == Set("score"))
    val cs = prof("score").getSeq[Row](prof("score").fieldIndex("correlations"))
    assert(cs.map(_.getString(0)).toSet == Set("id"))
  }

  test("exactCardLimit gate: high-card attrs report approx card, skip modes") {
    // id (5 distinct) exceeds a limit of 3 → approx cardinality path;
    // color (2 distinct) stays exact with modes intact
    val p = DataPatterns.profile(df, exactCardLimit = 3L).collect()
      .map(r => r.getAs[String]("attribute") -> r).toMap
    // HLL at tiny n is exact in practice; the contract is ±~2%
    val idCard = p("id").getAs[Long]("cardinality")
    assert(idCard >= 4 && idCard <= 6)
    assert(p("id").getSeq[Row](p("id").fieldIndex("modes")).isEmpty)
    // the gate is announced, not inferred: sketched vs exact is explicit
    assert(p("id").getAs[Boolean]("cardinality_is_approx"))
    assert(!p("color").getAs[Boolean]("cardinality_is_approx"))
    assert(p("color").getAs[Long]("cardinality") == 2)
    assert(p("color").getSeq[Row](p("color").fieldIndex("modes")).nonEmpty)
    // patterns still computed for gated attributes (raw-melt path)
    assert(p("id").getSeq[Row](p("id").fieldIndex("popular_patterns")).nonEmpty)
    // best-type evidence unaffected by the gate (pass-1 sourced)
    assert(p("id").getAs[String]("best_attribute_type") == "integer4")
  }

  test("benford: digit distribution plus expected row") {
    val b = Seq(11.0, 12.0, 13.0, 21.0, 22.0, 31.0, 105.0, 0.19, 0.0)
      .toDF("x")
    val rows = DataPatterns.benford(b, Seq("x")).collect()
    val x = rows.find(_.getString(0) == "x").get
    val n = x.getAs[Long]("num_values")
    assert(n == 8) // 0.0 has no significant digit
    // leading digits: 1,1,1,2,2,3,1,1 -> d1 = 5/8 (DECIMAL4_1 percentages)
    assert(x.getAs[Double]("d_1") == 62.5)
    assert(x.getAs[Double]("d_2") == 25.0)
    assert(x.getAs[Double]("d_0") == -1.0) // position 1: zero slot is -1
    val exp = rows.find(_.getString(0) == "--EXPECTED--").get
    assert(exp.getAs[Double]("d_1") == 30.1) // Benford.ecl:119 table
    assert(exp.getAs[Double]("chi_squared") == 20.090) // 99% critical value
    assert(exp.getAs[Long]("num_values") == 0)
  }

  test("profile matches the reference's TestDataPatterns.ecl vectors") {
    // Basic_String: ['Dan','Steve','','Mike','Dan','Sebastian','Dan']
    val strProf = DataPatterns.profile(
      Seq("Dan", "Steve", "", "Mike", "Dan", "Sebastian", "Dan").toDF("s"),
      withCorrelations = false).head()
    assert(strProf.getAs[Long]("rec_count") == 7)
    assert(strProf.getAs[String]("given_attribute_type") == "string")
    assert(math.abs(strProf.getAs[Double]("fill_rate") - 85.714286) < 1e-4)
    assert(strProf.getAs[Long]("fill_count") == 6)
    assert(strProf.getAs[Long]("cardinality") == 4)
    assert(strProf.getAs[String]("best_attribute_type") == "string9")
    val modes = strProf.getSeq[Row](strProf.fieldIndex("modes"))
    assert(modes.map(r => (r.getString(0), r.getLong(1))) == Seq(("Dan", 3L)))
    assert(strProf.getAs[Int]("min_length") == 3)
    assert(strProf.getAs[Int]("max_length") == 9)
    assert(strProf.getAs[Double]("ave_length") == 4.0) // UNSIGNED truncation
    val pp = strProf.getSeq[Row](strProf.fieldIndex("popular_patterns"))
    assert(pp.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("Aaa", 3L), ("Aaaa", 1L), ("Aaaaa", 1L), ("Aaaaaaaaa", 1L)))
    // rare excludes everything already popular → empty here
    assert(strProf.getSeq[Row](strProf.fieldIndex("rare_patterns")).isEmpty)
    assert(!strProf.getAs[Boolean]("is_numeric"))

    // Basic_Numeric: [-1000, 500, -250, 2000, 1500, -2000, 2000] (INTEGER)
    val numProf = DataPatterns.profile(
      Seq(-1000L, 500L, -250L, 2000L, 1500L, -2000L, 2000L).toDF("n"),
      withCorrelations = false).head()
    assert(numProf.getAs[String]("given_attribute_type") == "integer8")
    assert(numProf.getAs[String]("best_attribute_type") == "integer8")
    assert(numProf.getAs[Long]("cardinality") == 6)
    val nmodes = numProf.getSeq[Row](numProf.fieldIndex("modes"))
    assert(nmodes.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("2000", 2L)))
    assert(numProf.getAs[Int]("min_length") == 3)
    assert(numProf.getAs[Int]("max_length") == 5)
    assert(numProf.getAs[Double]("ave_length") == 4.0)
    val npp = numProf.getSeq[Row](numProf.fieldIndex("popular_patterns"))
    assert(npp.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("9999", 3L), ("-9999", 2L), ("-999", 1L), ("999", 1L)))
    assert(numProf.getAs[Boolean]("is_numeric"))
    assert(numProf.getAs[Double]("numeric_min") == -2000.0)
    assert(numProf.getAs[Double]("numeric_max") == 2000.0)
    assert(math.abs(numProf.getAs[Double]("numeric_mean") - 392.8571) < 1e-3)
    assert(math.abs(numProf.getAs[Double]("numeric_std_dev") - 1438.3593) < 1e-3)
    assert(numProf.getAs[Double]("numeric_lower_quartile") == -1000.0)
    assert(numProf.getAs[Double]("numeric_median") == 500.0)
  }

  test("benford matches the reference's TestBenford.ecl vectors") {
    // the reference's own 100-value test dataset (teststd/DataPatterns/
    // TestBenford.ecl) with its exact expected observed percentages and
    // chi-squared values for digit positions 1 and 2
    val data = Seq(
      39.27, 38.0, 36.06, 37.75, 37.4, 35.5, 36.25, 35.41, 35.76, 34.56,
      35.05, 33.5, 34.53, 34.11, 33.55, 33.74, 25.2, 24.4, 23.87, 22.73,
      22.92, 22.33, 23.72, 21.95, 21.53, 21.01, 21.3, 21.16, 21.75, 22.51,
      22.15, 22.75, 22.9, 21.94, 21.75, 21.5, 21.84, 21.77, 22.44, 23.15,
      22.6, 22.4, 23.1, 23.0, 23.94, 23.63, 23.46, 23.75, 23.75, 23.75,
      23.0, 23.27, 23.82, 23.56, 23.5, 22.9, 22.74, 22.13, 22.13, 22.21,
      22.35, 22.35, 22.35, 22.15, 20.86, 20.7, 20.6, 21.02, 21.0, 21.76,
      20.99, 22.0, 22.04, 22.45, 22.61, 23.15, 23.41, 21.39, 21.25, 21.09,
      18.89, 17.71, 17.13, 17.12, 16.99, 16.56, 16.5, 15.71, 15.75, 17.13,
      16.6, 16.53, 16.87, 18.09, 18.1, 17.83, 18.25, 17.9, 17.91, 18.11)
      .toDF("n")
    val d1 = DataPatterns.benford(data, Seq("n"), digit = 1).collect()
      .map(r => r.getString(0) -> r).toMap
    val exp1 = d1("--EXPECTED--"); val obs1 = d1("n")
    assert(exp1.getAs[Double]("d_0") == -1.0 &&
      exp1.getAs[Double]("d_1") == 30.1 &&
      exp1.getAs[Double]("chi_squared") == 20.090)
    assert(obs1.getAs[Double]("d_0") == -1.0)
    assert(obs1.getAs[Double]("d_1") == 20.0)
    assert(obs1.getAs[Double]("d_2") == 64.0)
    assert(obs1.getAs[Double]("d_3") == 16.0)
    assert(obs1.getAs[Double]("d_4") == 0.0)
    assert(obs1.getAs[Double]("chi_squared") == 166.496)
    assert(obs1.getAs[Long]("num_values") == 100)
    val d2 = DataPatterns.benford(data, Seq("n"), digit = 2).collect()
      .map(r => r.getString(0) -> r).toMap
    val exp2 = d2("--EXPECTED--")
    assert(exp2.getAs[Double]("d_0") == 12.0 &&
      exp2.getAs[Double]("d_1") == 11.4 &&
      exp2.getAs[Double]("chi_squared") == 21.666)
  }
}
