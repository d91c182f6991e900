package graft.analysis

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Std.DataPatterns profiling (ref `ecllibrary/std/DataPatterns/Profile.ecl`
  * and `Benford.ecl`): one output row per top-level attribute with fill
  * rate, exact cardinality, low-cardinality breakdown, modes, length stats,
  * popular/rare text patterns, best-type inference, numeric stats, and
  * numeric-pair correlations.
  *
  * Spark-first shape, sized for 100 TB inputs:
  *  - pass 1 is ONE wide `agg` over the input — every per-column aggregate
  *    (fill, lengths, numeric moments, approx quartiles, correlation pairs,
  *    approx cardinality, best-type evidence) rides the same map-side
  *    partial aggregation, so the raw data is read exactly once and nothing
  *    shuffles but partial states;
  *  - pass 2 melts scalars to (attribute, value) rows and collapses them in
  *    a counting shuffle keyed (attribute, value) — but ONLY for attributes
  *    whose pass-1 approx cardinality is <= `exactCardLimit` (the
  *    Profile.ecl `lcbLimit` spirit, lifted to a scale guard): near-unique
  *    attributes (ids, free text) would make the collapsed counts
  *    corpus-sized, so they report the pass-1 approx cardinality instead
  *    and skip modes. Everything downstream of the collapse is therefore
  *    bounded by numCols × exactCardLimit, never by input rows;
  *  - patterns collapse straight from the raw melt (values reduce to a few
  *    palette patterns, so map-side partial aggregation absorbs the
  *    amplification) — no dependence on per-value counts;
  *  - only top-k / low-cardinality summaries are ever collected — the
  *    result is O(numCols × maxPatterns), independent of input rows.
  *
  * The reference computes the same outputs in an ECL function-macro that
  * expands to per-field TABLE/ROLLUP graphs (`Profile.ecl:191-196` defaults:
  * maxPatterns=100, lcbLimit=64, allowZero=FALSE, sampleSize=100).
  * Quartiles are approximate here (`percentile_approx`, documented) — exact
  * order statistics at 100 TB per column are not worth a full sort each.
  */
object DataPatterns {

  /** Character palette of Profile.ecl:115-121: A=upper, a=lower, 9=digit,
    * B=whole boolean; other characters kept.
    */
  private def patternOf(value: Column, maxPatternLen: Int): Column = {
    val truncated = substring(value, 1, maxPatternLen)
    when(lower(value).isin("true", "false"), lit("B"))
      .otherwise(regexp_replace(regexp_replace(regexp_replace(
        truncated, "[A-Z]", "A"), "[a-z]", "a"), "[0-9]", "9"))
  }

  private def isScalar(f: StructField): Boolean = f.dataType match {
    case _: StructType | _: ArrayType | _: MapType | _: BinaryType => false
    case _ => true
  }

  /** ECL-ish name for the declared Spark type (given_attribute_type). */
  private def eclTypeName(dt: DataType): String = dt match {
    case ByteType => "integer1"
    case ShortType => "integer2"
    case IntegerType => "integer4"
    case LongType => "integer8"
    case FloatType => "real4"
    case DoubleType => "real8"
    case d: DecimalType => s"decimal${d.precision}_${d.scale}"
    case BooleanType => "boolean"
    case StringType => "string"
    case DateType => "date"
    case TimestampType => "timestamp"
    case other => other.simpleString
  }

  private def isNumericType(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  private def bytesForDigits(digits: Int, neg: Boolean): Int = {
    // smallest ECL integer width whose range covers `digits` decimal digits
    val d = digits.max(1)
    if (d <= 2) 1 else if (d <= 4) 2 else if (d <= 6) 3
    else if (d <= 9) 4 else if (d <= 11) 5 else if (d <= 14) 6
    else if (d <= 16) 7 else 8
  }

  /** Profile a DataFrame; returns one row per scalar attribute.
    * Assumes `df` is deterministic: it is scanned several times.
    *
    * @param lcbLimit       emit cardinality_breakdown when cardinality <= this
    * @param maxPatterns    popular/rare pattern list length
    * @param maxPatternLen  truncate values to this length before patterning
    * @param allowZero      count numeric zero as a filled value
    * @param exactCardLimit attributes whose approx cardinality exceeds this
    *                       report the approx value (±~2%) and skip modes —
    *                       the guard that keeps the per-value counting
    *                       shuffle bounded instead of corpus-sized
    */
  def profile(df: DataFrame, lcbLimit: Int = 64, maxPatterns: Int = 100,
      maxPatternLen: Int = 100, allowZero: Boolean = false,
      withCorrelations: Boolean = true,
      exactCardLimit: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    val fields = df.schema.fields.filter(isScalar).toSeq
    require(fields.nonEmpty, "profile: no scalar attributes")

    // nil contract (Profile.ecl:15-23): null and '' are nil; numeric zero
    // is nil unless allowZero; booleans are always filled
    def filled(f: StructField): Column = {
      val c = col(f.name)
      f.dataType match {
        case BooleanType => c.isNotNull
        case _: NumericType =>
          if (allowZero) c.isNotNull else c.isNotNull && c =!= 0
        case StringType => c.isNotNull && length(c) > 0
        case _ => c.isNotNull
      }
    }
    // value in string form when filled, else null (drops out of the melt)
    def valueStr(f: StructField): Column =
      when(filled(f), col(f.name).cast("string"))

    // ---- pass 1: one wide aggregate over the raw data ---------------------
    val intRe = "^-?\\d{1,18}$"
    val numericPairs =
      if (withCorrelations)
        fields.filter(f => isNumericType(f.dataType)).combinations(2).toSeq
          .map { case Seq(a, b) => (a.name, b.name) }
      else Seq.empty
    val wideAggs: Seq[Column] =
      Seq(count(lit(1)).as("rec_count")) ++
      fields.flatMap { f =>
        val v = valueStr(f)
        val n = v.try_cast(DoubleType)
        Seq(
          count(when(filled(f), 1)).as(s"fill__${f.name}"),
          min(length(v)).as(s"minlen__${f.name}"),
          max(length(v)).as(s"maxlen__${f.name}"),
          avg(length(v)).as(s"avelen__${f.name}"),
          min(n).as(s"nmin__${f.name}"),
          max(n).as(s"nmax__${f.name}"),
          avg(n).as(s"nmean__${f.name}"),
          stddev_pop(n).as(s"nsd__${f.name}"),
          // best-type evidence — min/max predicates give the same answer
          // over raw rows as over distinct values, so they ride pass 1
          min(v.rlike(intRe)).as(s"allint__${f.name}"),
          // when-guard: try_cast(null).isNotNull is FALSE, not null — a nil
          // row would otherwise poison the min; rlike/isin/startsWith
          // already propagate null through
          min(when(v.isNotNull, v.try_cast(DoubleType).isNotNull))
            .as(s"allnum__${f.name}"),
          min(lower(v).isin("true", "false")).as(s"allbool__${f.name}"),
          // digit count of an int-shaped value = length minus its sign —
          // same value as the previous regexp_replace("^-") form without a
          // second regex per row
          max(when(v.rlike(intRe),
            length(v) - when(v.startsWith("-"), 1).otherwise(0)))
            .as(s"maxdig__${f.name}"),
          max(v.startsWith("-")).as(s"anyneg__${f.name}"))
      } ++
      numericPairs.map { case (a, b) =>
        corr(col(a).cast("double"), col(b).cast("double")).as(s"corr__${a}__$b")
      }
    // r20 (guide §4 — keep the hot path in codegen): percentile_approx and
    // approx_count_distinct are TypedImperative aggregates, and ONE of them
    // in an Aggregate forces the whole operator onto ObjectHashAggregate —
    // no whole-stage codegen, so every declarative agg AND the per-row
    // rlike/cast machinery above ran interpreted (measured 1.15 s warm for
    // a 5-field profile over 20k rows — 57 µs/row). Splitting pass 1 into
    // a declarative-only aggregate (WholeStageCodegen) plus a small
    // object-aggregate pass (sketches only) computes identical values; the
    // second scan is the cheaper trade at every SF because the codegen'd
    // pass is the one carrying the regex/cast work per row.
    val objAggs: Seq[Column] = fields.flatMap { f =>
      val v = valueStr(f)
      val n = v.try_cast(DoubleType)
      Seq(
        // documented-approximate quartiles; accuracy 1000 keeps the
        // per-partition sketch small — at 10000 the sketch merge was the
        // single biggest slice of the profile's first pass
        percentile_approx(n, array(lit(0.25), lit(0.5), lit(0.75)),
          lit(1000)).as(s"nq__${f.name}"),
        // scale guard: decides whether this attribute may enter the exact
        // per-value counting pass at all
        approx_count_distinct(v).as(s"acd__${f.name}"))
    }
    val wide = df.agg(wideAggs.head, wideAggs.tail: _*)
      .crossJoin(df.agg(objAggs.head, objAggs.tail: _*))
      .head()
    val recCount = wide.getAs[Long]("rec_count")
    val acd: Map[String, Long] =
      fields.map(f => f.name -> wide.getAs[Long](s"acd__${f.name}")).toMap

    def melt(fs: Seq[StructField]): DataFrame =
      df.select(explode(array(fs.map(f =>
          struct(lit(f.name).as("attribute"), valueStr(f).as("value"))): _*))
          .as("kv"))
        .select(col("kv.attribute").as("attribute"), col("kv.value").as("value"))
        .filter(col("value").isNotNull)

    // ---- pass 2: exact (attribute, value) counts, gated by cardinality ----
    // Only attributes plausibly under exactCardLimit melt into the counting
    // shuffle; near-unique attributes (ids, comments) would make `counts`
    // corpus-sized, and every downstream job here assumes it is bounded by
    // numCols × exactCardLimit.
    val exactFields = fields.filter(f => acd(f.name) <= exactCardLimit)
    // persisted: the collapsed counts feed BOTH the mode/cardinality job
    // and (r19) the pattern job for the exact-gated attributes — bounded
    // by numCols × exactCardLimit rows by the gate above, never input-sized
    val counts =
      (if (exactFields.isEmpty) melt(fields).limit(0)
       else melt(exactFields))
        .groupBy("attribute", "value")
        .agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ONE job over the collapsed counts computes everything they feed:
    // exact cardinality (count over the attribute partition), top-5 modes
    // (Profile.ecl:35-41 — row_number ≤ 5 with cnt > 1), and the full
    // value list for attributes under lcbLimit. The window partitions over
    // COLLAPSED counts (distinct values, bounded by exactCardLimit — never
    // input rows); collected rows are bounded by numCols × max(5, lcbLimit).
    val byAttr = Window.partitionBy("attribute")
      .orderBy(col("cnt").desc, col("value").asc)
    val countRows = counts
      .withColumn("rn", row_number().over(byAttr))
      .withColumn("card", count(lit(1)).over(Window.partitionBy("attribute")))
      .filter(col("rn") <= 5 || col("card") <= lcbLimit)
      .collect()
    val exactCard: Map[String, Long] = countRows
      .groupBy(_.getAs[String]("attribute")).view
      .mapValues(_.head.getAs[Long]("card")).toMap
    def rankedRows(rs: Array[Row]): Seq[Row] =
      rs.sortBy(_.getAs[Int]("rn")).toSeq
        .map(r => Row(r.getAs[String]("value"), r.getAs[Long]("cnt")))
    val modes: Map[String, Seq[Row]] = countRows
      .filter(r => r.getAs[Int]("rn") <= 5 && r.getAs[Long]("cnt") > 1)
      .groupBy(_.getAs[String]("attribute")).view.mapValues(rankedRows).toMap
    val breakdown: Map[String, Seq[Row]] = countRows
      .filter(_.getAs[Long]("card") <= lcbLimit)
      .groupBy(_.getAs[String]("attribute")).view.mapValues(rankedRows).toMap

    // patterns: collapse values to palette patterns for ALL attributes.
    // r19 (guide §2.4 — remove passes outright): exact-gated attributes
    // derive their patterns FROM the persisted per-value counts (patternOf
    // runs once per DISTINCT value, weighted by cnt — sum(cnt)/min(value)
    // over distinct values equal count/min over raw rows by definition),
    // so the raw table is NOT melted a second time for them; only
    // attributes past exactCardLimit still pay a raw melt (values reduce
    // to a handful of patterns, so map-side partial aggregation absorbs
    // that melt's amplification before the shuffle). Deterministic example
    // (min value) instead of the reference's random pick.
    val nonExactFields = fields.filterNot(f => acd(f.name) <= exactCardLimit)
    val fromCounts = counts.groupBy(col("attribute"),
        patternOf(col("value"), maxPatternLen).as("data_pattern"))
      .agg(sum(col("cnt")).as("cnt"), min(col("value")).as("example"))
    lazy val fromRaw = melt(nonExactFields).groupBy(col("attribute"),
        patternOf(col("value"), maxPatternLen).as("data_pattern"))
      .agg(count(lit(1)).as("cnt"), min(col("value")).as("example"))
    val patternCounts =
      if (nonExactFields.isEmpty) fromCounts
      else if (exactFields.isEmpty) fromRaw
      else fromCounts.unionAll(fromRaw)
    // both pattern ranks ride ONE job: two row_numbers over the same
    // attribute partitioning, one collect
    val popW = Window.partitionBy("attribute")
      .orderBy(col("cnt").desc, col("data_pattern").asc)
    val rareW = Window.partitionBy("attribute")
      .orderBy(col("cnt").asc, col("data_pattern").asc)
    val ranked = patternCounts
      .withColumn("rn_pop", row_number().over(popW))
      .withColumn("rn_rare", row_number().over(rareW))
      .filter(col("rn_pop") <= maxPatterns || col("rn_rare") <= maxPatterns)
      .collect()
    counts.unpersist(false) // both consumers have collected
    // rank-ordered (data_pattern, cnt, example) rows per attribute
    def topPatterns(rnField: String): Map[String, Seq[Row]] =
      ranked.filter(_.getAs[Int](rnField) <= maxPatterns)
        .groupBy(_.getAs[String]("attribute")).view.mapValues(rs =>
          rs.sortBy(_.getAs[Int](rnField)).toSeq.map(r => Row(
            r.getAs[String]("data_pattern"), r.getAs[Long]("cnt"),
            r.getAs[String]("example")))).toMap
    val popular = topPatterns("rn_pop")
    // rare = bottom-N MINUS anything already popular (Profile.ecl:1330
    // LEFT ONLY join — when every pattern fits in popular, rare is empty)
    val rare = topPatterns("rn_rare").map { case (a, rows) =>
      val pop = popular.getOrElse(a, Nil)
        .map(_.getAs[String](0)).toSet
      a -> rows.filterNot(r => pop.contains(r.getAs[String](0)))
    }

    // ---- assemble (O(numCols) rows; driver-side by construction) ----------
    val kvSchema = ArrayType(StructType(Seq(
      StructField("value", StringType), StructField("rec_count", LongType))))
    val patSchema = ArrayType(StructType(Seq(
      StructField("data_pattern", StringType), StructField("rec_count", LongType),
      StructField("example", StringType))))
    val corrSchema = ArrayType(StructType(Seq(
      StructField("attribute", StringType), StructField("corr", DoubleType))))
    val schema = StructType(Seq(
      StructField("attribute", StringType),
      StructField("given_attribute_type", StringType),
      StructField("best_attribute_type", StringType),
      StructField("rec_count", LongType),
      StructField("fill_count", LongType),
      StructField("fill_rate", DoubleType),
      StructField("cardinality", LongType),
      // true when the attribute exceeded exactCardLimit and skipped the
      // exact counting pass: `cardinality` is then the ±2%
      // approx_count_distinct sketch and modes/cardinality_breakdown are
      // empty BY GATING, not because the data lacks them — consumers must
      // not infer exactness from the limit (ADVICE r7)
      StructField("cardinality_is_approx", BooleanType),
      StructField("cardinality_breakdown", kvSchema),
      StructField("modes", kvSchema),
      StructField("min_length", IntegerType),
      StructField("max_length", IntegerType),
      StructField("ave_length", DoubleType),
      StructField("popular_patterns", patSchema),
      StructField("rare_patterns", patSchema),
      StructField("is_numeric", BooleanType),
      StructField("numeric_min", DoubleType),
      StructField("numeric_max", DoubleType),
      StructField("numeric_mean", DoubleType),
      StructField("numeric_std_dev", DoubleType),
      StructField("numeric_lower_quartile", DoubleType),
      StructField("numeric_median", DoubleType),
      StructField("numeric_upper_quartile", DoubleType),
      StructField("correlations", corrSchema)))

    val corrByAttr: Map[String, Seq[(String, Double)]] = {
      val all = numericPairs.flatMap { case (a, b) =>
        Option(wide.getAs[Any](s"corr__${a}__$b")).map(_.toString.toDouble)
          .toSeq.flatMap(v => Seq(a -> (b, v), b -> (a, v)))
      }
      all.groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2).sortBy(-_._2)
      }
    }

    val out = fields.map { f =>
      val name = f.name
      val fill = wide.getAs[Long](s"fill__$name")
      val card = exactCard.getOrElse(name, acd(name))
      def flag(prefix: String): Boolean =
        Option(wide.getAs[Any](s"${prefix}__$name")).contains(true)
      def intOpt(prefix: String): Option[Int] =
        Option(wide.getAs[Any](s"${prefix}__$name")).map(_.toString.toInt)
      // best-type MAP (Profile.ecl:1008): a column whose GIVEN type is
      // already numeric/boolean keeps it; only string-given columns get
      // evidence-driven inference, and non-numeric strings report
      // 'string<max_length>' (TestDataPatterns: 'string9' for 3..9 chars)
      val bestType =
        if (fill == 0) eclTypeName(f.dataType) // no non-nil values observed
        else f.dataType match {
          case _: NumericType | BooleanType => eclTypeName(f.dataType)
          case StringType =>
            if (flag("allbool")) "boolean"
            else if (flag("allint")) {
              val neg = flag("anyneg")
              val bytes = bytesForDigits(intOpt("maxdig").getOrElse(1), neg)
              (if (neg) "integer" else "unsigned") + bytes
            } else if (flag("allnum")) "real8"
            else s"string${intOpt("maxlen").getOrElse(0)}"
          case _ => eclTypeName(f.dataType)
        }
      val isNum = isNumericType(f.dataType) ||
        bestType.startsWith("integer") || bestType.startsWith("unsigned") ||
        bestType.startsWith("real")
      def d(prefix: String): Double = Option(wide.getAs[Any](s"${prefix}__$name"))
        .map(_.toString.toDouble).filter(_ => isNum).getOrElse(0.0)
      val quart = Option(wide.getAs[scala.collection.Seq[Any]](s"nq__$name"))
        .filter(_ => isNum).map(_.toSeq.map(_.toString.toDouble))
        .getOrElse(Seq(0.0, 0.0, 0.0))
      val bd = breakdown.getOrElse(name, Nil)
      val md = modes.getOrElse(name, Nil)
      val pp = popular.getOrElse(name, Nil)
      val rp = rare.getOrElse(name, Nil)
      Row(name, eclTypeName(f.dataType), bestType, recCount, fill,
        if (recCount == 0) 0.0 else fill.toDouble / recCount * 100.0,
        card, acd(name) > exactCardLimit, bd, md,
        intOpt("minlen").getOrElse(0),
        intOpt("maxlen").getOrElse(0),
        // UNSIGNED4 ave_length truncates (TestDataPatterns: lengths
        // averaging 4.5 assert as 4)
        Option(wide.getAs[Any](s"avelen__$name")).map(_.toString.toDouble)
          .map(math.floor).getOrElse(0.0),
        pp, rp, isNum, d("nmin"), d("nmax"), d("nmean"), d("nsd"),
        quart(0), quart(1), quart(2),
        corrByAttr.getOrElse(name, Nil).map { case (a, v) => Row(a, v) })
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), schema)
  }

  /** The reference's expected-distribution table (`Benford.ecl:119-122`,
    * DECIMAL4_1 — digit positions past 4 clamp to the position-4 row) and
    * its chi-squared critical values at 99% probability
    * (`Benford.ecl:104,110`: 8 df for position 1, 9 df otherwise).
    */
  private val BenfordExpected: Map[Int, Seq[Double]] = Map(
    1 -> Seq(-1.0, 30.1, 17.6, 12.5, 9.7, 7.9, 6.7, 5.8, 5.1, 4.6),
    2 -> Seq(12.0, 11.4, 10.9, 10.4, 10.0, 9.7, 9.3, 9.0, 8.8, 8.5),
    3 -> Seq(10.2, 10.1, 10.1, 10.1, 10.0, 10.0, 9.9, 9.9, 9.9, 9.8),
    4 -> Seq(10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0))

  private def round1(v: Double): Double = BigDecimal(v)
    .setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def round3(v: Double): Double = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Benford's-law digit analysis (ref `Benford.ecl`): one row per
    * attribute with the observed distribution of the digit in position
    * `digit` (1 = most-significant non-zero digit; its zero slot is -1
    * per `Benford.ecl:262`) plus the chi-squared statistic, and one
    * `--EXPECTED--` row. Numeric contracts mirror the reference exactly:
    * percentages round to ONE decimal (DECIMAL4_1), chi-squared is
    * computed FROM the rounded percentages and rounds to three decimals
    * (DECIMAL7_3), the expected distribution is the reference's hardcoded
    * table (positions clamp to 4), and the expected row's chi-squared
    * column carries the 99%-probability critical value. One aggregate
    * pass over the data.
    */
  def benford(df: DataFrame, fieldNames: Seq[String] = Seq.empty,
      digit: Int = 1): DataFrame = {
    val spark = df.sparkSession
    val fields =
      (if (fieldNames.isEmpty)
        df.schema.fields.filter(f => isNumericType(f.dataType)).map(_.name).toSeq
      else fieldNames)
    require(fields.nonEmpty, "benford: no numeric attributes")
    require(digit >= 1, "benford: digit is 1-based")

    val exp = BenfordExpected(math.min(digit, 4))
    val criticalValue = if (digit == 1) 20.090 else 21.666
    val digitsOf: Column => Column = c =>
      regexp_replace(regexp_replace(abs(c).cast("string"), "[^0-9]", ""),
        "^0+", "")
    val digitAt: Column => Column = c => substring(digitsOf(c), digit, 1)

    val aggs = fields.flatMap { name =>
      val dcol = digitAt(col(name))
      (0 to 9).map(d =>
        count(when(dcol === d.toString, 1)).as(s"c${d}__$name")) :+
        count(when(length(digitsOf(col(name))) >= digit, 1)).as(s"n__$name")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()

    val schema = StructType(
      StructField("attribute", StringType) +:
      (0 to 9).map(d => StructField(s"d_$d", DoubleType)) :+
      StructField("chi_squared", DoubleType) :+
      StructField("num_values", LongType))
    val out = fields.map { name =>
      val n = row.getAs[Long](s"n__$name")
      val obs = (0 to 9).map { d =>
        if (digit == 1 && d == 0) -1.0
        else if (n == 0) 0.0
        else round1(row.getAs[Long](s"c${d}__$name").toDouble / n * 100.0)
      }
      // chi-squared over the ROUNDED percentages; the zero slot only
      // participates past position 1 (ComputeChiSquared, Benford.ecl:285)
      val chi2 = round3(obs.zip(exp).zipWithIndex.collect {
        case ((o, e), d) if (d > 0 || digit > 1) && e != 0 =>
          (o - e) * (o - e) / e
      }.sum)
      Row.fromSeq(name +: obs :+ (if (n == 0) 0.0 else chi2) :+ n)
    } :+ Row.fromSeq("--EXPECTED--" +: exp :+ criticalValue :+ 0L)
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  // ---- BestRecordStructure (BestRecordStructure.ecl:1-471) ---------------

  /** ECL "generic" type class — coercion is needed in the emitted
    * TRANSFORM iff the class changes (`GenericType`,
    * BestRecordStructure.ecl:71-93).
    */
  private def genericType(t: String): String = {
    val l = t.toLowerCase
    if (l.startsWith("integer") || l.startsWith("real") ||
      l.startsWith("decimal") || l.startsWith("udecimal") ||
      l.startsWith("unsigned")) "numeric"
    else if (l.startsWith("string") || l.startsWith("varstring") ||
      l.startsWith("qstring") || l.startsWith("utf")) "string"
    else l
  }

  /** DataPatterns.BestRecordStructure (BestRecordStructure.ecl:1-471):
    * the tightest ECL RECORD definition the profiled evidence supports,
    * as an ordered dataset of source lines — `NewLayout := RECORD`, one
    * `    TYPE name;` per field (best type UPPERCASED, the reference's
    * emission), `END;`. With `emitTransform`, also the OldLayout
    * definition and a `Make_NewLayout` TRANSFORM whose assignments coerce
    * exactly the fields whose generic type class changed
    * (`__NeedCoercion`), plus the sample PROJECT kickoff lines.
    *
    * Output columns (idx, s): idx preserves emission order so the result
    * is oracle-checkable; the reference's recordset-of-strings is ordered
    * by construction.
    */
  def bestRecordStructure(df: DataFrame, emitTransform: Boolean = false,
      profiled: Option[DataFrame] = None): DataFrame = {
    val spark = df.sparkSession
    // best_attribute_type per attribute from the (driver-bounded) profile;
    // non-profiled fields (non-scalar) keep their given type, matching the
    // reference's LEFT OUTER join against Profile's output (:225-238)
    val prof = profiled.getOrElse(
      profile(df, withCorrelations = false, maxPatterns = 1))
    val best = prof.select(col("attribute"), col("best_attribute_type"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val fields = df.schema.fields.toSeq
    def givenOf(f: StructField): String = eclTypeName(f.dataType).toUpperCase
    def bestOf(f: StructField): String =
      best.getOrElse(f.name, eclTypeName(f.dataType)).toUpperCase
    def recDef(layout: String, typeOf: StructField => String): Seq[String] =
      s"$layout := RECORD" +:
        fields.map(f => s"    ${typeOf(f)} ${f.name};") :+ "END;"
    val newDef = recDef("NewLayout", bestOf)
    val lines =
      if (!emitTransform) newDef
      else {
        val coerce = fields.flatMap { f =>
          if (genericType(givenOf(f)) != genericType(bestOf(f)))
            Some(s"    SELF.${f.name} := (${bestOf(f)})r.${f.name};")
          else None
        }
        newDef ++ Seq("//----------") ++ recDef("OldLayout", givenOf) ++
          Seq("//----------",
            "NewLayout Make_NewLayout(OldLayout r) := TRANSFORM") ++
          coerce ++ Seq("    SELF := r;", "END;", "//----------",
            "oldDS := DATASET([], OldLayout);",
            "newDS := PROJECT(oldDS, Make_NewLayout(LEFT));")
      }
    val schema = StructType(Seq(StructField("idx", IntegerType),
      StructField("s", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        lines.zipWithIndex.map { case (s, i) => Row(i, s) }, 1), schema)
  }

  /** The Spark-side twin of [[bestRecordStructure]]: the tightest
    * StructType the evidence supports (the type a user would pass to a
    * re-read/rewrite of the data). ECL widths map to the smallest Spark
    * type that CONTAINS them — unsigned widths need the next signed size
    * up (Spark has no unsigned integers; unsigned8 keeps LongType and the
    * overflow caveat is the reference's own INTEGER8 cast behavior).
    */
  def bestStructType(df: DataFrame,
      profiled: Option[DataFrame] = None): StructType = {
    val prof = profiled.getOrElse(
      profile(df, withCorrelations = false, maxPatterns = 1))
    val best = prof.select(col("attribute"), col("best_attribute_type"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def sparkTypeOf(t: String, fallback: DataType): DataType = {
      val l = t.toLowerCase
      def width(prefix: String): Int =
        l.stripPrefix(prefix).takeWhile(_.isDigit) match {
          case "" => 8
          case d => d.toInt
        }
      if (l == "boolean") BooleanType
      else if (l.startsWith("integer")) width("integer") match {
        case 1 => ByteType
        case 2 => ShortType
        case 3 | 4 => IntegerType
        case _ => LongType
      }
      else if (l.startsWith("unsigned")) width("unsigned") match {
        case 1 => ShortType
        case 2 | 3 => IntegerType
        case _ => LongType
      }
      else if (l == "real4") FloatType
      else if (l == "real8") DoubleType
      else if (l.startsWith("string")) StringType
      else fallback
    }
    StructType(df.schema.fields.map { f =>
      f.copy(dataType = best.get(f.name)
        .map(sparkTypeOf(_, f.dataType)).getOrElse(f.dataType))
    })
  }
}
