package graft

import graft.functions.StdDate
import graft.functions.StdDate._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Std.Date semantics — vectors ported from the reference's own suite
  * (`ecllibrary/teststd/Date/TestDate.ecl`): day-1 epoch (1 Jan 1AD = 1),
  * mktime normalization in AdjustDate vs calendar clamping in
  * AdjustCalendar, signed whole-unit Between functions, ISO week dates,
  * and the relative week numbering family.
  */
class StdDateSpec extends SparkSpec {
  import spark.implicits._

  private def int(c: Column): Int =
    Seq("x").toDF("d").select(c.cast("int")).head.getInt(0)
  private def long(c: Column): Long =
    Seq("x").toDF("d").select(c.cast("long")).head.getLong(0)
  private def str(c: Column): String =
    Seq("x").toDF("d").select(c.cast("string")).head.getString(0)
  private def bool(c: Column): Boolean =
    Seq("x").toDF("d").select(c).head.getBoolean(0)

  test("part extraction and part assembly") {
    assert(int(yearT(lit(19990201))) == 1999)
    assert(int(monthT(lit(19990201))) == 2)
    assert(int(dayT(lit(19990201))) == 1)
    assert(int(hourT(lit(123456))) == 12)
    assert(int(minuteT(lit(123456))) == 34)
    assert(int(secondT(lit(123456))) == 56)
    assert(int(dateFromParts(lit(1999), lit(2), lit(1))) == 19990201)
    assert(int(timeFromParts(lit(12), lit(34), lit(56))) == 123456)
    // CreateDate/CreateTime pack like DateFromParts/TimeFromParts
    // (Date.ecl:128,140)
    assert(int(createDate(lit(2024), lit(2), lit(29))) == 20240229)
    assert(int(createTime(lit(23), lit(59), lit(59))) == 235959)
  }

  test("leap years: Gregorian and Julian rules") {
    assert(!bool(isLeapYear(lit(1900))) && bool(isLeapYear(lit(1904))))
    assert(!bool(isLeapYear(lit(2100))) && bool(isLeapYear(lit(2000))))
    assert(bool(isDateLeapYear(lit(20000201))))
    assert(!bool(isDateLeapYear(lit(21000201))))
    assert(bool(isJulianLeapYear(lit(2000))) && !bool(isJulianLeapYear(lit(2001))))
  }

  test("day-count epochs: 1 Jan 1AD = day 1; days since 1900") {
    assert(int(fromGregorianDate(lit(10101))) == 1)       // FromGregorianYMD(1,1,1)=1
    assert(int(toGregorianDate(lit(1))) == 10101)         // ToGregorianDate(1)
    assert(int(fromDaysSince1900(lit(0))) == 19000101)
    assert(int(toDaysSince1900(lit(19001201))) == 334)
    assert(int(toDaysSince1900(lit(19001231))) == 364)
  }

  test("day-of readouts") {
    assert(int(dayOfYear(lit(20000101))) == 1)
    assert(int(dayOfYear(lit(20001231))) == 366)
    assert(int(dayOfYear(lit(20011231))) == 365)
    assert(int(dayOfWeek(lit(20140130))) == 5)            // Thursday, 1=Sunday
    assert(int(dayOfWeek(lit(19650217))) == 4)
    assert(int(dayOfWeek(lit(20530213))) == 5)
    assert(int(isoDayOfWeek(lit(20140130))) == 4)         // Thursday, 1=Monday
    assert(int(isoDayOfWeek(lit(19650217))) == 3)
    assert(int(isoDayOfWeek(lit(20530213))) == 4)
  }

  test("ISO week dates across year boundaries") {
    val vectors = Seq(
      20050101 -> "2004-W53-6", 20050102 -> "2004-W53-7",
      20051231 -> "2005-W52-6", 20060101 -> "2005-W52-7",
      20060102 -> "2006-W01-1", 20061231 -> "2006-W52-7",
      20070101 -> "2007-W01-1", 20071231 -> "2008-W01-1",
      20080101 -> "2008-W01-2", 20081229 -> "2009-W01-1",
      20081231 -> "2009-W01-3", 20091231 -> "2009-W53-4",
      20100103 -> "2009-W53-7")
    val got = vectors.map(_._1).toDF("d")
      .select(isoWeekDate(col("d"), extended = true)).as[String].collect().toSeq
    assert(got == vectors.map(_._2))
    assert(str(isoWeekDate(lit(20060102))) == "2006W011")
    assert(int(isoWeeksInYear(lit(2004))) == 53)
    assert(int(isoWeeksInYear(lit(2006))) == 52)
  }

  test("relative week numbering (YearWeekNum/MonthWeekNum)") {
    assert(int(yearWeekNum(lit(20180101))) == 1)
    assert(int(yearWeekNum(lit(20180106))) == 1)
    assert(int(yearWeekNum(lit(20180107))) == 2)
    assert(int(yearWeekNum(lit(20180107), 2)) == 1)
    assert(int(yearWeekNum(lit(20180108), 2)) == 2)
    assert(int(yearWeekNum(lit(20180101), 3)) == 1)
    assert(int(yearWeekNum(lit(20180102), 3)) == 2)
    assert(int(yearWeekNum(lit(20180103), 5)) == 1)
    assert(int(yearWeekNum(lit(20180104), 5)) == 2)
    assert(int(monthWeekNum(lit(20180101))) == 1)
    assert(int(monthWeekNum(lit(20180107))) == 2)
    assert(int(monthWeekNum(lit(20180201))) == 1)
    assert(int(monthWeekNum(lit(20180304), 2)) == 1)
    assert(int(monthWeekNum(lit(20180305), 2)) == 2)
    assert(int(monthWeekNum(lit(20180302), 6)) == 2)
  }

  test("signed whole-unit Between functions") {
    assert(int(yearsBetween(lit(20010615), lit(20020615))) == 1)
    assert(int(yearsBetween(lit(20010615), lit(20020614))) == 0)
    assert(int(yearsBetween(lit(20020615), lit(20010615))) == -1)
    assert(int(monthsBetween(lit(19700101), lit(19701231))) == 11)
    assert(int(monthsBetween(lit(19701231), lit(19710101))) == 0)
    assert(int(monthsBetween(lit(19701231), lit(19711231))) == 12)
    assert(int(monthsBetween(lit(19711231), lit(19701231))) == -12)
    assert(int(monthsBetween(lit(19700606), lit(19700706))) == 1)
    assert(int(monthsBetween(lit(19700606), lit(19700705))) == 0)
    assert(int(monthsBetween(lit(20160331), lit(20160930))) == 5)
    assert(int(monthsBetween(lit(20160331), lit(20160930),
      monthEndsEqual = true)) == 6)
    assert(int(StdDate.daysBetween(lit(20010615), lit(20020615))) == 365)
    assert(int(StdDate.daysBetween(lit(20020615), lit(20010615))) == -365)
  }

  test("AdjustDate normalizes like mktime; AdjustCalendar clamps") {
    assert(int(adjustDate(lit(20000130), monthDelta = lit(1))) == 20000301)
    assert(int(adjustDate(lit(20000130), monthDelta = lit(1),
      dayDelta = lit(-1))) == 20000229)
    assert(int(adjustDate(lit(20000229), yearDelta = lit(1))) == 20010301)
    assert(int(adjustDate(lit(20000229), yearDelta = lit(-1))) == 19990301)
    assert(int(adjustDate(lit(19650217), yearDelta = lit(49))) == 20140217)
    assert(int(adjustDateBySeconds(lit(20140130), lit(172800))) == 20140201)
    assert(int(adjustCalendar(lit(20140130), monthDelta = lit(1))) == 20140228)
    assert(int(adjustCalendar(lit(20170201), monthDelta = lit(-23))) == 20150301)
    assert(int(adjustCalendar(lit(20170201), monthDelta = lit(-13))) == 20160101)
    // Jan 31 + 1 month + 1 day: clamp to Feb 28 THEN step into March
    assert(int(adjustCalendar(lit(20140131), monthDelta = lit(1),
      dayDelta = lit(1))) == 20140301)
  }

  test("AdjustTime wraps mod 24h") {
    assert(int(adjustTime(lit(180000), hourDelta = lit(7))) == 10000)
    assert(int(adjustTime(lit(180000), minuteDelta = lit(420))) == 10000)
    assert(int(adjustTime(lit(180000), secondDelta = lit(-86400))) == 180000)
    assert(int(adjustTimeBySeconds(lit(180000), lit(86400))) == 180000)
  }

  test("Seconds_t: UTC epoch round-trips, including pre-1970") {
    assert(long(secondsFromParts(lit(1999), lit(2), lit(1), lit(12), lit(34),
      lit(56))) == 917872496L)
    assert(long(secondsFromParts(lit(1965), lit(2), lit(17), lit(0), lit(0),
      lit(0))) == -153705600L)
    assert(int(secondsToDateT(lit(917872496L))) == 19990201)
    assert(int(secondsToTimeT(lit(917872496L))) == 123456)
    assert(int(secondsToDateT(lit(-153705600L))) == 19650217)
    assert(int(secondsToDateT(lit(0L))) == 19700101)
    // CreateDateFromSeconds/CreateTimeFromSeconds: the UTC parts; one
    // second before the epoch is 1969-12-31 23:59:59
    assert(int(createDateFromSeconds(lit(-1L))) == 19691231)
    assert(int(createTimeFromSeconds(lit(-1L))) == 235959)
    assert(long(timestampToSeconds(lit(917872496123456L))) == 917872496L)
  }

  test("Register exposes std_date_* functions to spark.sql") {
    graft.functions.Register.all(spark)
    val r = spark.sql(
      """SELECT std_date_adjust_date(20000130, 0, 1, 0) AS mk,
        |  std_date_adjust_calendar(20140130, 0, 1, 0) AS cal,
        |  std_date_days_between(20010615, 20020615) AS db,
        |  std_date_months_between(20160331, 20160930, true) AS mb,
        |  std_date_years_between(20020615, 20010615) AS yb,
        |  std_date_day_of_week(20140130) AS dow,
        |  std_date_iso_week_date(20050101, true) AS iwd,
        |  std_date_to_string(19990201, '%d/%m/%Y') AS ts,
        |  std_date_from_string('01/02/1999', '%d/%m/%Y') AS fs
        |""".stripMargin).head
    assert(r.getInt(0) == 20000301 && r.getInt(1) == 20140228)
    assert(r.getInt(2) == 365 && r.getInt(3) == 6 && r.getInt(4) == -1)
    assert(r.getInt(5) == 5 && r.getString(6) == "2004-W53-6")
    assert(r.getString(7) == "01/02/1999" && r.getInt(8) == 19990201)
  }

  test("strftime formatting and parsing round-trip") {
    assert(str(dateToString(lit(19990201), "%Y-%m-%d")) == "1999-02-01")
    assert(str(dateToString(lit(19990201), "%d/%m/%y")) == "01/02/99")
    assert(str(dateToString(lit(19990201), "%j of %Y")) == "032 of 1999")
    assert(str(timeToString(lit(123456), "%H:%M:%S")) == "12:34:56")
    assert(int(fromStringToDate(lit("01/02/1999"), "%d/%m/%Y")) == 19990201)
    assert(int(fromStringToDate(lit("bogus"), "%d/%m/%Y")) == 0)
    assert(str(convertDateFormat(lit("02/01/1999"), "%m/%d/%Y", "%Y%m%d"))
      == "19990201")
  }

  test("Julian calendar: day-1 epoch and Gregorian drift") {
    // TestDate.ecl:39-40
    assert(int(fromJulianYMD(lit(1), lit(1), lit(1))) == 1)
    assert(int(toJulianDate(lit(1))) == 10101)
    // round-trips
    assert(int(toJulianDate(fromJulianDate(lit(20200229)))) == 20200229)
    assert(int(fromJulianDate(toJulianDate(lit(700000)))) == 700000)
    // The reference anchors BOTH calendars at "1 Jan 1AD = day 1" on
    // their own scale (Date.ecl:234,377), so cross-calendar conversion
    // through Days_t differs from the historical 13-day 1900s gap by the
    // 2-day year-1 offset: Gregorian 1918-03-13 -> Julian 1918-02-26.
    assert(int(toJulianDate(fromGregorianDate(lit(19180313)))) == 19180226)
    // Julian leap day 1900-02-29 exists (Julian leap), Gregorian has none
    assert(int(fromJulianYMD(lit(1900), lit(3), lit(1))
      - fromJulianYMD(lit(1900), lit(2), lit(28))) == 2)
  }

  test("multi-format parsing: MatchDateString / ConvertTimeFormat") {
    // TestFormat.ecl:61-70 family (strptime subset)
    val fmts = Seq("%d/%m/%Y", "%Y%m%d", "%d %B %Y")
    assert(int(matchDateString(lit("1 december 2011"), fmts)) == 20111201)
    assert(int(matchDateString(lit("20111201"), fmts)) == 20111201)
    assert(int(matchDateString(lit("01/12/2011"), fmts)) == 20111201)
    assert(int(matchDateString(lit("nonsense"), fmts)) == 0)
    assert(str(convertDateFormatMultiple(lit("1 december 2011"), fmts,
      "%Y%m%d")) == "20111201")
    // ConvertFormatMultiple (Date.ecl:929): first format that parses, ''
    // when none does
    assert(str(convertFormatMultiple(lit("01/12/2011"), fmts, "%d %b %Y"))
      == "01 Dec 2011")
    assert(str(convertFormatMultiple(lit("nonsense"), fmts)) == "")
    assert(str(convertTimeFormat(lit("12:34:56"), "%H:%M:%S", "%H%M%S"))
      == "123456")
    assert(int(fromStringToTime(lit("12:34:56"), "%H:%M:%S")) == 123456)
    assert(int(matchTimeString(lit("12.34.56"),
      Seq("%H:%M:%S", "%H.%M.%S"))) == 123456)
  }

  test("SecondsToParts struct and date ranges") {
    val r = Seq("x").toDF("d").select(
      secondsToParts(lit(917872496L)).as("p"),
      datesForMonth(lit(20240215)).as("m"),
      datesForWeek(lit(20240215)).as("w")).head
    val p = r.getStruct(0)
    // 1999-02-01 12:34:56 UTC
    assert(p.getAs[Int]("year") == 1999 && p.getAs[Int]("month") == 2)
    assert(p.getAs[Int]("date") == 19990201)
    assert(p.getAs[Int]("time") == 123456)
    val m = r.getStruct(1)
    assert(m.getAs[Int]("startDate") == 20240201)
    assert(m.getAs[Int]("endDate") == 20240229)
    val w = r.getStruct(2)
    // 2024-02-15 is a Thursday; Sunday-started week is 11th..17th
    assert(w.getAs[Int]("startDate") == 20240211)
    assert(w.getAs[Int]("endDate") == 20240217)
  }

  test("timezone layer: offsets, SecondsBetweenTZ, AdjustTimeTZ") {
    import graft.functions.StdTimezone
    import graft.functions.StdTimezone._
    // TestDate.ecl:346-365 — first-match and location disambiguation
    assert(StdTimezone.secondsBetweenTZ("EST", "CST") == -3600)
    assert(StdTimezone.secondsBetweenTZ("CST", "IST") == 41400)
    assert(StdTimezone.secondsBetweenTZ("CST", "IST",
      fromLocation = "NORTH AMERICA") == 41400)
    assert(StdTimezone.secondsBetweenTZ("CST", "IST",
      fromLocation = "ASIA") == -9000)
    assert(StdTimezone.secondsBetweenTZ("CST", "IST",
      fromLocation = "CARIBBEAN") == 37800)
    assert(StdTimezone.secondsBetweenTZ("CST", "IST",
      toLocation = "EUROPE") == 25200)
    assert(StdTimezone.secondsBetweenTZ("CST", "IST",
      toLocation = "ISRAEL") == 28800)
    assert(StdTimezone.secondsBetweenTZ("XXX", "IST") == 0)
    // Column path agrees with the scalar path
    assert(int(StdTimezone.secondsBetweenTZ(lit("CST"), lit("IST"),
      lit("ASIA"), lit(""))) == -9000)
    // 23:30 UTC + IST(+5:30) wraps to 05:00
    assert(int(toLocalTime(lit(233000), lit("IST"))) == 50000)
    assert(int(toUTCTime(lit(50000), lit("IST"))) == 233000)
    assert(int(adjustTimeTZ(lit(120000), lit("EST"), lit("PST"))) == 90000)
    // dataset forms
    assert(findTZData(spark, "IST").count() == 3)
    assert(findTZData(spark, "IST", "EUROPE").count() == 1)
    assert(tzDataForLocation(spark, "ISRAEL").count() == 2)
    // UniqueTZAbbreviations/UniqueTZLocations (Date.ecl:1852,1864): one row
    // per distinct abbreviation / location of the 47-entry zone table; IST
    // and CST each name three zones
    val abbrevs = uniqueTZAbbreviations(spark).as[String].collect().toSeq
    assert(abbrevs.size == 40 && abbrevs.distinct.size == 40)
    assert(Seq("IST", "CST", "UTC").forall(abbrevs.contains))
    assert(uniqueTZLocations(spark).as[String].collect().toSet ==
      Set("AFRICA", "ANTARCTICA", "ASIA", "ATLANTIC", "AUSTRALIA",
        "CARIBBEAN", "CENTRAL AMERICA", "EUROPE", "ISRAEL", "NORTH AMERICA",
        "PACIFIC", "SOUTH AMERICA", "WORLDWIDE"))
  }

  test("IsValidDate/IsValidTime: leap rules, month lengths, field ranges") {
    import graft.functions.StdDate._
    val cases = Seq(
      20240229 -> true,  // leap year Feb 29
      20230229 -> false, // non-leap Feb 29
      20000229 -> true,  // %400 leap
      19000228 -> true, 19000229 -> false, // %100 non-leap
      20240431 -> false, 20240430 -> true, // 30-day month
      20241301 -> false, 20240001 -> false, // month range
      20240100 -> false, 20240132 -> false, // day range
      17990101 -> false, // below default yearLowerBound 1800 (Date.ecl:1393)
      18000101 -> true, 21001231 -> true,
      21010101 -> false, // above default yearUpperBound 2100
      10101 -> false)    // year 1 — outside default bounds
    val df = cases.map(_._1).toDF("d")
      .select(col("d"), isValidDate(col("d")).as("v"),
        isValidGregorianDate(col("d")).as("vg"),
        isValidDate(col("d"), 1, 9999).as("vwide"))
    val got = df.collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (d, exp) =>
      assert(got(d) == exp, s"IsValidDate($d)") }
    // gregorian range is 1601..30827 (Date.ecl:1413): year 1 invalid,
    // 1799 valid (inside gregorian bounds though outside default bounds)
    val vg = df.collect().map(r => r.getInt(0) -> r.getBoolean(2)).toMap
    assert(!vg(10101) && vg(20240229) && vg(17990101) && !vg(20230229))
    // explicit wide bounds recover year-1 validity
    val vw = df.collect().map(r => r.getInt(0) -> r.getBoolean(3)).toMap
    assert(vw(10101) && vw(17990101) && !vw(20230229))
    val times = Seq(0 -> true, 235959 -> true, 240000 -> false,
      235960 -> false, 126060 -> false)
    val tgot = times.map(_._1).toDF("t")
      .select(col("t"), isValidTime(col("t")).as("v"))
      .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    times.foreach { case (t, exp) =>
      assert(tgot(t) == exp, s"IsValidTime($t)") }
  }

  test("r18 parity fns: adjustSeconds normalizes like mktime") {
    // 2000-01-31T10:20:30Z = 949314030; +1 month normalizes to Mar 2
    // (leap Feb has 29 days: 31 -> 29 overflow 2), clock parts exact
    val base = 949314030L
    assert(long(adjustSeconds(lit(base), monthDelta = lit(1))) ==
      951992430L) // 2000-03-02T10:20:30Z
    // pure clock delta
    assert(long(adjustSeconds(lit(base), secondDelta = lit(90))) == base + 90)
    // negative month crosses the year
    assert(long(adjustSeconds(lit(base), monthDelta = lit(-2))) ==
      944043630L) // 1999-12-01T10:20:30Z
  }

  test("r18 parity fns: record round-trips and Gregorian YMD") {
    val rec = createDateRec(lit(1999), lit(2), lit(1))
    assert(int(dateFromDateRec(rec)) == 19990201)
    val dt = createDateTime(lit(1999), lit(2), lit(1),
      lit(12), lit(34), lit(56))
    assert(long(secondsFromDateTimeRec(dt)) == 917872496L)
    assert(long(secondsFromDateTimeRec(
      createDateTimeFromSeconds(lit(917872496L)))) == 917872496L)
    assert(int(timeFromTimeRec(createTimeRec(lit(12), lit(34), lit(56))))
      == 123456)
    // DateFromDateTimeRec/TimeFromDateTimeRec (Date.ecl:596-606)
    assert(int(dateFromDateTimeRec(dt)) == 19990201)
    assert(int(timeFromDateTimeRec(dt)) == 123456)
    // 1 Jan 1AD = day 1 (Date.ecl:247)
    assert(int(fromGregorianYMD(lit(1), lit(1), lit(1))) == 1)
    val ymd = toGregorianYMD(lit(730180)) // round-trip via a known date
    assert(int(fromGregorianYMD(ymd("year"), ymd("month"), ymd("day")))
      == 730180)
  }

  test("r18 parity fns: string formats incl %@/%# fractions") {
    assert(str(secondsToString(lit(917872496L))) == "1999-02-01T12:34:56")
    assert(str(timestampToString(lit(917872496123456L))) ==
      "1999-02-01T12:34:56.123456")
    assert(str(timestampToString(lit(917872496123456L),
      "%H:%M %# end")) == "12:34 123 end")
    assert(long(fromStringToSeconds(lit("1999-02-01 12:34:56"),
      "%Y-%m-%d %H:%M:%S")) == 917872496L)
    assert(long(fromStringToSeconds(lit("garbage"),
      "%Y-%m-%d %H:%M:%S")) == 0L) // reference failure value
    assert(str(toStringT(lit(19990201), "%d/%m/%Y")) == "01/02/1999")
    assert(str(convertFormat(lit("02/01/1999"))) == "19990201")
  }

  test("r18 parity fns: ISO week family matches the reference's folding") {
    // 2021-01-01 is ISO week 53 of 2020 (raw week 0 folds to prev year)
    val d = lit(20210101)
    assert(int(isoRawWeekNum(d)) == 0)
    val s = isoWeekNumWeekDayAndYear(d)
    assert(int(s("weekNumber")) == 53 && int(s("year")) == 2020 &&
      int(s("weekDay")) == 5)
    // 2019-12-30 is ISO week 1 of 2020 (raw week 53 > weeks-in-2019=52)
    val s2 = isoWeekNumWeekDayAndYear(lit(20191230))
    assert(int(s2("weekNumber")) == 1 && int(s2("year")) == 2020)
    assert(bool(isoIsLongYear(lit(2020))) && !bool(isoIsLongYear(lit(2019))))
  }

  test("r18 parity fns: current-time family and session-TZ scalars (UTC)") {
    // non-deterministic values get sanity bounds, not vectors
    val t = long(currentSeconds())
    assert(t > 1700000000L && t < 4102444800L) // 2023..2100
    assert(int(today()) / 10000 >= 2023)
    val tt = int(currentTime())
    assert(tt >= 0 && tt <= 235959)
    assert(long(currentTimestampT()) / 1000000L - t < 60)
    // sessions pin UTC
    assert(int(localTimeZoneOffset()) == 0)
    assert(!bool(isLocalDaylightSavingsInEffect()))
  }
}
