package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ECL semantics layer (SURVEY §2.11, §7.4): the string/date/cast behaviors
  * that differ from SQL defaults, composed from built-in (codegen'd) Column
  * functions so they stay inside whole-stage codegen. References:
  * `rtl/eclrtl/eclrtl.hpp` compare/cast family, `ecllibrary/std/Str.ecl`,
  * `ecllibrary/std/Date.ecl:35-60`.
  */
object EclFunctions {

  // ---- string semantics ----------------------------------------------------

  /** ECL string equality ignores trailing spaces (`rtlCompareStrStr`). */
  def eclStrEq(a: Column, b: Column): Column = rtrim(a) === rtrim(b)

  /** Cast to STRING[n]: truncate or right-pad with spaces to width n. */
  def toFixedString(c: Column, n: Int): Column = rpad(c, n, " ")

  /** ECL substring ds[a..b]: 1-based INCLUSIVE; out-of-range positions read
    * as spaces (result is right-padded to the requested width).
    */
  def eclSubstring(c: Column, a: Int, b: Int): Column =
    rpad(substring(c, a, b - a + 1), b - a + 1, " ")

  /** Std.Str.CleanSpaces: trim + collapse internal whitespace runs. */
  def cleanSpaces(c: Column): Column = regexp_replace(trim(c), "\\s+", " ")

  /** Std.Str.FindCount(src, sub): occurrences of a literal substring. */
  def findCount(c: Column, sub: String): Column = {
    val q = java.util.regex.Pattern.quote(sub)
    size(regexp_extract_all(c, lit(q), lit(0)))
  }

  /** Std.Str.Find(src, sub, instance=1): 1-based position, 0 if absent. */
  def find(c: Column, sub: String): Column = instr(c, sub)

  /** Std.Str.Repeat. */
  def strRepeat(c: Column, n: Int): Column = repeat(c, n)

  /** Std.Str.Translate(src, from, to): per-char mapping. */
  def strTranslate(c: Column, from: String, to: String): Column =
    translate(c, from, to)

  /** Std.Str.Filter(src, keep): keep only chars in `keep` (Str.ecl). */
  def strFilter(c: Column, keep: String): Column =
    regexp_replace(c, "[^" + java.util.regex.Pattern.quote(keep) + "]", "")

  /** Std.Str.FilterOut(src, drop): remove chars in `drop`. */
  def strFilterOut(c: Column, drop: String): Column =
    regexp_replace(c, "[" + java.util.regex.Pattern.quote(drop) + "]", "")

  // ---- integer-coded date/time (Std.Date, `ecllibrary/std/Date.ecl`) ------

  /** Date_t: UNSIGNED4 YYYYMMDD from a date/timestamp column. */
  def toDateT(c: Column): Column =
    (year(c) * 10000 + month(c) * 100 + dayofmonth(c)).cast("int")

  /** Time_t: UNSIGNED3 HHMMSS. */
  def toTimeT(c: Column): Column =
    (hour(c) * 10000 + minute(c) * 100 + second(c)).cast("int")

  /** Date_t → native DateType. */
  def fromDateT(c: Column): Column =
    to_date(format_string("%08d", c), "yyyyMMdd")

  /** Std.Date.DaysBetween on Date_t ints. */
  def daysBetweenT(a: Column, b: Column): Column =
    datediff(fromDateT(b), fromDateT(a))

  /** Std.Date.IsLeapYear. */
  def isLeapYear(y: Column): Column =
    (y % 4 === 0 && y % 100 =!= 0) || y % 400 === 0

  // ---- type transfer ((>t<)x, `no_typetransfer` hqlexpr.hpp:427) -----------
  // Reinterpret raw bytes without conversion (e.g. `terasortprep.ecl:81`
  // casts key bytes to string1). Scalar UDF escape hatch — rare, generation-
  // time usage, not a hot-path construct. ECL memory layout is little-endian.

  /** (>unsigned8<)real8 — IEEE-754 bit pattern of a double. */
  def transferDoubleToBits(c: Column): Column = {
    val fn = org.apache.spark.sql.functions.udf { (d: java.lang.Double) =>
      if (d == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(java.lang.Double.doubleToRawLongBits(d))
    }
    fn(c)
  }

  /** (>real8<)unsigned8 — double from its bit pattern. */
  def transferBitsToDouble(c: Column): Column = {
    val fn = org.apache.spark.sql.functions.udf { (b: java.lang.Long) =>
      if (b == null) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(java.lang.Double.longBitsToDouble(b))
    }
    fn(c)
  }

  /** (>stringN<)integer — the integer's first `n` little-endian bytes as a
    * latin-1 string (ECL x86 layout).
    */
  def transferIntToString(c: Column, n: Int): Column = {
    val fn = org.apache.spark.sql.functions.udf { (v: java.lang.Long) =>
      if (v == null) null
      else {
        val bytes = Array.tabulate[Byte](n)(i => ((v >> (8 * i)) & 0xff).toByte)
        new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      }
    }
    fn(c)
  }

  /** (>unsigned8<)stringN — little-endian unsigned read of the string's
    * latin-1 bytes (at most 8).
    */
  def transferStringToUInt(c: Column): Column = {
    val fn = org.apache.spark.sql.functions.udf { (s: String) =>
      if (s == null) null.asInstanceOf[java.lang.Long]
      else {
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        var v = 0L
        for (i <- 0 until math.min(8, bytes.length))
          v |= (bytes(i) & 0xffL) << (8 * i)
        java.lang.Long.valueOf(v)
      }
    }
    fn(c)
  }

  // ---- hashes (HASH32/HASH64, `hqlexpr.hpp:330-333`) -----------------------

  import org.apache.spark.sql.GraftBridge

  def hash32(c: Column): Column =
    GraftBridge.column(EclHash32(GraftBridge.expression(c.cast("string"))))
  def hash64(c: Column): Column =
    GraftBridge.column(EclHash64(GraftBridge.expression(c.cast("string"))))
}
