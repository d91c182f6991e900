package graft

import graft.functions.{EclFunctions, StdUni}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Std.Uni locale/normalization layer (vectors from
  * `ecllibrary/teststd/uni`) and the type-transfer escape hatch.
  */
class StdUniSpec extends SparkSpec {
  import spark.implicits._

  private def str(c: Column): String =
    Seq("x").toDF("d").select(c.cast("string")).head.getString(0)
  private def int(c: Column): Int =
    Seq("x").toDF("d").select(c.cast("int")).head.getInt(0)
  private def bool(c: Column): Boolean =
    Seq("x").toDF("d").select(c).head.getBoolean(0)

  test("compareAtStrength: accents vanish at primary, case at secondary") {
    // primary: base letters only — é == e, case-blind
    assert(int(StdUni.compareAtStrength(lit("résumé"), lit("RESUME"), 1)) == 0)
    // secondary: accents significant, case still blind
    assert(int(StdUni.compareAtStrength(lit("résumé"), lit("RESUME"), 2)) != 0)
    assert(int(StdUni.compareAtStrength(lit("résumé"), lit("RÉSUMÉ"), 2)) == 0)
    // tertiary: case matters
    assert(int(StdUni.compareAtStrength(lit("abc"), lit("ABC"), 3)) != 0)
    assert(int(StdUni.compareAtStrength(lit("abc"), lit("abc"), 3)) == 0)
    // ordering sign
    assert(int(StdUni.compareAtStrength(lit("apple"), lit("banana"), 1)) == -1)
    assert(int(StdUni.localeCompareIgnoreCase(lit("Straße "), lit("STRAßE"))) == 0)
    // strength 4 is TRUE quaternary now (ICU4J; java.text capped at
    // tertiary): with shifted punctuation, hyphen differences surface only
    // at quaternary — primary through tertiary treat them as equal
    assert(int(StdUni.compareAtStrength(lit("ab"), lit("a-b"), 3)) == 0 ||
      int(StdUni.compareAtStrength(lit("ab"), lit("a-b"), 4)) != 0)
    // identical strength still distinguishes everything codepoint-wise
    assert(int(StdUni.compareAtStrength(lit("ab"), lit("ab"), 5)) == 0)
  }

  test("cleanAccents strips combining marks, composed or not") {
    assert(str(StdUni.cleanAccents(lit("El difunto cambió las niñas")))
      == "El difunto cambio las ninas")
    assert(str(StdUni.cleanAccents(lit("été"))) == "ete")
    assert(str(StdUni.cleanAccents(lit("plain"))) == "plain")
  }

  test("normalization forms: NFC composes, NFD decomposes") {
    assert(str(StdUni.normalizeForm(lit("é"), "NFC")) == "é")
    assert(str(StdUni.normalizeForm(lit("é"), "NFD")) == "é")
    // NFKC folds compatibility chars (ﬁ ligature → fi)
    assert(str(StdUni.normalizeForm(lit("ﬁn"), "NFKC")) == "fin")
  }

  test("startsWith/endsWith: empty pattern FALSE, form-aware equality") {
    assert(!bool(StdUni.startsWith(lit(""), lit(""), "")))     // Test01
    assert(!bool(StdUni.startsWith(lit("x"), lit(""), "")))    // Test03
    assert(bool(StdUni.startsWith(lit("x"), lit("x"), "")))    // Test02
    assert(!bool(StdUni.startsWith(lit("  x"), lit("x"), ""))) // Test11
    assert(bool(StdUni.startsWith(lit("À à"), lit("À"), ""))) // Test27
    // composed source, decomposed prefix: equal only under NFC
    assert(!bool(StdUni.startsWith(lit("état"), lit("é"), "")))
    assert(bool(StdUni.startsWith(lit("état"), lit("é"), "NFC")))
    assert(bool(StdUni.endsWith(lit("café"), lit("é"), "NFC")))
    assert(str(StdUni.removeSuffix(lit("café"), lit("é"), "NFC")) == "caf")
  }

  test("locale case mapping: Turkish dotted/dotless i") {
    assert(str(StdUni.localeToUpperCase(lit("istanbul"), "tr")) == "İSTANBUL")
    assert(str(StdUni.localeToLowerCase(lit("ISTANBUL"), "tr")) == "ıstanbul")
    assert(str(StdUni.localeToUpperCase(lit("istanbul"), "")) == "ISTANBUL")
  }

  test("wordCount/getNthWord: segmentation, punctuation is not a word") {
    assert(int(StdUni.wordCount(lit(""))) == 0)
    assert(int(StdUni.wordCount(lit("             "))) == 0)
    assert(int(StdUni.wordCount(lit(" x "))) == 1)
    assert(int(StdUni.wordCount(lit("  a b c   def    "))) == 4)
    assert(int(StdUni.wordCount(lit(" ,,,, "))) == 0)
    assert(int(StdUni.wordCount(lit("List: abc, def, ghi,   jhi    "))) == 5)
    assert(int(StdUni.wordCount(lit("I couldn't hear you!"))) == 4)
    assert(int(StdUni.wordCount(lit("abc := name"))) == 2)
    assert(int(StdUni.wordCount(lit("1 234 123abc 23.6 abc123"))) == 5)
    assert(int(StdUni.wordCount(lit("El difunto cambió las niñas"))) == 5)
    assert(str(StdUni.getNthWord(lit("List: abc, def"), 2)) == "abc")
    assert(str(StdUni.getNthWord(lit("a b"), 5)) == "")
  }

  test("type transfer reinterprets bytes without conversion") {
    assert(Seq(1.0).toDF("d")
      .select(EclFunctions.transferDoubleToBits(col("d"))).head.getLong(0)
      == 0x3ff0000000000000L)
    assert(Seq(0x3ff0000000000000L).toDF("b")
      .select(EclFunctions.transferBitsToDouble(col("b"))).head.getDouble(0)
      == 1.0)
    // roundtrip through the string reinterpretation, little-endian
    val s = Seq(0x41424344L).toDF("v")
      .select(EclFunctions.transferIntToString(col("v"), 4)).head.getString(0)
    assert(s == "DCBA")
    assert(Seq("DCBA").toDF("s")
      .select(EclFunctions.transferStringToUInt(col("s"))).head.getLong(0)
      == 0x41424344L)
  }

  test("LocaleFindAtStrength(Replace): reference unicodelib vectors + " +
      "strength folding") {
    // testing/regress/ecl/unicodelib.ecl:58-60,134 pinned outputs
    def findAt(src: String, t: String, inst: Int, strength: Int): Int =
      Seq(src).toDF("s")
        .select(StdUni.localeFindAtStrength(col("s"), lit(t), inst,
          "en_us", strength).as("p"))
        .head.getInt(0)
    assert(findAt("ABCDE", "BC", 1, 1) == 2)
    assert(findAt("ABCDE", "BC", 2, 1) == 0)
    assert(findAt("ABCDEABCDE", "BC", 2, 1) == 7)
    // strength 1 folds case and accents; strength 3 is exact
    assert(findAt("abçde", "BC", 1, 1) == 2)
    assert(findAt("abcde", "BC", 1, 3) == 0)
    val rep = Seq("ABCDEABCDE").toDF("s")
      .select(StdUni.localeFindAtStrengthReplace(col("s"), lit("BC"),
        lit("XX"), "en_us", 1)).head.getString(0)
    assert(rep == "AXXDEAXXDE") // unicodelib.ecl:134
    // accent-folded replace: both 'ç' and 'c' sites rewritten at strength 1
    val rep2 = Seq("façade facade").toDF("s")
      .select(StdUni.localeFindAtStrengthReplace(col("s"), lit("cad"),
        lit("-"), "en_us", 1)).head.getString(0)
    assert(rep2 == "fa-e fa-e")
  }

  test("LocaleToTitleCase: ICU word-break titling") {
    val out = Seq("once upon a time", "İSTANBUL lights").toDF("s")
      .select(StdUni.localeToTitleCase(col("s")).as("t"))
      .as[String].collect().toSeq
    assert(out.head == "Once Upon A Time")
    assert(out(1).startsWith("İstanbul") || out(1).startsWith("Istanbul"))
  }

  // ---- r18 parity additions -------------------------------------------------

  test("localeFind/localeFindReplace default to tertiary strength") {
    // tertiary: case-sensitive, accent-sensitive — exact match only
    assert(int(StdUni.localeFind(lit("café bar café"), lit("café"), 1, "fr"))
      == 1)
    assert(int(StdUni.localeFind(lit("café bar café"), lit("café"), 2, "fr"))
      == 10)
    assert(int(StdUni.localeFind(lit("café"), lit("CAFE"), 1, "fr")) == 0)
    assert(str(StdUni.localeFindReplace(lit("café bar café"), lit("café"),
      lit("pub"), "fr")) == "pub bar pub")
  }

  test("codepoint delegations: unicode-aware by construction") {
    // levenshtein and reverse count codepoints, not bytes
    assert(int(StdUni.editDistance(lit("日本語"), lit("日本"))) == 1)
    assert(str(StdUni.uniReverse(lit("日本語"))) == "語本日")
    assert(str(StdUni.toUpperCase(lit("straße"))) == "STRASSE")
    assert(str(StdUni.cleanSpaces(lit(" ü   v "))) == "ü v")
    assert(int(StdUni.find(lit("αβγαβγ"), "βγ", 2)) == 5)
    // Contains (Str.ecl:87): every pattern char, each repeat needing its own
    assert(bool(StdUni.uniContains(lit("αβγ"), "γα", ignoreCase = false)))
    assert(!bool(StdUni.uniContains(lit("αβγ"), "αα", ignoreCase = false)))
    assert(bool(StdUni.uniContains(lit("ÄBÄ"), "ää", ignoreCase = true)))
    assert(!bool(StdUni.uniContains(lit("ÄB"), "ä", ignoreCase = false)))
    assert(str(StdUni.version()).startsWith("ICU4J "))
  }
}
