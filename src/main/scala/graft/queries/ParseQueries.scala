package graft.queries

import graft.{QueryDef, Tables}
import graft.model.GraftFrame
import graft.sources.{KeyDiff, Soapcall}
import graft.text.Parse
import org.apache.spark.sql.functions._

/** PARSE, grouped-dataset model semantics, KEYDIFF/KEYPATCH, SOAPCALL
  * (stub transport) — SURVEY §2.7, §2.10.
  */
object ParseQueries {

  val defs: Seq[QueryDef] = Seq(

    // ---- PARSE: regex pattern over a text column, row per match ----------
    QueryDef("q130_parse",
      """SELECT doc_id, UNNEST(regexp_extract_all(text, '[a-z]{6,}')) AS m
        |FROM documents WHERE doc_id < 100
        |ORDER BY doc_id, m""".stripMargin) { (s, dir) =>
      Parse.parse(
        Tables.documents(s, dir).filter(col("doc_id") < 100)
          .select(col("doc_id"), col("text")),
        col("text"), Parse.Re("[a-z]{6,}"), "m")
        .select(col("doc_id"), col("m"))
        .orderBy(col("doc_id"), col("m"))
    },

    // ---- PARSE with capture groups (MATCHTEXT(rule) analog) --------------
    QueryDef("q131_parse_groups",
      """SELECT o_orderkey,
        |  regexp_extract(o_orderpriority, '([0-9])-([A-Z]+)', 1) AS pri,
        |  regexp_extract(o_orderpriority, '([0-9])-([A-Z]+)', 2) AS label
        |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Parse.parseGroups(
        Tables.orders(s, dir).filter(col("o_orderkey") <= 2000)
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("o_orderpriority"),
        Parse.Re("([0-9])-([A-Z]+)"),
        Map("pri" -> 1, "label" -> 2))
        .select(col("o_orderkey"), col("pri"), col("label"))
        .orderBy(col("o_orderkey"))
    },

    // ---- GROUPED model: GROUP → grouped TOPN → DEGROUP (the §7.4
    // grouped-fidelity choke point, exercised through GraftFrame) ----------
    QueryDef("q132_grouped_model",
      """SELECT c_nationkey, c_custkey, CAST(c_acctbal AS DOUBLE) AS bal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) WHERE rn <= 2
        |ORDER BY c_nationkey, bal DESC, c_custkey""".stripMargin) { (s, dir) =>
      GraftFrame(Tables.customer(s, dir)
          .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal")))
        .group("c_nationkey")
        .topn(2, col("c_acctbal").desc, col("c_custkey"))
        .degroup
        .df
        .select(col("c_nationkey"), col("c_custkey"),
          col("c_acctbal").cast("double").as("bal"))
        .orderBy(col("c_nationkey"), col("bal").desc, col("c_custkey"))
    },

    // ---- KEYDIFF + KEYPATCH roundtrip: patch(old, diff(old,new)) == new --
    QueryDef("q133_keydiff_patch",
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
        |       ELSE o_totalprice END AS price
        |FROM orders WHERE o_orderkey <= 30000
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val old = o.filter(col("o_orderkey") <= 20000)
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      val neu = o.filter(col("o_orderkey") <= 30000)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("price"))
      val delta = KeyDiff.diff(old, neu, Seq("o_orderkey"))
      KeyDiff.patch(old, delta, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },

    // ---- SOAPCALL over GENUINE HTTP: a published echo query served on a
    // loopback socket, driven per-row by the real transport (bounded async
    // pool + retry). The call window is fixed-size and single-partition:
    // the loopback service answers with driver-side Spark jobs, so outer
    // tasks must not occupy every slot (on a cluster the endpoint is
    // external and this constraint disappears). --------------------------
    QueryDef("q134_soapcall",
      """SELECT o_orderkey, reverse(o_orderpriority) AS response
        |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val url = graft.serve.Published.loopbackEchoUrl(s)
      val in = Tables.orders(s, dir).filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          concat(lit("v="), url_encode(col("o_orderpriority"))).as("payload"))
        .coalesce(1)
      // PARALLEL 16: the in-flight window only needs to cover the
      // endpoint's latency×throughput product; 2000 round trips to this
      // loopback endpoint at 8 in flight took ~2.2 s warm, and 16 halves
      // that depth/latency product.
      Soapcall.callPerRow(in, Soapcall.Config(url, parallelism = 16),
        "payload", "raw")(Soapcall.httpTransport())
        .select(col("o_orderkey"),
          get_json_object(col("raw"), "$.echoResponse.Results.rows[0].r")
            .as("response"))
        .orderBy(col("o_orderkey"))
    },

    // ---- recursive-grammar PARSE (Tomita territory): balanced nesting ----
    // depth varies per row; a trailing unmatched ')' proves the matcher
    // counts nesting instead of regex-greedy bracket grabbing. The oracle
    // reconstructs the expected balanced core arithmetically.
    QueryDef("q135_parse_recursive",
      """SELECT p_partkey,
        |  repeat('(', p_size % 3 + 1) || p_name || repeat(')', p_size % 3 + 1)
        |    AS m
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      import graft.text.Parse._
      val g = Grammar(Map(
        "expr" -> GOr(GSeq(GLit("("), GRef("expr"), GLit(")")),
          GTok("[a-z ]+"))), "expr")
      val depth = col("p_size") % 3 + 1
      val text = concat(repeat(lit("("), depth.cast("int")), col("p_name"),
        repeat(lit(")"), depth.cast("int")), lit(")"))
      parseGrammar(Tables.part(s, dir).withColumn("__t", text),
          col("__t"), g, "m")
        .select(col("p_partkey"), col("m"))
        .orderBy(col("p_partkey"))
    },

    // ---- q136: AMBIGUOUS + LEFT-RECURSIVE grammar, ALL selection ---------
    // The Dragon-book expression grammar exactly as the reference's own
    // regression runs it (`testing/regress/ecl/parse.ecl`: E := E '+' T |
    // T; T := T '*' F | F; F := '(' E ')' | id, output "all partial
    // values"). Left recursion needs the seed-growing fixpoint (a PEG/
    // regex dies on E := E…); ALL surfaces every derivation length —
    // "a+a+(b*c)" yields E-matches "a", "a+a", and the full expression.
    // The oracle reconstructs the ambiguity set arithmetically: i-term
    // prefixes for i <= k, then the full parenthesized form.
    QueryDef("q136_parse_ambiguous",
      """WITH b AS (SELECT p_partkey, p_size % 3 + 1 AS k FROM part),
        |i AS (SELECT p_partkey,
        |        CAST(unnest(generate_series(1, k)) AS INTEGER) AS i FROM b)
        |SELECT p_partkey, m FROM (
        |  SELECT p_partkey, repeat('a+', i - 1) || 'a' AS m FROM i
        |  UNION ALL
        |  SELECT p_partkey, repeat('a+', k) || '(b*c)' FROM b)
        |ORDER BY p_partkey, length(m), m""".stripMargin) { (s, dir) =>
      import graft.text.Parse._
      val g = Grammar(Map(
        "E" -> GOr(GSeq(GRef("E"), GLit("+"), GRef("T")), GRef("T")),
        "T" -> GOr(GSeq(GRef("T"), GLit("*"), GRef("F")), GRef("F")),
        "F" -> GOr(GSeq(GLit("("), GRef("E"), GLit(")")),
          GTok("[a-z]+"))), "E")
      val k = (col("p_size") % 3 + 1).cast("int")
      val text = concat(repeat(lit("a+"), k), lit("(b*c)"))
      parseGrammar(Tables.part(s, dir).withColumn("__t", text),
          col("__t"), g, "m", MatchAll)
        .select(col("p_partkey"), col("m"))
        .orderBy(col("p_partkey"), length(col("m")), col("m"))
    },

    // ---- q137: MATCHTEXT(rule) capture (parse2.ecl `MATCHUNICODE(words)`
    // shape): terms split on ,/; — the TRANSFORM projects the words
    // sub-rule's span, not the whole match. The oracle reconstructs the
    // term list with regex splitting.
    QueryDef("q137_parse_matchtext",
      """WITH b AS (SELECT p_partkey,
        |    lower(p_brand) || ',' || lower(p_type) || ';' ||
        |      CAST(p_size AS VARCHAR) || ',' AS t
        |  FROM part),
        |terms AS (
        |  SELECT p_partkey,
        |    CAST(unnest(regexp_extract_all(t, '([^,;]+)[,;]', 1)) AS VARCHAR)
        |      AS words
        |  FROM b)
        |SELECT p_partkey, words FROM terms
        |ORDER BY p_partkey, words""".stripMargin) { (s, dir) =>
      import graft.text.Parse._
      val terms = Grammar(Map(
        "term" -> GSeq(GRef("words"), GTok("[,;]")),
        "words" -> GTok("[^,;]+")), "term")
      val text = concat(lower(col("p_brand")), lit(","),
        lower(col("p_type")), lit(";"), col("p_size").cast("string"),
        lit(","))
      parseGrammarExtract(Tables.part(s, dir).withColumn("__t", text),
          col("__t"), terms, "m", Map("words" -> "words"))
        .select(col("p_partkey"), col("words"))
        .orderBy(col("p_partkey"), col("words"))
    }
  )
}
