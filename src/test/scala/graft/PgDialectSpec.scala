package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.frontend.PgDialect
import graft.queries.MakerDw

/** The PG-dialect front-end (round-12 agenda #1): translation rules in
  * isolation, the dialect runtime expressions, and the verbatim gate's
  * numeric ties — to the three hand ports (within the ports' own
  * documented pre-sum rounding) and to its output canonicalization
  * (proving the rounding grid is nowhere near a knife edge, so the
  * cross-engine hash match in CORRECTNESS is structural, not luck). */
class PgDialectSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def norm(s: String): String = s.replaceAll("\\s+", " ").trim

  // ------------------------------------------------------- rule snippets

  test("rule 2: ^ binds tighter than / and left-associates") {
    assert(norm(PgDialect.translate("select data/10^27 as x")) ==
      "select pg_div(data, POWER(10, 27)) as x")
    assert(norm(PgDialect.translate("select 2^3^2")) ==
      "select POWER(POWER(2, 3), 2)")
  }

  test("rule 3: / consumes the full multiplicative chain on its left") {
    assert(norm(PgDialect.translate("select a*b/c")) ==
      "select pg_div(a*b, c)")
    assert(norm(PgDialect.translate("select a/b*c")) ==
      "select pg_div(a, b)*c")
    assert(norm(PgDialect.translate("select count(*)/n from t")) ==
      "select pg_div(count(*), n) from t")
  }

  test("rule 3: window-suffixed aggregate is one division operand") {
    // (rule 10 also spells out the window sort's implicit null order)
    assert(norm(PgDialect.translate(
      "select sum(rate) over(partition by i order by b)/10^27 from t")) ==
      "select pg_div(sum(rate) over(partition by i order by b NULLS LAST), " +
        "POWER(10, 27)) from t")
  }

  test("rule 4: '::' casts — default numeric, args kept, double precision") {
    assert(norm(PgDialect.translate("select null::numeric as sf")) ==
      "select CAST(null AS DECIMAL(38,0)) as sf")
    assert(norm(PgDialect.translate("select x::numeric(10,2)")) ==
      "select CAST(x AS DECIMAL(10,2))")
    assert(norm(PgDialect.translate("select (block_number/10000)::int as dt")) ==
      "select CAST((pg_div(block_number, 10000)) AS INT) as dt")
    assert(norm(PgDialect.translate("select x::double precision")) ==
      "select CAST(x AS DOUBLE)")
    assert(norm(PgDialect.translate("select x::text::bytea")) ==
      "select CAST(CAST(x AS STRING) AS BINARY)")
  }

  test("rule 1+5: literal backslashes doubled; encode→pg_encode_escape") {
    assert(norm(PgDialect.translate(
      raw"select replace(encode(ilk, 'escape'), '\000', '')")) ==
      raw"select replace(pg_encode_escape(ilk), '\\000', '')")
  }

  test("rule 6: implicitly-lateral generate_series gains LATERAL + column alias") {
    assert(norm(PgDialect.translate(
      "from ilks_2 cross join generate_series(starting_use, end_use, 1000) d")) ==
      "from ilks_2 cross join LATERAL generate_series(starting_use, end_use, 1000) AS d(d)")
  }

  test("precedence corners: :: above arithmetic, % in the chain, unary minus above ^") {
    // `::` binds tighter than `/` — the cast applies BEFORE the division
    assert(norm(PgDialect.translate("select 7 / 2::numeric")) ==
      "select pg_div(7, CAST(2 AS DECIMAL(38,0)))")
    assert(norm(PgDialect.translate("select x::numeric / y")) ==
      "select pg_div(CAST(x AS DECIMAL(38,0)), y)")
    // `%` shares the multiplicative level: a%b/c = (a%b)/c
    assert(norm(PgDialect.translate("select 5 % 3 / 2")) ==
      "select pg_div(5 % 3, 2)")
    // PG's unary minus binds ABOVE ^: -2^2 = (-2)^2 = 4
    assert(norm(PgDialect.translate("select -2^2")) ==
      "select POWER(-2, 2)")
    graft.codec.GraftFunctions.register(spark)
    val r = spark.sql(PgDialect.translate(
      "select 7 / 2::numeric as a, 5 % 3 / 2 as b, -2^2 as c")).head()
    assert(r.getDouble(0) == 3.5 && r.getLong(1) == 1L && r.getDouble(2) == 4.0)
  }

  test("operand-ending keywords: CASE...END, NULL, stacked unary signs") {
    // END closes a CASE primary — a % or binary - after it operates ON it
    assert(norm(PgDialect.translate(
      "select case when x then 10 else 20 end % 7 / 2 from t")) ==
      "select pg_div(case when x then 10 else 20 end % 7, 2) from t")
    assert(norm(PgDialect.translate(
      "select case when x then 1 else 3 end - 2^2 from t")) ==
      "select case when x then 1 else 3 end - POWER(2, 2) from t")
    // NULL is a literal operand, not a keyword context
    assert(norm(PgDialect.translate("select null % 7 / 2")) ==
      "select pg_div(null % 7, 2)")
    // PG stacks unary signs above ^: - -2^2 = (- -2)^2 = 4
    assert(norm(PgDialect.translate("select - -2^2")) ==
      "select POWER(- -2, 2)")
    graft.codec.GraftFunctions.register(spark)
    val r = spark.sql(PgDialect.translate(
      "select case when true then 20 else 1 end % 7 / 2 as a, - -2^2 as b")).head()
    assert(r.getLong(0) == 3L && r.getDouble(1) == 4.0)
  }

  test("comments and string literals are never rewritten from inside") {
    val sql = "select 'a/b^c' as s, x -- d/e\nfrom t /* f::int */"
    assert(norm(PgDialect.translate(sql)) == norm(sql))
  }

  // ------------------------------------ round-13 rules: 7..10 + rejection

  test("rule 7: E'...' escape strings decode PG escapes and re-encode for Spark") {
    // named, octal, hex escapes; '' doubling; backslash-any = any
    assert(norm(PgDialect.translate(raw"select E'a\tb\n\x21\101''q\z'")) ==
      raw"select 'a\tb\n!A\'qz'")
    graft.codec.GraftFunctions.register(spark)
    val r = spark.sql(PgDialect.translate(
      raw"select E'a\tb' as x, length(E'\x21\101') as n, E'it''s \z' as q")).head()
    assert(r.getString(0) == "a\tb")
    assert(r.getInt(1) == 2) // "!A"
    assert(r.getString(2) == "it's z")
  }

  test("rule 8: dollar-quoted literals are raw bodies") {
    val r = spark.sql(PgDialect.translate(
      """select $$it's a "weird" \ literal$$ as a, $tag$a$x$b$tag$ as b""")).head()
    assert(r.getString(0) == """it's a "weird" \ literal""")
    assert(r.getString(1) == "a$x$b")
  }

  test("FILTER (WHERE ...) suffix is part of the aggregate operand") {
    assert(norm(PgDialect.translate(
      "select sum(x) filter (where y) / 2 from t")) ==
      "select pg_div(sum(x) filter (where y), 2) from t")
    assert(norm(PgDialect.translate(
      "select 100 / count(*) filter (where y) from t")) ==
      "select pg_div(100, count(*) filter (where y)) from t")
  }

  test("rule 9: DISTINCT ON becomes a row_number window + rk=1 filter") {
    val out = PgDialect.translate(
      "select distinct on (u) u, e, v from t order by u, e desc")
    assert(!out.toLowerCase.contains("distinct on")) // __distinct_on alias stays
    assert(out.contains("ROW_NUMBER") && out.contains("PARTITION BY u") &&
      out.contains("__rn = 1"))
    // runtime equivalence against the explicit window form, on real data
    import spark.implicits._
    Seq((1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (2, 1, "d"))
      .toDF("u", "e", "v").createOrReplaceTempView("don_t")
    val got = spark.sql(PgDialect.translate(
      "select distinct on (u) u, e, v from don_t order by u, e desc")).collect()
    assert(got.map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((1, 20, "b"), (2, 5, "c")))
  }

  test("rule 10: PG implicit null ordering is spelled out (Spark's is the mirror)") {
    assert(norm(PgDialect.translate(
      "select * from t order by a, b desc, c nulls first, d asc")) ==
      "select * from t order by a NULLS LAST, b desc NULLS FIRST, " +
        "c nulls first, d asc NULLS LAST")
    // window ORDER BY gets the same treatment; frames stay intact
    assert(norm(PgDialect.translate(
      "select sum(x) over (order by v desc) from t")) ==
      "select sum(x) over (order by v desc NULLS FIRST) from t")
    assert(norm(PgDialect.translate(
      "select sum(x) over (order by v rows between 1 preceding and current row) from t")) ==
      "select sum(x) over (order by v NULLS LAST rows between 1 preceding " +
        "and current row) from t")
    // runtime: nulls sort LAST under implicit ASC, as PG does
    import spark.implicits._
    Seq(Some(2), None, Some(1)).toDF("v").createOrReplaceTempView("nulls_t")
    val got = spark.sql(PgDialect.translate(
      "select v from nulls_t order by v")).collect()
    assert(got.map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq ==
      Seq(Some(1), Some(2), None))
  }

  test("documented non-goals REJECT loudly, never mistranslate") {
    def rejects(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](PgDialect.translate(sql))
      assert(e.getMessage.contains(needle), s"for [$sql]: ${e.getMessage}")
    }
    rejects("select arr[1] from t", "unsupported operator '['")
    rejects("select a @> b from t", "unsupported operator")
    rejects("select * from t where id = $1", "positional parameter")
    // regex ops now TRANSLATE (rule 12), and POSIX bracket classes
    // translate to \p{…} (round-15 agenda #7) — what still rejects is
    // the genuinely untranslatable: PG-only escapes, collating/
    // equivalence classes, unknown class names, computed SIMILAR TO
    // patterns, explicit ESCAPE, POSIX classes inside a COMPUTED ~
    // pattern (only screenable, not rewritable)
    rejects("""select a ~ '\mword\M' from t""", "PG-only escape")
    rejects("select a ~ '[[.ch.]]' from t", "collating/equivalence")
    rejects("select a ~ '[[:bogus:]]' from t", "no Java-regex equivalent")
    rejects("select a ~ ('[[:alpha:]]' || b) from t",
      "needs a sole literal pattern")
    rejects("select a similar to b from t", "LITERAL pattern")
    rejects("select a similar to 'x%' escape '#' from t", "ESCAPE is unsupported")
    rejects("select a similar to '[[=e=]]' from t", "collating/equivalence")
    // backslash inside a bracket: POSIX-literal, Java-escape — no silent
    // translation exists
    rejects("""select a similar to '%[\d]%' from t""",
      "backslash inside a SIMILAR TO bracket")
    // SIMILAR TO runs before the '/'/'^'/'::' rewrites; an adjoining one
    // would mis-scope the left operand silently — loud instead
    rejects("select a / b similar to 'x' from t", "parenthesize the operand")
    rejects("select a::text similar to 'x' from t", "parenthesize the operand")
    rejects("""select x collate "C" from t""", "COLLATE")
    rejects("select a, generate_series(1,3) from t", "set-returning function")
    rejects("select generate_series(1,3)", "set-returning function")
    rejects("select distinct on (u) u from t", "requires a same-level ORDER BY")
    rejects("select distinct on (u) count(*) from t order by u",
      "determinable output name")
    rejects("select distinct on (u) u, e from t order by u union all select 1, 2",
      "set operation")
  }

  test("review fixes: SRF positions, IS DISTINCT FROM, over w operand, duplicate names") {
    def rejects(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](PgDialect.translate(sql))
      assert(e.getMessage.contains(needle), s"for [$sql]: ${e.getMessage}")
    }
    // an SRF call in ANY expression position rejects loudly — not just
    // select-head and comma-in-select (previously fell through to a
    // generic Spark error, against the never-silent contract)
    rejects("select x + generate_series(1,3) from t", "set-returning function")
    rejects("select * from t where generate_series(1,3) = 2",
      "set-returning function")
    // duplicate derived output names would silently mis-project through
    // the DISTINCT ON rewrite (both outer 'v's resolving to column v)
    rejects("select distinct on (u) u, v, u + v from t order by u",
      "duplicate output names")
    // IS DISTINCT FROM in the select list is an operator, not the FROM
    // clause — the rewrite's clause scan must skip it
    val ok = norm(PgDialect.translate(
      "select distinct on (u) u, a is distinct from b as flag " +
        "from t order by u"))
    assert(ok.toLowerCase.contains("row_number") &&
      ok.toLowerCase.contains("is distinct from b as flag"), ok)
    // ...and the same guard in clauseContext: a comma-SRF in a select
    // list containing IS DISTINCT FROM still rejects (not treated as a
    // FROM item because the operator's 'from' matched first)
    rejects("select a is distinct from b, generate_series(1,3) from t",
      "set-returning function")
    // named-window aggregate is ONE operand on the LEFT of / too (the
    // forward scanner already knew `over w`; the backward one did not)
    assert(norm(PgDialect.translate(
      "select sum(x) over w / 10^27 from t window w as (order by y)")) ==
      "select pg_div(sum(x) over w, POWER(10, 27)) from t " +
        "window w as (order by y NULLS LAST)")
  }

  // --------------------------------------------------- runtime functions

  test("pg_div: PG integer division truncates toward zero; mixed is float8") {
    graft.codec.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT pg_div(-7, 2) AS a, pg_div(7, 2) AS b,
        |       pg_div(7.0D, 2) AS c, pg_div(CAST(10 AS DECIMAL(38,0)), 4.0D) AS d,
        |       pg_div(7, 0) AS e, pg_div(7.0D, 0.0D) AS f""".stripMargin).head()
    assert(r.getLong(0) == -3L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 3.5 && r.getDouble(3) == 2.5)
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("pg_encode_escape: PG escape format — octal NULs, doubled backslash") {
    graft.codec.GraftFunctions.register(spark)
    import spark.implicits._
    val bytes = "ETH-A".getBytes("US-ASCII") ++ Array[Byte](0, 0, 7, '\\'.toByte)
    val r = Seq(Tuple1(bytes)).toDF("b")
      .selectExpr("pg_encode_escape(b) AS e",
        raw"replace(pg_encode_escape(b), '\\000', '') AS stripped")
      .head()
    assert(r.getString(0) == raw"ETH-A\000\000\007\\")
    assert(r.getString(1) == raw"ETH-A\007\\")
  }

  // ------------------------------------------------------ verbatim gate

  test("verbatim result ties to the hand ports within their pre-sum rounding") {
    // the ports stabilize float sums by rounding each row to 3dp BEFORE
    // summing (oracleAssetsSql) — per (dt,collateral) group of n rows
    // that moves the sum by at most n*5e-4, and the fixture's groups
    // stay small; the VALUES must agree inside that envelope and the
    // (dt, collateral, null-structure) skeleton must agree exactly
    val verb = MakerDw.queries("assets_per_type_verbatim")(spark, dir).collect()
    val port = MakerDw.queries("assets_per_type")(spark, dir).collect()
    assert(verb.length == port.length && verb.nonEmpty)
    def key(r: org.apache.spark.sql.Row) = (r.getInt(0), r.getString(1))
    def v(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val pm = port.map(r => key(r) -> (v(r, 2), v(r, 3), v(r, 4))).toMap
    verb.foreach { r =>
      val (pa, pr, pb) = pm(key(r))
      def close(x: Option[Double], y: Option[Double], tol: Double): Boolean =
        (x, y) match {
          case (Some(a), Some(b)) => math.abs(a - b) <= tol
          case (None, None) => true
          case _ => false
        }
      assert(close(v(r, 2), pa, 0.02), s"asset diverges at ${key(r)}: ${v(r, 2)} vs $pa")
      assert(close(v(r, 3), pr, 0.02), s"revenues diverge at ${key(r)}")
      assert(close(v(r, 4), pb, 1e-6), s"blended diverges at ${key(r)}")
    }
  }

  test("verbatim canonicalization is nowhere near a rounding knife edge") {
    // the gate rounds raw float8 sums onto a fixed grid so JVM-vs-libm
    // pow ulps and sum association order cancel cross-engine; that only
    // holds if no true value sits AT a grid boundary. Mechanical proof
    // on the RAW (pre-canonicalization) verbatim execution: every value
    // lands ≥1e-4 grid units from the nearest .5 — a 1e-6-grid-unit
    // engine divergence cannot flip any rounded digit.
    graft.codec.GraftFunctions.register(spark)
    graft.fixtures.MakerFixtures.ensureDemuxed(spark)
    graft.catalog.Warehouse.materialize(spark,
      graft.ingest.Demux.readTable(spark, graft.fixtures.MakerFixtures.demuxStorePath, _),
      graft.fixtures.MakerFixtures.fixtureDefs)
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(MakerDw.referenceSqlPath)), "UTF-8")
    val rows = PgDialect.run(spark, raw).collect()
    assert(rows.length > 1000)
    def margin(value: Double, dp: Int): Double = {
      val x = math.abs(value) * math.pow(10, dp)
      math.abs(x - math.floor(x) - 0.5)
    }
    rows.foreach { r =>
      Seq((2, 2), (3, 2), (4, 8)).foreach { case (i, dp) =>
        if (!r.isNullAt(i)) {
          val m = margin(r.getDouble(i), dp)
          assert(m >= 1e-4,
            s"knife-edge at row $r col $i: margin $m for ${r.getDouble(i)} at ${dp}dp")
        }
      }
    }
  }

  test("rule 11: double-quoted identifiers become backticks, case preserved") {
    // Spark parses "..." as a STRING LITERAL — passthrough would turn a
    // column reference into a constant silently
    val t = PgDialect.translate(
      """select c_name as "Name", 1 as "x y" from customer where "Name" <> 'x'""")
    assert(t.contains("`Name`") && t.contains("`x y`") && !t.contains("\"Name\""), t)
    // embedded "" undoubles to a single quote inside the backtick name
    assert(PgDialect.translate("""select 1 as "a""b" from t""").contains("`a\"b`"))
    // runtime: the quoted alias resolves as an identifier, not a constant
    import spark.implicits._
    Seq((1, 5), (2, 9)).toDF("u", "e").createOrReplaceTempView("qid_t")
    val got = spark.sql(PgDialect.translate(
      """select u as "U x", e from qid_t order by "U x" desc"""))
    assert(got.columns.toSeq == Seq("U x", "e"))
    assert(got.collect().map(_.getInt(1)).toSeq == Seq(9, 5))
  }

  test("rule 12a: regex operators translate to regexp_like forms") {
    assert(norm(PgDialect.translate("select a ~ 'x.*y' from t")) ==
      "select regexp_like(a, 'x.*y') from t")
    // (?iu), not (?i): PG case-folds per locale; Java's bare (?i) is
    // ASCII-only (r14 ADVICE #1 — 'Ä' ~* 'ä' must keep matching)
    assert(norm(PgDialect.translate("select a ~* 'x' from t")) ==
      "select regexp_like(a, CONCAT('(?iu)', 'x')) from t")
    assert(norm(PgDialect.translate("select a !~ 'x' from t")) ==
      "select (NOT regexp_like(a, 'x')) from t")
    assert(norm(PgDialect.translate("select a !~* 'x' from t")) ==
      "select (NOT regexp_like(a, CONCAT('(?iu)', 'x'))) from t")
    // the left operand is the full concat chain (PG: || and ~ share the
    // "any other operator" precedence, left-associative)
    assert(norm(PgDialect.translate("select a || b ~ 'x' from t")) ==
      "select regexp_like(a || b, 'x') from t")
    // runtime semantics: partial match, case flag honored
    import spark.implicits._
    Seq(("cold widget", 1L), ("blue rod", 2L)).toDF("s", "id")
      .createOrReplaceTempView("re_t")
    val got = spark.sql(PgDialect.translate(
      "select id from re_t where s ~ 'widg' or s ~* 'ROD$' order by id"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L))
  }

  test("rule 12b: SIMILAR TO pattern dialect translates to an anchored regex") {
    assert(PgDialect.similarToRegex("%(M|B)%") == ".*(M|B).*")
    assert(PgDialect.similarToRegex("B_ILD") == "B.ILD")
    assert(PgDialect.similarToRegex("a.b") == "a\\.b", "dot is literal in SIMILAR TO")
    assert(PgDialect.similarToRegex("x[0-9]+") == "x[0-9]+")
    assert(PgDialect.similarToRegex("""a\%b""") == "a%b", "escaped % is literal")
    // \A…\z, not ^…$: Java's $ also matches before a final newline,
    // PG SIMILAR TO requires a whole-string match (r14 ADVICE #3)
    // the rendered Spark literal escapes the backslash: '\\A(?:…)\\z'
    assert(norm(PgDialect.translate("select a similar to 'B%' from t")) ==
      "select regexp_like(a, '\\\\A(?:B.*)\\\\z') from t")
    assert(norm(PgDialect.translate("select a not similar to 'B%' from t")) ==
      "select (NOT regexp_like(a, '\\\\A(?:B.*)\\\\z')) from t")
    // runtime: anchored full-match, unlike ~
    import spark.implicits._
    Seq("BUILDING", "REBUILD", "MACHINERY").toDF("s")
      .createOrReplaceTempView("sim_t")
    val got = spark.sql(PgDialect.translate(
      "select s from sim_t where s similar to '%BUILD%' " +
        "and s not similar to 'RE%' order by s")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("BUILDING"))
    // a value ending in '\n' must NOT full-match its newline-less pattern
    Seq("AUTO", "AUTO\n").toDF("s").createOrReplaceTempView("sim_nl_t")
    val nl = spark.sql(PgDialect.translate(
      "select s from sim_nl_t where s similar to 'AUTO'"))
      .collect().map(_.getString(0))
    assert(nl.toSeq == Seq("AUTO"), "Java $ before a final newline leaked")
  }

  test("rule 12: POSIX bracket classes translate to Java \\p{…} (r15 #7)") {
    assert(PgDialect.translatePgRegex("[[:alpha:]]+", "~") == "[\\p{Alpha}]+")
    assert(PgDialect.translatePgRegex("[[:digit:][:upper:]]", "~") ==
      "[\\p{Digit}\\p{Upper}]")
    assert(PgDialect.translatePgRegex("[^[:space:]]", "~") == "[^\\p{Space}]")
    // Java-special POSIX-literals inside a bracket get escaped
    assert(PgDialect.translatePgRegex("[]x]", "~") == "[\\]x]")
    assert(PgDialect.translatePgRegex("[a&b[]", "~") == "[a\\&b\\[]")
    // shared-core constructs pass through untouched
    assert(PgDialect.translatePgRegex("\\d+(foo|bar)*[A-Z]{2,3}", "~") ==
      "\\d+(foo|bar)*[A-Z]{2,3}")
    assert(PgDialect.similarToRegex("%[[:digit:]]_") == ".*[\\p{Digit}].")
    // end-to-end: translated class matches in Spark what PG would match
    import spark.implicits._
    Seq(("abc", 1L), ("ab3", 2L), ("  x", 3L)).toDF("s", "id")
      .createOrReplaceTempView("pcx_t")
    val got = spark.sql(PgDialect.translate(
      "select id from pcx_t where s ~ '^[[:alpha:]]+$' order by id"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }

  test("DISTINCT ON: quoted case-distinct names accepted; folded collisions still reject") {
    // r13 ADVICE #5: "A" and "a" are DISTINCT outputs in PG — accept
    val ok = PgDialect.translate(
      """select distinct on (u) u, e as "A", v as "a" from t order by u, "A" desc""")
    assert(ok.contains("`A`") && ok.contains("`a`"), ok)
    // quoted "A" twice is a genuine duplicate — still loud
    val e1 = intercept[IllegalArgumentException](PgDialect.translate(
      """select distinct on (u) u, e as "A", v as "A" from t order by u"""))
    assert(e1.getMessage.contains("duplicate output names"))
    // bare V folds to v; quoted "v" is v — PG considers them the SAME
    val e2 = intercept[IllegalArgumentException](PgDialect.translate(
      """select distinct on (u) u, e as V, v as "v" from t order by u"""))
    assert(e2.getMessage.contains("duplicate output names"))
  }
}
