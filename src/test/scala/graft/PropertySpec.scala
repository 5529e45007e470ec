package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.sqlfront.{PgRewrite, StatementSplitter}

/** Property tests for the engine's pure layers (no Spark session). */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 300): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val ident: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)

  test("StatementSplitter round-trips statements with quoted semicolons") {
    val stmtGen = for {
      a <- ident; b <- Gen.oneOf("x;y", "a--b", "p/*q*/", "plain", "it''s")
    } yield s"SELECT '$b' AS $a FROM t"
    check(Prop.forAll(Gen.nonEmptyListOf(stmtGen)) { stmts =>
      StatementSplitter.split(stmts.mkString(";\n")) == stmts
    })
  }

  test("StatementSplitter strips comments outside strings only") {
    val s = StatementSplitter.split(
      "SELECT 1; -- drop; everything\nSELECT '-- not a comment'; /* x;\ny */ SELECT 2")
    assert(s == Seq("SELECT 1", "SELECT '-- not a comment'", "SELECT 2"))
  }

  test("StatementSplitter keeps dollar-quoted bodies intact") {
    val s = StatementSplitter.split(
      "DO $$ BEGIN x; y; END $$; SELECT 1")
    assert(s == Seq("DO $$ BEGIN x; y; END $$", "SELECT 1"))
  }

  test("StatementSplitter round-trips tagged dollar-quoted bodies") {
    val body = Gen.oneOf("x; y", "SELECT 1; SELECT 2", "it''s; fine", "$$ inner; $$")
    val gen = for { tag <- ident; b <- body; a <- ident } yield
      (s"DO $$$tag$$ $b $$$tag$$", s"SELECT 1 AS $a")
    check(Prop.forAll(gen) { case (doStmt, sel) =>
      StatementSplitter.split(s"$doStmt;\n$sel") == Seq(doStmt, sel)
    })
  }

  test("PgRewrite never alters rewrite-trigger text stored inside literals") {
    // every rewrite keyword/operator this front handles, embedded in a
    // string literal — the literal must survive every pass verbatim
    val triggers = Gen.oneOf(
      "x = ANY(y)", "ARRAY[1,2]", "FETCH FIRST 3 ROWS ONLY",
      "OFFSET 4 ROWS", "a SIMILAR TO b", "DISTINCT ON (k)",
      "generate_series(1,9)", "a::int", "p->>k", "v ~ w")
    val gen = for { a <- ident; t <- triggers; b <- ident } yield
      s"SELECT '$t' AS $a FROM $b"
    check(Prop.forAll(gen) { sql => PgRewrite.rewrite(sql) == sql })
  }

  test("PgRewrite never alters rewrite-trigger text inside double-quoted identifiers") {
    // the round-8 literalSpans fix class: `"ident"` becomes a backtick
    // identifier FIRST, and every later pass must treat the backtick
    // span as opaque — keyword-like content survives verbatim
    val triggers = Gen.oneOf(
      "FOR UPDATE", "unnest(x)", "FETCH FIRST 3 ROWS ONLY", "a::int",
      "x = ANY(y)", "DISTINCT ON (k)", "p->>k", "v ~ w", "TABLESAMPLE")
    val gen = for { t <- triggers; b <- ident } yield (t, b)
    check(Prop.forAll(gen) { case (t, b) =>
      PgRewrite.rewrite(s"""SELECT "$t" FROM $b""") == s"SELECT `$t` FROM $b"
    })
  }

  test("PgRewrite handles parenthesized casts without corrupting SQL") {
    check(Prop.forAll(ident, ident) { (a, b) =>
      PgRewrite.rewrite(s"SELECT ($a + $b)::int FROM t") ==
        s"SELECT CAST(($a + $b) AS int) FROM t" &&
      PgRewrite.rewrite(s"SELECT f($a)::bigint FROM t") ==
        s"SELECT CAST(f($a) AS bigint) FROM t"
    })
  }

  test("PgRewrite is idempotent") {
    val sqlGen = Gen.oneOf(
      "SELECT props->>'k' FROM e",
      "SELECT props->'a'->>'b', arr->0 FROM e WHERE props#>>'{x,y}' = '1'",
      "SELECT x::int, '5'::double precision FROM t",
      "SELECT a, b FROM t WHERE c > 1")
    check(Prop.forAll(sqlGen) { sql =>
      val once = PgRewrite.rewrite(sql)
      PgRewrite.rewrite(once) == once
    })
  }

  test("PgRewrite leaves operator-free SQL untouched") {
    check(Prop.forAll(ident, ident) { (a, b) =>
      val sql = s"SELECT $a, count(*) FROM $b GROUP BY $a"
      PgRewrite.rewrite(sql) == sql
    })
  }

  test("PgRewrite keeps a quote inside a backtick identifier out of literal tracking") {
    // the ' in `it's` is identifier content, so "b" after it is still a
    // double-quoted identifier (left as "b", Spark reads the string 'b')
    assert(PgRewrite.rewrite("SELECT `it's` AS a, \"b\" FROM t") == "SELECT `it's` AS a, `b` FROM t")
  }

  test("StatementSplitter does not split inside a backtick identifier") {
    assert(StatementSplitter.split("SELECT `a;b` FROM t; SELECT 2") == Seq("SELECT `a;b` FROM t", "SELECT 2"))
  }

  test("PgRewrite finds string_agg's ORDER BY past a quoted paren") {
    assert(PgRewrite.rewrite("SELECT string_agg(x, ')' ORDER BY y) FROM t") ==
      "SELECT string_agg(x, ')') WITHIN GROUP (ORDER BY y) FROM t")
  }

  test("PgRewrite rewrites a 4000-row VALUES list of casts and ARRAY constructors in linear time") {
    def values(rows: Int) = (0 until rows).map { i =>
      s"($i, 'name$i'::text, '2024-01-${10 + i % 18}'::date, ARRAY[1, 2])"
    }.mkString("SELECT * FROM VALUES ", ", ", "")
    PgRewrite.rewrite(values(500)) // JIT warm-up
    val sql = values(4000)
    val t0 = System.nanoTime()
    val out = PgRewrite.rewrite(sql)
    val secs = (System.nanoTime() - t0) / 1e9
    val lastRow = out.endsWith("(3999, CAST('name3999' AS text), CAST('2024-01-13' AS date), array(1, 2))")
    val counts = ("CAST\\(".r.findAllMatchIn(out).size, "array\\(".r.findAllMatchIn(out).size)
    assert(lastRow && counts == ((8000, 4000)), s"casts/arrays rewritten: $counts")
    assert(secs < 1.0, f"rewrite of ${sql.length} chars took $secs%.2f s")
  }

  test("µ-quantized dot matches exact-expansion HALF_UP at scale 6") {
    // the invariant DotExactExpr's r14 lockstep contract rests on: the
    // floor(x+0.5) fast path computes, for EVERY float element, the same
    // integer as rounding the float's exact binary expansion to scale 6
    // half-away-from-zero (== what DuckDB's round(v*1e6) computes on the
    // same exactly-representable double) — hammered across magnitudes
    // including the sub-µ range that quantizes to 0
    val floats = Gen.oneOf(
      Gen.choose(-1.0, 1.0),
      Gen.choose(-1e-6, 1e-6),
      Gen.choose(-100.0, 100.0)).map(_.toFloat)
    check(Prop.forAll(floats, floats) { (f, g) =>
      val viaExpr = graft.functions.FastOps.dotExact(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(f)),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(g)))
      def q(v: Float): Long = new JBigDecimal(v.toDouble) // exact expansion
        .setScale(6, RoundingMode.HALF_UP).unscaledValue().longValueExact()
      val expect = new JBigDecimal(
        java.math.BigInteger.valueOf(q(f) * q(g)), 12).doubleValue()
      viaExpr == expect
    }, n = 2000)
  }
}
