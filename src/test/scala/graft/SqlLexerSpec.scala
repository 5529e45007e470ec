package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.sqlfront.SqlLexer

/** Properties of [[SqlLexer]], the PG front's one code-vs-content rule,
  * and the guard that keeps it the only one (no Spark session). */
class SqlLexerSpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 500): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  /** A generated piece of SQL: code, or an opaque span (`opaque` is the
    * exact text the lexer must report as one span). */
  private case class Piece(text: String, opaque: Boolean)

  private val code: Gen[Piece] = Gen.oneOf(
    "SELECT", "a", "b.c", "x1", "42", "=", "+", "*", "(", ")", "(", ")",
    "[", "]", ";", ",", ",", "::int", "$1").map(Piece(_, opaque = false))

  // body characters include every delimiter, so escapes and would-be
  // openers appear inside spans
  private val bodyChar = Gen.oneOf("a", " ", ";", ",", "(", ")", "'", "\"", "`", "-", "/", "*", "$", "\n")
  private def body(avoid: String*): Gen[String] =
    Gen.listOfN(6, bodyChar).map(_.mkString)
      .map(b => avoid.foldLeft(b)((s, a) => s.replace(a, "")))

  private def quoted(q: String): Gen[Piece] =
    body().map(b => Piece(q + b.replace(q, q + q) + q, opaque = true))

  private val opaque: Gen[Piece] = Gen.oneOf(
    quoted("'"), quoted("\""), quoted("`"),
    body("\n").map(b => Piece("--" + b, opaque = true)),
    body("*/", "*").map(b => Piece("/*" + b + "*/", opaque = true)),
    for { tag <- Gen.oneOf("", "t", "fn_1"); b <- body("$") } yield
      Piece("$" + tag + "$" + b + "$" + tag + "$", opaque = true))

  /** Pieces joined by a space (a line comment also needs its newline),
    * with each piece's [start, end) in the result. */
  private def render(ps: Seq[Piece]): (String, Seq[(Piece, Int, Int)]) = {
    val sb = new StringBuilder
    val at = ps.map { p =>
      val a = sb.length
      sb ++= p.text
      val b = sb.length
      sb ++= (if (p.text.startsWith("--")) "\n" else " ")
      (p, a, b)
    }
    (sb.toString, at)
  }

  private val mixed: Gen[Seq[Piece]] =
    Gen.listOf(Gen.frequency(3 -> code, 2 -> opaque))

  test("opaque spans round-trip verbatim, in order") {
    check(Prop.forAll(mixed) { ps =>
      val (sql, at) = render(ps)
      val seen = Seq.newBuilder[String]
      new SqlLexer(sql).foreachSegment() { (kind, a, b) =>
        if (kind != SqlLexer.Code) seen += sql.substring(a, b)
      }
      seen.result() == at.collect { case (p, _, _) if p.opaque => p.text }
    })
  }

  test("top-level splits and matching closes never land inside an opaque span") {
    check(Prop.forAll(mixed) { ps =>
      val (sql, at) = render(ps)
      val spans = at.collect { case (p, a, b) if p.opaque => (a, b) }
      def inside(i: Int) = spans.exists { case (a, b) => i >= a && i < b }
      val lx = new SqlLexer(sql)
      val cuts = Seq(';', ',').flatMap { sep =>
        lx.splitRanges(sep).map(_._2).filter(_ < sql.length).map(i => (i, sep))
      }
      val closes = sql.indices.filter(i => "([".contains(sql.charAt(i)) && !inside(i))
        .map(lx.balancedClose).filter(_ >= 0)
      cuts.forall { case (i, sep) => sql.charAt(i) == sep && !inside(i) && lx.isCode(i) } &&
        closes.forall(i => !inside(i) && ")]".contains(sql.charAt(i))) &&
        lx.statements.forall(s => s.nonEmpty && s == s.trim)
    })
  }

  test("matching close and open agree with a naive scan when nothing is opaque") {
    val parens: Gen[String] =
      Gen.listOf(Gen.oneOf("(", ")", "(", ")", "[", "]", "a", " ", ",")).map(_.mkString)
    def naiveClose(s: String, open: Int): Int = {
      val (o, c) = if (s.charAt(open) == '(') ('(', ')') else ('[', ']')
      var d = 0; var j = open
      while (j < s.length) {
        if (s.charAt(j) == o) d += 1
        else if (s.charAt(j) == c) { d -= 1; if (d == 0) return j }
        j += 1
      }
      -1
    }
    def naiveOpen(s: String, close: Int): Int = {
      val (o, c) = if (s.charAt(close) == ')') ('(', ')') else ('[', ']')
      var d = 0; var j = close
      while (j >= 0) {
        if (s.charAt(j) == c) d += 1
        else if (s.charAt(j) == o) { d -= 1; if (d == 0) return j }
        j -= 1
      }
      -1
    }
    check(Prop.forAll(parens) { s =>
      val lx = new SqlLexer(s)
      s.indices.forall { i =>
        s.charAt(i) match {
          case '(' | '[' => lx.balancedClose(i) == naiveClose(s, i)
          case ')' | ']' => lx.balancedOpen(i) == naiveOpen(s, i)
          case _ => true
        }
      }
    })
  }

  test("statements split on code semicolons and drop comments") {
    val lx = new SqlLexer("SELECT `a;b`, \"c;d\", 'e;f' -- g;h\n; /* i;j */ SELECT $t$ k;l $t$")
    assert(lx.statements == Seq("SELECT `a;b`, \"c;d\", 'e;f'", "SELECT $t$ k;l $t$"))
  }

  test("$N binds only on code") {
    val sql = "SELECT $1, '$1', \"$1\", $2 -- $1\n"
    assert(SqlLexer.bindPlaceholders(sql)(n => s"<$n>") == "SELECT <1>, '$1', \"$1\", <2> -- $1\n")
  }

  test("no file under sqlfront besides SqlLexer keeps quote/comment state or matches parens") {
    val root = Paths.get("src/main/scala/graft/sqlfront")
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    // quote/comment state flags, the old scanner helpers, and hand-rolled
    // paren/bracket depth counters
    val scanner = ("""\bvar\s+(inS|inD|inLine|inBlock)\b|\bdef\s+(literalSpans|balancedClose)\b""" +
      """|'[(\[]'.*\+=\s*1""").r
    val hits = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if scanner.findFirstIn(line).isDefined => (p.getFileName.toString, i + 1)
        }
      }
    assert(hits.exists(_._1 == "SqlLexer.scala"), "the guard must see the real lexer")
    val strays = hits.filterNot(_._1 == "SqlLexer.scala")
    assert(strays.isEmpty, s"SQL scanning outside SqlLexer: ${strays.mkString(", ")}")
  }
}
