package graft.sqlfront

import scala.util.matching.Regex

/** The PG front's one SQL lexer: a single left-to-right scan that marks
  * every opaque span, the text no rewrite may read as syntax:
  *   '…'   string literal ('' escape)
  *   "…"   quoted identifier ("" escape)
  *   `…`   quoted identifier (`` escape)
  *   --    line comment, up to (not including) the newline
  *   /* */ block comment (not nested)
  *   $tag$ … $tag$  dollar-quoted body; `$$` is the empty tag, and `$1`
  *         is never an opener (the tag must close with a second `$`)
  * Everything else is code. An unterminated span runs to the end of the
  * text. Every question the front asks about positions — is it code, what
  * is the nesting depth, where is the matching close, where are the
  * top-level separators and keyword matches — is answered from these
  * spans, so splitter, rewrites, DML clause peeling and `$N` binding all
  * apply the same rule. Spans and paren matching are computed lazily, so
  * a lexer that is never asked costs nothing; each is one linear scan. */
final class SqlLexer(val sql: String) {
  import SqlLexer._

  private val n = sql.length

  // span k covers [starts(k), ends(k)); sorted and disjoint
  private lazy val (starts, ends, kinds, closed) = {
    val st = Array.newBuilder[Int]; val en = Array.newBuilder[Int]
    val ki = Array.newBuilder[Int]; val cl = Array.newBuilder[Boolean]
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      val next = if (i + 1 < n) sql.charAt(i + 1) else ' '
      val tag = if (c == '$') dollarTagAt(i) else null
      val kind = c match {
        case '\'' => Literal
        case '"' => Ident
        case '`' => Backtick
        case '-' if next == '-' => LineComment
        case '/' if next == '*' => BlockComment
        case '$' if tag != null => Dollar
        case _ => Code
      }
      if (kind == Code) i += 1
      else {
        val end = kind match {
          case LineComment => sql.indexOf('\n', i + 2)
          case BlockComment => val j = sql.indexOf("*/", i + 2); if (j < 0) j else j + 2
          case Dollar => val j = sql.indexOf(tag, i + tag.length); if (j < 0) j else j + tag.length
          case _ => quoteEnd(i)
        }
        st += i; en += (if (end < 0) n else end); ki += kind; cl += end >= 0
        i = if (end < 0) n else end
      }
    }
    (st.result(), en.result(), ki.result(), cl.result())
  }

  /** `$tag$` opener at `p` (PG's rule: `$`, letters/digits/_, `$`), or null. */
  private def dollarTagAt(p: Int): String = {
    var j = p + 1
    while (j < n && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
    if (j < n && sql.charAt(j) == '$') sql.substring(p, j + 1) else null
  }

  /** End (exclusive) of the quoted span opened at `p`; a doubled
    * delimiter is an escape. -1 when it never closes. */
  private def quoteEnd(p: Int): Int = {
    val q = sql.charAt(p)
    var j = p + 1
    while (j < n) {
      if (sql.charAt(j) == q) {
        if (j + 1 < n && sql.charAt(j + 1) == q) j += 2 else return j + 1
      } else j += 1
    }
    -1
  }

  /** Index of the last span starting at or before `i`, or -1. */
  private def spanBefore(i: Int): Int = {
    var lo = 0; var hi = starts.length - 1; var k = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) <= i) { k = mid; lo = mid + 1 } else hi = mid - 1
    }
    k
  }

  def isCode(i: Int): Boolean = {
    val k = spanBefore(i)
    k < 0 || i >= ends(k)
  }

  /** Calls `f(kind, start, end)` for each maximal code run and each span
    * overlapping [lo, hi), in order, clipped to the range. */
  def foreachSegment(lo: Int = 0, hi: Int = n)(f: (Int, Int, Int) => Unit): Unit = {
    var k = math.max(spanBefore(lo), 0)
    var i = lo
    while (i < hi) {
      while (k < starts.length && ends(k) <= i) k += 1
      if (k < starts.length && starts(k) <= i) {
        val e = math.min(ends(k), hi); f(kinds(k), i, e); i = e
      } else {
        val e = if (k < starts.length) math.min(starts(k), hi) else hi
        f(Code, i, e); i = e
      }
    }
  }

  // depthAt(i): code '(' and '[' minus code ')' and ']' in [0, i);
  // partner(i): the matching close/open of a code paren or bracket
  // (each kind matches its own kind), -1 when unmatched
  private lazy val (depthAt, partner) = {
    val depth = new Array[Int](n + 1)
    val match_ = Array.fill(n)(-1)
    val parens = new Array[Int](n); var np = 0
    val brackets = new Array[Int](n); var nb = 0
    var d = 0
    foreachSegment() { (kind, a, b) =>
      var i = a
      while (i < b) {
        depth(i) = d
        if (kind == Code) sql.charAt(i) match {
          case '(' => parens(np) = i; np += 1; d += 1
          case ')' =>
            d -= 1
            if (np > 0) { np -= 1; match_(i) = parens(np); match_(parens(np)) = i }
          case '[' => brackets(nb) = i; nb += 1; d += 1
          case ']' =>
            d -= 1
            if (nb > 0) { nb -= 1; match_(i) = brackets(nb); match_(brackets(nb)) = i }
          case _ =>
        }
        i += 1
      }
    }
    depth(n) = d
    (depth, match_)
  }

  /** Nesting depth at `i`: code '(' and '[' minus code ')' and ']'
    * before it. */
  def depth(i: Int): Int = depthAt(i)

  /** The ')' or ']' matching the code '(' or '[' at `open`, or -1. */
  def balancedClose(open: Int): Int = partner(open)

  /** The '(' or '[' matching the code ')' or ']' at `close`, or -1. */
  def balancedOpen(close: Int): Int = partner(close)

  /** The end of the span that starts exactly at `i`, or -1. */
  def spanEndAt(i: Int): Int = {
    val k = spanBefore(i)
    if (k >= 0 && starts(k) == i) ends(k) else -1
  }

  /** Body of the quoted span at [a, b) without its delimiters, the
    * doubled-delimiter escape collapsed. */
  def unquote(a: Int, b: Int): String = {
    val q = sql.charAt(a).toString
    val body = sql.substring(a + 1, if (closed(spanBefore(a))) b - 1 else b)
    body.replace(q + q, q)
  }

  /** Ranges of [lo, hi) between the code `sep` characters at the
    * range's own nesting depth; a blank last range (trailing separator,
    * empty input) is dropped. */
  def splitRanges(sep: Char, lo: Int = 0, hi: Int = n): IndexedSeq[(Int, Int)] = {
    val d0 = depth(lo)
    val out = IndexedSeq.newBuilder[(Int, Int)]
    var from = lo
    foreachSegment(lo, hi) { (kind, a, b) =>
      if (kind == Code) {
        var i = a
        while (i < b) {
          if (sql.charAt(i) == sep && depthAt(i) == d0) { out += ((from, i)); from = i + 1 }
          i += 1
        }
      }
    }
    if (sql.substring(from, hi).trim.nonEmpty) out += ((from, hi))
    out.result()
  }

  /** [[splitRanges]] as trimmed strings: top-level list items. */
  def split(sep: Char, lo: Int = 0, hi: Int = n): IndexedSeq[String] =
    splitRanges(sep, lo, hi).map { case (a, b) => sql.substring(a, b).trim }

  /** Statements cut at every code ';', comments stripped (a line
    * comment's newline stays), trimmed, blanks dropped. */
  def statements: Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new java.lang.StringBuilder
    def flush(): Unit = {
      val t = cur.toString.trim
      if (t.nonEmpty) out += t
      cur.setLength(0)
    }
    foreachSegment() { (kind, a, b) =>
      if (kind == Code) {
        var from = a; var i = a
        while (i < b) {
          if (sql.charAt(i) == ';') { cur.append(sql, from, i); flush(); from = i + 1 }
          i += 1
        }
        cur.append(sql, from, b)
      } else if (kind != LineComment && kind != BlockComment) cur.append(sql, a, b)
    }
    flush()
    out.result()
  }

  /** Matches of `re` in [lo, hi) that start on code. */
  def codeMatches(re: Regex, lo: Int = 0, hi: Int = n): Iterator[Regex.Match] = {
    val m = re.pattern.matcher(sql)
    m.region(lo, hi).useTransparentBounds(true).useAnchoringBounds(false)
    Iterator.continually(m.find()).takeWhile(identity)
      .map(_ => new Regex.Match(sql, m, Nil).force)
      .filter(mm => isCode(mm.start))
  }

  /** [[codeMatches]] at the range's own nesting depth (depth 0 for the
    * whole text). */
  def topLevel(re: Regex, lo: Int = 0, hi: Int = n): Iterator[Regex.Match] = {
    val d0 = depth(lo)
    codeMatches(re, lo, hi).filter(m => depthAt(m.start) == d0)
  }

  /** One left-to-right rewrite of [lo, hi): for each match of `re` whose
    * position `at(m)` is code, `edit` may replace the input range
    * [start, end) with new text; scanning resumes after the edit. An
    * edit may begin before its match (FILTER's rewrite starts at the
    * aggregate's name) and may enclose earlier edits, whose output it
    * then replaces — it re-does them by recursing on its inner ranges
    * with the same lexer, so the text is lexed once however many edits
    * it takes. An edit that starts inside an earlier one is ignored.
    * Returns the text itself (same instance) when nothing changed. */
  def rewrite(re: Regex, lo: Int = 0, hi: Int = n, at: Regex.Match => Int = _.start)(
      edit: Regex.Match => Option[(Int, Int, String)]): String = {
    val m = re.pattern.matcher(sql)
    m.region(lo, hi).useTransparentBounds(true).useAnchoringBounds(false)
    val out = new java.lang.StringBuilder
    // applied edits: input start, input end, output offset of their text
    val edits = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var cursor = lo
    while (m.find()) {
      val mm = new Regex.Match(sql, m, Nil).force
      if (isCode(at(mm))) edit(mm) match {
        case Some((start, end, text)) if start >= lo && end <= hi =>
          var k = edits.length
          while (k > 0 && edits(k - 1)._1 >= start) k -= 1
          if (k == 0 || edits(k - 1)._2 <= start) {
            if (k < edits.length) { // enclosing edit: drop the output of those inside
              out.setLength(edits(k)._3); cursor = edits(k)._1
              edits.remove(k, edits.length - k)
            }
            if (start >= cursor) out.append(sql, cursor, start)
            else out.setLength(out.length - (cursor - start))
            edits += ((start, end, out.length))
            out.append(text)
            cursor = end
            if (end > mm.end) m.region(end, hi)
          }
        case _ =>
      }
    }
    if (edits.isEmpty) { if (lo == 0 && hi == n) sql else sql.substring(lo, hi) }
    else out.append(sql, cursor, hi).toString
  }
}

object SqlLexer {
  val Code = 0
  val Literal = 1
  val Ident = 2
  val Backtick = 3
  val LineComment = 4
  val BlockComment = 5
  val Dollar = 6

  private val Placeholder = """\$(\d+)""".r

  /** Substitute each `$N` placeholder on code with `arg(N)`: the one `$N`
    * binding shared by the wire protocol's Bind and EXECUTE. */
  def bindPlaceholders(sql: String)(arg: Int => String): String =
    if (sql.indexOf('$') < 0) sql
    else new SqlLexer(sql).rewrite(Placeholder)(m => Some((m.start, m.end, arg(m.group(1).toInt))))
}
