package graft.sqlfront

import scala.util.matching.Regex
import scala.util.matching.Regex.Match
import org.apache.spark.sql.types._

/** Multi-statement splitter (reference StatementSplitter.java +
  * QueryService.java:85-141): split on every code ';' — [[SqlLexer]]
  * decides what is code — and strip comments. */
object StatementSplitter {
  def split(sql: String): Seq[String] = new SqlLexer(sql).statements
}

/** PostgreSQL-syntax pre-rewrite (SURVEY §4.3.1): a deterministic string
  * rewriter run before `spark.sql`, not a Catalyst rule — exactly the
  * compatibility shim layer the reference implements inside its executors
  * (reference kv/KvQueryExecutor.java:3159-3211 for JSON operators).
  *
  * Handled: `->` / `->>` (key and array-index), `#>` / `#>>` path
  * operators → `get_json_object`, and `expr::type` casts → CAST(). The
  * `||` concat and standard functions need no rewrite (Spark-native).
  *
  * Every pass is one left-to-right pass over one [[SqlLexer]]: literals,
  * quoted identifiers, comments and dollar-quoted bodies are opaque, so
  * trigger text stored in them is never rewritten as syntax. A pass
  * that changes nothing hands its lexer on to the next one.
  */
object PgRewrite {
  // LHS of a JSON operator: a column reference or a string literal
  private val jsonLhs = """([\w\.]+|'(?:[^']|'')*')"""
  private val path = (jsonLhs + """\s*#>>?\s*'\{([^}]*)\}'""").r
  private val keyOnIdent = (jsonLhs + """\s*->(>?)\s*'([^']+)'""").r
  private val idxOnIdent = (jsonLhs + """\s*->(>?)\s*(\d+)""").r
  private val keyOnGjo = """get_json_object\(([\w\.]+),\s*'(\$[^']*)'\)\s*->(>?)\s*'([^']+)'""".r
  private val idxOnGjo = """get_json_object\(([\w\.]+),\s*'(\$[^']*)'\)\s*->(>?)\s*(\d+)""".r
  private val regexOp = """([\w\.]+)\s*(!?)~(\*?)\s*('(?:[^']|'')*')""".r
  private val castType = """\w+(?:\s+precision)?(?:\(\d+(?:,\d+)?\))?""".r

  private type Pass = SqlLexer => String

  /** The lexer for `out`: the same one when the pass changed nothing. */
  private def relex(lx: SqlLexer, out: String): SqlLexer =
    if (out eq lx.sql) lx else new SqlLexer(out)

  private def chain(passes: Pass*): Pass =
    lx => passes.foldLeft(lx)((l, p) => relex(l, p(l))).sql

  /** Replace every match of `re` whose operator position `at` is code.
    * The operand regexes may legitimately START on a literal (literal
    * LHS), so the gate keys on the operator, not the match start. */
  private def gated(re: Regex, at: Match => Int = _.start)(repl: Match => String): Pass =
    lx => lx.rewrite(re, at = at)(m => Some((m.start, m.end, repl(m))))

  private def lookingAt(re: Regex, s: String, from: Int, to: Int): Option[Match] = {
    val m = re.pattern.matcher(s).region(from, to)
    if (m.lookingAt()) Some(new Match(s, m, Nil).force) else None
  }

  /** Rewrite `expr::type` → `CAST(expr AS type)` in one pass. A
    * parenthesized operand (`(a+b)::int`, `f(x)::int`) runs back to its
    * balanced '(' and any attached function name — a regex alternative
    * on `)` would capture only the closer and emit invalid SQL — and a
    * cast of such a CAST chains (`(a)::text::int`). A simple operand is
    * an identifier chain or a string literal (`'it''s'::text` takes the
    * WHOLE literal). A `::` inside a literal is content. */
  private def rewriteCasts(lx: SqlLexer): String = {
    val sql = lx.sql
    if (!sql.contains("::")) return sql
    val out = new java.lang.StringBuilder(sql.length + 64)
    val outAt = Array.fill(sql.length)(-1) // output offset of each code '('
    val tm = castType.pattern.matcher(sql)
    var litAt = -1  // output offset of the literal the output ends with
    var castAt = -1 // output offset of the parenthesized CAST it ends with
    def isW(c: Char) = c < 128 && (c.isLetterOrDigit || c == '_')
    lx.foreachSegment() { (kind, a, b) =>
      if (kind != SqlLexer.Code) {
        litAt = if (kind == SqlLexer.Literal) out.length else -1
        castAt = -1
        out.append(sql, a, b)
      } else {
        var i = a
        while (i < b) {
          val c = sql.charAt(i)
          if (c == ':' && i + 1 < b && sql.charAt(i + 1) == ':' &&
              tm.region(i + 2, sql.length).lookingAt()) {
            val open = if (castAt < 0 && i > a && sql.charAt(i - 1) == ')')
              lx.balancedOpen(i - 1) else -1
            val parenAt =
              if (castAt >= 0) castAt
              else if (open >= 0 && outAt(open) >= 0) {
                var k = outAt(open) - 1
                while (k >= 0 && (out.charAt(k).isLetterOrDigit ||
                  out.charAt(k) == '_' || out.charAt(k) == '.')) k -= 1
                k + 1
              } else -1
            val start =
              if (parenAt >= 0) parenAt
              else if (litAt >= 0) litAt
              else { // identifier chain (?:\w+\.)*\w+ ending at the output's end
                var k = out.length
                while (k > 0 && isW(out.charAt(k - 1))) k -= 1
                var chainAt = if (k < out.length) k else -1
                while (chainAt > 1 && out.charAt(chainAt - 1) == '.' && isW(out.charAt(chainAt - 2))) {
                  k = chainAt - 1
                  while (k > 0 && isW(out.charAt(k - 1))) k -= 1
                  chainAt = k
                }
                chainAt
              }
            if (start >= 0) {
              val operand = out.substring(start)
              out.setLength(start)
              out.append("CAST(").append(operand).append(" AS ").append(tm.group()).append(')')
              castAt = if (parenAt >= 0) start else -1
              litAt = -1
              i = tm.end
            } else {
              out.append("::"); litAt = -1; castAt = -1; i += 2
            }
          } else {
            if (c == '(') outAt(i) = out.length
            out.append(c); litAt = -1; castAt = -1; i += 1
          }
        }
      }
    }
    out.toString
  }

  private val aggFn = """(?i)\b(array_agg|string_agg)\s*\(""".r
  private val orderByKw = """(?i)\bORDER\s+BY\b""".r

  /** PG aggregate-internal ORDER BY (`array_agg(x ORDER BY y [DESC])`,
    * `string_agg(x, d ORDER BY y)`) → Spark spellings. Spark parses the
    * standard `WITHIN GROUP` form natively (listagg / string_agg /
    * percentile_cont / mode), but NOT the PG inside-the-args form, which
    * is what PG users and pg_dump actually emit. Rewrites:
    *   string_agg(x, d ORDER BY k)   → string_agg(x, d) WITHIN GROUP (ORDER BY k)
    *   array_agg(x ORDER BY x [ASC]) → sort_array(array_agg(x))
    *   array_agg(x ORDER BY x DESC)  → sort_array(array_agg(x), false)
    *   array_agg(x ORDER BY k, …)    → transform(array_sort(array_agg(struct(k AS _o1, …, x AS _v))), s -> s._v)
    * (struct natural ordering sorts by the key fields first, then the
    * value — deterministic under ties; all-DESC wraps in reverse(); mixed
    * ASC/DESC directions are rejected rather than silently mis-sorted.)
    */
  private def rewriteAggOrderBy(lx: SqlLexer): String = {
    def go(lo: Int, hi: Int): String = lx.rewrite(aggFn, lo, hi) { m =>
      val open = m.end - 1
      val close = lx.balancedClose(open)
      if (close < 0) throw new IllegalArgumentException(
        s"unbalanced parens in ${m.group(1)} call: ${lx.sql}")
      // the call's own ORDER BY: top level of its argument list
      lx.topLevel(orderByKw, open + 1, close).nextOption().map { mm =>
        val aggArgs = go(open + 1, mm.start).trim
        val orderBy = go(mm.end, close).trim
        val repl =
          if (m.group(1).equalsIgnoreCase("string_agg"))
            s"string_agg($aggArgs) WITHIN GROUP (ORDER BY $orderBy)"
          else {
            val keys = lx.splitRanges(',', mm.end, close).map { case (a, b) => go(a, b).trim }
            def dir(k: String): (String, Boolean) = {
              val u = k.toUpperCase
              if (u.endsWith(" DESC")) (k.dropRight(5).trim, true)
              else if (u.endsWith(" ASC")) (k.dropRight(4).trim, false)
              else (k, false)
            }
            val parsed = keys.map(dir)
            val descs = parsed.map(_._2).distinct
            if (descs.length > 1) throw new IllegalArgumentException(
              s"array_agg ORDER BY with mixed ASC/DESC directions is not supported: $orderBy")
            val desc = descs.headOption.getOrElse(false)
            val exprs = parsed.map(_._1)
            if (exprs.length == 1 && exprs.head.equalsIgnoreCase(aggArgs))
              if (desc) s"sort_array(array_agg($aggArgs), false)"
              else s"sort_array(array_agg($aggArgs))"
            else {
              val keyFields = exprs.zipWithIndex
                .map { case (k, i) => s"$k AS _o${i + 1}" }.mkString(", ")
              val sorted = s"array_sort(array_agg(struct($keyFields, $aggArgs AS _v)))"
              val ordered = if (desc) s"reverse($sorted)" else sorted
              s"transform($ordered, s -> s._v)"
            }
          }
        (m.start, close + 1, repl)
      }
    }
    go(0, lx.sql.length)
  }

  private val fetchTies = """(?i)\bFETCH\s+(?:FIRST|NEXT)\s+(?:\d+\s+)?ROWS?\s+WITH\s+TIES""".r

  /** ANSI/PG row-limit spellings Spark's parser lacks (the reference
    * grammar has LIMIT/OFFSET only — sql/parser/SqlParser.java — but PG
    * clients and ORMs emit the standard form):
    *   OFFSET n [ROW[S]] FETCH {FIRST|NEXT} [m] ROW[S] ONLY → LIMIT m OFFSET n
    *   FETCH {FIRST|NEXT} [m] ROW[S] ONLY                   → LIMIT m  (m defaults to 1)
    *   OFFSET n ROW[S]                                      → OFFSET n
    * Spark's grammar requires LIMIT before OFFSET, so the combined form
    * swaps the clauses. FETCH … WITH TIES has no LIMIT twin and is
    * rejected loudly rather than silently dropping the tie rows. */
  private def rewriteFetchFirst(lx: SqlLexer): String = {
    val u = lx.sql.toUpperCase
    if (!u.contains("FETCH") && !u.contains("OFFSET")) return lx.sql
    if (lx.codeMatches(fetchTies).hasNext) throw new IllegalArgumentException(
      "FETCH ... WITH TIES is not supported; filter on a rank() window instead")
    chain(
      gated("""(?i)\bOFFSET\s+(\d+)\s+(?:ROWS?\s+)?FETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+ONLY""".r)(
        m => s"LIMIT ${Option(m.group(2)).getOrElse("1")} OFFSET ${m.group(1)}"),
      gated("""(?i)\bFETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+ONLY""".r)(
        m => s"LIMIT ${Option(m.group(1)).getOrElse("1")}"),
      gated("""(?i)\b(OFFSET\s+\d+)\s+ROWS?\b""".r)(m => m.group(1)))(lx)
  }

  /** PG `TABLESAMPLE {BERNOULLI|SYSTEM}(p) [REPEATABLE(seed)]` →
    * Spark's `TABLESAMPLE (p PERCENT) [REPEATABLE (seed)]`. Both map to
    * Spark's Bernoulli row sampler: PG's BERNOULLI is row-level (exact
    * match); PG's SYSTEM is page-level, which has no Spark analogue —
    * row-level is the closest semantic (a superset of what SYSTEM
    * guarantees). REPEATABLE keeps PG's contract — determinism across
    * runs for the same seed on the same data — via Spark's seeded
    * sampler; without it both engines are free-running random. */
  private def rewriteTableSample(lx: SqlLexer): String = {
    if (!lx.sql.toUpperCase.contains("TABLESAMPLE")) return lx.sql
    gated(("""(?i)\bTABLESAMPLE\s+(BERNOULLI|SYSTEM)\s*\(\s*([\d.]+)\s*\)""" +
      """(?:\s*REPEATABLE\s*\(\s*(\d+)\s*\))?""").r)(m =>
      s"TABLESAMPLE (${m.group(2)} PERCENT)" +
        Option(m.group(3)).fold("")(seed => s" REPEATABLE ($seed)"))(lx)
  }

  private val seriesFn = """(?i)(\bFROM|\bJOIN|,)(\s*)generate_series\s*\(""".r
  private val seriesAlias = """(?is)^\s*(?:AS\s+)?([A-Za-z_]\w*)(\s*\(\s*([A-Za-z_]\w*)\s*\))?""".r
  private val clauseKw = Set("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "OFFSET",
    "FETCH", "UNION", "INTERSECT", "EXCEPT", "JOIN", "ON", "USING",
    "CROSS", "INNER", "LEFT", "RIGHT", "FULL", "NATURAL", "WINDOW",
    "QUALIFY", "RETURNING")

  /** PG set-returning `generate_series(a, b[, step])` in FROM position →
    * Spark's `explode(sequence(a, b[, step]))` table-valued function
    * (integer series; both ends inclusive on both engines). Alias
    * semantics follow PG: `AS t(n)` exposes column n; a bare alias `g`
    * names BOTH the relation and the column; no alias exposes a column
    * named generate_series. Only FROM-clause positions rewrite — after
    * FROM/JOIN, or a FROM-list comma at top paren depth (an
    * argument-position call is always inside at least one paren and is
    * left untouched). */
  private def rewriteGenerateSeries(lx: SqlLexer): String = {
    val sql = lx.sql
    if (!sql.toLowerCase.contains("generate_series")) return sql
    def go(lo: Int, hi: Int): String = lx.rewrite(seriesFn, lo, hi) { mm =>
      // a FROM-list comma sits at paren depth 0; args commas don't
      if (mm.group(1) == "," && lx.depth(mm.start) != 0) None
      else {
        val open = mm.end - 1
        val close = lx.balancedClose(open)
        if (close < 0) throw new IllegalArgumentException(
          s"unbalanced parens in generate_series call: $sql")
        val (alias, end) = lookingAt(seriesAlias, sql, close + 1, hi) match {
          case Some(am) if !clauseKw.contains(am.group(1).toUpperCase) =>
            val rel = am.group(1)
            (s" AS $rel(${Option(am.group(3)).getOrElse(rel)})", am.end)
          case _ => (" AS generate_series(generate_series)", close + 1)
        }
        Some((mm.start, end, mm.group(1) + mm.group(2) +
          s"explode(sequence(${go(open + 1, close)}))" + alias))
      }
    }
    go(0, sql.length)
  }

  /** PG `expr [NOT] SIMILAR TO 'pattern'` → anchored RLIKE. SQL-regex →
    * Java-regex conversion: `%` → `.*`, `_` → `.`, literal `.` escaped;
    * regex operators that SIMILAR TO shares with POSIX (`| * + ? () []
    * {}`) pass through unchanged. Spark has no SIMILAR TO at all;
    * literal patterns only (a computed pattern stays untouched and fails
    * loudly in Spark's parser rather than silently matching wrong). */
  private def rewriteSimilarTo(lx: SqlLexer): String = {
    if (!lx.sql.toUpperCase.contains("SIMILAR")) return lx.sql
    val re = """([\w\.]+)\s+(NOT\s+)?(?i:SIMILAR)\s+(?i:TO)\s+('(?:[^']|'')*')""".r
    gated(re, m => m.start + m.group(1).length) { m =>
      val body = m.group(3).drop(1).dropRight(1)
      val conv = new StringBuilder("^(?:")
      var i = 0
      while (i < body.length) {
        body.charAt(i) match {
          case '\\' if i + 1 < body.length => // escaped char passes through
            conv += '\\' += body.charAt(i + 1); i += 1
          case '%' => conv ++= ".*"
          case '_' => conv += '.'
          case '.' => conv ++= "\\."
          case c => conv += c
        }
        i += 1
      }
      conv ++= ")$"
      val e = s"${m.group(1)} RLIKE '${conv.toString}'"
      if (m.group(2) != null) s"NOT ($e)" else e
    }(lx)
  }

  private val arrayCtor = """(?i)\bARRAY\s*\[""".r

  /** PG `ARRAY[e1, e2, …]` constructor → Spark `array(e1, e2, …)`
    * (reference sql/parser has no array syntax at all; SURVEY §2.9 maps
    * `type[]` columns through TypeMap). Nested constructors
    * (`ARRAY[ARRAY[1],ARRAY[2]]`) rewrite recursively inside the
    * balanced brackets; subscript brackets (`arr[1]`) never match
    * because they don't follow the ARRAY keyword. */
  private def rewriteArrayLiteral(lx: SqlLexer): String = {
    if (!lx.sql.toUpperCase.contains("ARRAY")) return lx.sql
    def go(lo: Int, hi: Int): String = lx.rewrite(arrayCtor, lo, hi) { mm =>
      val open = mm.end - 1
      val close = lx.balancedClose(open)
      if (close < 0) throw new IllegalArgumentException(
        s"unbalanced brackets in ARRAY[...] constructor: ${lx.sql}")
      Some((mm.start, close + 1, s"array(${go(open + 1, close)})"))
    }
    go(0, lx.sql.length)
  }

  private val anyAll = ("""([\w\.]+|'(?:[^']|'')*')\s*(=|<>|!=)\s*""" +
    """((?i:ANY)|(?i:ALL))\s*\(""").r

  /** PG quantified comparisons (reference grammar: none; PG clients emit
    * them constantly, e.g. JDBC's `setArray` idiom `x = ANY(?)`):
    *   lhs =  ANY(SELECT …)  → lhs IN (SELECT …)
    *   lhs <> ALL(SELECT …)  → lhs NOT IN (SELECT …)
    *   lhs =  ANY(array-expr) → array_contains(array-expr, lhs)
    *   lhs <> ALL(array-expr) → NOT array_contains(array-expr, lhs)
    * The subquery/array split keys on the content's leading keyword.
    * `= ALL` / `<> ANY` have no IN/array_contains twin and are rejected
    * loudly rather than silently inverted. */
  private def rewriteAnyAll(lx: SqlLexer): String = {
    val u = lx.sql.toUpperCase
    if (!u.contains("ANY") && !u.contains("ALL")) return lx.sql
    def go(lo: Int, hi: Int): String = lx.rewrite(anyAll, lo, hi, _.end(2) - 1) { mm =>
      val open = mm.end - 1
      val close = lx.balancedClose(open)
      if (close < 0) throw new IllegalArgumentException(
        s"unbalanced parens in ANY/ALL: ${lx.sql}")
      val lhs = mm.group(1)
      val op = mm.group(2)
      val quant = mm.group(3).toUpperCase
      val content = go(open + 1, close).trim
      val isSubquery = """(?i)^(SELECT|WITH|VALUES)\b""".r.findFirstIn(content).isDefined
      val repl = (op, quant) match {
        case ("=", "ANY") if isSubquery => s"$lhs IN ($content)"
        case ("<>" | "!=", "ALL") if isSubquery => s"$lhs NOT IN ($content)"
        case ("=", "ANY") => s"array_contains($content, $lhs)"
        case ("<>" | "!=", "ALL") => s"NOT array_contains($content, $lhs)"
        case _ => throw new IllegalArgumentException(
          s"$op $quant(...) has no IN/array_contains equivalent; " +
            "rewrite with EXISTS or an aggregate")
      }
      Some((mm.start, close + 1, repl))
    }
    go(0, lx.sql.length)
  }

  /** PG `SELECT DISTINCT ON (k1, …) sel FROM body ORDER BY k1, …, tie` —
    * keep the FIRST row of each key group in ORDER BY order, the
    * latest-per-key idiom (the reference grammar has plain DISTINCT only;
    * SURVEY §2.4). Rewritten to the Spark-native window equivalent:
    *   SELECT sel FROM (SELECT *, row_number() OVER (PARTITION BY k1, …
    *     ORDER BY obys) AS __graft_don FROM body) __graft_d
    *   WHERE __graft_don = 1 ORDER BY obys [limit-tail]
    * Scope — violations are rejected loudly, never silently wrong:
    * the DISTINCT ON SELECT must sit at paren depth 0 (a CTE prefix is
    * fine — CTE bodies close their parens before the main SELECT), must
    * carry an ORDER BY (PG's ORDER-BY-less form returns arbitrary rows —
    * nondeterminism this engine refuses), and the body must have no
    * top-level GROUP BY (`SELECT *` under the window would change the
    * aggregate's shape). The window and outer ORDER BY see base/output
    * columns exactly as PG resolves them. */
  private def rewriteDistinctOn(lx: SqlLexer): String = {
    val sql = lx.sql
    val m = lx.codeMatches("""(?i)\bSELECT\s+DISTINCT\s+ON\s*\(""".r).nextOption()
      .getOrElse(return sql)
    // CTE prefixes close to depth 0, subqueries don't
    if (lx.depth(m.start) != 0) throw new IllegalArgumentException(
      "DISTINCT ON in a subquery is not supported; hoist it into a CTE")
    val open = m.end - 1
    val close = lx.balancedClose(open)
    if (close < 0) throw new IllegalArgumentException(
      s"unbalanced parens in DISTINCT ON: $sql")
    val keys = sql.substring(open + 1, close)
    def topLevel(from: Int, re: Regex): Option[Int] =
      lx.topLevel(re, from).nextOption().map(_.start)
    val fromPos = topLevel(close + 1, """(?i)\bFROM\b""".r).getOrElse(
      throw new IllegalArgumentException("DISTINCT ON requires a FROM clause"))
    val orderPos = topLevel(fromPos, orderByKw).getOrElse(
      throw new IllegalArgumentException(
        "DISTINCT ON without ORDER BY returns arbitrary rows; add an ORDER BY " +
          "leading with the DISTINCT ON expressions"))
    if (topLevel(fromPos, """(?i)\bGROUP\s+BY\b""".r).exists(_ < orderPos))
      throw new IllegalArgumentException(
        "DISTINCT ON over a grouped query is not supported; aggregate in a CTE first")
    val sel = sql.substring(close + 1, fromPos).trim
    val body = sql.substring(fromPos + 4, orderPos).trim
    val afterOrder = sql.substring(orderPos).replaceFirst("""(?is)^ORDER\s+BY""", "")
    val limPos = topLevel(orderPos, """(?i)\b(?:LIMIT|OFFSET|FETCH)\b""".r)
    val (obys, tail) = limPos match {
      case Some(p) =>
        (sql.substring(orderPos, p).replaceFirst("""(?is)^ORDER\s+BY""", "").trim,
          sql.substring(p))
      case None => (afterOrder.trim, "")
    }
    sql.substring(0, m.start) +
      s"SELECT $sel FROM (SELECT *, row_number() OVER (PARTITION BY $keys " +
      s"ORDER BY $obys) AS __graft_don FROM $body) __graft_d " +
      s"WHERE __graft_don = 1 ORDER BY $obys" + (if (tail.isEmpty) "" else s" $tail")
  }

  /** Rewrite every code call of `fname` whose args `repl` accepts.
    * `repl` gets the top-level-split args — each with its own nested
    * calls already rewritten — and returns the replacement expression,
    * or None to leave that call unchanged (e.g. a form Spark parses
    * natively). */
  private def rewriteCalls(fname: String)(repl: Seq[String] => Option[String]): Pass = lx => {
    if (!lx.sql.toLowerCase.contains(fname)) lx.sql
    else {
      val re = ("""(?i)\b""" + fname + """\s*\(""").r
      def go(lo: Int, hi: Int): String = lx.rewrite(re, lo, hi) { mm =>
        val open = mm.end - 1
        val close = lx.balancedClose(open)
        if (close < 0) throw new IllegalArgumentException(
          s"unbalanced parens in $fname call: ${lx.sql}")
        repl(lx.splitRanges(',', open + 1, close).map { case (a, b) => go(a, b).trim })
          .map(r => (mm.start, close + 1, r))
      }
      go(0, lx.sql.length)
    }
  }

  /** A string literal as a Java-regex that matches it literally, spelled
    * as a Spark SQL literal: 'a.b' → '\\Qa.b\\E' (backslash doubled
    * because Spark string literals are escape-processed). */
  private def literalAsRegex(lit: String): String = {
    require(lit.length >= 2 && lit.head == '\'' && lit.last == '\'',
      s"expected a string literal delimiter, got: $lit")
    val body = lit.drop(1).dropRight(1)
    require(!body.contains("\\Q") && !body.contains("\\E"),
      s"delimiter containing \\Q/\\E is not supported: $lit")
    "'\\\\Q" + body + "\\\\E'"
  }

  private def isStringLiteral(s: String): Boolean =
    s.length >= 2 && s.head == '\'' && s.last == '\'' &&
      new SqlLexer(s).spanEndAt(0) == s.length

  /** PG → Spark format-pattern translation for to_char (longest token
    * first; unknown alphabetic tokens fail loudly rather than silently
    * formatting wrong — Java pattern letters and PG pattern letters
    * overlap with different meanings). */
  private def translatePgDateFormat(fmt: String): String = {
    val tokens = Seq(
      "HH24" -> "HH", "HH12" -> "hh", "YYYY" -> "yyyy", "US" -> "SSSSSS",
      "MS" -> "SSS", "YY" -> "yy", "MM" -> "MM", "DD" -> "dd",
      "HH" -> "hh", "MI" -> "mm", "SS" -> "ss", "AM" -> "a", "PM" -> "a")
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c.isLetter) {
        tokens.find { case (pg, _) => fmt.regionMatches(true, i, pg, 0, pg.length) } match {
          case Some((pg, spark)) => out ++= spark; i += pg.length
          case None => throw new IllegalArgumentException(
            s"unsupported to_char pattern token at '${fmt.substring(i)}' in '$fmt'")
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  private val unnestFn = """(?i)\bunnest\s*\(""".r
  private val withOrdinality = """(?is)\s*WITH\s+ORDINALITY\b""".r
  private val ordinalityAlias =
    """(?is)^\s*WITH\s+ORDINALITY\s+(?:AS\s+)?(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)""".r
  private val epochFn = """(?i)\bextract\s*\(\s*epoch\s+from\b""".r

  /** unnest … WITH ORDINALITY, before the plain-name map below (which
    * would otherwise strand the ordinality tail). */
  private def rewriteUnnestOrdinality(lx: SqlLexer): String = {
    val sql = lx.sql
    if (!sql.toLowerCase.contains("ordinality")) return sql
    def go(lo: Int, hi: Int): String = lx.rewrite(unnestFn, lo, hi) { mm =>
      val close = lx.balancedClose(mm.end - 1)
      if (close < 0 || lookingAt(withOrdinality, sql, close + 1, hi).isEmpty) None
      else lookingAt(ordinalityAlias, sql, close + 1, hi) match {
        case Some(am) => Some((mm.start, am.end,
          s"(SELECT col AS ${am.group(2)}, pos + 1 AS ${am.group(3)} " +
            s"FROM posexplode(${go(mm.end, close)})) AS ${am.group(1)}"))
        case None => throw new IllegalArgumentException(
          "unnest(...) WITH ORDINALITY requires an alias with a column " +
            "list: AS t(value, ordinality)")
      }
    }
    go(0, sql.length)
  }

  /** extract(epoch FROM e): Spark's EXTRACT lacks the epoch field. */
  private def rewriteExtractEpoch(lx: SqlLexer): String = {
    val sql = lx.sql
    if (!sql.toLowerCase.contains("epoch")) return sql
    def go(lo: Int, hi: Int): String = lx.rewrite(epochFn, lo, hi) { mm =>
      val close = lx.balancedClose(sql.indexOf('(', mm.start))
      if (close < 0) throw new IllegalArgumentException(
        s"unbalanced parens in extract(epoch FROM …): $sql")
      Some((mm.start, close + 1,
        s"(CAST(unix_micros(CAST((${go(mm.end, close).trim}) AS TIMESTAMP)) AS DOUBLE) / 1000000)"))
    }
    go(0, sql.length)
  }

  /** PG set-returning and string-function spellings Spark lacks
    * (reference grammar has none of these; PG clients emit them —
    * SURVEY §2.9):
    *   unnest(e) WITH ORDINALITY AS t(v, o) → (SELECT col AS v, pos+1 AS o
    *     FROM posexplode(e)) AS t          [non-correlated FROM position]
    *   unnest(e)                  → explode(e)
    *   string_to_array(x, 'd')    → split(x, '\\Qd\\E', -1)
    *   string_to_table(x, 'd')    → explode(split(x, '\\Qd\\E', -1))
    *   regexp_split_to_array/table(x, p) → split(x, p, -1) [/ explode(…)]
    *   strpos(s, sub)             → instr(s, sub)
    *   substring(x FROM 'regex')  → regexp_extract(x, 'regex', 0|1)
    *     (group 1 when the pattern has a capture group, PG's rule;
    *     numeric FROM/FOR forms are Spark-native and pass through)
    *   to_char(e, 'YYYY…')        → date_format(e, translated pattern)
    *     (numeric to_char masks are Spark-native and pass through)
    *   extract(epoch FROM e) / date_part('epoch', e)
    *     → (CAST(unix_micros(CAST(e AS TIMESTAMP)) AS DOUBLE) / 1000000)
    *     (other fields are Spark-native) */
  private val rewritePgFunctions: Pass = chain(
    rewriteUnnestOrdinality,
    rewriteCalls("unnest")(args => Some(s"explode(${args.mkString(", ")})")),
    rewriteCalls("string_to_array") {
      case Seq(x, d) if isStringLiteral(d) => Some(s"split($x, ${literalAsRegex(d)}, -1)")
      case args => throw new IllegalArgumentException(
        s"string_to_array supports (expr, 'literal-delimiter') only, got ${args.size} arg(s)")
    },
    rewriteCalls("string_to_table") {
      case Seq(x, d) if isStringLiteral(d) =>
        Some(s"explode(split($x, ${literalAsRegex(d)}, -1))")
      case args => throw new IllegalArgumentException(
        s"string_to_table supports (expr, 'literal-delimiter') only, got ${args.size} arg(s)")
    },
    rewriteCalls("regexp_split_to_array") {
      case Seq(x, p) => Some(s"split($x, $p, -1)")
      case args => throw new IllegalArgumentException(
        s"regexp_split_to_array takes (expr, pattern), got ${args.size} arg(s)")
    },
    rewriteCalls("regexp_split_to_table") {
      case Seq(x, p) => Some(s"explode(split($x, $p, -1))")
      case args => throw new IllegalArgumentException(
        s"regexp_split_to_table takes (expr, pattern), got ${args.size} arg(s)")
    },
    rewriteCalls("strpos") {
      case Seq(a, b) => Some(s"instr($a, $b)")
      case args => throw new IllegalArgumentException(
        s"strpos takes (string, substring), got ${args.size} arg(s)")
    },
    // substring(x FROM 'regex') — single arg after top-split (FROM is not
    // a comma); numeric FROM/FOR and comma forms pass through untouched
    rewriteCalls("substring") {
      case Seq(one) =>
        val m = """(?is)^(.*\S)\s+FROM\s+('(?:[^']|'')*')$""".r.findFirstMatchIn(one)
        m.flatMap { mm =>
          val pat = mm.group(2)
          // PG: the whole match unless the pattern has a capture group
          val body = pat.drop(1).dropRight(1)
          val hasGroup = {
            var i = 0; var found = false
            while (i < body.length && !found) {
              if (body.charAt(i) == '\\') i += 2
              else {
                if (body.charAt(i) == '(' &&
                  !body.startsWith("(?:", i) && !body.startsWith("(?=", i) &&
                  !body.startsWith("(?!", i)) found = true
                i += 1
              }
            }
            found
          }
          Some(s"regexp_extract(${mm.group(1)}, $pat, ${if (hasGroup) 1 else 0})")
        }
      case _ => None
    },
    rewriteCalls("to_char") {
      case Seq(e, f) if isStringLiteral(f) &&
        """(?i)(YYYY|YY|HH24|HH12|MI|SS|DD|AM|PM)""".r
          .findFirstIn(f.drop(1).dropRight(1)).isDefined =>
        Some(s"date_format($e, '${translatePgDateFormat(f.drop(1).dropRight(1))}')")
      case _ => None // numeric masks: Spark-native to_char
    },
    rewriteExtractEpoch,
    rewriteCalls("date_part") {
      case Seq(f, e) if f.equalsIgnoreCase("'epoch'") =>
        Some(s"(CAST(unix_micros(CAST(($e) AS TIMESTAMP)) AS DOUBLE) / 1000000)")
      case _ => None // every other field is Spark-native date_part
    })

  private val windowFilter = """(?i)\bFILTER\s*\(\s*WHERE\b""".r
  private val overKw = """(?is)\s*OVER\b""".r
  private val whereKw = """(?is)\s*WHERE\b""".r

  /** PG `agg(args) FILTER (WHERE cond) OVER …` → the CASE-inside-the-
    * aggregate equivalent: Spark supports FILTER on plain aggregates but
    * not on window functions ("Window aggregate function with filter
    * predicate is not supported yet"). sum/avg/min/max/count ignore the
    * CASE's NULLs exactly as FILTER excludes the rows; `count(*)` counts
    * a CASE over 1. Only a FILTER followed by OVER rewrites — the plain
    * aggregate form stays on Spark's native (codegen'd) path. (Edge: an
    * array_agg of NULL values on filter-matching rows would drop them —
    * Spark's collect_list skips NULLs; documented divergence.) */
  private def rewriteWindowFilter(lx: SqlLexer): String = {
    val sql = lx.sql
    if (!sql.toUpperCase.contains("FILTER")) return sql
    def go(lo: Int, hi: Int): String = lx.rewrite(windowFilter, lo, hi) { mm =>
      val filterOpen = sql.indexOf('(', mm.start)
      val filterClose = lx.balancedClose(filterOpen)
      if (filterClose < 0 || lookingAt(overKw, sql, filterClose + 1, hi).isEmpty) None
      else {
        val whereEnd = lookingAt(whereKw, sql, filterOpen + 1, filterClose).get.end
        // backward: the aggregate call ends at the ')' just before FILTER
        var k = mm.start - 1
        while (k >= 0 && sql.charAt(k).isWhitespace) k -= 1
        require(k >= 0 && sql.charAt(k) == ')',
          s"FILTER must follow an aggregate call: ${sql.substring(0, mm.start)}")
        val open = lx.balancedOpen(k)
        require(open > 0, s"unbalanced aggregate call before FILTER: $sql")
        var f = open - 1
        while (f >= 0 && (sql.charAt(f).isLetterOrDigit || sql.charAt(f) == '_')) f -= 1
        val fn = sql.substring(f + 1, open)
        require(fn.nonEmpty, s"FILTER must follow a function call: $sql")
        val args = lx.splitRanges(',', open + 1, k).map { case (a, b) => go(a, b).trim }
        val cond = go(whereEnd, filterClose).trim
        val first = args.headOption.getOrElse("")
        val distinctRe = """(?is)^DISTINCT\s+(.*)$""".r
        val newFirst =
          if (fn.equalsIgnoreCase("count") && first == "*")
            s"CASE WHEN $cond THEN 1 END"
          else distinctRe.findFirstMatchIn(first) match {
            case Some(dm) => s"DISTINCT CASE WHEN $cond THEN ${dm.group(1)} END"
            case None => s"CASE WHEN $cond THEN $first END"
          }
        Some((f + 1, filterClose + 1, s"$fn(${(newFirst +: args.drop(1)).mkString(", ")})"))
      }
    }
    go(0, sql.length)
  }

  /** PG row-locking clauses — `FOR UPDATE | NO KEY UPDATE | SHARE |
    * KEY SHARE [OF tbl, …] [NOWAIT | SKIP LOCKED]` — peel to a no-op:
    * this engine's snapshot copy-on-write model has no row locks to
    * take (single-writer semantics; the reference holds Percolator
    * locks here, out of analytic scope per SURVEY §3.1). ORMs emit
    * these on every SELECT-for-write; parsing must not fail on them.
    * Only a top-paren-depth clause peels; SKIP LOCKED semantics (skip
    * contended rows) would silently change results, so it is accepted
    * as a no-op too — under a single writer no row is ever locked,
    * which makes skip-nothing exactly correct. */
  private def rewriteLockingClause(lx: SqlLexer): String = {
    if (!lx.sql.toUpperCase.contains("FOR")) return lx.sql
    val re = ("""(?i)\bFOR\s+(?:UPDATE|NO\s+KEY\s+UPDATE|SHARE|KEY\s+SHARE)""" +
      """(?:\s+OF\s+[\w"]+(?:\s*,\s*[\w"]+)*)?(?:\s+NOWAIT|\s+SKIP\s+LOCKED)?""").r
    lx.rewrite(re)(m => if (lx.depth(m.start) == 0) Some((m.start, m.end, "")) else None)
  }

  /** PG double-quoted identifiers → Spark backticks: `"returning"` →
    * `` `returning` ``. Without this, qualified `a."kw"` is a Spark
    * PARSE_SYNTAX_ERROR and a bare `"kw"` parses as a STRING LITERAL in
    * Spark's default mode — a silent wrong answer, the worst failure
    * shape. Only the lexer's `"…"` spans convert (a `"` inside a literal,
    * a backtick identifier or a comment is content); `""` inside the
    * identifier is PG's escape for one `"`; a backtick inside the
    * identifier body is escaped by doubling (Spark's rule). */
  private def rewriteQuotedIdents(lx: SqlLexer): String = {
    val sql = lx.sql
    if (sql.indexOf('"') < 0) return sql
    val out = new java.lang.StringBuilder(sql.length)
    var changed = false
    lx.foreachSegment() { (kind, a, b) =>
      if (kind == SqlLexer.Ident) {
        out.append('`').append(lx.unquote(a, b).replace("`", "``")).append('`')
        changed = true
      } else out.append(sql, a, b)
    }
    if (changed) out.toString else sql
  }

  private val passes: Pass = chain(
    rewriteQuotedIdents,
    gated(path, _.end(1))(m =>
      s"get_json_object(${m.group(1)}, '$$.${m.group(2).split(",").map(_.trim).mkString(".")}')"),
    lx => { // chained -> / ->> operators fold left to right until fixpoint;
      // on get_json_object the gate is the `->` itself
      val step = chain(
        gated(keyOnGjo, _.start(3) - 2)(m => s"get_json_object(${m.group(1)}, '${m.group(2)}.${m.group(4)}')"),
        gated(idxOnGjo, _.start(3) - 2)(m => s"get_json_object(${m.group(1)}, '${m.group(2)}[${m.group(4)}]')"),
        gated(keyOnIdent, _.end(1))(m => s"get_json_object(${m.group(1)}, '$$.${m.group(3)}')"),
        gated(idxOnIdent, _.end(1))(m => s"get_json_object(${m.group(1)}, '$$[${m.group(3)}]')"))
      var cur = lx
      var next = relex(cur, step(cur))
      while (!(next eq cur)) { cur = next; next = relex(cur, step(cur)) }
      cur.sql
    },
    // PG regex-match operators: `~` / `~*` / `!~` / `!~*` → RLIKE (the
    // case-insensitive forms inject an inline (?i) flag). Only literal
    // patterns rewrite — a computed pattern stays untouched.
    gated(regexOp, _.start(3) - 1) { m =>
      val lhs = m.group(1); val neg = m.group(2) == "!"; val ci = m.group(3) == "*"
      val pat = if (ci) "'(?i)" + m.group(4).drop(1) else m.group(4)
      val e = s"$lhs RLIKE $pat"
      if (neg) s"NOT ($e)" else e
    },
    rewriteCasts,
    rewriteAggOrderBy,
    rewriteFetchFirst,
    rewriteTableSample,
    rewriteGenerateSeries,
    rewritePgFunctions,
    rewriteWindowFilter,
    rewriteLockingClause,
    rewriteArrayLiteral,
    rewriteAnyAll,
    rewriteSimilarTo,
    rewriteDistinctOn,
    // PG system functions the reference serves at protocol level
    // (postgres/PostgresConnectionHandler.java:202-213,296-371)
    gated("""(?i)\bVERSION\s*\(\)""".r)(_ => s"'graft (Spark ${org.apache.spark.SPARK_VERSION})'"),
    gated("""(?i)\bCURRENT_DATABASE\s*\(\)""".r)(_ => "current_database()"))

  def rewrite(sql: String): String = passes(new SqlLexer(sql))

  /** Fold `current_database()` to a string LITERAL of the calling
    * context's database. Spark's builtin resolves at optimization time
    * from the session-GLOBAL catalog — under per-connection database
    * binding a sibling context's USE re-sync can land between a
    * statement's analysis and its first action, so the builtin would
    * answer the wrong database. Only code calls fold (a
    * "current_database()" inside text is content). */
  def bindCurrentDatabase(sql: String, db: String): String = {
    if (!sql.toLowerCase.contains("current_database")) return sql
    gated("""(?i)\bCURRENT_DATABASE\s*\(\s*\)""".r)(_ =>
      "'" + db.replace("'", "''") + "'")(new SqlLexer(sql))
  }
}

/** Declared-SQL-type → Spark type (SURVEY §1.3 table; reference
  * kv/TableMetadata.java:293-353). TIME and INTERVAL map to string
  * (Spark has no TIME type; SURVEY §7.4 "type edges"). */
object TypeMap {
  def toSpark(sqlType: String): DataType = {
    val t = sqlType.trim.toUpperCase
    if (t.endsWith("[]")) return ArrayType(toSpark(t.dropRight(2)))
    val dec = """(?:NUMERIC|DECIMAL)\s*\((\d+)\s*,\s*(\d+)\)""".r
    val decP = """(?:NUMERIC|DECIMAL)\s*\((\d+)\)""".r
    t match {
      case "INT" | "INTEGER" | "SMALLINT" | "SERIAL" | "SMALLSERIAL" => IntegerType
      case "BIGINT" | "LONG" | "BIGSERIAL" => LongType
      case s if s.startsWith("VARCHAR") || s.startsWith("CHAR") || s == "TEXT" => StringType
      case dec(p, s) => DecimalType(p.toInt, s.toInt)
      case decP(p) => DecimalType(p.toInt, 0)
      case "NUMERIC" | "DECIMAL" => DecimalType(38, 18)
      case "DOUBLE" | "DOUBLE PRECISION" => DoubleType
      case "REAL" | "FLOAT" => FloatType
      case "BOOLEAN" | "BOOL" => BooleanType
      case "DATE" => DateType
      case "TIME" => StringType
      case "TIMESTAMP" | "TIMESTAMPTZ" | "TIMESTAMP WITH TIME ZONE" => TimestampType
      case "INTERVAL" => StringType
      case "JSON" | "JSONB" => StringType
      case "BLOB" | "BYTEA" => BinaryType
      case "UUID" => StringType
      case other => StringType // reference default branch is String too
    }
  }

  /** Reverse mapping for schema inference (CTAS: declared types from a
    * SELECT's resolved Spark schema). Total — anything unmapped degrades
    * to TEXT, mirroring [[toSpark]]'s default branch. */
  def toSql(dt: DataType): String = dt match {
    case ShortType => "SMALLINT"
    case IntegerType => "INT"
    case LongType => "BIGINT"
    case FloatType => "REAL"
    case DoubleType => "DOUBLE PRECISION"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case d: DecimalType => s"NUMERIC(${d.precision},${d.scale})"
    case BinaryType => "BYTEA"
    case ArrayType(e, _) => toSql(e) + "[]"
    case _ => "TEXT"
  }

  def isSerial(t: String): Boolean = {
    val u = t.trim.toUpperCase
    u == "SERIAL" || u == "BIGSERIAL" || u == "SMALLSERIAL"
  }
}
