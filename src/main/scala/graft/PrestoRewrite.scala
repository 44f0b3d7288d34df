package graft

import java.util.Locale

/**
 * Presto-dialect SQL-text rewrites, applied by the session parser
 * (`functions.GraftParser`, injected by `GraftExtensions`) to every
 * statement a graft session parses: `spark.sql`, the CLI's statements
 * and hive-jdbc statements alike. The parser is the one caller of
 * [[apply]]. The reference hands its users a Presto prompt
 * (presto-mgr.py:205 `connect`), so the Presto spellings that Spark's
 * GRAMMAR (not its function registry) rejects are rewritten to their
 * exact-semantics Spark forms before parsing:
 *
 *  1. quoted datetime units — `date_diff('day', a, b)` → `date_diff(day, a, b)`
 *     (Spark handles these in AstBuilder.visitTimestampdiff/-add; a
 *     registry entry can never intercept the quoted form);
 *  2. generic `TRY(expr)` — Spark has the `try_*` family but no generic
 *     wrapper. The COMMON bodies rewrite (CAST → try_cast, element_at →
 *     try_element_at, a single top-level +,-,*,/,% → try_add/…); anything
 *     else is refused loudly rather than silently changing semantics;
 *  3. `UNNEST` — Presto's table-valued UNNEST in its three spellings:
 *     zip-`UNNEST(a, b[, c]) [WITH ORDINALITY]` (arrays zip positionally,
 *     NULL-padding the shorter, optional 1-based BIGINT ordinality) as
 *     `LATERAL VIEW inline(zip_with(...))` — pure builtin higher-order
 *     functions, codegen end-to-end, no UDFs; the comma-join form
 *     `FROM t, UNNEST(a) AS u(x)` (same LATERAL VIEW — the comma IS the
 *     implicit cross join); and map-`UNNEST(m) AS t(k, v)` (one row per
 *     entry) as `LATERAL VIEW explode(m)`. WITH ORDINALITY over a map is
 *     refused — Presto 0.248 itself rejects it;
 *  4. bare subscripts `expr[i]` — Presto indexes arrays 1-BASED and maps
 *     by key; Spark's `[ ]` is 0-based on arrays. Every subscript outside
 *     a literal rewrites to `element_at(expr, i)`, whose semantics are
 *     Presto's for BOTH container kinds (1-based arrays, key lookup on
 *     maps, out-of-range/missing-key errors under ANSI just like Presto).
 *     This is the one rewrite that fires on text Spark would also accept:
 *     the front door advertises Presto semantics, and Spark's 0-based
 *     reading of pasted Presto text is a silent off-by-one (r18 ADVICE).
 *     `spark.sql` on a graft session is statement text too, so it reads
 *     `arr[1]` as the first element; expression strings (`expr`,
 *     `selectExpr`, `filter(String)`) are not rewritten and keep Spark's
 *     0-based meaning.
 *
 * Every rewrite is literal-aware: a pattern inside a string literal,
 * quoted identifier, or comment is never touched (the r17 ADVICE find —
 * the old regex ran over the raw text).
 */
object PrestoRewrite {

  /** Apply all dialect rewrites (the session parser's one entry point).
    * Order matters for MAP-before-ARRAY (the MAP constructor is detected
    * by its `ARRAY[` argument prefixes) and ARRAY-before-subscript (the
    * literal pass folds `ARRAY[..][i]` itself; the subscript pass then
    * sees no `ARRAY[` text). Every rewrite except the subscript pass
    * fires ONLY on text Spark's parser rejects outright (quoted units,
    * TRY(, UNNEST(, ARRAY[, MAP(ARRAY[, bare VARCHAR); subscripts are
    * deliberately re-based to Presto's semantics — see the class doc. */
  def apply(text: String): String =
    rewriteBareTypes(rewriteSubscripts(rewriteArrayLiterals(rewriteMapConstructor(
      rewriteUnnest(rewriteTry(rewriteDatetime(text)))))))

  // ---------------------------------------------------------------- spans

  /** Character spans the rewrites must never fire inside: single- and
    * double-quoted string literals, backtick identifiers, `--` line
    * comments, and (nested) bracketed comments. '' escaping falls out
    * naturally: the escaped quote closes one span and opens another. A
    * backslash inside a string literal escapes the next character, as in
    * Spark's lexer (`'it\'s'` is one literal); backtick identifiers
    * have no backslash escapes. */
  private[graft] def protectedSpans(text: String): IndexedSeq[(Int, Int)] = {
    val spans = Vector.newBuilder[(Int, Int)]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        val start = i
        i += 1
        while (i < n && text.charAt(i) != c) {
          if (text.charAt(i) == '\\' && c != '`') i += 1
          i += 1
        }
        i += 1 // past the closing quote (or end of text)
        spans += ((start, math.min(i, n)))
      } else if (c == '-' && i + 1 < n && text.charAt(i + 1) == '-') {
        val start = i
        while (i < n && text.charAt(i) != '\n') i += 1
        spans += ((start, i))
      } else if (c == '/' && i + 1 < n && text.charAt(i + 1) == '*') {
        val start = i
        i += 2
        var depth = 1
        while (i < n && depth > 0) {
          if (text.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (text.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
        spans += ((start, i))
      } else i += 1
    }
    spans.result()
  }

  private def outside(spans: IndexedSeq[(Int, Int)], pos: Int): Boolean =
    !spans.exists(s => pos >= s._1 && pos < s._2)

  /** Indices of `text` outside every protected span, ascending: the
    * characters the SQL grammar reads as code. The one lexer for
    * splitting statements and arguments and for finding `?` markers. */
  private[graft] def codeIndices(text: String): Iterator[Int] =
    (0 +: protectedSpans(text).flatMap(s => Seq(s._1, s._2)) :+ text.length)
      .grouped(2).flatMap { case Seq(a, b) => a until b }

  /** The statement's code span: `text` without its leading and trailing
    * whitespace, comments and `;`. Graft's verbs are matched on it. */
  private[graft] def codeSpan(text: String): String = {
    val comments = protectedSpans(text).filter(s => text.startsWith("--", s._1) || text.startsWith("/*", s._1))
    def blank(i: Int) = text.charAt(i).isWhitespace || text.charAt(i) == ';' || !outside(comments, i)
    val from = text.indices.find(!blank(_)).getOrElse(text.length)
    text.substring(from, text.indices.reverseIterator.find(!blank(_)).fold(from)(_ + 1))
  }

  /** The pieces of `text` between the given cut indices, each cut
    * character dropped: n cuts give n + 1 pieces, untrimmed. */
  private[graft] def cutAt(text: String, cuts: Seq[Int]): Seq[String] =
    ((-1 +: cuts) zip (cuts :+ text.length)).map { case (a, b) => text.substring(a + 1, b) }

  // ------------------------------------------------------- datetime units

  /** The quoted-unit pattern only fires on a unit KEYWORD quoted directly
    * after the function name — a date string there (the 2-arg Spark
    * forms) never matches. */
  private val DatetimeUnitQuote =
    ("(?i)\\b(date_diff|datediff|date_add|dateadd|timestampdiff|timestampadd)\\s*\\(\\s*" +
      "'(year|quarter|month|week|day|dayofyear|hour|minute|second|millisecond|microsecond)'\\s*,").r

  private[graft] def rewriteDatetime(text: String): String =
    // the match itself CONTAINS a quoted literal (the unit) — `pass` only
    // needs the match to START outside any literal/comment
    pass(text, DatetimeUnitQuote, m => s"${m.group(1)}(${m.group(2)}, ")

  /** `text` with every match of `re` that starts outside a literal or
    * comment (and after the previous replaced match) replaced by
    * `render(m)`. */
  private def pass(text: String, re: scala.util.matching.Regex,
                   render: scala.util.matching.Regex.Match => String): String = {
    val spans = protectedSpans(text)
    val sb = new StringBuilder
    var last = 0
    re.findAllMatchIn(text).foreach { m =>
      if (m.start >= last && outside(spans, m.start)) {
        sb.append(text.substring(last, m.start))
        sb.append(render(m))
        last = m.end
      }
    }
    sb.append(text.substring(last))
    sb.toString
  }

  // ------------------------------------------------------------- TRY(...)

  private val TryOpen = "(?i)\\btry\\s*\\(".r

  /** The index of the bracket that closes the '(' or '[' at `open` —
    * quote- and comment-aware, counting that bracket kind only. -1 if
    * unbalanced. */
  private[graft] def matchClose(text: String, open: Int): Int = {
    val (o, c) = if (text.charAt(open) == '[') ('[', ']') else ('(', ')')
    val spans = protectedSpans(text)
    var depth = 1
    var i = open + 1
    while (i < text.length) {
      if (!outside(spans, i)) {
        // jump to the end of the protected span
        i = spans.find(s => i >= s._1 && i < s._2).get._2
      } else {
        val ch = text.charAt(i)
        if (ch == o) depth += 1
        else if (ch == c) { depth -= 1; if (depth == 0) return i }
        i += 1
      }
    }
    -1
  }

  /** Top-level (depth-0, literal-aware) occurrences of binary arithmetic
    * operators in `body`, excluding unary +/- and exponent signs. */
  private def topLevelOps(body: String): Seq[(Int, Char)] = {
    val spans = protectedSpans(body)
    val ops = Seq.newBuilder[(Int, Char)]
    var depth = 0
    var i = 0
    while (i < body.length) {
      if (!outside(spans, i)) {
        i = spans.find(s => i >= s._1 && i < s._2).get._2
      } else {
        val c = body.charAt(i)
        c match {
          case '(' | '[' => depth += 1
          case ')' | ']' => depth -= 1
          case '/' | '*' | '%' if depth == 0 => ops += ((i, c))
          case '+' | '-' if depth == 0 =>
            // binary only: a preceding operand must exist (previous
            // non-space char is not an operator/comma/open paren, and the
            // preceding WORD is not a keyword like THEN/AND — `THEN -1` is
            // unary, r18 ADVICE) and this must not be a float exponent
            // sign (1e-5)
            var j = i - 1
            while (j >= 0 && Character.isWhitespace(body.charAt(j))) j -= 1
            val binary = j >= 0 && !"(,+-*/%<>=".contains(body.charAt(j)) &&
              !precededByKeyword(body, j)
            val exponent = j == i - 1 && j >= 1 &&
              (body.charAt(j) == 'e' || body.charAt(j) == 'E') &&
              Character.isDigit(body.charAt(j - 1))
            if (binary && !exponent) ops += ((i, c))
          case _ =>
        }
        i += 1
      }
    }
    ops.result()
  }

  /** SQL keywords after which a `+`/`-` is a unary sign, not a binary
    * operator: `CASE WHEN c THEN -1 ELSE x END` has no subtraction. END
    * is deliberately ABSENT — `CASE ... END - 1` IS binary. */
  private val SignKeywords = Set("then", "else", "when", "and", "or",
    "not", "in", "case", "between", "like", "escape")

  /** True when the word ENDING at index `j` (inclusive) is one of the
    * [[SignKeywords]] — i.e. the operand position before an operator
    * candidate is actually a keyword, so the +/- there is a sign. */
  private def precededByKeyword(body: String, j: Int): Boolean = {
    def wordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    if (j < 0 || !wordChar(body.charAt(j))) return false
    var k = j
    while (k >= 0 && wordChar(body.charAt(k))) k -= 1
    SignKeywords.contains(body.substring(k + 1, j + 1).toLowerCase(Locale.ROOT))
  }

  /** `cast(...)`-shaped check: the body IS one call of `name`, i.e. the
    * name's '(' matches the body's final ')'. */
  private def isOneCall(body: String, name: String): Boolean = {
    val b = body.trim
    val lower = b.toLowerCase(Locale.ROOT)
    if (!lower.startsWith(name)) return false
    var i = name.length
    while (i < b.length && Character.isWhitespace(b.charAt(i))) i += 1
    i < b.length && b.charAt(i) == '(' && matchClose(b, i) == b.length - 1
  }

  private def rewriteTryBody(body: String): String = {
    val b = body.trim
    // an already-null-safe try_* single call passes through unchanged —
    // the nested TRY(TRY(CAST(...))) case, where the inner rewrite has
    // produced try_cast(...) before the outer body is examined (r18
    // ADVICE: refusing here contradicted the inside-out contract)
    val lead = b.takeWhile(c => Character.isLetterOrDigit(c) || c == '_')
      .toLowerCase(Locale.ROOT)
    if (lead.startsWith("try_") && isOneCall(b, lead)) b
    else if (isOneCall(b, "cast") || isOneCall(b, "element_at")) s"try_$b"
    else topLevelOps(b) match {
      case Seq((pos, op)) =>
        val fn = op match {
          case '/' => "try_divide"
          case '*' => "try_multiply"
          case '%' => "try_mod"
          case '+' => "try_add"
          case '-' => "try_subtract"
        }
        val l = b.substring(0, pos).trim
        val r = b.substring(pos + 1).trim
        require(l.nonEmpty && r.nonEmpty,
          s"TRY: malformed arithmetic body: $b")
        s"$fn($l, $r)"
      case other =>
        throw new IllegalArgumentException(
          "TRY(...): unsupported body '" + b + "' — the dialect rewrite " +
            "serves CAST(x AS t), element_at(a, i), and a single " +
            "top-level +, -, *, /, % (found " + other.size + " operators). " +
            "Spell the Spark try_* function directly for other forms.")
    }
  }

  private[graft] def rewriteTry(text: String): String = {
    var cur = text
    var guard = 0
    var continue = true
    while (continue && guard < 64) {
      guard += 1
      val spans = protectedSpans(cur)
      // innermost-last: take the LAST match so nested TRY(TRY(...)) bodies
      // rewrite inside-out
      TryOpen.findAllMatchIn(cur).toSeq.reverse
        .find(m => outside(spans, m.start)) match {
        case Some(m) =>
          val open = m.end - 1
          val close = matchClose(cur, open)
          require(close > 0, s"TRY: unbalanced parentheses after offset ${m.start}")
          val body = cur.substring(open + 1, close)
          cur = cur.substring(0, m.start) + rewriteTryBody(body) +
            cur.substring(close + 1)
        case None => continue = false
      }
    }
    cur
  }

  // -------------------------------------- ARRAY[...] / MAP(ARRAY, ARRAY)

  private val ArrayOpen = "(?i)\\barray\\s*\\[".r

  /** Presto's `ARRAY[...]` literal → Spark's `array(...)`. A subscript
    * chain directly on the literal (`ARRAY[..][i]`) rewrites to
    * `element_at` so Presto's 1-BASED indexing is preserved — rewriting
    * the literal but keeping Spark's 0-based `[i]` would silently shift
    * every element. (Subscripts on COLUMNS are untouched: that text is
    * already legal Spark and not this rewrite's to reinterpret.) */
  private[graft] def rewriteArrayLiterals(text: String): String = {
    var cur = text
    var guard = 0
    var continue = true
    while (continue && guard < 256) {
      guard += 1
      val spans = protectedSpans(cur)
      ArrayOpen.findAllMatchIn(cur).find(m => outside(spans, m.start)) match {
        case Some(m) =>
          val open = m.end - 1
          val close = matchClose(cur, open)
          require(close > 0, s"ARRAY[: unbalanced brackets after offset ${m.start}")
          var expr = "array(" + cur.substring(open + 1, close) + ")"
          var end = close
          // fold any directly-attached subscripts into 1-based element_at
          var chaining = true
          while (chaining) {
            var j = end + 1
            while (j < cur.length && Character.isWhitespace(cur.charAt(j))) j += 1
            if (j < cur.length && cur.charAt(j) == '[') {
              val idxClose = matchClose(cur, j)
              require(idxClose > 0,
                s"ARRAY[..][: unbalanced subscript after offset $j")
              expr = s"element_at($expr, ${cur.substring(j + 1, idxClose).trim})"
              end = idxClose
            } else chaining = false
          }
          cur = cur.substring(0, m.start) + expr + cur.substring(end + 1)
        case None => continue = false
      }
    }
    cur
  }

  private val MapOpen = "(?i)\\bmap\\s*\\(".r
  private val ArrayArg = "(?is)^array\\s*\\[.*".r

  /** Presto's `MAP(ARRAY[keys], ARRAY[values])` → `map_from_arrays` —
    * Spark's `map(...)` is the interleaved k1,v1,… spelling, a DIFFERENT
    * constructor. Only fires when BOTH arguments are `ARRAY[` literal
    * forms (text Spark rejects), so a legal Spark `map(...)` is never
    * reinterpreted. */
  private[graft] def rewriteMapConstructor(text: String): String = {
    var cur = text
    var from = 0
    var guard = 0
    while (guard < 256) {
      guard += 1
      val spans = protectedSpans(cur)
      MapOpen.findAllMatchIn(cur)
        .find(m => m.start >= from && outside(spans, m.start)) match {
        case Some(m) =>
          val open = m.end - 1
          val close = matchClose(cur, open)
          val args = if (close > 0) splitTopLevel(cur.substring(open + 1, close))
                     else Seq.empty
          if (args.length == 2 && args.forall(a => ArrayArg.matches(a.trim))) {
            cur = cur.substring(0, m.start) + "map_from_arrays(" +
              cur.substring(open + 1)
            from = m.start + "map_from_arrays(".length
          } else if (args.length == 2 && args.exists(a => ArrayArg.matches(a.trim))) {
            // one ARRAY[ literal + one expression (MAP(ARRAY['a','b'],
            // split(x, ','))): Presto zips keys/values, but after the
            // ARRAY pass this text would reach Spark's INTERLEAVED
            // map(array(...), expr) — executable and silently wrong
            // (r18 ADVICE). Refuse loudly like rewriteTry does.
            throw new IllegalArgumentException(
              "MAP(keys, values): one argument is an ARRAY[...] literal " +
                "and the other is an expression — Presto's two-argument " +
                "MAP zips keys with values, but Spark's map(...) is the " +
                "interleaved k1, v1, ... constructor, a different " +
                "function. Spell map_from_arrays(keys, values) directly.")
          } else from = m.end // legal Spark map(...): leave it, scan on
        case None => return cur
      }
    }
    cur
  }

  // --------------------------------------------------- bare subscripts

  private def identChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '$'

  /** Words that can precede a '(' without being the CALLEE of the group
    * — `SELECT (a)[1]` subscripts the parenthesized expression, not a
    * function named select. Function-shaped keywords (CAST, LEFT, IF,
    * COALESCE, ...) are deliberately absent: there they ARE the callee. */
  private val NonCalleeWords = Set("select", "from", "where", "and", "or",
    "not", "then", "else", "when", "in", "on", "by", "as", "join",
    "union", "except", "intersect", "all", "distinct", "having", "group",
    "order", "between", "like", "is", "using", "values", "lateral",
    "cross", "escape")

  /** Start index of the base expression whose subscript opens at
    * `bracket`, or -1 when the `[` is not a subscript (nothing
    * subscriptable precedes it). The base is an identifier chain
    * (`a.b.c`, backtick segments included) optionally ENDING the walk at
    * a call/paren group — `f(x)[1]`, `(a)[1]`, chained
    * `element_at(m, 'k')['j']`. */
  private def subscriptBaseStart(text: String, bracket: Int,
                                 spans: IndexedSeq[(Int, Int)]): Int = {
    var j = bracket - 1
    while (j >= 0 && Character.isWhitespace(text.charAt(j))) j -= 1
    if (j < 0) return -1
    // a closing paren/bracket: backward-match it (literal-aware), then
    // fall through to the identifier walk for the callee name
    text.charAt(j) match {
      case ')' | ']' =>
        var depth = 0
        var k = j
        var open = -1
        while (k >= 0 && open < 0) {
          spans.find(s => k >= s._1 && k < s._2) match {
            case Some(s) => k = s._1 - 1
            case None =>
              text.charAt(k) match {
                case ')' | ']' => depth += 1
                case '(' | '[' => depth -= 1; if (depth == 0) open = k
                case _ =>
              }
              k -= 1
          }
        }
        if (open < 0) return -1
        j = open - 1
        while (j >= 0 && Character.isWhitespace(text.charAt(j))) j -= 1
        if (j < 0 || !(identChar(text.charAt(j)) || text.charAt(j) == '`'))
          return open // parenthesized expression, no callee name
        // word before the '(': a reserved word is NOT the callee — the
        // base is the paren group itself. A window spec's OVER is refused
        // (the base would be the whole `fn() OVER (spec)` expression,
        // which this text-level walk cannot reconstruct).
        if (identChar(text.charAt(j))) {
          var w = j
          while (w >= 0 && identChar(text.charAt(w))) w -= 1
          val word = text.substring(w + 1, j + 1).toLowerCase(Locale.ROOT)
          if (word == "over") throw new IllegalArgumentException(
            "subscript directly on a window expression (`fn() OVER (...)[i]`) " +
              "is not served by the dialect rewrite — spell " +
              "element_at(fn() OVER (...), i) directly.")
          if (NonCalleeWords.contains(word)) return open
        }
      case c if identChar(c) || c == '`' =>
      case _ => return -1
    }
    // identifier chain walk: name segments (plain or backticked) joined
    // by dots
    var start = j + 1
    var cont = true
    while (cont && j >= 0) {
      if (text.charAt(j) == '`') {
        // backtick identifier: spans include it; jump to its start
        spans.find(s => j >= s._1 && j < s._2) match {
          case Some(s) => start = s._1; j = s._1 - 1
          case None => cont = false
        }
      } else if (identChar(text.charAt(j))) {
        while (j >= 0 && identChar(text.charAt(j))) j -= 1
        start = j + 1
      } else cont = false
      if (cont && j >= 0 && text.charAt(j) == '.') j -= 1 else cont = false
    }
    start
  }

  /** Presto subscripts: `expr[i]` → `element_at(expr, i)` — 1-based on
    * arrays, key lookup on maps, matching Presto for both (Spark's bare
    * `[ ]` is 0-based on arrays: a silent off-by-one for pasted Presto
    * text). Fires on identifier chains, call results, parenthesized
    * expressions, and chains of subscripts; `ARRAY[` never reaches here
    * (the literal pass runs first and folds its own subscripts). */
  private[graft] def rewriteSubscripts(text: String): String = {
    var cur = text
    var guard = 0
    while (guard < 512) {
      guard += 1
      val spans = protectedSpans(cur)
      var found = -1
      var base = -1
      var i = 0
      while (found < 0 && i < cur.length) {
        if (!outside(spans, i)) {
          i = spans.find(s => i >= s._1 && i < s._2).get._2
        } else {
          if (cur.charAt(i) == '[') {
            val bs = subscriptBaseStart(cur, i, spans)
            // defensive: never reinterpret a surviving ARRAY[ literal
            val isArrayKw = bs >= 0 &&
              cur.substring(bs, i).trim.equalsIgnoreCase("array")
            if (bs >= 0 && !isArrayKw) { found = i; base = bs }
          }
          i += 1
        }
      }
      if (found < 0) return cur
      val close = matchClose(cur, found)
      require(close > 0, s"subscript: unbalanced [ after offset $found")
      val baseExpr = cur.substring(base, found).trim
      val idx = cur.substring(found + 1, close).trim
      cur = cur.substring(0, base) + s"element_at($baseExpr, $idx)" +
        cur.substring(close + 1)
    }
    cur
  }

  // ------------------------------------------------- bare type spellings

  /** Presto types Spark rejects: bare `VARCHAR` (no length) → STRING,
    * `VARBINARY` → BINARY (`VARCHAR(n)` stays — legal Spark), and the
    * `DECIMAL '1.23'` literal → Spark's `1.23BD` typed literal, whose
    * precision/scale inference from the digits matches Presto's. A
    * non-numeric DECIMAL '...' body is left for the parser to refuse. */
  private val BareVarType = "(?i)\\b(varchar|varbinary)\\b(?!\\s*\\()".r
  private val DecimalLit = "(?i)\\bdecimal\\s+'(-?[0-9]+(?:\\.[0-9]+)?)'".r

  private[graft] def rewriteBareTypes(text: String): String = {
    // DECIMAL-literal pass FIRST: its match starts outside any literal
    // (the quoted digits are part of the Presto form itself)
    val afterDecimal = pass(text, DecimalLit, m => s"${m.group(1)}BD")
    pass(afterDecimal, BareVarType,
      m => if (m.group(1).equalsIgnoreCase("varchar")) "STRING" else "BINARY")
  }

  // ---------------------------------------------------- UNNEST(a, b, ...)

  // both explicit CROSS JOIN UNNEST and Presto's comma-join spelling
  // `FROM t, UNNEST(a) AS u(x)` — the comma IS an implicit cross join,
  // and `, UNNEST(` appears nowhere else in valid Presto (UNNEST is
  // table-valued only), so replacing both with LATERAL VIEW is safe
  private val UnnestOpen = "(?i)(?:\\bcross\\s+join|,)\\s*unnest\\s*\\(".r
  private val AfterUnnest =
    "(?is)^(\\s*with\\s+ordinality)?\\s*(?:as\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*\\(([^)]*)\\)".r
  private val BareUnnest = "(?i)\\bunnest\\s*\\(".r

  /** Split `args` on top-level commas (literal- and paren-aware). */
  private[graft] def splitTopLevel(args: String): Seq[String] = {
    val cuts = Seq.newBuilder[Int]
    var depth = 0
    codeIndices(args).foreach { i =>
      args.charAt(i) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => cuts += i
        case _ => ()
      }
    }
    cutAt(args, cuts.result()).map(_.trim).filter(_.nonEmpty)
  }

  /** Presto zips N arrays positionally, NULL-padding the shorter —
    * exactly `zip_with`'s contract. Ordinality is 1-based BIGINT. The
    * generated text is pure builtin higher-order functions feeding
    * `inline`, so the expansion stays inside whole-stage codegen and the
    * arrays never leave their scan task. */
  private def unnestLateralView(exprs: Seq[String], cols: Seq[String],
                                ordinality: Boolean, alias: String): String = {
    def named(pairs: Seq[(String, String)]): String =
      pairs.map { case (c, e) => s"'$c', $e" }.mkString("named_struct(", ", ", ")")
    val ordCol = if (ordinality) Some(cols.last) else None
    val valCols = if (ordinality) cols.dropRight(1) else cols
    // one argument + two value columns = Presto's MAP unnest (one row per
    // entry, key and value columns) — Spark's explode over a map is the
    // exact same contract. WITH ORDINALITY over a map is refused, as
    // Presto 0.248 itself refuses it.
    if (exprs.length == 1 && valCols.length == 2) {
      if (ordinality) throw new IllegalArgumentException(
        "UNNEST: WITH ORDINALITY over a map (one argument, two value " +
          "columns + an ordinality column) is not defined — Presto " +
          "itself rejects it. Drop WITH ORDINALITY.")
      return s"LATERAL VIEW explode(${exprs.head}) $alias AS " +
        s"${valCols.head}, ${valCols(1)}"
    }
    require(valCols.length == exprs.length, s"UNNEST: ${exprs.length} array " +
      s"argument(s) but ${valCols.length} value column name(s) " +
      (if (ordinality) "(last name is the WITH ORDINALITY column) " else "") +
      s"in AS $alias(${cols.mkString(", ")})")
    // one struct array carrying the zipped values, with STABLE inner
    // field names (z1..zN) so the ordinality wrapper can re-project
    val zipped = exprs match {
      case Seq(e1) =>
        s"transform($e1, v -> named_struct('z1', v))"
      case Seq(e1, e2) =>
        s"zip_with($e1, $e2, (l, r) -> named_struct('z1', l, 'z2', r))"
      case Seq(e1, e2, e3) =>
        s"zip_with(zip_with($e1, $e2, (l, r) -> named_struct('z1', l, 'z2', r)), " +
          s"$e3, (s, v) -> named_struct('z1', s.z1, 'z2', s.z2, 'z3', v))"
      case more => throw new IllegalArgumentException(
        s"UNNEST: up to 3 zipped arrays are served, got ${more.length}")
    }
    val projected = ordCol match {
      case Some(o) =>
        val fields = valCols.zipWithIndex.map { case (c, i) => (c, s"s.z${i + 1}") } :+
          ((o, "CAST(i + 1 AS BIGINT)"))
        s"transform($zipped, (s, i) -> ${named(fields)})"
      case None if exprs.length == 1 =>
        // single array, no ordinality: explode directly (no struct hop)
        return s"LATERAL VIEW explode(${exprs.head}) $alias AS ${valCols.head}"
      case None =>
        val fields = valCols.zipWithIndex.map { case (c, i) => (c, s"s.z${i + 1}") }
        s"transform($zipped, s -> ${named(fields)})"
    }
    s"LATERAL VIEW inline($projected) $alias"
  }

  private[graft] def rewriteUnnest(text: String): String = {
    var cur = text
    var guard = 0
    var continue = true
    while (continue && guard < 64) {
      guard += 1
      val spans = protectedSpans(cur)
      UnnestOpen.findAllMatchIn(cur).toSeq
        .find(m => outside(spans, m.start)) match {
        case Some(m) =>
          val open = m.end - 1
          val close = matchClose(cur, open)
          require(close > 0, s"UNNEST: unbalanced parentheses after offset ${m.start}")
          val exprs = splitTopLevel(cur.substring(open + 1, close))
          val rest = cur.substring(close + 1)
          AfterUnnest.findFirstMatchIn(rest) match {
            case Some(a) =>
              val ordinality = a.group(1) != null
              val alias = a.group(2)
              val cols = a.group(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
              val lateral = unnestLateralView(exprs, cols, ordinality, alias)
              // the match may START at the comma of the implicit-join
              // form (`FROM t, UNNEST(...)`): the leading space keeps the
              // table reference and LATERAL VIEW separated either way
              cur = cur.substring(0, m.start) + " " + lateral + rest.substring(a.end)
            case None => throw new IllegalArgumentException(
              "UNNEST: the dialect rewrite needs the aliased form " +
                "[CROSS JOIN | ,] UNNEST(a[, b[, c]]) [WITH ORDINALITY] AS t(col, ...) — " +
                "missing AS t(col, ...) after: " + cur.substring(m.start,
                  math.min(cur.length, close + 1)))
          }
        case None => continue = false
      }
    }
    // any UNNEST left over is a form this rewrite doesn't serve (e.g. a
    // LEFT JOIN UNNEST, or a missing alias): refuse with guidance instead
    // of a Spark parse error that never mentions UNNEST
    val spans = protectedSpans(cur)
    BareUnnest.findAllMatchIn(cur).find(m => outside(spans, m.start)).foreach { m =>
      throw new IllegalArgumentException(
        "UNNEST: unsupported form at offset " + m.start + " — the dialect " +
          "rewrite serves [CROSS JOIN | ,] UNNEST(a[, b[, c]]) " +
          "[WITH ORDINALITY] AS t(col, ...) over arrays and " +
          "UNNEST(m) AS t(k, v) over maps.")
    }
    cur
  }
}
