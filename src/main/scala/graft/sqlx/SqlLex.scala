package graft.sqlx

/** The one lexer for Doris/MySQL SQL text: where a string literal, a
  * backticked identifier or a comment begins and ends is decided here
  * and nowhere else in the translator, the anonymizer, `create` or the
  * DDL parser.
  *
  * Tokens, in source order (whitespace, `Char.isWhitespace`, between
  * them is not a token):
  *   - `Word`:    a letter or `_`, then letters, digits, `_` or `$`;
  *   - `Quoted`:  a backticked identifier, backticks included;
  *   - `Str`:     a `'…'` or `"…"` literal, quotes included. Both escape
  *                conventions a MySQL-dialect literal can carry apply:
  *                a backslash escapes the next character, and a doubled
  *                quote (`''` / `""`) is one quote — without the latter,
  *                `'it''s ('` would read as two literals around code;
  *   - `Comment`: `-- …` up to (not including) the newline, or `/* … */`;
  *   - `Var`:     `@x` / `@@x`, letters, digits, `_` and `.` after the `@`s;
  *   - `Number`:  a run of ASCII digits (a decimal point is an `Other`);
  *   - `Other`:   any other single character: operators, punctuation,
  *                parentheses.
  *
  * An unterminated literal, backticked identifier or block comment runs
  * to the end of the text. Each token carries its paren depth: the
  * number of `(` before it not yet closed, so a `(` and its matching `)`
  * have the same depth and everything between them is deeper. Unbalanced
  * `)` drive the depth below zero; callers pass such text through.
  */
object SqlLex {

  sealed trait Kind
  object Kind {
    case object Word extends Kind
    case object Quoted extends Kind
    case object Str extends Kind
    case object Comment extends Kind
    case object Var extends Kind
    case object Number extends Kind
    case object Other extends Kind
  }

  /** One token: its verbatim text, which starts at `start` in the input. */
  final case class Tok(kind: Kind, text: String, start: Int, depth: Int) {
    def end: Int = start + text.length
    /** A word equal to `w`, ignoring case. */
    def is(w: String): Boolean = kind == Kind.Word && text.equalsIgnoreCase(w)
  }

  def tokens(sql: String): Vector[Tok] = {
    import Kind._
    val n = sql.length
    def wordChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'
    def varChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '.'
    def digit(c: Char) = c >= '0' && c <= '9'
    def scan(i0: Int, ok: Char => Boolean): Int = {
      var i = i0; while (i < n && ok(sql.charAt(i))) i += 1; i
    }
    def upTo(i0: Int, close: String, past: Int): Int = {
      val j = sql.indexOf(close, i0); if (j < 0) n else j + past
    }
    val out = Vector.newBuilder[Tok]
    var depth = 0
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      val next = if (i + 1 < n) sql.charAt(i + 1) else '\u0000'
      if (c.isWhitespace) i += 1
      else {
        val (kind, end) =
          if (c == '\'' || c == '"') (Str, math.min(closingQuote(sql, i) + 1, n))
          else if (c == '`') (Quoted, upTo(i + 1, "`", 1))
          else if (c == '-' && next == '-') (Comment, upTo(i, "\n", 0))
          else if (c == '/' && next == '*') (Comment, upTo(i + 2, "*/", 2))
          else if (c == '@') (Var, scan(if (next == '@') i + 2 else i + 1, varChar))
          else if (c.isLetter || c == '_') (Word, scan(i, wordChar))
          else if (digit(c)) (Number, scan(i, digit))
          else (Other, i + 1)
        if (c == ')') depth -= 1
        out += Tok(kind, sql.substring(i, end), i, depth)
        if (c == '(') depth += 1
        i = end
      }
    }
    out.result()
  }

  /** Index of the quote that closes the literal opening at `i0`, or
    * `s.length` when the text ends first. */
  private def closingQuote(s: String, i0: Int): Int = {
    val q = s.charAt(i0)
    var i = i0 + 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') i += 2
      else if (c == q) {
        if (i + 1 < s.length && s.charAt(i + 1) == q) i += 2
        else return i
      } else i += 1
    }
    s.length
  }

  /** The body of a `Str` token's text: what lies between its opening
    * quote and its closing quote, or up to the end when it has none.
    * Escapes are left as written. */
  def body(lit: String): String = lit.substring(1, closingQuote(lit, 0))

  /** Index of the token that closes the `(` at `toks(open)`, or -1 when
    * the text ends first. */
  def closing(toks: IndexedSeq[Tok], open: Int): Int = {
    val d = toks(open).depth
    toks.indexWhere(t => t.depth == d && t.text == ")", open + 1)
  }
}
