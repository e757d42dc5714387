package graft.sqlx

import SqlLex.{Kind, Tok}

/** Doris SQL → Spark SQL dialect translation (SURVEY.md §7.2 item 4):
  * the grammar quirks Catalyst does not accept natively are rewritten
  * *before* `spark.sql`, never as a Catalyst rule:
  *
  *   - `QUALIFY <pred>`        → wrap in a subquery computing the
  *                               predicate, filter, drop the helper col
  *                               (Spark has no QUALIFY) — applied to
  *                               EVERY query block, recursing through
  *                               CTE bodies and derived tables;
  *   - `LIMIT m, n`            → `LIMIT n OFFSET m`;
  *   - `MINUS`                 → `EXCEPT`;
  *   - `JOIN [broadcast] t` / `[shuffle]` distribute hints
  *                             → Catalyst `/*+ BROADCAST(t) */` /
  *                               `/*+ SHUFFLE_HASH(t) */` in the SELECT;
  *   - `DATE_ADD(e, INTERVAL n unit)` and its kin → interval arithmetic;
  *   - `GROUP_CONCAT(…)`       → `listagg(…)`;
  *   - `date_format`/`str_to_date` `%`-patterns → JDK patterns;
  *   - `COUNT(DISTINCT …) OVER …` → `SIZE(COLLECT_SET(…) OVER …)`.
  *
  * Every rewrite reads [[SqlLex]] tokens, so string literals, backticked
  * identifiers and comments are opaque to all of them, and a call's
  * arguments nest to any depth. `translate` lexes the statement twice:
  * one walk does every rewrite but QUALIFY, and the QUALIFY pass then
  * restructures the query blocks of that walk's output.
  */
object DorisSql {

  def translate(sql: String): String = rewriteQualify(new Rewrite(sql) {
    private val hints = toks.indices.flatMap(hint)
    // the hints go onto the first top-level SELECT
    private val select =
      if (hints.isEmpty) -1 else toks.indexWhere(t => t.is("select") && t.depth == 0)

    override def rule(i: Int): Option[(String, Int)] = {
      val t = toks(i)
      if (i == select) Some((s"${t.text} /*+ ${hints.map(_._1).mkString(", ")} */", i + 1))
      else if (t.text == "[") hint(i).map { case (_, rel, next) => (rel, next) }
      else if (t.is("minus")) Some(("EXCEPT", i + 1))
      // `LIMIT m, n` (the comma form is unambiguous: LIMIT <int> , <int>)
      else if (t.is("limit") && kindAt(i + 1, Kind.Number) && textAt(i + 2, ",") &&
          kindAt(i + 3, Kind.Number))
        Some((s"LIMIT ${toks(i + 3).text} OFFSET ${toks(i + 1).text}", i + 4))
      else call(i)
    }

    /** Doris join distribute hints (DorisParser.g4 joinRelation,
      * distributeType): `[broadcast]`/`[shuffle]` before the right-side
      * relation become a Catalyst join-strategy hint named by the
      * relation's alias (or its table name). At `i`: the hint, the
      * relation's text and the index of the token after it. */
    private def hint(i: Int): Option[(String, String, Int)] = {
      def name(j: Int) = kindAt(j, Kind.Word) || kindAt(j, Kind.Quoted)
      if (!(textAt(i, "[") && toks.lift(i + 1).exists(t => t.is("broadcast") || t.is("shuffle")) &&
          textAt(i + 2, "]") && name(i + 3))) None
      else {
        var last = i + 3
        while (textAt(last + 1, ".") && name(last + 2)) last += 2
        val a = if (toks.lift(last + 1).exists(_.is("as"))) last + 2 else last + 1
        val alias = Some(a).filter(name).map(j => unquote(toks(j).text))
          .filterNot(x => relKeywords.contains(x.toLowerCase))
        val n = alias.getOrElse(unquote(toks(last).text))
        Some((if (toks(i + 1).is("broadcast")) s"BROADCAST($n)" else s"SHUFFLE_HASH($n)",
          sql.substring(toks(i + 3).start, toks(last).end), last + 1))
      }
    }
  }.result)

  /** MySQL/Doris `DATE_ADD(expr, INTERVAL n unit)` (and DATE_SUB /
    * ADDDATE / SUBDATE) → Spark's `(expr ± INTERVAL n unit)` arithmetic —
    * Spark's parser accepts the two-arg day form of date_add but NOT
    * the INTERVAL form, which is what replayed MySQL statements carry.
    * The plain `date_add(d, n)` call is native and passes through. */
  private val DateAddOps =
    Map("date_add" -> "+", "adddate" -> "+", "date_sub" -> "-", "subdate" -> "-")
  private val CallNames =
    DateAddOps.keySet ++ Set("group_concat", "date_format", "str_to_date", "count")

  /** MySQL/Doris `%`-patterns → JDK datetime patterns, for the pattern
    * literal of date_format / str_to_date calls. Non-pattern letters are
    * single-quoted (JDK treats bare letters as fields). */
  private val MysqlToJdk: Map[Char, String] = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'c' -> "M", 'd' -> "dd",
    'e' -> "d", 'H' -> "HH", 'k' -> "H", 'h' -> "hh", 'l' -> "h",
    'i' -> "mm", 's' -> "ss", 'S' -> "ss", 'f' -> "SSSSSS", 'p' -> "a",
    'j' -> "DDD", 'a' -> "EEE", 'W' -> "EEEE", 'b' -> "MMM", 'M' -> "MMMM",
    'T' -> "HH:mm:ss", 'r' -> "hh:mm:ss a")

  def mysqlPatternToJdk(p: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '%' && i + 1 < p.length) {
        val d = p.charAt(i + 1)
        sb ++= (if (d == '%') "%" else MysqlToJdk.getOrElse(d, d.toString))
        i += 2
      } else {
        if (c.isLetter) { sb += '\''; sb += c; sb += '\'' } // literal letter
        else if (c == '\'') sb ++= "''"
        else sb += c
        i += 1
      }
    }
    sb.toString
  }

  private val relKeywords = Set("on", "using", "where", "join", "inner", "left",
    "right", "full", "cross", "group", "order", "limit", "qualify", "having")

  private def unquote(s: String): String = s.stripPrefix("`").stripSuffix("`")

  /** `sql[from, until)` with `rule` applied to the tokens starting in it:
    * `rule(i)` may replace the tokens from `i` up to (not including) the
    * index it returns, if they end by `until`. The text between tokens is
    * kept. */
  private def walk(sql: String, toks: IndexedSeq[Tok], from: Int, until: Int)(
      rule: Int => Option[(String, Int)]): String = {
    val sb = new java.lang.StringBuilder
    var pos = from
    var i = firstAt(toks, from)
    while (i < toks.length && toks(i).start < until) rule(i) match {
      case Some((repl, next)) if toks(next - 1).end <= until =>
        sb.append(sql, pos, toks(i).start).append(repl)
        pos = toks(next - 1).end
        i = next
      case _ => i += 1
    }
    sb.append(sql, pos, until).toString
  }

  /** Index of the first token starting at or after `offset`. */
  private def firstAt(toks: IndexedSeq[Tok], offset: Int): Int =
    toks.view.map(_.start).search(offset).insertionPoint

  /** `sql` lexed once, with the calls `name(…)` whose lower-cased name is
    * in `CallNames` rewritten in one walk. A call's closing paren is its
    * `(`'s match by token depth and its arguments are the text between
    * the commas one level inside; the arguments are rewritten before the
    * call, so calls nest to any depth. */
  private class Rewrite(sql: String) {
    val toks: Vector[Tok] = SqlLex.tokens(sql)
    def rule(i: Int): Option[(String, Int)] = call(i)
    def result: String = walk(sql, toks, 0, sql.length)(rule)
    /** The text strictly between tokens `a` and `b`, rewritten. */
    def text(a: Int, b: Int): String = walk(sql, toks, toks(a).end, toks(b).start)(rule)
    def kindAt(j: Int, k: Kind): Boolean = toks.lift(j).exists(_.kind == k)
    def textAt(j: Int, s: String): Boolean = toks.lift(j).exists(_.text == s)

    /** The call at `i` rewritten, and the index of the token after it. */
    def call(i: Int): Option[(String, Int)] = {
      val open = i + 1
      if (toks(i).kind != Kind.Word || !textAt(open, "(")) return None
      val name = toks(i).text.toLowerCase
      val close = if (CallNames(name)) SqlLex.closing(toks, open) else -1
      if (close < 0) return None
      // the paren, the commas between arguments and the closing paren
      val seps = (open +: (open + 1 until close).filter(j =>
        toks(j).depth == toks(open).depth + 1 && toks(j).text == ",")) :+ close
      val last = seps(seps.length - 2) // the separator before the last argument
      val after = close + 1
      name match {
        case "group_concat" => Some((groupConcat(open, close), after))
        case "count" => distinctWindow(open, close, seps)
        case "date_format" | "str_to_date" =>
          // the last argument is one '…' literal holding a %-pattern
          val lit = toks(close - 1)
          lazy val body = SqlLex.body(lit.text)
          if (last != close - 2 || lit.kind != Kind.Str || lit.text.head != '\'' ||
              !body.contains('%') || body.contains('\'')) None
          else {
            val fn = if (name == "str_to_date") "to_timestamp" else toks(i).text
            Some((s"$fn(${text(open, close - 1)}'${mysqlPatternToJdk(body)}')", after))
          }
        case _ => // DATE_ADD and its kin: the last argument is INTERVAL <n> <unit>
          if (last == open || close - last != 4 || !toks(last + 1).is("interval") ||
              !kindAt(last + 2, Kind.Number) || !kindAt(last + 3, Kind.Word)) None
          else Some((s"(${text(open, last).trim} ${DateAddOps(name)} INTERVAL " +
            s"${toks(last + 2).text} ${toks(last + 3).text})", after))
      }
    }

    /** Doris/MySQL `GROUP_CONCAT` → Spark 4 `listagg`:
      *
      *   group_concat([DISTINCT] e)                   → listagg(e, ', ')
      *   group_concat(e, 'sep')        (Doris form)   → listagg(e, 'sep')
      *   group_concat(e SEPARATOR 's') (MySQL form)   → listagg(e, 's')
      *   … ORDER BY o [ASC|DESC] …                    → WITHIN GROUP (ORDER BY …)
      *
      * Doris's default separator is ", " (reference grammar's
      * functionCallExpression accepts both forms). MySQL places SEPARATOR
      * last, after any ORDER BY; the Doris separator argument comes before
      * it. */
    private def groupConcat(open: Int, close: Int): String = {
      val distinct = toks(open + 1).is("distinct")
      val head = if (distinct) open + 1 else open // the token before the expression
      val sep =
        if (close - 3 > head && toks(close - 2).is("separator") && kindAt(close - 1, Kind.Str)) close - 2
        else close
      val orderBy = (head + 2 until sep - 2).find(j => toks(j).depth == toks(open).depth + 1 &&
        toks(j).is("order") && toks(j + 1).is("by"))
      val core = orderBy.getOrElse(sep)
      val comma =
        if (sep == close && core - 2 > head && textAt(core - 2, ",") && kindAt(core - 1, Kind.Str)) core - 2
        else core
      val sepText =
        if (sep < close) toks(sep + 1).text else if (comma < core) toks(comma + 1).text else "', '"
      val within = orderBy.fold("")(o => s" WITHIN GROUP (ORDER BY ${text(o + 1, sep).trim})")
      s"listagg(${if (distinct) "DISTINCT " else ""}${text(head, comma).trim}, $sepText)$within"
    }

    /** DISTINCT window aggregate: `COUNT(DISTINCT e[, e2…]) OVER …` →
      * `SIZE(COLLECT_SET(e) OVER …)`. Spark rejects DISTINCT in a window
      * aggregate outright (UNSUPPORTED_EXPR_FOR_WINDOW), while replayed
      * Doris/DuckDB workloads use it natively — q88 proved the rewrite's
      * semantics against DuckDB's native implementation row-by-row (ties
      * and frames included); this rewrite makes the translator perform it.
      * collect_set maintains the distinct set under ANY frame Spark
      * accepts for window aggregates and drops NULLs exactly as
      * COUNT(DISTINCT) does; the multi-argument form counts rows where ALL
      * arguments are non-null, preserved by a CASE-guarded struct. A plain
      * `COUNT(DISTINCT…)` aggregate without OVER is native Spark and
      * passes through. */
    private def distinctWindow(open: Int, close: Int, seps: IndexedSeq[Int]): Option[(String, Int)] = {
      // the OVER target: an inline (window spec) or a named window
      val target = close + 2
      val end =
        if (!toks(open + 1).is("distinct") || !toks.lift(close + 1).exists(_.is("over"))) -1
        else if (textAt(target, "(")) SqlLex.closing(toks, target)
        else if (kindAt(target, Kind.Word)) target
        else -1
      if (end < 0) None
      else {
        val bounds = (open + 1) +: seps.tail
        val args = bounds.zip(bounds.tail).map { case (a, b) => text(a, b).trim }
        val elem =
          if (args.length == 1) args.head
          else s"CASE WHEN ${args.map(a => s"($a) IS NOT NULL").mkString(" AND ")} " +
            s"THEN struct(${args.mkString(", ")}) END"
        Some((s"SIZE(COLLECT_SET($elem)${text(close, end)}${toks(end).text})", end + 1))
      }
    }
  }

  /** QUALIFY at ANY query-block depth (the reference grammar,
    * DorisParser.g4:1240-1261 querySpecification, allows it in every
    * block — replayed logs do carry it inside CTE bodies, derived
    * tables, and EVERY branch of a set-operation chain). Every
    * parenthesized region is rewritten bottom-up first; then each level
    * is split at its top-level set operators (UNION / INTERSECT /
    * EXCEPT, honoring a trailing ALL/DISTINCT) and each branch gets the
    * block transform independently:
    *
    *   SELECT <list> FROM <rel> QUALIFY <pred> <tail>
    *   → SELECT * EXCEPT (__qualify)
    *     FROM (SELECT <list>, (<pred>) AS __qualify FROM <rel>)
    *     WHERE __qualify <tail>
    *
    * A WITH prelude stays OUTSIDE the branch rewrites (its CTEs scope
    * over all branches), and a trailing ORDER BY/LIMIT/OFFSET after the
    * last branch stays global (it orders the whole set result, so it
    * must not be folded into the last branch's subquery). Non-query
    * paren groups (function args, IN-lists) contain no top-level
    * QUALIFY token and pass through unchanged. The statement is lexed
    * once: each level reads its slice of the one token vector. */
  private def rewriteQualify(sql: String): String = {
    val toks = SqlLex.tokens(sql)

    /** `sql[from, until)` with each paren group at `depth` (unbalanced
      * ones pass through: Catalyst then reports the real syntax error)
      * holding its own rewrite. */
    def mapped(from: Int, until: Int, depth: Int): String =
      walk(sql, toks, from, until) { i =>
        val close =
          if (toks(i).text == "(" && toks(i).depth == depth) SqlLex.closing(toks, i) else -1
        if (close < 0) None
        else Some((s"(${setAware(toks(i).end, toks(close).start, depth + 1)})", close + 1))
      }

    def words(from: Int, until: Int): Vector[Tok] =
      toks.slice(firstAt(toks, from), firstAt(toks, until)).filter(_.kind == Kind.Word)

    /** The level `sql[from, until)`, whose top-level tokens are at `depth`. */
    def setAware(from: Int, until: Int, depth: Int): String = {
      val ws = words(from, until)
      // EXCEPT is a set op only when a query block follows; `SELECT *
      // EXCEPT (cols)` — which this rewrite itself emits — is followed by
      // a parenthesized COLUMN list, never by SELECT/WITH/ALL/DISTINCT.
      def isSetOp(k: Int): Boolean = {
        val t = ws(k)
        t.depth == depth && setOpNames.exists(t.is) && (!t.is("except") ||
          ws.lift(k + 1).exists(nt => nt.is("select") || nt.is("all") ||
            nt.is("distinct") || nt.is("with")))
      }
      val ops = ws.indices.filter(isSetOp)
      if (ops.isEmpty) return block(from, until, depth)
      // the op span swallows a following top-level ALL / DISTINCT
      def opEnd(k: Int): Int =
        ws.lift(k + 1)
          .filter(nt => nt.depth == depth && (nt.is("all") || nt.is("distinct")))
          .getOrElse(ws(k)).end
      // text before the first top-level SELECT (a WITH prelude, or a
      // fragment that opens with an operator) is no branch: only the
      // operators after that SELECT split branches
      val firstSelect = ws.find(t => t.depth == depth && t.is("select"))
        .map(_.start).getOrElse(from)
      val branchOps = ops.filter(ws(_).start >= firstSelect)
      val tailStart = branchOps.lastOption.fold(until) { k =>
        val lastEnd = opEnd(k)
        ws.find(t => t.depth == depth && t.start >= lastEnd &&
            (t.is("order") || t.is("limit") || t.is("offset")))
          .map(_.start).getOrElse(until)
      }
      val sb = new StringBuilder(mapped(from, firstSelect, depth))
      // a rewritten branch can swallow its surrounding whitespace, so
      // re-separate pieces only where a space is actually missing — an
      // untouched statement stays byte-identical
      def appendSep(s: String): Unit = {
        if (sb.nonEmpty && !sb.last.isWhitespace &&
          s.nonEmpty && !s.head.isWhitespace) sb.append(' ')
        sb.append(s)
      }
      var pos = firstSelect
      for (k <- branchOps) {
        appendSep(block(pos, ws(k).start, depth))
        val e = opEnd(k)
        appendSep(mapped(ws(k).start, e, depth))
        pos = e
      }
      appendSep(block(pos, tailStart, depth))
      appendSep(mapped(tailStart, until, depth))
      sb.toString
    }

    /** One query block `sql[from, until)`. */
    def block(from: Int, until: Int, depth: Int): String = {
      val ws = words(from, until).filter(_.depth == depth)
      def piece(a: Int, b: Int) = mapped(a, b, depth)
      (ws.find(_.is("qualify")), ws.find(_.is("from"))) match {
        case (Some(q), Some(fromTok)) =>
          // the predicate runs until a top-level ORDER/LIMIT or the block's end
          val stop = ws.find(t => t.start > q.end && (t.is("order") || t.is("limit")))
            .map(_.start).getOrElse(until)
          s"SELECT * EXCEPT (__qualify) FROM (${piece(from, fromTok.start)}, " +
            s"(${piece(q.end, stop).trim}) AS __qualify ${piece(fromTok.start, q.start)}) " +
            s"WHERE __qualify ${piece(stop, until)}"
        case _ => piece(from, until)
      }
    }

    setAware(0, sql.length, 0)
  }

  private val setOpNames = Set("union", "intersect", "except")
}
