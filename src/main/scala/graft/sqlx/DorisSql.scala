package graft.sqlx

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
  *                               `/*+ SHUFFLE_HASH(t) */` in the SELECT.
  *
  * QUALIFY, `LIMIT m, n`, MINUS, the DISTINCT window aggregate below and
  * the hints' SELECT lookup read [[SqlLex]] tokens, so string literals,
  * backticked identifiers and comments are opaque to them.
  *
  * Known limits: the four regex rewrites (`DATE_ADD … INTERVAL`,
  * `GROUP_CONCAT`, the `date_format` patterns and the distribute hints)
  * match raw text, so the same text inside a string literal or a comment
  * is rewritten there too.
  */
object DorisSql {

  def translate(sql: String): String =
    rewriteQualify(rewriteDistinctWindow(rewriteLimitCommaOffset(rewriteMinus(
      rewriteDateFormatPatterns(rewriteDateAddInterval(
        rewriteDistributeHints(rewriteGroupConcat(sql))))))))

  /** MySQL/Doris `DATE_ADD(expr, INTERVAL n unit)` (and DATE_SUB /
    * ADDDATE / SUBDATE) → Spark's `expr ± INTERVAL n unit` arithmetic —
    * Spark's parser accepts the two-arg day form of date_add but NOT
    * the INTERVAL form, which is what replayed MySQL statements carry.
    * The plain `date_add(d, n)` call is native and passes through.
    *
    * Known limits (consistent with the sibling regex rewrites, and
    * acceptable for the replay corpus): the match is not string-literal
    * aware at the OUTER level, so a quoted `'date_add(x, INTERVAL 1
    * DAY)'` inside a VARCHAR literal would be rewritten inside the
    * literal; and the first-arg pattern admits ONE level of nested
    * parentheses, so `date_add(f(g(x)), INTERVAL …)` passes through
    * untranslated and then fails loudly in Spark's parser — the right
    * failure mode for an untranslatable statement. */
  private val dateAddIntervalRe =
    """(?i)\b(date_add|date_sub|adddate|subdate)\s*\(\s*((?:[^()']|'[^']*'|\((?:[^()']|'[^']*')*\))*?)\s*,\s*INTERVAL\s+(\d+)\s+(\w+)\s*\)""".r

  def rewriteDateAddInterval(sql: String): String = {
    // fixpoint: nested calls (date_add(date_add(d, INTERVAL …), INTERVAL …))
    // leave the inner call inside the rewritten arg; re-run until stable
    // (each pass eliminates ≥1 call, so depth bounds the iterations)
    var cur = sql
    var prev = ""
    while (cur != prev) {
      prev = cur
      cur = dateAddIntervalRe.replaceAllIn(cur, m => {
        val op = if (m.group(1).toLowerCase.startsWith("date_sub") ||
                     m.group(1).equalsIgnoreCase("subdate")) "-" else "+"
        java.util.regex.Matcher.quoteReplacement(
          s"(${m.group(2)} $op INTERVAL ${m.group(3)} ${m.group(4)})")
      })
    }
    cur
  }

  /** Doris/MySQL `GROUP_CONCAT` → Spark 4 `listagg`:
    *
    *   group_concat([DISTINCT] e)                   → listagg(e, ', ')
    *   group_concat(e, 'sep')        (Doris form)   → listagg(e, 'sep')
    *   group_concat(e SEPARATOR 's') (MySQL form)   → listagg(e, 's')
    *   … ORDER BY o [ASC|DESC] …                    → WITHIN GROUP (ORDER BY …)
    *
    * Doris's default separator is ", " (reference grammar's
    * functionCallExpression accepts both forms). Arguments may contain
    * string literals and one level of parentheses; deeper nesting passes
    * through untranslated (Catalyst then reports the unknown function,
    * which is the right failure mode for an untranslatable statement). */
  private val groupConcatRe =
    """(?i)\bgroup_concat\s*\(\s*(distinct\s+)?((?:[^()']|'[^']*'|\((?:[^()']|'[^']*')*\))*?)\s*\)""".r
  private val orderByInArgsRe = """(?is)\s+order\s+by\s+(.+)$""".r
  private val separatorInArgsRe = """(?is)\s+separator\s+('(?:[^']|'')*')\s*$""".r
  private val trailingSepArgRe = """(?s)^(.*?),\s*('(?:[^']|'')*')\s*$""".r

  private def rewriteGroupConcat(sql: String): String =
    groupConcatRe.replaceAllIn(sql, m => {
      val distinct = Option(m.group(1)).map(_ => "DISTINCT ").getOrElse("")
      var args = m.group(2).trim
      // peel trailing SEPARATOR first (MySQL places it LAST, after any
      // ORDER BY), then ORDER BY, then the Doris comma-separator form
      val (afterSep, sepOpt) = separatorInArgsRe.findFirstMatchIn(args) match {
        case Some(sm) => (args.substring(0, sm.start).trim, Some(sm.group(1)))
        case None => (args, None)
      }
      args = afterSep
      val (core, orderBy) = orderByInArgsRe.findFirstMatchIn(args) match {
        case Some(ob) => (args.substring(0, ob.start).trim, Some(ob.group(1).trim))
        case None => (args, None)
      }
      val (expr0, sep) = sepOpt match {
        case Some(sp) => (core, sp)
        case None => trailingSepArgRe.findFirstMatchIn(core) match {
          case Some(cm) => (cm.group(1).trim, cm.group(2))
          case None => (core, "', '")
        }
      }
      val within = orderBy.map(o => s" WITHIN GROUP (ORDER BY $o)").getOrElse("")
      scala.util.matching.Regex.quoteReplacement(
        s"listagg($distinct$expr0, $sep)$within")
    })

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

  /** Rewrite the second-argument pattern literal of
    * `date_format(x, '%...')` / `str_to_date(x, '%...')`; str_to_date
    * itself becomes to_timestamp (its Spark equivalent). Only patterns
    * containing '%' are touched, so JDK-style patterns pass through. */
  // first arg may carry ONE level of parentheses (e.g. the interval
  // arithmetic rewriteDateAddInterval produces)
  private val dateFnRe =
    """(?i)\b(date_format|str_to_date)\s*\(((?:[^()']|'[^']*'|\((?:[^()']|'[^']*')*\))*?)'([^']*%[^']*)'\s*\)""".r
  private def rewriteDateFormatPatterns(sql: String): String =
    dateFnRe.replaceAllIn(sql, m => {
      val fn = if (m.group(1).equalsIgnoreCase("str_to_date")) "to_timestamp"
               else m.group(1)
      scala.util.matching.Regex.quoteReplacement(
        s"$fn(${m.group(2)}'${mysqlPatternToJdk(m.group(3))}')")
    })

  /** Doris join distribute hints (DorisParser.g4 joinRelation,
    * distributeType): `[broadcast]`/`[shuffle]` before the right-side
    * relation become Catalyst join-strategy hints on the enclosing
    * SELECT, named by the relation's alias (or its table name). */
  private val distHintRe =
    """(?i)\[\s*(broadcast|shuffle)\s*\]\s*(`?[A-Za-z_][\w.]*`?)(?:\s+(?:as\s+)?(`?[A-Za-z_]\w*`?))?""".r
  private val relKeywords = Set("on", "using", "where", "join", "inner", "left",
    "right", "full", "cross", "group", "order", "limit", "qualify", "having")

  private def rewriteDistributeHints(sql: String): String = {
    val hints = Seq.newBuilder[String]
    val stripped = distHintRe.replaceAllIn(sql, m => {
      val kind = m.group(1).toLowerCase
      val table = m.group(2).stripPrefix("`").stripSuffix("`")
      val alias = Option(m.group(3)).map(_.stripPrefix("`").stripSuffix("`"))
        .filterNot(a => relKeywords.contains(a.toLowerCase))
      val name = alias.getOrElse(table.split('.').last)
      hints += (if (kind == "broadcast") s"BROADCAST($name)" else s"SHUFFLE_HASH($name)")
      scala.util.matching.Regex.quoteReplacement(
        m.matched.replaceFirst("(?i)\\[\\s*(broadcast|shuffle)\\s*\\]\\s*", ""))
    })
    val hs = hints.result()
    if (hs.isEmpty) sql
    else SqlLex.tokens(stripped).find(t => t.is("select") && t.depth == 0) match {
      case Some(t) =>
        stripped.substring(0, t.end) + s" /*+ ${hs.mkString(", ")} */" + stripped.substring(t.end)
      case None => stripped
    }
  }

  private def rewriteMinus(sql: String): String =
    SqlLex.tokens(sql).filter(_.is("minus")).foldRight(sql) { (t, acc) =>
      acc.substring(0, t.start) + "EXCEPT" + acc.substring(t.end)
    }

  /** `LIMIT m, n` → `LIMIT n OFFSET m` at any depth (the comma form is
    * unambiguous: LIMIT <int> , <int>). */
  private def rewriteLimitCommaOffset(sql: String): String =
    SqlLex.tokens(sql).sliding(4).collect {
      case Seq(l, m, c, n) if l.is("limit") && m.kind == SqlLex.Kind.Number &&
          c.text == "," && n.kind == SqlLex.Kind.Number => (l.start, n.end, m.text, n.text)
    }.toSeq.foldRight(sql) { case ((s, e, m, n), acc) =>
      acc.substring(0, s) + s"LIMIT $n OFFSET $m" + acc.substring(e)
    }

  /** DISTINCT window aggregate: `COUNT(DISTINCT e[, e2…]) OVER …` →
    * `SIZE(COLLECT_SET(e) OVER …)`. Spark rejects DISTINCT in a window
    * aggregate outright (UNSUPPORTED_EXPR_FOR_WINDOW), while replayed
    * Doris/DuckDB workloads use it natively — q88 proved the rewrite's
    * semantics against DuckDB's native implementation row-by-row (ties
    * and frames included); this pass makes the translator perform it.
    * collect_set maintains the distinct set under ANY frame Spark
    * accepts for window aggregates and drops NULLs exactly as
    * COUNT(DISTINCT) does; the multi-argument form counts rows where ALL
    * arguments are non-null, preserved by a CASE-guarded struct. The
    * rewrite is applied at any depth and repeats until no
    * `COUNT(DISTINCT…) OVER` remains (each pass eliminates one); a
    * plain `COUNT(DISTINCT…)` aggregate without OVER is native Spark
    * and passes through. */
  private def rewriteDistinctWindow(sql: String): String = {
    import SqlLex.Kind
    val toks = SqlLex.tokens(sql)
    def isOpen(i: Int) = i < toks.length && toks(i).text == "("
    for (i <- toks.indices if toks(i).is("count") && isOpen(i + 1)) {
      val close = SqlLex.closing(toks, i + 1)
      if (close > 0 && toks(i + 2).is("distinct") && toks.lift(close + 1).exists(_.is("over"))) {
        // the OVER target: an inline (window spec) or a named window
        val target = close + 2
        val replEnd =
          if (isOpen(target)) {
            val c2 = SqlLex.closing(toks, target)
            if (c2 > 0) toks(c2).end else -1
          } else if (toks.lift(target).exists(_.kind == Kind.Word)) toks(target).end
          else -1
        if (replEnd > 0) {
          // the arguments: the text between DISTINCT, each comma one level
          // inside COUNT( and the closing paren
          val argDepth = toks(i + 1).depth + 1
          val commas = (i + 3 until close)
            .filter(j => toks(j).text == "," && toks(j).depth == argDepth)
          val args = ((i + 2) +: commas).zip(commas :+ close).map { case (a, b) =>
            if (b - a > 1) sql.substring(toks(a + 1).start, toks(b - 1).end) else ""
          }
          val elem =
            if (args.length == 1) args.head
            else s"CASE WHEN ${args.map(a => s"($a) IS NOT NULL").mkString(" AND ")} " +
              s"THEN struct(${args.mkString(", ")}) END"
          val overText = sql.substring(toks(close).end, replEnd)
          return rewriteDistinctWindow(
            sql.substring(0, toks(i).start) +
              s"SIZE(COLLECT_SET($elem)$overText)" +
              sql.substring(replEnd))
        }
      }
    }
    sql
  }

  /** QUALIFY at ANY query-block depth (the reference grammar,
    * DorisParser.g4:1240-1261 querySpecification, allows it in every
    * block — replayed logs do carry it inside CTE bodies, derived
    * tables, and EVERY branch of a set-operation chain). Every
    * parenthesized region is rewritten bottom-up first; then the
    * outermost level is split at its top-level set operators (UNION /
    * INTERSECT / EXCEPT, honoring a trailing ALL/DISTINCT) and each
    * branch gets the block transform independently:
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
    * QUALIFY token and pass through unchanged. */
  private def rewriteQualify(sql: String): String =
    rewriteQualifySetAware(mapTopParens(sql)(rewriteQualify))

  private val setOpNames = Set("union", "intersect", "except")

  /** The word tokens of `sql`, the view the QUALIFY passes read. */
  private def words(sql: String): Vector[SqlLex.Tok] =
    SqlLex.tokens(sql).filter(_.kind == SqlLex.Kind.Word)

  private def rewriteQualifySetAware(sql: String): String = {
    val toks = words(sql)
    // EXCEPT is a set op only when a query block follows; `SELECT *
    // EXCEPT (cols)` — which this rewrite itself emits — is followed by
    // a parenthesized COLUMN list, never by SELECT/WITH/ALL/DISTINCT.
    def isSetOp(i: Int): Boolean = {
      val t = toks(i)
      t.depth == 0 && setOpNames.exists(t.is) && (!t.is("except") ||
        toks.lift(i + 1).exists(nt => nt.is("select") || nt.is("all") ||
          nt.is("distinct") || nt.is("with")))
    }
    val ops = toks.indices.filter(isSetOp)
    if (ops.isEmpty) return rewriteQualifyBlock(sql)
    // the op span swallows a following top-level ALL / DISTINCT
    def opEnd(i: Int): Int =
      toks.lift(i + 1)
        .filter(nt => nt.depth == 0 && (nt.is("all") || nt.is("distinct")))
        .getOrElse(toks(i)).end
    val firstSelect = toks.find(t => t.depth == 0 && t.is("select"))
      .map(_.start).getOrElse(0)
    val lastEnd = opEnd(ops.last)
    val tailStart = toks.find(t => t.depth == 0 && t.start >= lastEnd &&
        (t.is("order") || t.is("limit") || t.is("offset")))
      .map(_.start).getOrElse(sql.length)
    val sb = new StringBuilder(sql.substring(0, firstSelect))
    // a rewritten branch can swallow its surrounding whitespace, so
    // re-separate pieces only where a space is actually missing — an
    // untouched statement stays byte-identical
    def appendSep(s: String): Unit = {
      if (sb.nonEmpty && !sb.last.isWhitespace &&
        s.nonEmpty && !s.head.isWhitespace) sb.append(' ')
      sb.append(s)
    }
    var pos = firstSelect
    for (i <- ops) {
      appendSep(rewriteQualifyBlock(sql.substring(pos, toks(i).start)))
      val e = opEnd(i)
      appendSep(sql.substring(toks(i).start, e))
      pos = e
    }
    appendSep(rewriteQualifyBlock(sql.substring(pos, tailStart)))
    appendSep(sql.substring(tailStart))
    sb.toString
  }

  private def rewriteQualifyBlock(sql: String): String = {
    val toks = words(sql)
    toks.find(t => t.is("qualify") && t.depth == 0) match {
      case None => sql
      case Some(q) =>
        val fromTok = toks.find(t => t.is("from") && t.depth == 0)
          .getOrElse(return sql)
        // the predicate runs until a top-level ORDER/LIMIT or statement end
        val stop = toks.find(t => t.start > q.end && t.depth == 0 &&
            (t.is("order") || t.is("limit")))
          .map(_.start).getOrElse(sql.length)
        val selectList = sql.substring(0, fromTok.start)
        val rel = sql.substring(fromTok.start, q.start)
        val pred = sql.substring(q.end, stop).trim
        val tail = sql.substring(stop)
        s"SELECT * EXCEPT (__qualify) FROM ($selectList, ($pred) AS __qualify $rel) WHERE __qualify $tail"
    }
  }

  /** Applies f to the CONTENT of each outermost parenthesized region.
    * Unbalanced input passes through untouched (the right failure mode:
    * Catalyst then reports the real syntax error). */
  private def mapTopParens(sql: String)(f: String => String): String = {
    val toks = SqlLex.tokens(sql)
    val sb = new StringBuilder
    var pos = 0
    for (open <- toks.indices if toks(open).text == "(" && toks(open).depth == 0) {
      val close = SqlLex.closing(toks, open)
      if (close > 0) {
        sb.append(sql.substring(pos, toks(open).end))
          .append(f(sql.substring(toks(open).end, toks(close).start))).append(')')
        pos = toks(close).end
      }
    }
    sb.append(sql.substring(pos)).toString
  }
}
