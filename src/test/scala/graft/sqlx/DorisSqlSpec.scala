package graft.sqlx

import org.scalatest.funsuite.AnyFunSuite

class DorisSqlSpec extends AnyFunSuite {

  test("LIMIT m,n -> LIMIT n OFFSET m") {
    assert(DorisSql.translate("SELECT a FROM t LIMIT 5, 10") ==
      "SELECT a FROM t LIMIT 10 OFFSET 5")
    // plain LIMIT untouched
    assert(DorisSql.translate("SELECT a FROM t LIMIT 10") ==
      "SELECT a FROM t LIMIT 10")
  }

  test("MINUS -> EXCEPT at top level, not inside strings") {
    assert(DorisSql.translate("SELECT a FROM t MINUS SELECT b FROM u") ==
      "SELECT a FROM t EXCEPT SELECT b FROM u")
    assert(DorisSql.translate("SELECT 'MINUS sign' FROM t") ==
      "SELECT 'MINUS sign' FROM t")
  }

  test("QUALIFY rewrite wraps window predicate") {
    val out = DorisSql.translate(
      "SELECT a, b FROM t QUALIFY ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) = 1 ORDER BY a")
    assert(out.contains("SELECT * EXCEPT (__qualify)"))
    assert(out.contains("AS __qualify"))
    assert(out.contains("WHERE __qualify"))
    assert(out.trim.endsWith("ORDER BY a"))
    // no top-level QUALIFY -> untouched
    assert(DorisSql.translate("SELECT a FROM t WHERE a > 1") ==
      "SELECT a FROM t WHERE a > 1")
  }

  test("subquery without QUALIFY is untouched") {
    val sql = "SELECT * FROM (SELECT a FROM t) x WHERE a > 0"
    assert(DorisSql.translate(sql) == sql)
  }

  test("QUALIFY inside a derived table is rewritten (recursive)") {
    val out = DorisSql.translate(
      "SELECT x.a FROM (SELECT a, b FROM t QUALIFY ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) = 1) x WHERE x.a > 0")
    assert(out.contains("SELECT * EXCEPT (__qualify)"), out)
    assert(out.contains("WHERE __qualify"), out)
    // the OUTER block gained no qualify wrapper
    assert(out.startsWith("SELECT x.a FROM ("), out)
    assert(out.endsWith("WHERE x.a > 0"), out)
  }

  test("QUALIFY inside a CTE body is rewritten (recursive)") {
    val out = DorisSql.translate(
      "WITH top2 AS (SELECT a, b FROM t QUALIFY RANK() OVER (PARTITION BY a ORDER BY b DESC) <= 2) SELECT a, COUNT(*) AS n FROM top2 GROUP BY a")
    assert(out.startsWith("WITH top2 AS (SELECT * EXCEPT (__qualify)"), out)
    assert(out.endsWith("SELECT a, COUNT(*) AS n FROM top2 GROUP BY a"), out)
    // a QUALIFY-looking word inside a string literal is opaque
    val lit = "SELECT 'use QUALIFY here' AS s FROM t"
    assert(DorisSql.translate(lit) == lit)
  }

  test("a set operator before the first SELECT is no branch boundary") {
    val out = DorisSql.translate(
      "UNION ALL SELECT a FROM u QUALIFY RANK() OVER (ORDER BY a) <= 2")
    assert(out == "UNION ALL SELECT * EXCEPT (__qualify) FROM (SELECT a , " +
      "(RANK() OVER (ORDER BY a) <= 2) AS __qualify FROM u ) WHERE __qualify ", out)
  }

  test("QUALIFY is rewritten in EVERY branch of a set-operation chain") {
    val out = DorisSql.translate(
      "SELECT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1 " +
        "UNION ALL SELECT a FROM u QUALIFY RANK() OVER (ORDER BY a) <= 2 " +
        "ORDER BY a LIMIT 5")
    // both branches wrapped, operator and global tail preserved
    assert(out.split("WHERE __qualify").length == 3, out)
    assert(out.contains("UNION ALL"), out)
    assert(out.trim.endsWith("ORDER BY a LIMIT 5"), out)
    // the first branch's predicate must STOP at the set operator
    assert(!out.contains("= 1 UNION"), out)
    // QUALIFY only in the SECOND branch also rewrites
    val out2 = DorisSql.translate(
      "SELECT a FROM t UNION SELECT a FROM u QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1")
    assert(out2.startsWith("SELECT a FROM t UNION "), out2)
    assert(out2.contains("WHERE __qualify"), out2)
    // a WITH prelude scopes over ALL branches: it must stay outside
    val out3 = DorisSql.translate(
      "WITH c AS (SELECT a FROM t) SELECT a FROM c QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1 UNION SELECT a FROM c")
    assert(out3.startsWith("WITH c AS (SELECT a FROM t) SELECT * EXCEPT (__qualify)"), out3)
    // Spark's SELECT * EXCEPT (cols) is NOT treated as a set operator
    val keep = "SELECT * EXCEPT (b) FROM t WHERE a > 0"
    assert(DorisSql.translate(keep) == keep)
  }

  test("COUNT(DISTINCT) OVER becomes SIZE(COLLECT_SET() OVER)") {
    val t = DorisSql.translate(
      "SELECT CAST(COUNT(DISTINCT ck) OVER (PARTITION BY p ORDER BY d " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rd FROM o")
    assert(t.contains("SIZE(COLLECT_SET(ck) OVER (PARTITION BY p ORDER BY d"), t)
    assert(!t.toLowerCase.contains("count(distinct"), t)
    assert(t.contains("AS BIGINT) AS rd"), t)
    // whole-partition form and a second occurrence in the same statement
    val t2 = DorisSql.translate(
      "SELECT COUNT(DISTINCT a) OVER (PARTITION BY p) AS x, " +
        "COUNT(DISTINCT b) OVER w AS y FROM o WINDOW w AS (PARTITION BY q)")
    assert(t2.contains("SIZE(COLLECT_SET(a) OVER (PARTITION BY p)) AS x"), t2)
    assert(t2.contains("SIZE(COLLECT_SET(b) OVER w) AS y"), t2)
    // multi-arg: ALL-non-null row semantics via a CASE-guarded struct
    val t3 = DorisSql.translate(
      "SELECT COUNT(DISTINCT a, b) OVER (PARTITION BY p) AS x FROM o")
    assert(t3.contains("SIZE(COLLECT_SET(CASE WHEN (a) IS NOT NULL AND (b) " +
      "IS NOT NULL THEN struct(a, b) END) OVER (PARTITION BY p)) AS x"), t3)
    // plain COUNT(DISTINCT) aggregate (no OVER) is native: untouched
    val agg = "SELECT COUNT(DISTINCT a) FROM t GROUP BY p"
    assert(DorisSql.translate(agg) == agg)
  }

  test("literals, backticked identifiers and comments are opaque to LIMIT and the DISTINCT window") {
    // a LIMIT-looking literal is a value, not a clause
    assert(DorisSql.translate("SELECT 'LIMIT 1, 2' AS s") == "SELECT 'LIMIT 1, 2' AS s")
    // a comma inside backticks does not split the arguments
    assert(DorisSql.translate("SELECT COUNT(DISTINCT `a,b`) OVER (PARTITION BY g) AS n FROM t") ==
      "SELECT SIZE(COLLECT_SET(`a,b`) OVER (PARTITION BY g)) AS n FROM t")
    // a paren inside a comment does not close COUNT(
    assert(DorisSql.translate("SELECT COUNT(DISTINCT d /* ) */) OVER (PARTITION BY g) AS n FROM t") ==
      "SELECT SIZE(COLLECT_SET(d /* ) */) OVER (PARTITION BY g)) AS n FROM t")
    // nor the OVER (…) window spec
    assert(DorisSql.translate("SELECT COUNT(DISTINCT x) OVER (PARTITION BY g /* ) */ ORDER BY y) FROM t") ==
      "SELECT SIZE(COLLECT_SET(x) OVER (PARTITION BY g /* ) */ ORDER BY y)) FROM t")
  }

  test("literals are opaque to the call rewrites and the distribute hints") {
    val sql = "SELECT 'date_add(d, INTERVAL 1 DAY)' AS s, '[broadcast] x' AS h, 'group_concat(y)' AS g"
    assert(DorisSql.translate(sql) == sql)
  }

  test("MySQL %-patterns in date_format/str_to_date become JDK patterns") {
    assert(DorisSql.mysqlPatternToJdk("%Y-%m-%d %H:%i:%s") == "yyyy-MM-dd HH:mm:ss")
    assert(DorisSql.mysqlPatternToJdk("%d/%b/%Y") == "dd/MMM/yyyy")
    assert(DorisSql.mysqlPatternToJdk("100%% at %T") == "100% 'a''t' HH:mm:ss")
    val t = DorisSql.translate(
      "SELECT date_format(o_orderdate, '%Y-%m') AS ym, str_to_date('2024-01-02', '%Y-%m-%d') AS d FROM orders")
    assert(t.contains("date_format(o_orderdate, 'yyyy-MM')"), t)
    assert(t.contains("to_timestamp('2024-01-02', 'yyyy-MM-dd')"), t)
    // JDK-style patterns (no %) pass through untouched
    assert(DorisSql.translate("SELECT date_format(d, 'yyyy-MM') FROM t") ==
      "SELECT date_format(d, 'yyyy-MM') FROM t")
  }

  test("DATE_ADD/DATE_SUB INTERVAL forms become interval arithmetic") {
    assert(DorisSql.translate("SELECT date_add(d, INTERVAL 3 DAY) FROM t")
      == "SELECT (d + INTERVAL 3 DAY) FROM t")
    assert(DorisSql.translate("SELECT DATE_SUB(ts, INTERVAL 12 HOUR)")
      == "SELECT (ts - INTERVAL 12 HOUR)")
    assert(DorisSql.translate("SELECT subdate(f(x), INTERVAL 1 MONTH)")
      == "SELECT (f(x) - INTERVAL 1 MONTH)")
    // the first argument nests to any depth
    assert(DorisSql.translate("SELECT date_add(f(g(x)), INTERVAL 1 DAY) FROM t")
      == "SELECT (f(g(x)) + INTERVAL 1 DAY) FROM t")
    // the plain two-arg day form is native Spark and must pass through
    assert(DorisSql.translate("SELECT date_add(d, 3)")
      == "SELECT date_add(d, 3)")
  }

  test("group_concat translates to listagg in every surface form") {
    // bare: Doris default separator ", "
    assert(DorisSql.translate("SELECT group_concat(x) FROM t")
      == "SELECT listagg(x, ', ') FROM t")
    // Doris comma-separator form
    assert(DorisSql.translate("SELECT group_concat(x, '|') FROM t")
      == "SELECT listagg(x, '|') FROM t")
    // MySQL SEPARATOR form
    assert(DorisSql.translate("SELECT group_concat(x SEPARATOR ';') FROM t")
      == "SELECT listagg(x, ';') FROM t")
    // DISTINCT + ORDER BY + SEPARATOR (MySQL places SEPARATOR last)
    assert(DorisSql.translate(
      "SELECT group_concat(DISTINCT x ORDER BY x SEPARATOR '|') FROM t")
      == "SELECT listagg(DISTINCT x, '|') WITHIN GROUP (ORDER BY x) FROM t")
    // ORDER BY with direction, default separator
    assert(DorisSql.translate("SELECT group_concat(x ORDER BY y DESC) FROM t")
      == "SELECT listagg(x, ', ') WITHIN GROUP (ORDER BY y DESC) FROM t")
    // expression args with one paren level survive
    assert(DorisSql.translate("SELECT group_concat(concat(a, b), '-') FROM t")
      == "SELECT listagg(concat(a, b), '-') FROM t")
    // and deeper nesting too
    assert(DorisSql.translate("SELECT group_concat(concat(a, upper(b)), '-') FROM t")
      == "SELECT listagg(concat(a, upper(b)), '-') FROM t")
  }

  test("[broadcast]/[shuffle] distribute hints become Catalyst join hints") {
    val t = DorisSql.translate(
      "SELECT a.x FROM a JOIN [broadcast] dim d ON a.k = d.k JOIN [shuffle] big ON a.k = big.k")
    assert(t.contains("/*+ BROADCAST(d), SHUFFLE_HASH(big) */"), t)
    assert(!t.contains("["))
    // alias-less relation uses its table name, db prefix stripped
    val t2 = DorisSql.translate("SELECT * FROM a JOIN [broadcast] db1.dim ON a.k = dim.k")
    assert(t2.contains("/*+ BROADCAST(dim) */"), t2)
    // no hint, no change
    assert(DorisSql.translate("SELECT 1") == "SELECT 1")
  }

  test("doubled-quote escaping ('' / \"\") does not invert string/code regions") {
    // the literal contains an escaped quote AND an open paren — a scanner
    // that reads '' as close+open treats ` (` as code and miscounts parens
    val lit = "SELECT 'it''s (' AS x FROM t MINUS SELECT 'b' FROM u"
    assert(DorisSql.translate(lit) ==
      "SELECT 'it''s (' AS x FROM t EXCEPT SELECT 'b' FROM u")
    // MINUS inside a doubled-quote literal must NOT be rewritten
    assert(DorisSql.translate("SELECT 'a''MINUS''b' FROM t") ==
      "SELECT 'a''MINUS''b' FROM t")
    // COUNT(DISTINCT) OVER rewrite stays correct with '' in an argument
    val cd = DorisSql.translate(
      "SELECT COUNT(DISTINCT concat(x, 'it''s (')) OVER (PARTITION BY g) FROM t")
    assert(cd.contains("SIZE(COLLECT_SET(concat(x, 'it''s (')) OVER (PARTITION BY g))"), cd)
    // QUALIFY after a doubled-quote literal still rewrites
    val q = DorisSql.translate(
      "SELECT g, 'don''t' AS s, row_number() OVER (PARTITION BY g ORDER BY v) AS rn " +
        "FROM t QUALIFY rn = 1")
    // no bare QUALIFY keyword survives (the __qualify marker column is fine)
    assert("(?i)(?<!\\w)qualify".r.findFirstIn(q).isEmpty, q)
  }
}
