package graft.sqlx

import org.scalatest.funsuite.AnyFunSuite
import SqlLex.Kind._

/** Token kinds, offsets and depths of the one SQL lexer. */
class SqlLexSpec extends AnyFunSuite {

  private def lex(sql: String) =
    SqlLex.tokens(sql).map(t => (t.kind, t.text, t.start, t.depth))

  test("string literals: doubled-quote and backslash escapes stay inside") {
    assert(lex("x = 'it''s (' + \"a\"\"b\"") == Seq(
      (Word, "x", 0, 0), (Other, "=", 2, 0), (Str, "'it''s ('", 4, 0),
      (Other, "+", 14, 0), (Str, "\"a\"\"b\"", 16, 0)))
    assert(lex("f('a\\'b)', 'c\\\\')") == Seq(
      (Word, "f", 0, 0), (Other, "(", 1, 0), (Str, "'a\\'b)'", 2, 1),
      (Other, ",", 9, 1), (Str, "'c\\\\'", 11, 1), (Other, ")", 16, 0)))
  }

  test("an unterminated literal, identifier or block comment runs to the end") {
    assert(lex("SELECT 'abc) FROM t") == Seq(
      (Word, "SELECT", 0, 0), (Str, "'abc) FROM t", 7, 0)))
    assert(lex("a 'x\\") == Seq((Word, "a", 0, 0), (Str, "'x\\", 2, 0)))
    assert(lex("(`a, b") == Seq((Other, "(", 0, 0), (Quoted, "`a, b", 1, 1)))
    assert(lex("1 /* ) ") == Seq((Number, "1", 0, 0), (Comment, "/* ) ", 2, 0)))
  }

  test("a literal's body runs to its closing quote, escapes as written") {
    assert(SqlLex.body("'it''s'") == "it''s")
    assert(SqlLex.body("\"a\\\"b\"") == "a\\\"b")
    assert(SqlLex.body("'abc") == "abc")
    assert(SqlLex.body("'") == "")
  }

  test("backticks hold ) and , without moving the depth") {
    val toks = SqlLex.tokens("count(DISTINCT `a,b)`, c)")
    assert(toks.map(t => (t.kind, t.text, t.start, t.depth)) == Seq(
      (Word, "count", 0, 0), (Other, "(", 5, 0), (Word, "DISTINCT", 6, 1),
      (Quoted, "`a,b)`", 15, 1), (Other, ",", 21, 1), (Word, "c", 23, 1),
      (Other, ")", 24, 0)))
    assert(SqlLex.closing(toks, 1) == 6)
    assert(toks(2).is("distinct"))
  }

  test("comments hold quotes and parens; a line comment stops at the newline") {
    assert(lex("a -- it's (\nb /* 'x' ) */ c") == Seq(
      (Word, "a", 0, 0), (Comment, "-- it's (", 2, 0), (Word, "b", 12, 0),
      (Comment, "/* 'x' ) */", 14, 0), (Word, "c", 26, 0)))
    assert(lex("/*+ BROADCAST(d) */SELECT") == Seq(
      (Comment, "/*+ BROADCAST(d) */", 0, 0), (Word, "SELECT", 19, 0)))
  }

  test("@var and @@sysvar are one token each") {
    assert(lex("SET @@session.sql_mode = @v_1;") == Seq(
      (Word, "SET", 0, 0), (Var, "@@session.sql_mode", 4, 0), (Other, "=", 23, 0),
      (Var, "@v_1", 25, 0), (Other, ";", 29, 0)))
  }

  test("$ continues an identifier; digits run as one number") {
    assert(lex("a$b.$c _x9 LIMIT 10, 2.5") == Seq(
      (Word, "a$b", 0, 0), (Other, ".", 3, 0), (Other, "$", 4, 0), (Word, "c", 5, 0),
      (Word, "_x9", 7, 0), (Word, "LIMIT", 11, 0), (Number, "10", 17, 0),
      (Other, ",", 19, 0), (Number, "2", 21, 0), (Other, ".", 22, 0),
      (Number, "5", 23, 0)))
  }

  test("depth: a paren and its match share a depth; a stray ) goes below 0") {
    val toks = SqlLex.tokens("((a)) ) (b")
    assert(toks.map(t => (t.text, t.depth)) == Seq(
      ("(", 0), ("(", 1), ("a", 2), (")", 1), (")", 0), (")", -1), ("(", -1), ("b", 0)))
    assert(SqlLex.closing(toks, 0) == 4)
    assert(SqlLex.closing(toks, 1) == 3)
    assert(SqlLex.closing(toks, 6) == -1)
  }
}
