package graft.anon

import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.sqlx.SqlLex
import graft.sqlx.SqlLex.Kind

/** SQL identifier anonymizer (SURVEY.md §2.10 N1–N4) — a consistent
  * rewrite of every schema/table/column identifier in a statement while
  * preserving everything that must survive for the workload to stay
  * replayable: keywords, function names (identifier followed by `(`),
  * user/session variables (`@x`, `@@x`), the ENGINE value, string
  * literals, numbers and operators. COMMENT literals are hidden
  * (`'***…'`), and identifiers inside `bloom_filter_columns` /
  * `function_column.sequence_col` property values are rewritten
  * individually. (Reference semantics: src/parser/custom.go:57-226,
  * src/anonymizer.go:19-218; the reference rides a full ANTLR parse —
  * here context rules over [[graft.sqlx.SqlLex]] tokens implement the
  * same observable rules.)
  *
  * Methods:
  *   - hash:     first 8 bytes of SHA-256(lowercase(id)) as hex (the
  *               reference uses blake3 — the digest choice is internal;
  *               consistency, not the algorithm, is the contract);
  *               identifiers shorter than `minLength` are kept.
  *   - minihash: dictionary-compress hashes to the shortest unused
  *               letter words a, b, …, z, aa, ba, … skipping SQL
  *               keywords; dictionary persists to YAML for cross-run
  *               consistency (N3).
  */
object Anonymizer {

  val ReservedIdentifiers: Set[String] = Set(
    "mysql", "global", "internal", "__internal_schema", "information_schema")

  /** Keywords never rewritten (superset is harmless for consistency —
    * a kept keyword-looking identifier is kept everywhere). */
  val Keywords: Set[String] = Set(
    "select", "from", "where", "group", "by", "order", "having", "limit",
    "offset", "join", "inner", "left", "right", "full", "outer", "cross",
    "semi", "anti", "on", "using", "as", "and", "or", "not", "in", "exists",
    "between", "like", "rlike", "is", "null", "true", "false", "case",
    "when", "then", "else", "end", "cast", "distinct", "all", "union",
    "except", "minus", "intersect", "with", "values", "insert", "into",
    "update", "delete", "create", "table", "view", "materialized", "drop",
    "alter", "add", "column", "index", "key", "primary", "unique",
    "duplicate", "aggregate", "comment", "partition", "partitions",
    "distributed", "buckets", "properties", "engine", "replace", "if",
    "asc", "desc", "nulls", "first", "last", "over", "window", "rows",
    "range", "unbounded", "preceding", "following", "current", "row",
    "interval", "year", "month", "day", "hour", "minute", "second",
    "int", "integer", "bigint", "smallint", "tinyint", "largeint",
    "boolean", "bool", "float", "double", "decimal", "decimalv2",
    "decimalv3", "date", "datev2", "datetime", "datetimev2", "timestamp",
    "char", "character", "varchar", "string", "text", "json", "jsonb",
    "variant", "bitmap", "hll", "array", "map", "struct", "ipv4", "ipv6",
    "random", "hash", "auto", "olap", "use", "show", "explain", "set",
    "grant", "revoke", "analyze", "sample", "tablesample", "qualify")

  val PropertiesWithValueIds: Set[String] =
    Set("bloom_filter_columns", "function_column.sequence_col")

  val HashBytes = 8

  private def sha8hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    d.take(HashBytes).map(b => f"${b & 0xff}%02x").mkString
  }

  /** The reserve set, keyed by hash — a reserved id hashes to itself. */
  private def reserveHashes(extra: Seq[String]): Map[String, String] =
    (ReservedIdentifiers ++ extra.map(_.toLowerCase))
      .map(id => sha8hex(id) -> id).toMap

  /** Pure stateless hash-method alias — serializable by construction, so
    * it runs as a distributed UDF/expression with no shared state (the
    * property that makes the hash method the scale-path anonymizer). */
  def hashAlias(id: String, minLength: Int = 3): String =
    if (id == null || id.length < minLength ||
        ReservedIdentifiers.contains(id.toLowerCase)) id
    else sha8hex(id.toLowerCase)

  /** `hashAlias` as a Catalyst Column expression — the form to use when
    * anonymizing a COLUMN of identifiers (billions of rows): pure
    * builtins (sha2/lower/substring), so it stays inside whole-stage
    * codegen with no per-row UDF serialization. Kept value-identical to
    * `hashAlias` (same digest prefix, reserved-id and min-length rules);
    * AnonymizerSpec pins the equivalence.
    */
  def hashAliasCol(id: org.apache.spark.sql.Column, minLength: Int = 3): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(id.isNull.or(length(id) < minLength)
        .or(lower(id).isInCollection(ReservedIdentifiers)), id)
      .otherwise(substring(sha2(lower(id), 256), 1, HashBytes * 2))
  }

  /** Stateful anonymization context (one per run; NOT thread safe —
    * mirror of the reference's global dict). */
  final class Context(
      val method: String = "hash",
      val minLength: Int = 3,
      reserveIds: Seq[String] = Nil,
      initialDict: Map[String, String] = Map.empty) {
    private val reserved = reserveHashes(reserveIds)
    val dict: mutable.LinkedHashMap[String, String] =
      mutable.LinkedHashMap(initialDict.toSeq: _*)

    /** hash or minihash one identifier (N2/N3). */
    def anonymize(id: String): String = method match {
      case "hash" =>
        if (id.length < minLength) id
        else {
          val h = sha8hex(id.toLowerCase)
          if (reserved.contains(h)) id else h
        }
      case "minihash" =>
        val h = sha8hex(id.toLowerCase)
        if (reserved.contains(h)) id else minify(h)
      case _ => id
    }

    /** Shortest-unused-word dictionary compression: a…z, aa, ba, …
      * (leftmost position increments first), skipping keywords. */
    private def minify(hash: String): String = dict.get(hash) match {
      case Some(mini) => mini
      case None =>
        var last = dict.getOrElse("@@last", "")
        if (last.isEmpty) {
          dict.clear()
          dict("@@last") = "a"
          dict(hash) = "a"
          "a"
        } else {
          var next = last
          var ok = false
          while (!ok) {
            val cs = next.toCharArray
            val sb = new StringBuilder
            var i = 0
            var carried = true
            while (i < cs.length && carried) {
              if (cs(i) != 'z') {
                sb += (cs(i) + 1).toChar
                sb ++= cs.drop(i + 1).mkString
                carried = false
              } else {
                sb += 'a'
                if (i == cs.length - 1) sb += 'a'
              }
              i += 1
            }
            next = sb.toString
            // Skip EVERY grammar keyword, not just the curated rewrite
            // set: an alias is substituted unquoted into replayed SQL,
            // so `bucket`/`week`/… would change how statements parse.
            ok = !Keywords.contains(next) && !ReservedIdentifiers.contains(next) &&
              !DorisKeywords.All.contains(next)
          }
          dict("@@last") = next
          dict(hash) = next
          next
        }
    }

    def dictYaml: String = {
      val m = new java.util.LinkedHashMap[String, String]()
      dict.foreach { case (k, v) => m.put(k, v) }
      new org.yaml.snakeyaml.Yaml().dump(m)
    }
  }

  // ---- N4: schema-name anonymization --------------------------------

  /** Anonymize the db/table parts of a `<db>.<table>.<type>.sql` schema
    * file name (the type suffix and extension are structure, not ids). */
  def anonymizeSchemaFileName(ctx: Context, fileName: String): String =
    fileName match {
      case s if s.count(_ == '.') >= 3 =>
        val parts = s.split('.')
        (Seq(ctx.anonymize(parts(0)), ctx.anonymize(parts(1))) ++ parts.drop(2)).mkString(".")
      case other => other
    }

  def loadDictYaml(yaml: String): Map[String, String] = {
    val loaded = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, String]](yaml)
    if (loaded == null) Map.empty else loaded.asScala.toMap
  }

  // ---- the SQL rewrite (N1) ------------------------------------------

  /** Words after which a `(`-followed identifier is a definition, not a
    * function call (`CREATE TABLE t1 (…`). */
  private val NonCallContext = Set(
    "table", "into", "exists", "view", "update", "from", "join")

  /** Rewrite a statement with `f` applied to every identifier.
    * `hideComments=true` additionally masks COMMENT string literals.
    * Backticks are stripped from identifiers (matching the reference's
    * ToSQL output). */
  def anonymizeSqlWith(f: String => String, sql: String,
                       hideComments: Boolean = false): String = {
    val toks = SqlLex.tokens(sql)
    def nextMeaningful(from: Int): Option[SqlLex.Tok] =
      toks.iterator.drop(from).find(_.kind != Kind.Comment)
    val sb = new StringBuilder
    var pos = 0 // end of the previous token: the whitespace since is copied
    var pendingEngineValue = false
    var pendingCommentLiteral = false
    var lastPropertyKey = ""
    var prevMeaningful = ""  // lower-cased text of the previous meaningful token
    toks.zipWithIndex.foreach { case (t, i) =>
      sb ++= sql.substring(pos, t.start)
      pos = t.end
      t.kind match {
        case Kind.Word | Kind.Quoted =>
          val quoted = t.kind == Kind.Quoted
          val w = if (quoted) t.text.drop(1).stripSuffix("`") else t.text
          val lw = w.toLowerCase
          // a BACKTICK-QUOTED word is an identifier BY QUOTATION — the
          // keyword/function escapes must not apply, or `order`/`table`
          // columns would be kept verbatim AND emitted bare, producing
          // SQL that no longer parses (the N5 replayability invariant)
          val isKeyword = !quoted && Keywords.contains(lw)
          val isFunction = !quoted && !NonCallContext.contains(prevMeaningful) &&
            nextMeaningful(i + 1).exists(_.text == "(")
          if (pendingEngineValue) { sb ++= w; pendingEngineValue = false }
          else if (isKeyword || isFunction) sb ++= w
          else {
            val alias = f(w)
            // backticks are STRIPPED by design (reference ToSQL parity),
            // so re-quote only where the bare emission would not parse:
            // digit-leading hex aliases, and a quoted identifier whose
            // alias text collides with a keyword (`order` under an
            // identity/dictionary rewrite) — N5 replayability
            if ((alias.nonEmpty && alias.head.isDigit && alias != w) ||
                (quoted && Keywords.contains(alias.toLowerCase)))
              sb ++= s"`$alias`"
            else sb ++= alias
          }
          if (lw == "engine") pendingEngineValue = true
          pendingCommentLiteral = lw == "comment"
          prevMeaningful = lw
        case Kind.Str =>
          val s = t.text
          val inner = SqlLex.body(s)
          if (pendingCommentLiteral && hideComments && inner.nonEmpty) {
            sb ++= "'" + ("*" * s.length) + "'"
          } else if (PropertiesWithValueIds.contains(lastPropertyKey) &&
                     prevMeaningful == "=") {
            val ids = inner.split(",").map(x => f(x.trim.stripPrefix("`").stripSuffix("`")))
            sb ++= s.charAt(0).toString + ids.mkString(",") + s.charAt(0).toString
            lastPropertyKey = ""
          } else {
            // a string literal may be a property KEY for the next '='
            lastPropertyKey = inner.toLowerCase
            sb ++= s
          }
          pendingCommentLiteral = false
          prevMeaningful = s
        case Kind.Comment => sb ++= t.text
        case _ => // variables (never rewritten), numbers, operators
          val s = t.text
          if (s != "=") { pendingCommentLiteral = false }
          if (s != "=" || !pendingEngineValue) prevMeaningful = s.toLowerCase
          sb ++= s
      }
    }
    sb ++= sql.substring(pos)
    sb.toString
  }

  /** Rewrite with a stateful Context (hash/minihash consistency). */
  def anonymizeSql(ctx: Context, sql: String, hideComments: Boolean = false): String =
    anonymizeSqlWith(ctx.anonymize, sql, hideComments)
}
