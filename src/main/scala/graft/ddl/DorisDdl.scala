package graft.ddl

import graft.sqlx.SqlLex
import graft.sqlx.SqlLex.{Kind, Tok}
import org.apache.spark.sql.types._

/** Doris DDL dialect — the type system and CREATE TABLE subset the engine
  * understands (SURVEY.md §1.2). Schemas are explicit and parsed, never
  * inferred from data, mirroring the reference's contract
  * (reference: src/gendata.go:32-38). OLAP-only clauses (ENGINE, keys,
  * distribution, PROPERTIES) are retained as opaque metadata.
  */
sealed trait DType { def sql: String }
object DType {
  case object DBoolean            extends DType { val sql = "boolean" }
  case object DTinyInt            extends DType { val sql = "tinyint" }
  case object DSmallInt           extends DType { val sql = "smallint" }
  case object DInt                extends DType { val sql = "int" }
  case object DBigInt             extends DType { val sql = "bigint" }
  case object DLargeInt           extends DType { val sql = "largeint" }
  case object DFloat              extends DType { val sql = "float" }
  case object DDouble             extends DType { val sql = "double" }
  case class  DDecimal(p: Int, s: Int) extends DType { def sql = s"decimal($p,$s)" }
  case object DDate               extends DType { val sql = "date" }
  case object DDatetime           extends DType { val sql = "datetime" }
  case class  DChar(n: Int)       extends DType { def sql = s"char($n)" }
  case class  DVarchar(n: Option[Int]) extends DType { def sql = n.fold("varchar")(l => s"varchar($l)") }
  case object DString             extends DType { val sql = "string" }
  /** JSON / JSONB / VARIANT — generated from a declared `structure`. */
  case class  DJson(kind: String) extends DType { def sql = kind.toLowerCase }
  case object DBitmap             extends DType { val sql = "bitmap" }
  case object DHll                extends DType { val sql = "hll" }
  case object DIpv4               extends DType { val sql = "ipv4" }
  case object DIpv6               extends DType { val sql = "ipv6" }
  case class  DArray(elem: DType) extends DType { def sql = s"array<${elem.sql}>" }
  case class  DMap(k: DType, v: DType) extends DType { def sql = s"map<${k.sql},${v.sql}>" }
  case class  DStruct(fields: Seq[(String, DType)]) extends DType {
    def sql = fields.map { case (n, t) => s"$n:${t.sql}" }.mkString("struct<", ",", ">")
  }

  /** Normalized base-type name used for generator-rule lookup (mirrors the
    * alias table, reference: src/generator/generator_defaults.go:23-34). */
  def baseType(t: DType): String = t match {
    case DBoolean      => "BOOLEAN"
    case DTinyInt      => "TINYINT"
    case DSmallInt     => "SMALLINT"
    case DInt          => "INT"
    case DBigInt       => "BIGINT"
    case DLargeInt     => "LARGEINT"
    case DFloat        => "FLOAT"
    case DDouble       => "DOUBLE"
    case _: DDecimal   => "DECIMAL"
    case DDate         => "DATE"
    case DDatetime     => "DATETIME"
    case _: DChar      => "CHAR"
    case _: DVarchar   => "VARCHAR"
    case DString       => "STRING"
    case j: DJson      => j.kind.toUpperCase
    case DBitmap       => "BITMAP"
    case DHll          => "HLL"
    case DIpv4         => "IPV4"
    case DIpv6         => "IPV6"
    case _: DArray     => "ARRAY"
    case _: DMap       => "MAP"
    case _: DStruct    => "STRUCT"
  }

  /** Spark physical type for a Doris logical type. BITMAP is modeled as
    * ARRAY<BIGINT> (loaded via bitmap_from_array at the sink boundary);
    * HLL/JSON/IP are strings; LARGEINT (int128) is DECIMAL(38,0). */
  def toSpark(t: DType): DataType = t match {
    case DBoolean      => BooleanType
    case DTinyInt      => ByteType
    case DSmallInt     => ShortType
    case DInt          => IntegerType
    case DBigInt       => LongType
    case DLargeInt     => DecimalType(38, 0)
    case DFloat        => FloatType
    case DDouble       => DoubleType
    case DDecimal(p, s)=> DecimalType(p, s)
    case DDate         => DateType
    case DDatetime     => TimestampType
    case _: DChar | _: DVarchar | DString | _: DJson | DHll | DIpv4 | DIpv6 => StringType
    case DBitmap       => ArrayType(LongType, containsNull = false)
    case DArray(e)     => ArrayType(toSpark(e))
    case DMap(k, v)    => MapType(toSpark(k), toSpark(v))
    case DStruct(fs)   => StructType(fs.map { case (n, ft) => StructField(n, toSpark(ft)) })
  }
}

case class ColumnDef(name: String, dtype: DType, nullable: Boolean,
                     defaultValue: Option[String] = None)

case class TableDef(name: String, columns: Seq[ColumnDef],
                    properties: Map[String, String] = Map.empty,
                    opaqueTail: String = "") {
  def schema: StructType =
    StructType(columns.map(c => StructField(c.name, DType.toSpark(c.dtype), c.nullable)))
  def column(n: String): Option[ColumnDef] = columns.find(_.name == n)
}

/** Hand-written recursive-descent parser for the Doris CREATE TABLE subset
  * (column name/type/nullability/default; INDEX/KEY entries skipped; ENGINE
  * and PROPERTIES kept opaque). Spark-first reimplementation of what the
  * reference delegates to its ANTLR grammar (reference:
  * src/parser/DorisParser.g4:1685-1738 for the type grammar). It reads
  * [[graft.sqlx.SqlLex]] tokens, so literals, backticked names and
  * comments end where they do for the translator and the anonymizer.
  */
object DorisDdl {

  private val alias = Map(
    "INTEGER" -> "INT", "TEXT" -> "STRING", "BOOL" -> "BOOLEAN",
    "DECIMALV2" -> "DECIMAL", "DECIMALV3" -> "DECIMAL",
    "DATEV1" -> "DATE", "DATEV2" -> "DATE",
    "DATETIMEV1" -> "DATETIME", "DATETIMEV2" -> "DATETIME",
    "TIMESTAMP" -> "DATETIME")

  /** A cursor over the [[SqlLex]] tokens of `s`, comments skipped. */
  final class Cursor(val s: String) {
    val toks: Vector[Tok] = SqlLex.tokens(s).filter(_.kind != Kind.Comment)
    /** Index of the next token. */
    var k = 0
    def peek: Option[Tok] = toks.lift(k)
    /** Where the next token starts (the end of `s` after the last one). */
    def i: Int = peek.fold(s.length)(_.start)
    private def next(): Tok = { k += 1; toks(k - 1) }
    /** An identifier: a word, a backticked or a double-quoted name, or a
      * digit-led name (digits written next to its word part). */
    def ident(): String = peek match {
      case None => fail("identifier")
      case Some(t) if t.kind == Kind.Word => next().text
      case Some(t) if t.kind == Kind.Number =>
        next()
        if (peek.exists(w => w.kind == Kind.Word && w.start == t.end)) t.text + next().text
        else t.text
      case Some(t) if t.kind == Kind.Quoted =>
        if (t.text.length < 2 || !t.text.endsWith("`")) fail("closing `")
        next().text.drop(1).dropRight(1)
      case Some(t) if t.kind == Kind.Str && t.text.head == '"' => body("\"")
      case Some(_) => fail(s"identifier at '${s.substring(i, math.min(i + 20, s.length))}'")
    }
    /** Consume the next token if its text is `tok` (ignoring case). */
    def tryConsume(tok: String): Boolean =
      peek.exists(_.text.equalsIgnoreCase(tok)) && { k += 1; true }
    def consume(tok: String): Unit =
      if (!tryConsume(tok)) fail(s"'$tok' at '${s.substring(i, math.min(i + 30, s.length))}'")
    def int(): Int = {
      val neg = tryConsume("-")
      if (!peek.exists(_.kind == Kind.Number)) fail("integer")
      ((if (neg) "-" else "") + next().text).toInt
    }
    /** A single- or double-quoted string literal; a doubled quote or a
      * backslash escapes the character after it. */
    def stringLit(): String = peek match {
      case Some(t) if t.kind == Kind.Str =>
        val q = t.text.take(1)
        val quoted = java.util.regex.Pattern.quote(q)
        s"(?s)\\\\(.)|$quoted$quoted".r.replaceAllIn(body("quote"), m =>
          scala.util.matching.Regex.quoteReplacement(Option(m.group(1)).getOrElse(q)))
      case _ => fail("string literal")
    }
    /** The next token's literal body, which must have its closing quote. */
    private def body(quote: String): String = {
      val t = next()
      val b = SqlLex.body(t.text)
      if (b.length + 2 != t.text.length) fail(s"closing $quote")
      b
    }
    def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"DDL parse error: expected $what near position $i")
  }

  /** Parse a bare type expression, e.g. "map<text,array<struct<a:int>>>".
    * Text after the type is an error. Public because JSON `structure:`
    * rules re-enter here. */
  def parseType(typeSql: String): DType = {
    val c = new Cursor(typeSql)
    val t = typeExpr(c)
    if (c.peek.nonEmpty) c.fail(s"end of type, not '${typeSql.substring(c.i)}'")
    t
  }

  private def typeExpr(c: Cursor): DType = {
    import DType._
    val raw = c.ident().toUpperCase
    val name = alias.getOrElse(raw, raw)
    name match {
      case "ARRAY" =>
        c.consume("<"); val e = typeExpr(c); c.consume(">"); DArray(e)
      case "MAP" =>
        c.consume("<"); val k = typeExpr(c); c.consume(","); val v = typeExpr(c); c.consume(">")
        DMap(k, v)
      case "STRUCT" =>
        c.consume("<")
        val fields = scala.collection.mutable.ArrayBuffer.empty[(String, DType)]
        var more = true
        while (more) {
          val fn = c.ident(); c.consume(":"); val ft = typeExpr(c)
          fields += ((fn, ft))
          more = c.tryConsume(",")
        }
        c.consume(">"); DStruct(fields.toSeq)
      case "DECIMAL" =>
        var (p, s) = (8, 0)  // reference default precision 8, scale 0
        if (c.tryConsume("(")) {
          p = c.int(); if (c.tryConsume(",")) s = c.int(); c.consume(")")
        }
        p = math.min(p, 38)
        if (s < 0 || s > p) s = 0
        DDecimal(p, s)
      case "CHAR" | "CHARACTER" =>
        var n = 1
        if (c.tryConsume("(")) { n = c.int(); c.consume(")") }
        DChar(math.min(math.max(1, n), 255))
      case "VARCHAR" =>
        var n: Option[Int] = None
        if (c.tryConsume("(")) { n = Some(c.int()); c.consume(")") }
        DVarchar(n)
      case "DATETIME" =>
        if (c.tryConsume("(")) { c.int(); c.consume(")") }  // precision ignored
        DDatetime
      case "TIME" =>
        if (c.tryConsume("(")) { c.int(); c.consume(")") }
        DDatetime
      case "BOOLEAN"  => DBoolean
      case "TINYINT"  => if (c.tryConsume("(")) { c.int(); c.consume(")") }; DTinyInt
      case "SMALLINT" => if (c.tryConsume("(")) { c.int(); c.consume(")") }; DSmallInt
      case "INT"      => if (c.tryConsume("(")) { c.int(); c.consume(")") }; DInt
      case "BIGINT"   => if (c.tryConsume("(")) { c.int(); c.consume(")") }; DBigInt
      case "LARGEINT" => DLargeInt
      case "FLOAT"    => DFloat
      case "DOUBLE"   => DDouble
      case "DATE"     => DDate
      case "STRING"   => DString
      case "JSON" | "JSONB" | "VARIANT" => DJson(name)
      case "BITMAP"   => DBitmap
      case "HLL"      => DHll
      case "IPV4"     => DIpv4
      case "IPV6"     => DIpv6
      case other => c.fail(s"known type (got '$other')")
    }
  }

  /** Parse one CREATE TABLE statement. */
  def parseCreateTable(ddl: String): TableDef = {
    val c = new Cursor(ddl)
    c.consume("CREATE")
    c.tryConsume("TEMPORARY")
    c.consume("TABLE")
    if (c.tryConsume("IF")) { c.consume("NOT"); c.consume("EXISTS") }
    var name = c.ident()
    while (c.tryConsume(".")) name = c.ident() // db.table → keep table part
    c.consume("(")

    val cols = scala.collection.mutable.ArrayBuffer.empty[ColumnDef]
    var done = false
    while (!done) {
      // Skip non-column entries in the column list (indexes/constraints).
      val save = c.k
      val lead = try c.ident().toUpperCase catch { case _: Throwable => "" }
      if (Set("INDEX", "KEY", "CONSTRAINT", "PRIMARY", "UNIQUE").contains(lead)) {
        skipBalancedUntilCommaOrClose(c)
      } else {
        c.k = save
        cols += columnDef(c)
      }
      if (c.tryConsume(",")) () else { c.consume(")"); done = true }
    }

    // Everything after the column list is opaque; PROPERTIES k=v extracted.
    TableDef(name, cols.toSeq, properties(c), c.s.substring(c.toks(c.k - 1).end))
  }

  private def columnDef(c: Cursor): ColumnDef = {
    val name = c.ident()
    val t = typeExpr(c)
    var nullable = true
    var default: Option[String] = None
    var done = false
    while (!done) {
      if (c.peek.forall(t => t.text == "," || t.text == ")")) done = true
      else if (c.tryConsume("NOT")) { c.consume("NULL"); nullable = false }
      else if (c.tryConsume("NULL")) { /* explicit nullable */ }
      else if (c.tryConsume("DEFAULT"))
        default = Some(if (c.peek.exists(_.kind == Kind.Str)) c.stringLit() else c.ident())
      else if (c.tryConsume("COMMENT")) { c.stringLit(); () }
      else if (c.tryConsume("AUTO_INCREMENT")) ()
      else { // aggregate types (SUM/MAX/REPLACE/...) and other modifiers
        c.ident(); ()
      }
    }
    ColumnDef(name, t, nullable, default)
  }

  /** Skip to the `,` that ends the current column-list entry, or to the
    * list's `)`: the first `,` at the entry's depth or token below it. */
  private def skipBalancedUntilCommaOrClose(c: Cursor): Unit = {
    val d = c.toks(c.k - 1).depth // the entry's consumed lead word
    val end = c.toks.indexWhere(t => t.depth < d || (t.depth == d && t.text == ","), c.k)
    c.k = if (end < 0) c.toks.length else end
  }

  /** The `'k' = 'v'` pairs (either quote) of the first depth-0
    * `PROPERTIES (…)` at or after the cursor, read while well formed. */
  private def properties(c: Cursor): Map[String, String] = {
    val toks = c.toks
    val p = toks.indexWhere(t => t.is("properties") && t.depth == 0, c.k)
    def pair(j: Int) = j + 2 < toks.length && toks(j).kind == Kind.Str &&
      toks(j + 1).text == "=" && toks(j + 2).kind == Kind.Str
    if (p < 0) Map.empty
    else Iterator.iterate(p + 1)(_ + 4)
      .takeWhile(j => toks.lift(j).exists(t => t.text == "(" || t.text == ",") && pair(j + 1))
      .map(j => SqlLex.body(toks(j + 1).text) -> SqlLex.body(toks(j + 3).text)).toMap
  }
}
