package graft.create

import scala.collection.mutable
import org.apache.spark.sql.{AnalysisException, SparkSession}
import graft.ddl.{DorisDdl, TableDef}
import graft.dump.SchemaDump
import graft.sqlx.{DorisSql, SqlLex}

/** The `create` verb — re-apply dumped `<db>.<table>.<type>.sql` schemas
  * to the engine catalog (reference: src/create.go:20-113 executes each
  * statement over a wire connection; cmd/create.go:54-123 orders tables
  * before views and retries views whose dependencies don't exist yet).
  *
  * Spark-first translation, since here the engine IS the catalog:
  *   - tables: Doris DDL → parsed `TableDef` → Spark
  *     `CREATE TABLE ... USING parquet`, carrying the Doris PROPERTIES
  *     as TBLPROPERTIES (minus Spark-reserved keys) after clamping
  *     replication to the target cluster size
  *     (`SchemaDump.normalizeReplication`; the reference rewrites the
  *     same properties in its parse listener, src/create.go:126-155);
  *   - views: dialect-translated (`DorisSql.translate`) and executed as
  *     Spark CREATE VIEW with the current database set to the target db,
  *     so unqualified relations in the view body resolve like the
  *     reference's `USE db` + exec (src/create.go:96-101);
  *   - materialized views: Spark has no MTMV, so the BUILD/REFRESH/
  *     distribution clauses are dropped and the SELECT body becomes a
  *     plain view — query-equivalent, refresh semantics documented away;
  *   - dependency order: tables first (their DDL is self-contained),
  *     then views through a retry queue — a view whose relations don't
  *     resolve is re-enqueued with a bumped round counter and the run
  *     fails only when it can never succeed (counter exceeds the queue
  *     population or nothing else is left to unblock it), mirroring the
  *     reference's circular-buffer loop (cmd/create.go:94-123).
  *
  * "Already exists" is a skip, not an error (src/create.go:104-106).
  */
object Create {

  final case class Options(
      db: Option[String] = None,   // override target db (cmd --db)
      beCount: Int = 3,            // replication clamp target
      dryRun: Boolean = false)

  /** One schema application: action ∈ created | exists | dryrun;
    * rounds = how many queue passes a view needed (tables always 1). */
  final case class Outcome(db: String, name: String, tpe: String,
                           action: String, rounds: Int)

  /** Apply every parseable schema file in `dir` to the catalog.
    * Returns outcomes in application order; throws on an unresolvable
    * view dependency or unparseable table DDL. */
  def createFromDir(spark: SparkSession, dir: String,
                    opts: Options = Options()): Seq[Outcome] = {
    val schemas = SchemaDump.readSchemas(dir).map { case (db, table, tpe, ddl) =>
      (opts.db.getOrElse(db), table, tpe, ddl, db)
    }
    val (tables, views) = schemas.partition(_._3 == "table")
    val out = mutable.ArrayBuffer.empty[Outcome]

    tables.foreach { case (db, _, _, ddl, _) => out += createTable(spark, db, ddl, opts) }

    // --db retarget only rewrites the HEAD of each view; a body that
    // qualifies relations with the source db (Spark's SHOW CREATE TABLE
    // always does) keeps pointing at the SOURCE db's tables. True to
    // re-running the original CREATE VIEW text, but surprising — warn.
    views.foreach { case (db, name, tpe, ddl, srcDb) =>
      // Check the BODY only (the head's qualified name is rewritten by
      // normalizeViewHead anyway and shouldn't trigger the warning).
      val body = try {
        normalizeViewHead(DorisSql.translate(
          if (tpe == "materialized_view") mtmvToView(ddl) else ddl), name)
          .stripPrefix(s"CREATE VIEW `$name` ")
      } catch { case scala.util.control.NonFatal(_) => ddl }
      if (db != srcDb && referencesDb(body, srcDb))
        System.err.println(
          s"[create] WARNING: view `$db`.`$name` body still references " +
            s"source db `$srcDb` — qualified relations are NOT retargeted " +
            s"by --db; it will read `$srcDb`'s tables")
    }

    // Views in a retry queue (dependency order unknown up front).
    val queue = mutable.Queue(views.map(v => ((v._1, v._2, v._3, v._4), 1)): _*)
    val total = views.size
    while (queue.nonEmpty) {
      val ((db, name, tpe, ddl), round) = queue.dequeue()
      createView(spark, db, name, tpe, ddl, opts) match {
        case Right(o) => out += o.copy(rounds = round)
        case Left(missing) =>
          if (round >= total || queue.isEmpty)
            throw new IllegalStateException(
              s"cannot create $tpe '$db.$name': missing dependency after " +
                s"$round round(s): $missing")
          queue.enqueue(((db, name, tpe, ddl), round + 1))
      }
    }
    out.toSeq
  }

  // ---- tables --------------------------------------------------------

  /** Spark-reserved table properties that may not appear in
    * TBLPROPERTIES; everything else (replication_num, storage_format,
    * …) rides along as opaque metadata, like the reference keeps them. */
  private val ReservedProps =
    Set("location", "provider", "owner", "external", "path")

  /** Doris CREATE TABLE → Spark CREATE TABLE DDL (no data copied —
    * schemas only, like the reference verb). */
  def sparkTableDdl(db: String, td: TableDef): String = {
    val props = td.properties.filterNot { case (k, _) => ReservedProps(k.toLowerCase) }
    val tblProps =
      if (props.isEmpty) ""
      else props.toSeq.sorted.map { case (k, v) => s"'${esc(k)}'='${esc(v)}'" }
        .mkString(" TBLPROPERTIES (", ", ", ")")
    s"CREATE TABLE `$db`.`${td.name}` (${td.schema.toDDL}) USING parquet" + tblProps
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")

  private def createTable(spark: SparkSession, db: String, rawDdl: String,
                          opts: Options): Outcome = {
    val ddl = SchemaDump.normalizeReplication(rawDdl, opts.beCount)
    val td = DorisDdl.parseCreateTable(ddl)
    if (opts.dryRun) return Outcome(db, td.name, "table", "dryrun", 1)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    if (spark.catalog.tableExists(db, td.name))
      Outcome(db, td.name, "table", "exists", 1)
    else {
      // The catalog says absent, but a previous JVM (whose in-memory
      // catalog died with it) may have left the physical table dir under
      // the warehouse — CREATE would then fail LOCATION_ALREADY_EXISTS.
      // Catalog-absent + dir-present can only be stale state: remove it.
      deleteStaleLocation(spark, db, td.name)
      spark.sql(sparkTableDdl(db, td))
      Outcome(db, td.name, "table", "created", 1)
    }
  }

  private def deleteStaleLocation(spark: SparkSession, db: String,
                                  table: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    try {
      val dbLoc = spark.catalog.getDatabase(db).locationUri
      val uri = new java.net.URI(dbLoc)
      if (uri.getScheme == null || uri.getScheme == "file") {
        val dir =
          (if (uri.getScheme == null) Paths.get(dbLoc) else Paths.get(uri))
            .resolve(table)
        if (Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
            .iterator().asScala.foreach(Files.deleteIfExists(_))
          System.err.println(
            s"[create] removed stale location for `$db`.`$table`: $dir")
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort
  }

  // ---- views ---------------------------------------------------------

  /** Left(missingDependencyMessage) when the view body references a
    * relation that doesn't exist yet (the retry signal — reference
    * matches " does not exist" in the server error, src/create.go:107-110). */
  private def createView(spark: SparkSession, db: String, name: String,
                         tpe: String, rawDdl: String,
                         opts: Options): Either[String, Outcome] = {
    if (opts.dryRun) return Right(Outcome(db, name, tpe, "dryrun", 1))
    val sql = normalizeViewHead(DorisSql.translate(
      if (tpe == "materialized_view") mtmvToView(rawDdl) else rawDdl), name)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    if (spark.catalog.tableExists(db, name))
      return Right(Outcome(db, name, tpe, "exists", 1))
    // Unqualified relations in the body resolve against the target db.
    val prevDb = spark.catalog.currentDatabase
    try {
      spark.catalog.setCurrentDatabase(db)
      spark.sql(sql)
      Right(Outcome(db, name, tpe, "created", 1))
    } catch {
      case e: AnalysisException if isMissingRelation(e) => Left(e.getMessage)
    } finally spark.catalog.setCurrentDatabase(prevDb)
  }

  /** Does the DDL body qualify any relation with `db`: a word or a
    * backticked name equal to it (ignoring case), followed by `.`? */
  def referencesDb(ddl: String, db: String): Boolean = {
    val toks = SqlLex.tokens(ddl)
    toks.indices.exists(i => toks.lift(i + 1).exists(_.text == ".") && {
      val t = toks(i)
      t.kind == SqlLex.Kind.Word && t.text.equalsIgnoreCase(db) ||
        t.kind == SqlLex.Kind.Quoted && t.text.equalsIgnoreCase(s"`$db`")
    })
  }

  private def isMissingRelation(e: AnalysisException): Boolean = {
    val cond = Option(e.getCondition).getOrElse("")
    cond.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.contains("cannot be found")
  }

  /** Rewrite the head to `CREATE VIEW \`name\``: the dumped DDL may
    * carry a (differently-)qualified name — Spark's SHOW CREATE TABLE
    * emits `catalog.db.name` — but the create target is the file name's
    * table in the target db (the reference gets this for free because
    * Doris dumps unqualified names and it issues USE db first). The view
    * BODY is left alone: qualified references keep their original
    * meaning, unqualified ones resolve against the target db. */
  def normalizeViewHead(ddl: String, name: String): String = {
    val c = new DorisDdl.Cursor(ddl)
    c.consume("CREATE")
    if (c.tryConsume("OR")) c.consume("REPLACE")
    c.consume("VIEW")
    if (c.tryConsume("IF")) { c.consume("NOT"); c.consume("EXISTS") }
    c.ident()
    while (c.tryConsume(".")) c.ident()
    s"CREATE VIEW `$name` ${ddl.substring(c.i).trim}"
  }

  /** CREATE MATERIALIZED VIEW … AS <query> → CREATE VIEW name AS <query>.
    * Everything between the name and the query-starting top-level AS
    * (BUILD/REFRESH/KEY/DISTRIBUTED/PROPERTIES clauses) is dropped; that
    * AS is the first depth-0 `as` token followed (comments skipped) by
    * SELECT, WITH or an opening paren. */
  def mtmvToView(ddl: String): String = {
    val c = new DorisDdl.Cursor(ddl)
    c.consume("CREATE")
    c.consume("MATERIALIZED")
    c.consume("VIEW")
    if (c.tryConsume("IF")) { c.consume("NOT"); c.consume("EXISTS") }
    var name = c.ident()
    while (c.tryConsume(".")) name = c.ident()
    val toks = c.toks
    val as = (c.k until toks.length).find(j => toks(j).is("as") && toks(j).depth == 0 &&
      toks.lift(j + 1).exists(t => t.text == "(" || t.is("select") || t.is("with")))
    require(as.isDefined, s"materialized view '$name' has no AS <query> clause")
    s"CREATE VIEW `$name` ${ddl.substring(toks(as.get).start)}"
  }
}
