package graft.create

import java.nio.file.Files
import graft.SparkSpec
import graft.dump.SchemaDump

/** The create verb: Doris DDL → Spark catalog, tables before views,
  * view retry queue, replication clamp, MTMV → view, idempotency. */
class CreateSpec extends SparkSpec {

  private def ddlDir(schemas: (String, String, String)*): String = {
    val dir = Files.createTempDirectory("create_spec").toString
    SchemaDump.writeSchemas(dir, "csdb", schemas)
    dir
  }

  private def dropDb(db: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")

  test("table DDL translates, replication clamps, properties ride along") {
    dropDb("csdb")
    val dir = ddlDir(("t1", "table",
      """CREATE TABLE `t1` (
        |  `id` BIGINT NOT NULL,
        |  `v` VARCHAR(16) NULL,
        |  `d` DECIMAL(10,2) NOT NULL DEFAULT "0"
        |) ENGINE=OLAP
        |UNIQUE KEY(`id`)
        |DISTRIBUTED BY HASH(`id`) BUCKETS 8
        |PROPERTIES ("replication_num" = "3", "storage_format" = "V2")""".stripMargin))
    val out = Create.createFromDir(spark, dir, Create.Options(beCount = 1))
    assert(out.map(o => (o.name, o.action)) == Seq(("t1", "created")))
    val fields = spark.table("csdb.t1").schema.fields.map(f => (f.name, f.dataType.sql)).toSeq
    assert(fields == Seq(("id", "BIGINT"), ("v", "STRING"), ("d", "DECIMAL(10,2)")))
    val props = spark.sql("SHOW TBLPROPERTIES csdb.t1").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("replication_num") == "1") // clamped 3 → beCount=1
    assert(props("storage_format") == "V2")
    // second run: already exists → skip, not error (src/create.go:104-106)
    val again = Create.createFromDir(spark, dir, Create.Options(beCount = 1))
    assert(again.map(_.action) == Seq("exists"))
  }

  test("views retry until dependencies exist, in reference queue order") {
    dropDb("csdb")
    // a_top (first in sort order) depends on z_base, which arrives later
    val dir = ddlDir(
      ("a_top", "view", "CREATE VIEW a_top AS SELECT n FROM z_base WHERE n > 0"),
      ("base", "table", "CREATE TABLE base (n INT NOT NULL)"),
      ("z_base", "view", "CREATE VIEW z_base AS SELECT n FROM base"))
    val out = Create.createFromDir(spark, dir)
    val byName = out.map(o => o.name -> o).toMap
    assert(out.forall(_.action == "created"))
    assert(byName("a_top").rounds == 2)  // failed once, retried after z_base
    assert(byName("z_base").rounds == 1)
    spark.sql("INSERT INTO csdb.base VALUES (1), (-1)")
    assert(spark.sql("SELECT * FROM csdb.a_top").count() == 1)
  }

  test("unresolvable view dependency fails with a useful error") {
    dropDb("csdb")
    val dir = ddlDir(
      ("v_orphan", "view", "CREATE VIEW v_orphan AS SELECT x FROM no_such_table"))
    val e = intercept[IllegalStateException] { Create.createFromDir(spark, dir) }
    assert(e.getMessage.contains("v_orphan"))
    assert(e.getMessage.contains("missing dependency"))
  }

  test("materialized view becomes a plain view, clauses dropped") {
    val mtmv =
      """CREATE MATERIALIZED VIEW `mv1`
        |BUILD IMMEDIATE REFRESH AUTO ON MANUAL
        |DISTRIBUTED BY HASH(`k`) BUCKETS 2
        |PROPERTIES ("replication_num" = "3")
        |AS SELECT k, count(*) AS c FROM base GROUP BY k""".stripMargin
    assert(Create.mtmvToView(mtmv) ==
      "CREATE VIEW `mv1` AS SELECT k, count(*) AS c FROM base GROUP BY k")
    // a comment between AS and the query does not hide the AS
    assert(Create.mtmvToView("CREATE MATERIALIZED VIEW mv2 AS /* q */ SELECT 1 AS one") ==
      "CREATE VIEW `mv2` AS /* q */ SELECT 1 AS one")
    // applied end-to-end: MTMV over a created table
    dropDb("csdb")
    val dir = ddlDir(
      ("base", "table", "CREATE TABLE base (k INT NOT NULL)"),
      ("mv1", "materialized_view", mtmv))
    val out = Create.createFromDir(spark, dir)
    assert(out.map(o => (o.name, o.tpe, o.action)).toSet ==
      Set(("base", "table", "created"), ("mv1", "materialized_view", "created")))
    spark.sql("INSERT INTO csdb.base VALUES (1), (1), (2)")
    assert(spark.sql("SELECT * FROM csdb.mv1").count() == 2)
  }

  test("cross-db view retarget emits a loud warning") {
    dropDb("csdb"); dropDb("warn_tgt")
    val dir = ddlDir(
      ("base", "table", "CREATE TABLE base (n INT NOT NULL)"),
      // body qualifies the SOURCE db — --db retargeting can't rewrite it
      ("v_q", "view", "CREATE VIEW v_q AS SELECT n FROM csdb.base"))
    // csdb.base must exist for the view body to resolve
    Create.createFromDir(spark, dir)
    val errBuf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    try {
      System.setErr(new java.io.PrintStream(errBuf, true))
      Create.createFromDir(spark, dir, Create.Options(db = Some("warn_tgt")))
    } finally System.setErr(prevErr)
    val err = errBuf.toString
    assert(err.contains("WARNING") && err.contains("v_q") &&
      err.contains("csdb"), s"expected retarget warning, got: $err")
    // referencesDb matcher: word-boundary + backtick aware
    assert(Create.referencesDb("SELECT 1 FROM `csdb`.`t`", "csdb"))
    assert(Create.referencesDb("SELECT 1 FROM csdb.t", "csdb"))
    assert(!Create.referencesDb("SELECT 1 FROM mycsdb.t", "csdb"))
    assert(!Create.referencesDb("SELECT csdb FROM t", "csdb"))
    // a literal or a comment naming the db is not a reference
    assert(!Create.referencesDb("SELECT 'csdb.t'", "csdb"))
    assert(!Create.referencesDb("SELECT 1 -- csdb.t", "csdb"))
  }

  test("dump --schema-db -> create --db round-trips across databases") {
    dropDb("src_rt"); dropDb("tgt_rt")
    spark.sql("CREATE DATABASE src_rt")
    spark.sql("CREATE TABLE src_rt.items (id BIGINT NOT NULL, v STRING) USING parquet")
    spark.sql("CREATE VIEW src_rt.item_count AS SELECT count(*) AS n FROM src_rt.items")
    val out = Files.createTempDirectory("create_rt").toString
    val audit = getClass.getResource("/fixture/fe.audit.log").getPath
    graft.cli.Cli.run(spark, "dump",
      Map("audit-log" -> audit, "out" -> out, "schema-db" -> "src_rt"))
    assert(Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .exists(_.getFileName.toString == "src_rt.items.table.sql"))
    graft.cli.Cli.run(spark, "create",
      Map("ddl-dir" -> out, "db" -> "tgt_rt", "be-count" -> "1"))
    spark.sql("INSERT INTO tgt_rt.items VALUES (1, 'a'), (2, 'b')")
    // Spark stores view bodies fully qualified, so the dumped view counts
    // the SOURCE db's (empty) table — same behavior as re-running the
    // original CREATE VIEW text anywhere.
    assert(spark.table("tgt_rt.items").count() == 2)
    assert(spark.table("tgt_rt.item_count").head().getLong(0) == 0L)
  }

  private implicit class IterAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = {
      new Iterator[A] {
        def hasNext: Boolean = it.hasNext
        def next(): A = it.next()
      }
    }
  }
}
