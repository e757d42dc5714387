package graft.dump

import java.nio.file.Files
import graft.SparkSpec
import graft.anon.Anonymizer

/** S5/S9/F8/F9 + N4: catalog DDL dump, file naming round-trip,
  * replication clamp, stats anonymization. */
class SchemaDumpSpec extends SparkSpec {

  test("S5: SHOW CREATE TABLE through the engine catalog round-trips") {
    spark.sql("CREATE TABLE IF NOT EXISTS dump_t (id BIGINT, name STRING) USING parquet")
    try {
      val ddl = SchemaDump.showCreate(spark, "dump_t")
      assert(ddl.contains("CREATE TABLE") && ddl.contains("dump_t"))
      assert(ddl.contains("id") && ddl.contains("BIGINT"))
    } finally spark.sql("DROP TABLE IF EXISTS dump_t")
  }

  test("S9+F8: write <db>.<table>.<type>.sql files and parse them back") {
    val dir = Files.createTempDirectory("schemadump").toString
    val written = SchemaDump.writeSchemas(dir, "shop",
      Seq(("orders", "table", "CREATE TABLE orders (id bigint)"),
          ("v_daily", "view", "CREATE VIEW v_daily AS SELECT id FROM orders")))
    assert(written == Seq("shop.orders.table.sql", "shop.v_daily.view.sql"))
    val back = SchemaDump.readSchemas(dir)
    assert(back.map(s => (s._1, s._2, s._3)) ==
      Seq(("shop", "orders", "table"), ("shop", "v_daily", "view")))
    assert(back.head._4.contains("CREATE TABLE orders"))
    assert(SchemaDump.parseFileName("junk.sql").isEmpty)
  }

  test("S9+N4: anonymized dump renames files and DDL consistently") {
    val dir = Files.createTempDirectory("schemadump_anon").toString
    val ctx = new Anonymizer.Context(method = "hash")
    val written = SchemaDump.writeSchemas(dir, "shop",
      Seq(("orders", "table", "CREATE TABLE orders (order_id bigint)")), Some(ctx))
    val shopAlias = ctx.anonymize("shop")
    val ordersAlias = ctx.anonymize("orders")
    assert(written == Seq(s"$shopAlias.$ordersAlias.table.sql"))
    val ddl = SchemaDump.readSchemas(dir).head._4
    // same alias inside the DDL as in the file name — the N5 invariant
    assert(ddl.contains(ordersAlias) && !ddl.contains("orders"))
  }

  test("F9: replication properties clamp to backend count") {
    val ddl = """CREATE TABLE t (id bigint) ENGINE=OLAP PROPERTIES (
      "replication_allocation" = "tag.location.default: 3",
      "replication_num" = "5",
      "storage_format" = "V2")"""
    val out = SchemaDump.normalizeReplication(ddl, beCount = 2)
    assert(out.contains(""""replication_allocation" = "tag.location.default: 2""""))
    assert(out.contains(""""replication_num" = "2""""))
    assert(out.contains("storage_format")) // untouched
    // already-small values stay
    val keep = SchemaDump.normalizeReplication(ddl, beCount = 10)
    assert(keep.contains("default: 3") && keep.contains(""""replication_num" = "5""""))
  }
}
