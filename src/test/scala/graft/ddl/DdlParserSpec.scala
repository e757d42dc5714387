package graft.ddl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import DType._

class DdlParserSpec extends AnyFunSuite {

  test("simple business table (FIXTURES.md §4 shape)") {
    val t = DorisDdl.parseCreateTable("""
      CREATE TABLE `employees` (
        `employee_id` int NULL,
        `department_id` int NULL,
        `salary` decimal(10,2) NULL,
        `hire_date` date NULL
      ) ENGINE=OLAP
      DUPLICATE KEY(`employee_id`, `department_id`, `salary`)
      DISTRIBUTED BY RANDOM BUCKETS AUTO
      PROPERTIES ("replication_allocation" = "tag.location.default: 1");
    """)
    assert(t.name == "employees")
    assert(t.columns.map(_.name) == Seq("employee_id", "department_id", "salary", "hire_date"))
    assert(t.schema == StructType(Seq(
      StructField("employee_id", IntegerType),
      StructField("department_id", IntegerType),
      StructField("salary", DecimalType(10, 2)),
      StructField("hire_date", DateType))))
    assert(t.properties("replication_allocation") == "tag.location.default: 1")
  }

  test("type aliases normalize (INTEGER/TEXT/BOOL/DECIMALV3/DATEV2/TIMESTAMP)") {
    val t = DorisDdl.parseCreateTable("""
      CREATE TABLE a (
        c1 INTEGER, c2 TEXT, c3 BOOL, c4 DECIMALV3(6,3), c5 DATEV2,
        c6 DATETIMEV2(3), c7 TIMESTAMP
      )""")
    assert(t.columns.map(_.dtype) == Seq(
      DInt, DString, DBoolean, DDecimal(6, 3), DDate, DDatetime, DDatetime))
  }

  test("complex nested types") {
    val t = DorisDdl.parseCreateTable("""
      CREATE TABLE n (
        a array<int> NULL,
        m map<varchar(255), decimal(8,4)> NULL,
        s struct<f1:bigint, f2:text> NULL,
        deep map<text, array<struct<x:int>>> NULL
      )""")
    assert(t.columns(0).dtype == DArray(DInt))
    assert(t.columns(1).dtype == DMap(DVarchar(Some(255)), DDecimal(8, 4)))
    assert(t.columns(2).dtype == DStruct(Seq("f1" -> DBigInt, "f2" -> DString)))
    assert(t.columns(3).dtype == DMap(DString, DArray(DStruct(Seq("x" -> DInt)))))
    assert(DType.toSpark(t.columns(3).dtype) ==
      MapType(StringType, ArrayType(StructType(Seq(StructField("x", IntegerType))))))
  }

  test("NOT NULL, DEFAULT, COMMENT, and index entries are handled") {
    val t = DorisDdl.parseCreateTable("""
      CREATE TABLE k (
        `id` bigint NOT NULL COMMENT 'pk',
        `b` bitmap NOT NULL DEFAULT BITMAP_EMPTY,
        `v` varchar(64) NULL DEFAULT 'none',
        INDEX idx_v (`v`) USING INVERTED,
        `tail` int NULL
      ) ENGINE=OLAP""")
    assert(t.columns.map(_.name) == Seq("id", "b", "v", "tail"))
    assert(!t.columns(0).nullable && !t.columns(1).nullable && t.columns(2).nullable)
    assert(t.columns(2).defaultValue.contains("none"))
    assert(t.columns(1).dtype == DBitmap)
  }

  test("literals and backticked names are opaque to PROPERTIES and INDEX entries") {
    val t = DorisDdl.parseCreateTable("""
      CREATE TABLE p (
        `a)b` int NULL,
        INDEX i (`a)b`) USING INVERTED,
        `c` int NULL
      ) ENGINE=OLAP
      COMMENT 'see PROPERTIES ("x" = "y")'
      PROPERTIES ("replication_num" = "1", 'bloom_filter_columns' = "c")""")
    assert(t.columns.map(_.name) == Seq("a)b", "c"))
    assert(t.properties == Map("replication_num" -> "1", "bloom_filter_columns" -> "c"))
  }

  test("decimal precision/scale clamping (p≤38, bad scale→0)") {
    assert(DorisDdl.parseType("decimal(40,2)") == DDecimal(38, 2))
    assert(DorisDdl.parseType("decimal(10,12)") == DDecimal(10, 0))
    assert(DorisDdl.parseType("decimal") == DDecimal(8, 0))
  }

  test("bare type expressions (JSON structure rule re-entry)") {
    assert(DorisDdl.parseType("STRUCT<col1:SMALLINT, col2:SMALLINT>") ==
      DStruct(Seq("col1" -> DSmallInt, "col2" -> DSmallInt)))
  }

  test("a bare type followed by more text is rejected, naming the leftover") {
    val e = intercept[IllegalArgumentException](DorisDdl.parseType("varchar(10) nul"))
    assert(e.getMessage.contains("'nul'"), e.getMessage)
    intercept[IllegalArgumentException](DorisDdl.parseType("date in the past"))
    intercept[IllegalArgumentException](DorisDdl.parseType("array<int>>"))
    assert(DorisDdl.parseType(" varchar(10) ") == DVarchar(Some(10)))
  }
}
