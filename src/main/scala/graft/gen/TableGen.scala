package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ddl.{ColumnDef, DType, TableDef}
import graft.genrule.{GenRules, TableStats}
import graft.genrule.GenRules.Rule

/** Table-level generation: DDL + resolved rules → one declarative
  * projection over `spark.range(rows)`.
  *
  * Scale story: `spark.range` splits perfectly across executors, every
  * column is a pure codegen'd expression of the range id (no shuffle, no
  * state, no driver loop), and output file sizing is a write option — so
  * the same plan that makes 1k rows on a laptop makes 10B rows on a
  * 1000-executor cluster at full parallelism.
  * (Reference semantics: src/gendata.go:26-102, cmd/gendata.go:249-362.)
  */
object TableGen {

  /** Build the generated DataFrame for `table` with rule resolution
    * precedence column-custom > stats > type-default (G11). */
  def frame(spark: SparkSession, table: TableDef, rows: Long, seed: Long,
            env: GenRules.Env, stats: Option[TableStats] = None,
            refValues: Map[String, Seq[Any]] = Map.empty): DataFrame = {
    val base = spark.range(rows)
    val id = col("id")
    // HLL `from` columns reference sibling columns; build them as a second
    // projection so the referenced generator expression exists by name.
    val (hllFrom, normal) = table.columns.partition(c =>
      c.dtype == DType.DHll && hllFromRule(table, c, env).isDefined)
    val exprs = normal.map(c => genExpr(table, c, id, seed, env, stats, refValues).as(c.name))
    val df0 = base.select(exprs: _*)
    if (hllFrom.isEmpty) df0.select(table.columns.map(c => col(c.name)): _*)
    else {
      val withHll = hllFrom.foldLeft(df0) { (df, c) =>
        df.withColumn(c.name, xxhash64(col(hllFromRule(table, c, env).get)))
      }
      withHll.select(table.columns.map(c => col(c.name)): _*)
    }
  }

  private def hllFromRule(table: TableDef, c: ColumnDef, env: GenRules.Env): Option[String] =
    env.tables.get(table.name).flatMap(_.columns.get(c.name))
      .flatMap(_.get("from")).map(_.toString)

  private def genExpr(table: TableDef, c: ColumnDef, id: Column, seed: Long,
                      env: GenRules.Env, stats: Option[TableStats],
                      refValues: Map[String, Seq[Any]] = Map.empty): Column = {
    val custom: Rule = env.tables.get(table.name)
      .flatMap(_.columns.get(c.name)).getOrElse(GenRules.empty)
    val baseType = DType.baseType(c.dtype)
    val isString = Set("CHAR", "VARCHAR", "STRING", "TEXT").contains(baseType)
    val resolved = GenRules.columnRule(
      stats.flatMap(_.col(c.name)), isString, baseType == "CHAR",
      custom, notNull = !c.nullable)
    val ctx = ColumnGen.Ctx(seed, s"${table.name}.${c.name}", Seq(id), refValues)
    ColumnGen.build(c.dtype, resolved, ctx, env)
  }

  /** Row count: per-table rule, else the reference's 1000-row default. */
  def rowCount(table: TableDef, env: GenRules.Env, default: Long = 1000L): Long =
    env.tables.get(table.name).flatMap(_.rowCount).getOrElse(default)

  /** CSV sink with the reference's wire shape (S10): `☆` separator, `\N`
    * nulls, complex values as JSON text, booleans as 0/1, ≤rowsPerFile
    * rows per file (reference: src/gendata.go:16-18,196-244). */
  def writeCsv(df: DataFrame, dir: String, rowsPerFile: Int = 20000): Unit =
    csvWireFrame(df)
      .write
      .option("sep", "☆")
      .option("nullValue", "\\N")
      .option("emptyValue", "")
      .option("maxRecordsPerFile", rowsPerFile.toLong)
      .mode("overwrite")
      .csv(dir)

  /** The CSV wire projection shared by writeCsv and the stream-load
    * dataset path: complex values as JSON text, booleans as 0/1. */
  def csvWireFrame(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      val c = col(f.name)
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType => to_json(c).as(f.name)
        case org.apache.spark.sql.types.BooleanType => c.cast("int").as(f.name)
        case _ => c.as(f.name)
      }
    }.toIndexedSeq: _*)

  /** Stream-load `columns:` header mapping for BITMAP/HLL columns
    * (reference: src/gendata.go:163-187). Pure string builder — returns
    * None when no column needs a mapping. */
  def streamLoadMapping(table: TableDef, env: GenRules.Env): Option[String] = {
    var needed = false
    val parts = table.columns.map { c =>
      DType.baseType(c.dtype) match {
        case "BITMAP" =>
          needed = true
          s"raw_${c.name},`${c.name}`=bitmap_from_array(cast(raw_${c.name} as ARRAY<BIGINT(20)>))"
        case "HLL" =>
          needed = true
          hllFromRule(table, c, env) match {
            case Some(from) => s"raw_${c.name},`${c.name}`=hll_hash($from)"
            case None       => s"raw_${c.name},`${c.name}`=hll_empty()"
          }
        case _ => s"`${c.name}`"
      }
    }
    if (needed) Some(graft.io.StreamLoad.FirstLinePrefix + parts.mkString(","))
    else None
  }

  /** gendata's BITMAP/HLL framing: rewrite every `.csv` part file under
    * `dir` (a [[writeCsv]] output) with `line` — the table's
    * [[streamLoadMapping]] — as its first line, which StreamLoad.loadFile
    * turns into the `columns` header with skip_lines 1 (reference:
    * src/gendata.go:163-187 writes it at the head of each data file). */
  def prependFirstLine(dir: String, line: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    fs.listStatus(root).map(_.getPath).filter(_.getName.endsWith(".csv"))
      .foreach { part =>
        val tmp = new org.apache.hadoop.fs.Path(root, s".${part.getName}.tmp")
        val out = fs.create(tmp, true)
        try {
          out.write((line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val in = fs.open(part)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 16, false)
          finally in.close()
        } finally out.close()
        require(fs.delete(part, false) && fs.rename(tmp, part),
          s"could not replace $part with its mapped copy")
      }
  }
}
