package graft

/** Pins the session contract [[Session]] builds: dropping a key there
  * fails here instead of drifting silently between mains. */
class SessionSpec extends SparkSpec {

  private def conf(key: String): String = spark.conf.get(key)

  test("session time zone is UTC") {
    assert(conf("spark.sql.session.timeZone") == "UTC")
  }

  test("parquet timestamps are written as TIMESTAMP_MICROS") {
    assert(conf("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
  }

  test("nanosecond parquet timestamps read as longs") {
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("map key dedup policy is LAST_WIN") {
    assert(conf("spark.sql.mapKeyDedupPolicy") == "LAST_WIN")
  }

  test("warehouse dir is not under the working directory") {
    val wh = new java.io.File(
      new org.apache.hadoop.fs.Path(conf("spark.sql.warehouse.dir")).toUri.getPath)
      .getCanonicalPath
    val cwd = new java.io.File(".").getCanonicalPath
    assert(wh != cwd && !wh.startsWith(cwd + java.io.File.separator),
      s"warehouse $wh sits under the working directory $cwd")
  }

  test("codegen cache: a second pass over 120 distinct compiled statements compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // each statement inlines its own literals, so each compiles its own
    // whole-stage class; 120 of them overflow a 100-entry cache
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 120).foreach(i => spark.range(3).selectExpr(s"id * $i + ${i + 1000} AS x").collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    assert(first >= 120, s"first pass compiled only $first classes")
    val second = pass()
    assert(second == 0, s"second identical pass recompiled $second of $first classes")
  }

  test("Tables.registerAll follows the dir: after A, B, A the views read A's files") {
    def fixture(): java.io.File = {
      val d = java.nio.file.Files.createTempDirectory("graft_tables").toFile
      Tables.names.foreach { n =>
        val df = if (n == "events") spark.sql("SELECT current_timestamp() AS ts")
          else spark.range(1).toDF("id")
        df.write.parquet(s"$d/$n.parquet")
      }
      d
    }
    val (a, b) = (fixture(), fixture())
    try {
      Seq(a, b, a).foreach(d => Tables.registerAll(spark, d.getPath))
      val files = spark.table("region").inputFiles
      assert(files.nonEmpty && files.forall(_.contains(a.getName + "/")),
        s"region reads ${files.mkString(", ")}, not $a")
    } finally {
      Seq(a, b).foreach(org.apache.commons.io.FileUtils.deleteDirectory)
      Tables.names.foreach(spark.catalog.dropTempView)
    }
  }
}
