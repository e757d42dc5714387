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
}
