package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place session config lives. Every main (Verify, Bench,
  * ProbeJobs, PlanAudit, ScaleUp, the CLI) and the test suites
  * build their SparkSession here, so what Bench times is what Verify
  * grades. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the JVM's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  // Fresh warehouse per JVM: a stale spark-warehouse/<db>.db left by an
  // earlier run is unknown to this JVM's in-memory catalog, so DROP
  // DATABASE IF EXISTS no-ops and CREATE then fails with
  // LOCATION_ALREADY_EXISTS. getOrCreate shares one SparkContext per
  // JVM, so one temp dir per JVM is exactly right.
  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_wh").toString

  def apply(cpus: Int): SparkSession = apply(cpus, s"local[$cpus]")

  /** `master` overrides `local[cpus]` (the CLI's `SPARK_MASTER`);
    * `cpus` still sets the shuffle partition count. */
  def apply(cpus: Int, master: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS); set once at session build (a
      // per-read conf toggle is racy — see Tables.t).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // µs (not INT96/ns) on disk: pyarrow then reads timestamp[us], the
      // same unit DuckDB produces, so timestamp cells hash identically.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // generated random map keys may collide; keep map building total
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The remaining WindowExec no-partition warnings all come from the
    // Doris-SQL surface queries whose TEXT says OVER () — semantics we
    // must execute as written over bounded aggregates. The structural
    // guard is PlanShapeSpec's funnel lint (allowlisted, stale entries
    // fail); silencing the logger keeps the stderr tail carrying real
    // signal.
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec",
      Level.ERROR)
    spark
  }
}
