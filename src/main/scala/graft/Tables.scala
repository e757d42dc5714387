package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-table access for the driver-provided TPC-H-ish parquet dirs
  * (`/root/testdata/sf*`, see TESTDATA.md). All queries take the sf dir as
  * a parameter so the same code runs at any scale factor.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) and
      // TIMESTAMP(MICROS) across testdata generations, so dispatch on the
      // type actually read rather than assuming one. NANOS: Spark refuses
      // to read it natively; `spark.sql.legacy.parquet.nanosAsLong=true`
      // (set ONCE at session build in Verify/Bench/tests — a per-read
      // toggle here was a thread-safety hazard) surfaces it as a nanos
      // long, which we truncate to micros — the same truncation DuckDB
      // applies (post-1970 data, so DIV truncation == floor). MICROS
      // (isAdjustedToUTC=false) reads as TIMESTAMP_NTZ; sessions run in
      // UTC, so the cast to TimestampType preserves the wall clock and
      // keeps every downstream query on one timestamp type.
      normalizeEventTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize an events-shaped frame's `ts` to TimestampType (micros),
    * whichever physical form the testdata generation shipped. Also used
    * by streaming specs whose file source reads events.parquet raw. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Conditional scan-spread (r13, guide §2.5 "input skew"): the test
    * corpora ship documents/embeddings as SINGLE-row-group parquet
    * files, so Spark scans them as ONE task and every scan-local heavy
    * stage — shingle kernels, per-pair cosines, text quality passes —
    * serializes on one core (measured: 2.5 s of p09's 5 s in one task).
    * Spread up to the session's parallelism ONLY when the scan's
    * partitioning is below it; on any real corpus (many files / row
    * groups) this is a structural no-op — no exchange is added. The
    * shuffled bytes are the frame itself, paid once, against a ×cores
    * speedup of every downstream scan-local stage.
    *
    * r14: the exchange is a HASH repartition on a deterministic
    * synthetic key, not `repartition(p)` — a keyless round-robin first
    * LOCAL-SORTS its input partition (spark.sql.execution.
    * sortBeforeRepartition, on by default for retry determinism), and on
    * exactly the one-fat-partition input this targets that sort is a
    * single-task full-width pass paid on EVERY evaluation of the
    * exchange (measured 0.5-0.8 s per consumer at sf0.1; ×10 at sf1 —
    * the s08/s09 scale regression of VERDICT r13). The synthetic key is
    * the guide-§2.5 recipe: xxhash64 of monotonically_increasing_id(),
    * which is a pure function of (partition index, row position) and so
    * re-derives identically on task retry over a deterministic scan —
    * no SPARK-38388 row loss/duplication, no sort, even distribution.
    *
    * Known caveat (ADVICE r13): the gate reads `df.rdd.getNumPartitions`,
    * which (a) forces a physical-plan build per call — fine at query
    * granularity, do not call in loops — and (b) can report >= p
    * partitions for a single-ROW-GROUP file split by byte ranges where
    * all rows still land in one split; the shipped corpora read as 1-3
    * real partitions so the gate fires, but a corpus shape that trips
    * (b) would make spread a silent no-op — check the scan task count,
    * not this gate, when diagnosing. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) {
      val k = "__graft_spread_k"
      df.withColumn(k, xxhash64(monotonically_increasing_id()))
        .repartition(p, col(k))
        .drop(k)
    } else df
  }

  /** Register (idempotently) a [[spread]] copy of one table as the temp
    * view `<name>_spread` and return that view name — for SQL-surface
    * queries whose SCAN-stage expressions are the whole cost (per-row
    * md5/roaring/variant work) and would otherwise run single-task on
    * the one-row-group test files. Deliberately per-query opt-in: most
    * SQL queries are too cheap to buy a repartition exchange. */
  def spreadView(spark: SparkSession, dir: String, name: String): String = {
    val vn = s"${name}_spread"
    spread(t(spark, dir, name)).createOrReplaceTempView(vn)
    vn
  }

  /** Register every table as a temp view (for the spark.sql surface).
    * The view names carry no dir, so a session holds one dir's views at a
    * time: the memo keeps each session's last dir and re-registers when
    * the dir changes. Many queries call this, and re-reading ten parquet
    * footers per query is pure fixed overhead. Weak keys: the memo never
    * keeps a session alive. */
  private val registered = new java.util.WeakHashMap[SparkSession, String]()
  def registerAll(spark: SparkSession, dir: String): Unit = registered.synchronized {
    if (registered.get(spark) != dir) {
      names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
      registered.put(spark, dir)
    }
  }
}

/** Root directory for query outputs that oracles re-read (landed
  * samples, signatures, generated tables). Set ONCE at process start,
  * BEFORE any query module initializes: oracle SQL strings interpolate
  * this root at module init, so queries and oracles always agree within
  * a process. Bench overrides it so a bench run at one scale factor can
  * never clobber the files a Verify-then-DuckDB compare at another scale
  * factor is about to read. */
object Land {
  @volatile var root: String = "/tmp/graft_land"
}

/** A named batch of driver-checkable queries: each entry pairs a Spark
  * implementation with (optionally) an equivalent DuckDB oracle SQL.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
