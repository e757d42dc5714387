package graft.replay

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, LeafNode, LocalRelation, LogicalPlan, OneRowRelation}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import graft.OracleJson
import graft.sqlx.DorisSql
import graft.workload.ReplayStatement

/** Per-client serial replay scheduler (SURVEY.md §2.9 R1–R5).
  *
  * This is deliberately a DRIVER-side scheduler, not a Spark job: replay
  * reproduces wall-clock arrival patterns, so each client is one serial
  * loop on its own thread with its own child SparkSession (isolated
  * current-database / temp-view state — the `USE db` analog of the
  * reference's connection-per-client); every statement then executes as
  * a full distributed Spark query. Timing mirrors the reference
  * (reference: src/replay.go:217-296): sleep
  * `(ts - prevTs - prevDurationMs) / speed` ms between statements,
  * skipping sleeps ≤ 2 ms.
  *
  * The clock and sleeper are injectable so timing logic is testable with
  * a fake clock (SURVEY.md §7.5 risk 5).
  *
  * Execution mode: a replayed statement whose inputs hold at most
  * [[InterpretMaxRows]] rows (counted exactly from parquet footers and
  * local relations, see [[rowsWithin]]) runs interpreted, with
  * whole-stage codegen and the expression code generators off; any other
  * statement runs compiled. On inputs that small, compiling the Janino
  * classes costs more than the rows they would speed up (Kohn, Leis and
  * Neumann, ICDE 2018: interpret a query whose input cannot repay
  * compilation). Every Spark job a statement starts carries the job tag
  * `graft-replay-<queryId>`.
  */
object Replay {

  /** Input-row bound at or below which a statement runs interpreted. It
    * sits under the smallest crossover measured with code that is not in
    * the codegen cache (warm JVM, `local[3]`): ~25–30k rows for a
    * four-aggregate lineitem query, ~60k for a two-aggregate one, ~100k
    * for a narrow 3-int table (CHANGES.md has the sweep). Rows, not
    * bytes: a 1.25 MB parquet file of three int columns can hold 6.4M
    * rows. */
  val InterpretMaxRows = 20000L

  case class Options(
      speed: Double = 1.0,
      maxHashRows: Int = 0,
      sleepFloorMs: Long = 2,
      translateDialect: Boolean = true,
      retries: Int = 0, // R2: re-attempts per failed statement
      // Recycle the client's child session before any sleep longer than
      // this (reference: --max-conn-idle-time, default 5 s, cmd/replay.go
      // :93-98 + src/replay.go:233-236). A recycle drops session state
      // (temp views, session confs) exactly like a MySQL reconnect, and
      // re-establishes the current database the way the reference
      // reconnects with the client's curr db. <= 0 disables.
      maxConnIdleMs: Long = 5000,
      // Cloud compute-group routing (`db@cluster`, src/replay.go:69-98):
      // the Spark analog of pointing a client's connection at a named
      // compute cluster is pinning its jobs to a named scheduler pool.
      cluster: Option[String] = None)

  /** JSONL result row (reference: src/replay.go:33-42). */
  case class Result(
      ts: String, queryId: String, returnRows: Long, returnRowsHash: String,
      durationMs: Long, err: String)

  /** Replay all clients concurrently, each serially. Returns per-client
    * results in execution order. `sleeper` receives every computed sleep
    * (ms) — the real one blocks, tests record. */
  def replay(
      spark: SparkSession,
      clientSqls: Map[String, Seq[ReplayStatement]],
      minTs: Long,
      opts: Options = Options(),
      sleeper: Long => Unit = ms => Thread.sleep(ms),
      sessionFor: SparkSession => SparkSession = _.newSession()): Map[String, Seq[Result]] = {
    // A DEDICATED thread per client, not ExecutionContext.global: the
    // global pool has ~numCores threads, and a replay client spends most
    // of its life BLOCKED in sleeper() reproducing arrival gaps — on the
    // shared pool, 1000 clients against 32 threads serialize into
    // ~31-deep convoys and the reproduced timeline stretches by that
    // factor (measured: 1000 clients x one 200 ms sleep took ~6 s wall
    // on global, ~0.3 s here; ReplaySpec pins the bound). A replaying
    // driver JVM owns its threads the way the reference owns goroutines;
    // they are daemons and the pool dies with the call.
    val pool = java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-replay-${n.getAndIncrement()}")
          t.setDaemon(true); t
        }
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = clientSqls.toSeq.map { case (client, sqls) =>
        Future(client -> replayClient(() => sessionFor(spark), sqls, minTs, opts, sleeper))
      }
      Await.result(Future.sequence(futures), Duration.Inf).toMap
    } finally pool.shutdown()
  }

  /** The reference's inter-arrival formula (src/replay.go:217-296): ms
    * to wait between the previous statement's COMPLETION and this one's
    * start — original gap minus the time the previous statement already
    * consumed, scaled by speed. */
  private def interArrivalMs(tsMs: Long, prevTsMs: Long,
                             prevDurationMs: Long, speed: Double): Long =
    ((tsMs - prevTsMs - prevDurationMs) / speed).toLong

  private def replayClient(
      newSession: () => SparkSession, sqls: Seq[ReplayStatement], minTs: Long,
      opts: Options, sleeper: Long => Unit): Seq[Result] = {
    var session = newSession()
    // set OR CLEAR: replay threads come from a shared pool, so a stale
    // thread-local pool from a previous replay must not leak in
    def pinCluster(): Unit =
      session.sparkContext.setLocalProperty("spark.scheduler.pool", opts.cluster.orNull)
    pinCluster()
    var prevTs = minTs
    var prevDurationMs = 0L
    sqls.map { s =>
      // 1. wait — interval between original starts minus previous duration
      val sleepMs = interArrivalMs(s.tsMs, prevTs, prevDurationMs, opts.speed)
      if (sleepMs > opts.sleepFloorMs) {
        // conn-idle recycling: a long-idle client drops its session the
        // way the reference closes its connection, keeping the current db
        if (opts.maxConnIdleMs > 0 && sleepMs > opts.maxConnIdleMs) {
          val currDb = session.catalog.currentDatabase
          session = newSession()
          pinCluster()
          if (session.catalog.databaseExists(currDb))
            session.catalog.setCurrentDatabase(currDb)
        }
        sleeper(sleepMs)
      }
      prevTs = s.tsMs
      val r = execOne(session, s, opts)
      prevDurationMs = s.durationMs
      r
    }
  }

  /** Execute ONE replayed statement (errors recorded, never thrown — R5;
    * R2: a failed statement is re-attempted up to `retries` times,
    * mirroring the reference's reconnect-and-retry on dropped
    * connections; each attempt re-plans and re-applies the execution-mode
    * gate). */
  private def execOne(session: SparkSession, s: ReplayStatement,
                      opts: Options): Result = {
    val startedAt = java.time.LocalDateTime.now()
    val t0 = System.nanoTime()
    var rows = 0L
    var hash = ""
    var err = ""
    var attempt = 0
    var done = false
    // thread-local like the scheduler pool: added for this statement's
    // jobs only, and removed again whatever happens (tags hold no commas)
    val tag = "graft-replay-" + s.queryId.replace(',', '_')
    val sc = session.sparkContext
    sc.addJobTag(tag)
    try while (!done) {
      rows = 0L; hash = ""; err = ""
      try {
        // R3: per-statement db context from meta — the child session's
        // current database is this client's `USE db` state
        if (s.db.nonEmpty && session.catalog.currentDatabase != s.db &&
            session.catalog.databaseExists(s.db))
          session.catalog.setCurrentDatabase(s.db)
        val stmt = if (opts.translateDialect) DorisSql.translate(s.stmt) else s.stmt
        // analysis is eager, execution lazy: the plan's inputs are known
        // here, before a job runs (a command has already run in sql())
        val df = session.sql(stmt)
        // a leaf that cannot be counted (or a footer that cannot be
        // read) leaves the statement compiled, as before the gate
        val small = Try(rowsWithin(session, df.queryExecution.analyzed, InterpretMaxRows)
          .isDefined).getOrElse(false)
        val (r, h) =
          if (small) interpreted(session)(rowsAndHash(df, opts.maxHashRows))
          else rowsAndHash(df, opts.maxHashRows)
        rows = r; hash = h
      } catch {
        case e: Throwable => err = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
      attempt += 1
      done = err.isEmpty || attempt > opts.retries
    } finally sc.removeJobTag(tag)
    val durationMs = (System.nanoTime() - t0) / 1000000
    Result(startedAt.toString.replace('T', ' '), s.queryId, rows, hash, durationMs, err)
  }

  /** The statement's row count and, when `maxHashRows` > 0, the SHA-256
    * of its first `maxHashRows` rows (dodo's `ReturnRowsHash`). */
  private def rowsAndHash(df: DataFrame, maxHashRows: Int): (Long, String) =
    if (maxHashRows > 0) {
      val collected = df.limit(maxHashRows + 1).collect()
      // rows beyond maxHashRows still count, via a separate count
      val rows = if (collected.length > maxHashRows) df.count() else collected.length.toLong
      val md = MessageDigest.getInstance("SHA-256")
      collected.take(maxHashRows).foreach { r =>
        (0 until r.length).foreach { i =>
          md.update(Option(r.get(i)).map(_.toString).getOrElse("").getBytes("UTF-8"))
          md.update('\t'.toByte)
        }
        md.update('\n'.toByte)
      }
      (rows, if (rows > 0) md.digest().map(b => f"${b & 0xff}%02x").mkString else "")
    } else (df.count(), "")

  // ---- execution-mode gate --------------------------------------------

  /** The exact number of rows `plan` reads, when every leaf's size is
    * known and the sum is at most `bound`; None otherwise. Parquet file
    * relations count from their footers, local relations and the
    * one-row relation exactly, a CTE reference through its definition
    * (which is in the same plan); any other leaf is unknown. Subquery
    * plans count too. The sum stops at the first file that passes
    * `bound`, so a large table costs at most a few footer reads. */
  private[replay] def rowsWithin(session: SparkSession, plan: LogicalPlan,
                                 bound: Long): Option[Long] = {
    lazy val hadoopConf = session.sessionState.newHadoopConf()
    var sum = 0L
    def add(n: Long): Boolean = { sum += n; sum <= bound }
    val known = plan.collectWithSubqueries { case l: LeafNode => l }.forall {
      case _: OneRowRelation => add(1)
      case l: LocalRelation => add(l.data.size)
      case _: CTERelationRef => true
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] =>
          h.location.listFiles(Nil, Nil).iterator.flatMap(_.files)
            .forall(f => add(footerRows(f.fileStatus, hadoopConf)))
        case _ => false
      }
      case _ => false
    }
    if (known) Some(sum) else None
  }

  /** Footer row counts by path, valid while the file keeps its length
    * and modification time: rewriting a file re-reads its footer. */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()

  private def footerRows(st: FileStatus, conf: => Configuration): Long = {
    val path = st.getPath.toString
    footerCache.get(path) match {
      case (len, mtime, rows) if len == st.getLen && mtime == st.getModificationTime => rows
      case _ =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        val rows = try reader.getRecordCount finally reader.close()
        footerCache.put(path, (st.getLen, st.getModificationTime, rows))
        rows
    }
  }

  private val InterpretedConf = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Per-session interpreted mode, counted: the first interpreted
    * statement on a session saves both keys' prior values (set or unset)
    * and sets them, the last one to finish restores them. Clients that
    * share a session (`sessionFor = identity`) therefore never restore
    * each other's values, yet their statements still run concurrently.
    * The counter is the lock, not the session, whose monitor Scala lazy
    * vals inside Spark take. */
  private final class Mode {
    var users = 0
    var prior: Seq[(String, Option[String])] = Nil
  }

  private val modes = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Mode]())

  /** Run `body` with codegen off on `session`. */
  private def interpreted[T](session: SparkSession)(body: => T): T = {
    val conf = session.sessionState.conf
    val mode = modes.computeIfAbsent(session, _ => new Mode)
    mode.synchronized {
      if (mode.users == 0) {
        mode.prior = InterpretedConf.map { case (k, _) =>
          k -> (if (conf.contains(k)) Some(conf.getConfString(k)) else None)
        }
        InterpretedConf.foreach { case (k, v) => conf.setConfString(k, v) }
      }
      mode.users += 1
    }
    try body
    finally mode.synchronized {
      mode.users -= 1
      if (mode.users == 0) mode.prior.foreach {
        case (k, Some(v)) => conf.setConfString(k, v)
        case (k, None) => conf.unsetConf(k)
      }
    }
  }

  // ---- S13: JSONL result sink (one <client>.result file) --------------

  def resultJson(r: Result): String = {
    val sb = new StringBuilder("{")
    if (r.ts.nonEmpty) sb ++= s""""ts":${OracleJson.quote(r.ts)},"""
    sb ++= s""""queryId":${OracleJson.quote(r.queryId)},"returnRows":${r.returnRows},"""
    if (r.returnRowsHash.nonEmpty) sb ++= s""""returnRowsHash":"${r.returnRowsHash}","""
    sb ++= s""""durationMs":${r.durationMs}"""
    if (r.err.nonEmpty) sb ++= s""","err":${OracleJson.quote(r.err)}"""
    sb += '}'
    sb.toString
  }

  def writeResults(resultDir: String, results: Map[String, Seq[Result]]): Unit = {
    Files.createDirectories(Paths.get(resultDir))
    results.foreach { case (client, rs) =>
      // no ':' — a colon in a filename parses as a URI scheme in Hadoop
      // paths and breaks readResults (client names are ip:port)
      val safe = client.replaceAll("[^A-Za-z0-9._-]", "_")
      Files.writeString(Paths.get(s"$resultDir/$safe.result"),
        rs.map(resultJson).mkString("", "\n", "\n"))
    }
  }

  /** Read result files back as a DataFrame (for Diff.compare). */
  def readResults(spark: SparkSession, resultDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ts", StringType), StructField("queryId", StringType),
      StructField("returnRows", LongType), StructField("returnRowsHash", StringType),
      StructField("durationMs", LongType), StructField("err", StringType),
      StructField("stmt", StringType)))
    spark.read.schema(schema).json(resultDir + "/*.result")
  }
}
