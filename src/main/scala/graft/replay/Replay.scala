package graft.replay

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.SparkSession
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
  */
object Replay {

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
    * connections). */
  private def execOne(session: SparkSession, s: ReplayStatement,
                      opts: Options): Result = {
    val startedAt = java.time.LocalDateTime.now()
    val t0 = System.nanoTime()
    var rows = 0L
    var hash = ""
    var err = ""
    var attempt = 0
    var done = false
    while (!done) {
      rows = 0L; hash = ""; err = ""
      try {
        // R3: per-statement db context from meta — the child session's
        // current database is this client's `USE db` state
        if (s.db.nonEmpty && session.catalog.currentDatabase != s.db &&
            session.catalog.databaseExists(s.db))
          session.catalog.setCurrentDatabase(s.db)
        val stmt = if (opts.translateDialect) DorisSql.translate(s.stmt) else s.stmt
        val df = session.sql(stmt)
        if (opts.maxHashRows > 0) {
          val collected = df.limit(opts.maxHashRows + 1).collect()
          // rows beyond maxHashRows still count, via a separate count
          rows = if (collected.length > opts.maxHashRows) df.count() else collected.length.toLong
          val md = MessageDigest.getInstance("SHA-256")
          collected.take(opts.maxHashRows).foreach { r =>
            (0 until r.length).foreach { i =>
              md.update(Option(r.get(i)).map(_.toString).getOrElse("").getBytes("UTF-8"))
              md.update('\t'.toByte)
            }
            md.update('\n'.toByte)
          }
          if (rows > 0) hash = md.digest().map(b => f"${b & 0xff}%02x").mkString
        } else {
          rows = df.count()
        }
      } catch {
        case e: Throwable => err = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
      attempt += 1
      done = err.isEmpty || attempt > opts.retries
    }
    val durationMs = (System.nanoTime() - t0) / 1000000
    Result(startedAt.toString.replace('T', ' '), s.queryId, rows, hash, durationMs, err)
  }

  // ---- S13: JSONL result sink (one <client>.result file) --------------

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def resultJson(r: Result): String = {
    val sb = new StringBuilder("{")
    if (r.ts.nonEmpty) sb ++= s""""ts":"${jsonEscape(r.ts)}","""
    sb ++= s""""queryId":"${jsonEscape(r.queryId)}","returnRows":${r.returnRows},"""
    if (r.returnRowsHash.nonEmpty) sb ++= s""""returnRowsHash":"${r.returnRowsHash}","""
    sb ++= s""""durationMs":${r.durationMs}"""
    if (r.err.nonEmpty) sb ++= s""","err":"${jsonEscape(r.err)}""""
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

  /** A5: client count of a previous replay = its `*.result` files
    * (reference: cmd/diff.go:82-95). */
  def guessClientCount(resultDir: String): Int =
    Option(new java.io.File(resultDir).list())
      .map(_.count(_.endsWith(".result"))).getOrElse(0)

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
