package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runs one workload against the program's public entry points (the
  * `graft.cli.Cli.run` verbs and the `graft.*` layer functions), timing
  * each call from outside, and writes the raw measurements as JSON for
  * run.py, which checks the outputs and derives the metrics.
  *
  *   --workload replay|batch --inputs <dir> --tpch <dir>
  *   --work <dir> --seconds <n> --trace 0|1 --seed <n> --result <file>
  *
  * Policy: set-up runs `Setups` times (the first from JVM start, the
  * others on a stopped-and-rebuilt session). Then the cold pass: one
  * complete run of the workload's flow in the fresh JVM, with class
  * loading, code generation and the JIT paid in it, as in every invocation
  * of the CLI. An untraced run ends there. A traced run adds warm passes
  * over the same inputs, at least three and more while they fit in
  * `--seconds` (a pass starts only if, at the length of the previous one,
  * it ends in time), alternately with and without the listeners, so that
  * the per-layer numbers describe the warm JVM and the tracing overhead is
  * measured in the same JVM. */
object Main {
  val Setups = 5

  final case class Span(name: String, seconds: Double, counters: Option[Counters])

  final class Pass(val cold: Boolean, val traced: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    var wallS = 0.0
    val facts = mutable.LinkedHashMap.empty[String, Any]
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = o("workload")
    val trace = o("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val run = new Run(workload, o("inputs"), o("tpch"), o("work"), cpus, trace,
      o("seed").toLong)
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload, "trace" -> trace,
      "cpus" -> cpus, "slots" -> run.slots)
    var spark: SparkSession = null
    val setups = (0 until Setups).map { k =>
      val t0 = if (k == 0) jvmStartMs * 1e-3 else { spark.stop(); now() }
      spark = run.session()
      val t1 = now()
      run.catalog(spark)
      val t2 = now()
      Map("session_s" -> (t1 - t0), "catalog_s" -> (t2 - t1))
    }
    out("setups") = setups
    val passes = mutable.ArrayBuffer.empty[Pass]
    val errors = mutable.ArrayBuffer.empty[String]
    def onePass(cold: Boolean, traced: Boolean): Unit = {
      val p = new Pass(cold, traced)
      val t0 = now()
      try run.pass(spark, p)
      catch { case NonFatal(e) => errors += s"${e.getClass.getName}: ${e.getMessage}".take(2000) }
      p.wallS = now() - t0
      passes += p
    }
    try {
      onePass(cold = true, traced = trace)
      run.resetHeapPeak()
      val start = now()
      var k = 0
      while (trace && errors.isEmpty &&
          (k < 3 || now() - start + passes.last.wallS <= o("seconds").toDouble)) {
        onePass(cold = false, traced = k % 2 == 0)
        k += 1
      }
      out("heap_peak_mb") = run.heapPeakMb()
      if (trace && errors.isEmpty) out("extra") = run.traceExtras(spark)
    } catch { case NonFatal(e) => errors += s"${e.getClass.getName}: ${e.getMessage}".take(2000) }
    out("passes") = passes.map { p =>
      Map("cold" -> p.cold, "traced" -> p.traced, "wall_s" -> p.wallS,
        "facts" -> p.facts.toMap,
        "spans" -> p.spans.map(s => Map("name" -> s.name, "s" -> s.seconds) ++
          s.counters.map(c => Map("counters" -> c.toMap)).getOrElse(Map.empty)).toSeq)
    }.toSeq
    out("errors") = errors.toSeq
    Files.writeString(Paths.get(o("result")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out.toMap))
    spark.stop()
    System.exit(0)
  }

  def now(): Double = System.nanoTime() * 1e-9 + epochOffset
  private val epochOffset = System.currentTimeMillis() * 1e-3 - System.nanoTime() * 1e-9
}

/** One workload's set-up and pass. */
final class Run(workload: String, inputs: String, tpch: String, work: String, cpus: Int,
                trace: Boolean, seed: Long) {
  import Main._

  /** Spark task slots: one core is left to the driver threads, the JIT and
    * the collector, which makes passes on a shared box much steadier. */
  val slots: Int = math.max(1, cpus - 1)

  def session(): SparkSession = {
    val b = SparkSession.builder().master(s"local[$slots]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = b.getOrCreate()
    if (trace) spark.sparkContext.addSparkListener(new JobListener)
    spark
  }

  private val tables: Seq[(String, String)] = workload match {
    case "replay" => Seq("region", "nation", "customer", "supplier", "part", "partsupp",
      "orders", "lineitem").map(t => s"tpch.$t" -> s"$tpch/$t.parquet")
    case "batch" => Seq("tpch.lineitem" -> s"$tpch/lineitem.parquet",
      "corpus.docs" -> s"$inputs/corpus/docs.parquet",
      "corpus.probe" -> s"$inputs/corpus/probe.parquet")
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Catalog tables in a database, not temp views: replay's per-client
    * child sessions cannot see temp views. */
  def catalog(spark: SparkSession): Unit =
    tables.foreach { case (name, path) =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS ${name.takeWhile(_ != '.')}")
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.catalog.createTable(name, path, "parquet")
    }

  private def span[T](spark: SparkSession, p: Pass, name: String)(body: => T): T = {
    val c = if (p.traced) Some(new Counters) else None
    // drained before as well as after: late events of an untraced pass
    // must not land in this span
    if (p.traced) org.apache.spark.BusDrain(spark.sparkContext)
    c.foreach(Recorder.current = _)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      if (p.traced) {
        org.apache.spark.BusDrain(spark.sparkContext)
        Recorder.current = null
      }
      p.spans += Span(name, t1 - t0, c)
    }
  }

  def pass(spark: SparkSession, p: Pass): Unit = workload match {
    case "replay" => replayPass(spark, p)
    case "batch" => gendataPass(spark, p); curationPass(spark, p)
  }

  // ---- replay: dump -> decode -> replay -> diff ---------------------------

  private var stmts: Seq[String] = Nil

  private def replayPass(spark: SparkSession, p: Pass): Unit = {
    import graft.workload.{AuditLog, ReplayCodec}
    import graft.replay.Replay
    // the results of every pass are diffed against the first pass's
    val dumpDir = s"$work/dump"
    val firstDir = s"$work/results/first"
    val resultDir = if (p.cold) firstDir else s"$work/results/last"
    span(spark, p, "workload.scan") {
      val q = AuditLog.queries(spark, s"$inputs/replay/log",
        AuditLog.ScanOpts(onlySelect = true))
      AuditLog.writeDumpSql(q, dumpDir)
    }
    val (clients, minTs) = span(spark, p, "workload.decode") {
      val decoded = ReplayCodec.decode(spark, dumpDir,
        ReplayCodec.DecodeOpts(clientCount = cpus))
      (ReplayCodec.byClient(decoded), ReplayCodec.minTs(decoded).getOrElse(0L))
    }
    stmts = clients.values.flatten.map(_.stmt).toSeq
    // closed loop: no inter-arrival sleeps, one client per core
    val results = span(spark, p, "replay") {
      val r = Replay.replay(spark, clients, minTs,
        Replay.Options(speed = 1e12, maxHashRows = 100))
      Replay.writeResults(resultDir, r)
      r
    }
    val mismatches = span(spark, p, "diff") {
      val d = graft.diff.Diff.compare(Replay.readResults(spark, firstDir),
        Replay.readResults(spark, resultDir), minDurationDiffMs = Long.MaxValue / 4)
      graft.diff.Diff.report(d).count()
    }
    val all = results.values.flatten.toSeq
    p.facts("latencies_ms") = all.map(_.durationMs)
    p.facts("errors") = all.count(_.err.nonEmpty)
    p.facts("diff_mismatches") = mismatches
  }

  // ---- gendata: stats -> yaml round trip -> plan -> CSV -------------------

  private def gendataPass(spark: SparkSession, p: Pass): Unit = {
    import graft.stats.Stats
    import graft.genrule.GenRules
    import graft.gen.{GenPlanner, TableGen}
    val g = s"$inputs/gendata"
    val stats = span(spark, p, "stats.collect") {
      val df = spark.table("tpch.lineitem")
      val ts = Stats.toTableStats("lineitem", df.count(), Stats.collect(df))
      Stats.fromYaml(Stats.toYaml("tpch", Seq(ts)))._2
    }
    val frames = span(spark, p, "gen.plan") {
      val ddls = Seq("lineitem", "dim").map(t => graft.ddl.DorisDdl.parseCreateTable(
        new String(Files.readAllBytes(Paths.get(s"$g/$t.sql")), "UTF-8")))
      val env = GenRules.buildEnv(GenRules.parseYaml(
        new String(Files.readAllBytes(Paths.get(s"$g/genconf.yaml")), "UTF-8")))
      GenPlanner.generateAll(spark, ddls, env, seed, stats = stats.map(t => t.name -> t).toMap)
    }
    span(spark, p, "gen.write") {
      frames.toSeq.sortBy(_._1).foreach { case (name, df) =>
        TableGen.writeCsv(df, s"$work/gendata/$name")
      }
    }
    p.facts("stats_rows") = stats.head.rowCount
  }

  // ---- curation: one Cli pipeline verb per stage --------------------------

  private val stages: Seq[(String, Map[String, String])] = {
    val c = s"$work/curation"
    val docs = s"$inputs/corpus/docs.parquet"
    Seq(
      "clean" -> Map("in" -> docs, "out" -> s"$c/clean"),
      "dedup" -> Map("in" -> docs, "out" -> s"$c/dedup"),
      "neardup" -> Map("in" -> s"$c/dedup", "out" -> s"$c/neardup"),
      "cluster" -> Map("in" -> s"$c/neardup", "out" -> s"$c/cluster"),
      "decontaminate" -> Map("in" -> s"$c/dedup", "out" -> s"$c/decontaminate",
        "probe" -> s"$inputs/corpus/probe.parquet"),
      "split" -> Map("in" -> s"$c/dedup", "out" -> s"$c/split"))
  }

  private def curationPass(spark: SparkSession, p: Pass): Unit =
    stages.foreach { case (op, args) =>
      span(spark, p, s"pipeline.$op") { graft.cli.Cli.run(spark, "pipeline", args + ("op" -> op)) }
    }

  // ---- traced-run extras: kernel and translator micro-timings -------------

  def traceExtras(spark: SparkSession): Map[String, Any] = workload match {
    case "replay" =>
      val us = (1 to 5).flatMap(_ => stmts.map { s =>
        val t0 = System.nanoTime()
        graft.sqlx.DorisSql.translate(s)
        (System.nanoTime() - t0) / 1e3
      })
      Map("translate_us" -> us)
    case "batch" =>
      import graft.functions.{MinHashSignatureExpr, ShingleHashesExpr}
      import graft.pipeline.TextOps
      MinHashSignatureExpr.register(spark)
      ShingleHashesExpr.register(spark)
      val docs = spark.table("corpus.docs")
      val n = docs.count()
      def nsPerDoc(df: org.apache.spark.sql.DataFrame): Double = {
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0).toDouble
        }
        ts.sorted.apply(1) / n
      }
      val shingle = nsPerDoc(docs.select(call_function("graft_shingle_hashes", col("text"), lit(3))))
      val sh = docs.select(TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh")).cache()
      sh.count()
      val minhash = nsPerDoc(sh.select(expr("graft_minhash_sig(sh, 64, 7)")))
      sh.unpersist()
      Map("shingle_ns_per_doc" -> shingle, "minhash_ns_per_doc" -> minhash)
    case _ => Map.empty
  }

  // ---- JVM heap peak over the warm passes ---------------------------------

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
