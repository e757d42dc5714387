package graft.cli

import org.apache.spark.sql.SparkSession
import graft.anon.Anonymizer
import graft.diff.Diff
import graft.dump.SchemaDump
import graft.gen.GenPlanner
import graft.genrule.GenRules
import graft.replay.Replay
import graft.stats.Stats
import graft.workload.{AuditLog, ReplayCodec}

/** Command surface mirroring the reference's verbs (SURVEY.md §7.1 cli):
  *
  *   dump      --audit-log <path> --out <dir> [--only-select] [--strict]
  *             [--schema-db <db>]   (also dump that db's schemas as
  *                                   <db>.<table>.<type>.sql files)
  *   create    --ddl-dir <dir> [--db <target>] [--be-count n] [--dry-run]
  *   gendata   --ddl <file,...> --out <dir> [--genconf <yaml>] [--rows n]
  *             [--seed n] [--format csv|parquet]
  *             [--llm <model> (--llm-response <file> |
  *               --llm-api-key <key> [--llm-base-url <url>])
  *              [--stats <yaml>] [--query <sql>] [--prompt <text>]
  *              [--anonymize] [--yes]]
  *             (LLM-assisted genconf: prompt assembly + anonymize-before-
  *              send + confirm gate; live OpenAI-compatible streaming
  *              via --llm-api-key/LLM_API_KEY, or a canned completion
  *              file for offline runs)
  *   replay    --source <dumpDir> --out <resultDir> [--speed x]
  *             [--client-count n] [--max-hash-rows k]
  *             [--max-conn-idle-ms n] [--cluster <pool>]
  *   import    --db <db> --table <t> --data <csvDir> [--host h]
  *             [--http-port p] [--user u] [--password w] [--dry-run]
  *   export    --tables <db.table,...> --url <template with {db}/{table}>
  *             [--format csv|parquet|json] [--sep ☆] [--null-value \N]
  *             [--max-records-per-file n] [--options k=v,k2=v2]
  *             (reference: cmd/export.go:50-99 issues EXPORT statements and
  *              polls Doris; in Spark each table export IS a distributed
  *              write, so the verb reduces to URL templating + df.write —
  *              executors stream partitions straight to the target store)
  *   diff      --left <resultDir> --right <resultDir> [--min-duration-diff ms]
  *   anonymize --file <sqlFile> [--method hash|minihash] [--dict <yaml>]
  *   stats     --table <parquetPath> --name <table> --out <yamlFile>
  *             [--exact] [--histogram col1,col2[:buckets]]
  *   pipeline  --op <dedup|neardup|scrub|split|pack|decontaminate|
  *                   clean|spans|mix|merges|encode|nll|cluster|lines|
  *                   bigram-nll|classify|bm25|retract|chunk|keywords|
  *                   cdc|expect|leakage>
  *             --in <parquetDir> --out <parquetDir>
  *             [--id-col doc_id] [--text-col text] [--threshold 0.5]
  *             [--budget 512] [--train-frac 0.8] [--val-frac 0.1]
  *             [--source-col source]    (pack/mix's per-stratum key)
  *             [--probe <parquetDir>]   (decontaminate's benchmark set)
  *             [--window 8]             (spans' token-window width;
  *                                       chunk's token budget)
  *             [--stride 384]           (chunk's slide)
  *             [--tau 0.7] [--target-frac 0.5]  (mix's temperature)
  *             [--k 100]                (merges'/bm25's/keywords' top-k)
  *             [--merges <parquetDir>]  (encode's merge table = merges' out)
  *             [--max-docs 5]           (lines' global hot-line threshold)
  *             [--lambda 0.7]           (bigram-nll's interpolation)
  *             [--query 'hash join']    (bm25's query terms)
  *             [--deletes <parquetDir>] (retract's takedown id list;
  *                                       --in is the landed minhash index)
  *             (cluster expects (i, j) pair parquet, e.g. neardup output)
  *             (training-data ops over any parquet corpus — the verb
  *              face of graft.pipeline; beyond the reference surface)
  *
  * Each verb is a thin wiring of the library modules — the CLI owns arg
  * parsing and nothing else, so everything it can do is equally available
  * as a library call (reference: cmd/root.go:63-84).
  */
object Cli {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val verb = args.head
    val opts = parseFlags(args.tail)
    val spark = session()
    try run(spark, verb, opts)
    finally spark.stop()
  }

  val usage: String =
    "usage: graft.cli.Cli <dump|create|gendata|import|export|replay|diff|anonymize|stats|pipeline> [--flag value ...]"

  def parseFlags(args: Seq[String]): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --flag, got '$a'\n$usage")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m(a.drop(2)) = args(i + 1); i += 2
      } else { m(a.drop(2)) = "true"; i += 1 }
    }
    m.toMap
  }

  private def session(): SparkSession = {
    val cpus = graft.Session.cpus
    graft.Session(cpus, sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
  }

  /** Dispatch one verb (exposed for tests; throws on bad input). */
  def run(spark: SparkSession, verb: String, o: Map[String, String]): Unit = verb match {
    case "dump" =>
      val qdf = AuditLog.queries(spark, req(o, "audit-log"), AuditLog.ScanOpts(
        onlySelect = o.contains("only-select"),
        strict = o.contains("strict"),
        minDurationMs = o.getOrElse("min-duration-ms", "0").toLong))
      val written = AuditLog.writeDumpSql(qdf, req(o, "out"))
      println(s"dumped ${written.size} query file(s) to ${req(o, "out")}")
      o.get("schema-db").foreach { db =>
        val schemas = SchemaDump.listTables(spark, db).map { case (t, tpe) =>
          (t, tpe, SchemaDump.showCreate(spark, s"`$db`.`$t`"))
        }
        val files = SchemaDump.writeSchemas(req(o, "out"), db, schemas)
        println(s"dumped ${files.size} schema file(s) to ${req(o, "out")}")
      }

    case "create" =>
      val res = graft.create.Create.createFromDir(spark, req(o, "ddl-dir"),
        graft.create.Create.Options(
          db = o.get("db"),
          beCount = o.getOrElse("be-count", "3").toInt,
          dryRun = o.contains("dry-run")))
      res.foreach(r => println(s"${r.action} ${r.tpe} '${r.db}.${r.name}'" +
        (if (r.rounds > 1) s" (round ${r.rounds})" else "")))

    case "gendata" =>
      val ddlTexts = req(o, "ddl").split(',').toSeq.map(readFile)
      val ddls = ddlTexts.map(graft.ddl.DorisDdl.parseCreateTable)
      // --llm <model>: assemble prompt (optionally anonymized), run the
      // transport, validate, write <out>/gendata.yaml, and gate on a
      // human confirm before generating (reference cmd/gendata.go:110-147).
      // Live transport: --llm-api-key <key> (or LLM_API_KEY in the env)
      // streams from an OpenAI-compatible endpoint — --llm-base-url
      // overrides the model-family default (deepseek-* -> Deepseek beta,
      // else OpenAI v1). Offline transport: --llm-response <file> with
      // the canned reply. --llm-response wins when both are given (a
      // canned reply is an explicit ask).
      var llmAborted = false
      val llmConf: Option[String] = o.get("llm").filter(_ => !o.contains("genconf")).flatMap { model =>
        val apiKey = o.get("llm-api-key").orElse(sys.env.get("LLM_API_KEY"))
        val transport: graft.llm.LlmTransport = o.get("llm-response") match {
          case Some(canned) => new graft.llm.FileTransport(canned)
          case None =>
            val key = apiKey.getOrElse(throw new IllegalArgumentException(
              "gendata --llm needs --llm-response <file> (canned) or " +
                "--llm-api-key / LLM_API_KEY (live endpoint)"))
            new graft.llm.HttpTransport(
              o.getOrElse("llm-base-url",
                graft.llm.HttpTransport.defaultBaseUrl(model)),
              key,
              // streamed text echoes to the console as it arrives, the
              // reference's reading experience (content bright, the
              // deepseek reasoning channel to stderr)
              onContent = s => print(s),
              onReasoning = s => System.err.print(s))
        }
        val stats = o.get("stats").map(p =>
          graft.stats.Stats.fromYaml(readFile(p))._2).getOrElse(Nil)
        val anonCtx =
          if (o.contains("anonymize"))
            Some(new Anonymizer.Context(method = o.getOrElse("method", "minihash")))
          else None
        val conf = graft.llm.LlmGendata.generate(transport, model, ddlTexts,
          stats, o.get("query").toSeq, o.getOrElse("prompt", ""), anonCtx)
        val path = java.nio.file.Paths.get(req(o, "out"), "gendata.yaml")
        java.nio.file.Files.createDirectories(path.getParent)
        java.nio.file.Files.writeString(path, conf)
        println(s"LLM genconf written to $path")
        val ok = o.contains("yes") || graft.llm.LlmGendata.confirm(
          s"Using LLM output config: '$path', please check it before going on",
          new java.io.BufferedReader(new java.io.InputStreamReader(System.in)),
          System.out)
        if (!ok) { println("Aborted"); llmAborted = true; None }
        else Some(conf)
      }
      if (!llmAborted) {
        val conf = llmConf.orElse(o.get("genconf").map(readFile)).getOrElse("")
        val rows = o.getOrElse("rows", "1000").toLong
        val seed = o.getOrElse("seed", "42").toLong
        val out = req(o, "out")
        GenPlanner.generateDatasets(spark, ddls, conf, seed, rows)
          .zip(GenPlanner.datasetEnvs(conf)).zipWithIndex.foreach { case ((tables, env), di) =>
            tables.foreach { case (name, df) =>
              val dir = s"$out/$name/conf_$di"
              if (o.getOrElse("format", "csv") == "parquet") df.write.mode("overwrite").parquet(dir)
              else {
                graft.gen.TableGen.writeCsv(df, dir,
                  o.getOrElse("rows-per-file", "20000").toInt)
                ddls.find(_.name == name)
                  .flatMap(graft.gen.TableGen.streamLoadMapping(_, env))
                  .foreach(graft.gen.TableGen.prependFirstLine(dir, _))
              }
              println(s"generated $name dataset $di -> $dir")
            }
          }
      }

    case "replay" =>
      val decoded = ReplayCodec.decode(spark, req(o, "source"), ReplayCodec.DecodeOpts(
        clientCount = o.getOrElse("client-count", "0").toInt))
      val results = Replay.replay(spark, ReplayCodec.byClient(decoded),
        ReplayCodec.minTs(decoded).getOrElse(0L),
        Replay.Options(
          speed = o.getOrElse("speed", "1.0").toDouble,
          maxHashRows = o.getOrElse("max-hash-rows", "0").toInt,
          maxConnIdleMs = o.getOrElse("max-conn-idle-ms", "5000").toLong,
          cluster = o.get("cluster")))
      Replay.writeResults(req(o, "out"), results)
      println(s"replayed ${results.valuesIterator.map(_.size).sum} statement(s) " +
        s"across ${results.size} client(s) -> ${req(o, "out")}")

    case "diff" =>
      val d = Diff.compare(
        Replay.readResults(spark, req(o, "left")),
        Replay.readResults(spark, req(o, "right")),
        minDurationDiffMs = o.getOrElse("min-duration-diff", "100").toLong)
      val bad = Diff.report(d)
      val n = bad.count()
      bad.show(100, truncate = false)
      println(s"diff: $n mismatch(es)")

    case "import" =>
      val cfg = graft.io.StreamLoad.Config(
        host = o.getOrElse("host", "127.0.0.1"),
        httpPort = o.getOrElse("http-port", "8030").toInt,
        user = o.getOrElse("user", "root"),
        password = o.getOrElse("password", ""),
        dryRun = o.contains("dry-run"))
      val res = graft.io.StreamLoad.loadDir(cfg, req(o, "db"), req(o, "table"),
        req(o, "data"))
      println(s"stream-loaded ${res.size} file(s), " +
        s"${res.map(_.rows).sum} row(s) into ${req(o, "db")}.${req(o, "table")}")

    case "export" =>
      val urlT = req(o, "url")
      val opts = graft.io.Export.Options(
        format = o.getOrElse("format", "csv"),
        sep = o.getOrElse("sep", "☆"),
        nullValue = o.getOrElse("null-value", "\\N"),
        maxRecordsPerFile = o.getOrElse("max-records-per-file", "20000").toLong,
        extra = o.get("options").map(_.split(",").map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"expected k=v in --options, got '$kv'\n$usage")
          kv.take(i) -> kv.drop(i + 1)
        }.toMap).getOrElse(Map.empty))
      req(o, "tables").split(",").map(_.trim).filter(_.nonEmpty).foreach { t =>
        val parts = t.split("\\.", 2)
        require(parts.length == 2, s"invalid table format '$t', expected 'db.table'")
        val url = graft.io.Export.export(spark.table(t), urlT, parts(0), parts(1), opts)
        println(s"exported $t to $url")
      }

    case "anonymize" =>
      val ctx = new Anonymizer.Context(
        method = o.getOrElse("method", "hash"),
        initialDict = o.get("dict").map(p => Anonymizer.loadDictYaml(readFile(p)))
          .getOrElse(Map.empty))
      val out = readFile(req(o, "file")).linesIterator
        .map(l => if (l.trim.isEmpty) l else Anonymizer.anonymizeSql(ctx, l, hideComments = true))
        .mkString("\n")
      println(out)
      o.get("dict-out").foreach(p =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p), ctx.dictYaml))

    case "stats" =>
      val df = spark.read.parquet(req(o, "table"))
      val name = o.getOrElse("name", "table")
      val collected = Stats.collect(df, exact = o.contains("exact"))
      val yaml = Stats.toYaml(o.getOrElse("db", "db"),
        Seq(Stats.toTableStats(name, df.count(), collected)))
      o.get("out") match {
        case Some(p) => java.nio.file.Files.writeString(java.nio.file.Paths.get(p), yaml)
        case None    => println(yaml)
      }
      // --histogram col1,col2[:buckets] → equi-width histogram CSV beside
      // the YAML (or stdout), the engine-side face of histogram stats
      o.get("histogram").foreach { spec =>
        val (colsPart, buckets) = spec.split(":") match {
          case Array(cs, b) if b.forall(_.isDigit) && b.nonEmpty => (cs, b.toInt)
          case Array(cs) => (cs, 8)
          case _ => throw new IllegalArgumentException(
            s"--histogram expects col1,col2[:buckets], got '$spec'")
        }
        val h = Stats.histogram(df, colsPart.split(",").toSeq, buckets)
          .orderBy("column", "bucket").collect()
        val lines = "column,bucket,bucket_lo,bucket_hi,cnt" +: h.map(r =>
          s"${r.get(0)},${r.get(1)},${r.get(2)},${r.get(3)},${r.get(4)}")
        o.get("out") match {
          case Some(p) => java.nio.file.Files.writeString(
            java.nio.file.Paths.get(p + ".hist.csv"), lines.mkString("\n"))
          case None => lines.foreach(println)
        }
      }

    case "pipeline" =>
      import org.apache.spark.sql.functions._
      val in = spark.read.parquet(req(o, "in"))
      val idCol = o.getOrElse("id-col", "doc_id")
      val textCol = o.getOrElse("text-col", "text")
      val threshold = o.getOrElse("threshold", "0.5").toDouble
      val out = req(o, "out")
      val result = o.getOrElse("op", "") match {
        case "dedup" => // keep one doc per exact-duplicate group
          val keep = graft.pipeline.Dedup.exactGroups(in, idCol, textCol)
            .select(col("keep_id").as(idCol))
          in.join(keep, idCol)
        case "neardup" => // near-duplicate pair report (MinHash-LSH)
          graft.pipeline.Dedup.minhashPairs(in, idCol, textCol, threshold = threshold)
        case "scrub" =>
          in.withColumn(textCol, graft.pipeline.TextOps.piiScrub(col(textCol)))
        case "split" =>
          in.withColumn("split", graft.pipeline.Mixing.splitAssign(
            graft.pipeline.Mixing.hashUnit(col(idCol), "graft-split"),
            o.getOrElse("train-frac", "0.8").toDouble,
            o.getOrElse("val-frac", "0.1").toDouble))
        case "pack" =>
          val srcCol = o.getOrElse("source-col", "source")
          require(in.columns.contains(srcCol),
            s"pack needs a per-stratum column '--source-col $srcCol' in the input")
          val base = in.withColumn("toks",
            size(graft.pipeline.TextOps.bpeTokens(col(textCol))).cast("long"))
          graft.pipeline.Mixing.packBins(base, srcCol, idCol, "toks",
            o.getOrElse("budget", "512").toInt)
        case "decontaminate" =>
          graft.pipeline.Dedup.contaminationPairs(
            in, spark.read.parquet(req(o, "probe")), idCol, textCol, threshold)
        case "clean" => // C4-style line-cleaning report (join on doc_keep to filter)
          graft.pipeline.Clean.c4Lines(in, idCol, textCol)
        case "spans" => // cross-doc duplicated-span profile — docs shorter
          // than the window come back with zero counts, not silently absent
          val prof = graft.pipeline.Dedup.dupSpanProfile(in, idCol, textCol,
            o.getOrElse("window", "8").toInt)
            .withColumnRenamed("id", idCol)
          in.select(col(idCol)).join(prof, Seq(idCol), "left")
            .na.fill(0L, Seq("n_windows", "n_dup_windows"))
            .na.fill(0.0, Seq("dup_frac"))
        case "mix" => // temperature-weighted source mixing: adds (rate, kept)
          val srcCol = o.getOrElse("source-col", "source")
          require(in.columns.contains(srcCol),
            s"mix needs a per-source column '--source-col $srcCol' in the input")
          val counts = in.groupBy(col(srcCol)).agg(count(lit(1)).as("n"))
          val rates = graft.pipeline.Mixing.temperatureRates(counts, srcCol, "n",
            o.getOrElse("tau", "0.7").toDouble,
            o.getOrElse("target-frac", "0.5").toDouble)
          in.join(broadcast(rates.select(col(srcCol), col("rate"))), srcCol)
            .withColumn("kept", graft.pipeline.Mixing.stratifiedKeep(
              graft.pipeline.Mixing.hashUnit(col(idCol), "graft-temp"), col("rate")))
        case "merges" => // top-k BPE merge candidates
          graft.pipeline.Lm.bpeMergeCandidates(in, textCol,
            o.getOrElse("k", "100").toInt)
        case "encode" => // apply a merges table (the `merges` op's output)
          val merges = spark.read.parquet(req(o, "merges"))
            .orderBy("rank").select("pair")
            .collect().map(_.getString(0)).toSeq
          graft.pipeline.Lm.bpeEncode(in, idCol, textCol, merges)
        case "nll" => // unigram-LM cross-entropy score per doc
          graft.pipeline.Lm.unigramNll(in, idCol, textCol)
        case "cluster" => // (i, j) pair parquet -> component labels
          graft.pipeline.Dedup.connectedComponents(in)
        case "lines" => // GLOBAL cross-corpus boilerplate-line dedup report
          graft.pipeline.Clean.globalLineDedup(in, idCol, textCol,
            o.getOrElse("max-docs", "5").toInt)
        case "bigram-nll" => // interpolated bigram-LM cross-entropy per doc
          graft.pipeline.Lm.bigramNll(in, idCol, textCol,
            o.getOrElse("lambda", "0.7").toDouble)
        case "classify" => // linear classifier quality gate (score + keep)
          graft.pipeline.Quality.classifierScore(in, idCol, textCol, threshold)
        case "bm25" => // --query 'terms...' (repeatable queries unsupported;
          // one query per invocation keeps the flag surface flat)
          graft.pipeline.Lm.bm25TopK(in, idCol, textCol,
            Seq(1 -> req(o, "query")), o.getOrElse("k", "10").toInt)
        case "retract" => // delete --deletes ids from a landed minhash index
          graft.pipeline.Dedup.retractFromIndex(in,
            spark.read.parquet(req(o, "deletes")), idCol)
        case "chunk" => // sliding-window token shards
          graft.pipeline.Chunking.chunkSliding(in, idCol, textCol,
            o.getOrElse("window", "512").toInt,
            o.getOrElse("stride", "384").toInt)
        case "keywords" => // per-doc top-k TF-IDF keywords
          graft.pipeline.Lm.tfidfTopK(in, idCol, textCol,
            o.getOrElse("k", "3").toInt)
        case "cdc" => // content-defined chunk table (storage/boilerplate dedup)
          graft.pipeline.Dedup.cdcChunks(in, idCol, textCol,
            o.getOrElse("window", "16").toInt,
            o.getOrElse("div", "64").toLong)
        case "expect" => // data-quality expectation suite (one-scan report)
          graft.pipeline.Quality.expectations(in,
            rowRules = Seq(
              "id_not_null" -> col(idCol).isNull,
              "text_nonempty" ->
                (col(textCol).isNull || length(col(textCol)) === 0)),
            uniqueCols = Seq(idCol))
        case "leakage" => // near-dup pairs crossing the train/val/test split
          val split = in.select(col(idCol),
            graft.pipeline.Mixing.splitAssign(
              graft.pipeline.Mixing.hashUnit(col(idCol), "graft-split")).as("split"))
          graft.pipeline.Dedup.minhashPairs(in, idCol, textCol, threshold = threshold)
            .join(split.select(col(idCol).as("i"), col("split").as("split_i")), "i")
            .join(split.select(col(idCol).as("j"), col("split").as("split_j")), "j")
            .filter(col("split_i") =!= col("split_j"))
        case other => throw new IllegalArgumentException(
          s"unknown pipeline op '$other'\n$usage")
      }
      // the op's internal persists (sizeGated measures, PPJoin fan-outs)
      // are released when the write lands — a CLI session chaining ops
      // stays flat without relying on the JVM exiting
      graft.operators.Broadcasts.withReleased(spark) {
        result.write.mode("overwrite").parquet(out)
      }
      println(s"pipeline ${o("op")}: wrote -> $out") // no re-read just for a count

    case other => throw new IllegalArgumentException(s"unknown verb '$other'\n$usage")
  }

  private def req(o: Map[String, String], k: String): String =
    o.getOrElse(k, throw new IllegalArgumentException(s"missing --$k\n$usage"))
  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
}
