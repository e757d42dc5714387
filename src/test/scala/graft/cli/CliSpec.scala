package graft.cli

import java.nio.file.{Files, Paths}
import graft.SparkSpec

/** The dodo-verb command surface, driven end-to-end: dump → replay →
  * diff on the audit fixture, gendata from DDL, anonymize, stats. */
class CliSpec extends SparkSpec {

  private val auditLog = getClass.getResource("/fixture/fe.audit.log").getPath

  test("dump -> replay -> replay -> diff round-trip") {
    val dumpDir = Files.createTempDirectory("cli_dump").toString
    Cli.run(spark, "dump", Map("audit-log" -> auditLog, "out" -> dumpDir))
    assert(Files.exists(Paths.get(s"$dumpDir/q0.sql")))

    val r1 = Files.createTempDirectory("cli_r1").toString
    val r2 = Files.createTempDirectory("cli_r2").toString
    Cli.run(spark, "replay", Map("source" -> s"$dumpDir/q0.sql", "out" -> r1,
      "speed" -> "1000000", "max-hash-rows" -> "10"))
    Cli.run(spark, "replay", Map("source" -> s"$dumpDir/q0.sql", "out" -> r2,
      "speed" -> "1000000", "max-hash-rows" -> "10"))
    assert(new java.io.File(r1).list().exists(_.endsWith(".result")))
    // deterministic replays diff clean
    Cli.run(spark, "diff", Map("left" -> r1, "right" -> r2,
      "min-duration-diff" -> "60000"))
  }

  test("gendata from DDL file generates the configured rows") {
    val ddl = Files.createTempFile("cli_ddl", ".sql")
    Files.writeString(ddl, "CREATE TABLE g (id bigint NOT NULL, v varchar(8) NULL)")
    val out = Files.createTempDirectory("cli_gen").toString
    Cli.run(spark, "gendata", Map("ddl" -> ddl.toString, "out" -> out,
      "rows" -> "50", "format" -> "parquet"))
    assert(spark.read.parquet(s"$out/g/conf_0").count() == 50)
  }

  test("stats writes a stats.yaml round-trippable by the rule system") {
    val data = Files.createTempDirectory("cli_stats_in").toString
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
      .toDF("id", "v").write.mode("overwrite").parquet(data)
    val out = Files.createTempFile("cli_stats", ".yaml").toString
    Cli.run(spark, "stats", Map("table" -> data, "name" -> "t", "out" -> out, "exact" -> "true"))
    val (_, tables) = graft.stats.Stats.fromYaml(Files.readString(Paths.get(out)))
    assert(tables.head.rowCount == 3)
    assert(tables.head.col("v").exists(_.nullCount == 1))
    assert(tables.head.col("id").exists(_.ndv == 3))

    // --histogram col[:buckets] lands a CSV beside the YAML
    Cli.run(spark, "stats", Map("table" -> data, "name" -> "t", "out" -> out,
      "histogram" -> "id:2"))
    val hist = Files.readString(Paths.get(out + ".hist.csv")).split("\n").toSeq
    assert(hist.head == "column,bucket,bucket_lo,bucket_hi,cnt")
    assert(hist.tail.map(_.split(",")(1)).toSeq == Seq("0", "1"))
    assert(hist.tail.map(_.split(",")(4)).toSeq == Seq("1", "2"))
  }

  test("anonymize verb rewrites a SQL file and persists the minihash dict") {
    val f = Files.createTempFile("cli_anon", ".sql")
    Files.writeString(f, "SELECT customer_name FROM shop.customers WHERE customer_name LIKE 'a%'\n")
    val dictOut = Files.createTempFile("cli_dict", ".yaml").toString
    Cli.run(spark, "anonymize", Map("file" -> f.toString,
      "method" -> "minihash", "dict-out" -> dictOut))
    val dict = graft.anon.Anonymizer.loadDictYaml(Files.readString(Paths.get(dictOut)))
    // two identifiers got minihash aliases (plus the @@last cursor)
    assert(dict.size >= 3)
    assert(dict.contains("@@last"))
  }

  test("driver flagship entry() returns rows at sf0.001") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("pipeline verb: dedup / scrub / split / decontaminate over a parquet corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "s1"),
      (2L, "alpha beta gamma delta epsilon zeta", "s1"), // exact dup of 1
      (3L, "mail me at bob@example.com today", "s2"),
      (4L, "totally different text content here", "s2")
    ).toDF("doc_id", "text", "source")
    val inDir = Files.createTempDirectory("cli_pipe_in").toString
    corpus.write.mode("overwrite").parquet(inDir)

    val dedupOut = Files.createTempDirectory("cli_pipe_dedup").toString
    Cli.run(spark, "pipeline", Map("op" -> "dedup", "in" -> inDir, "out" -> dedupOut))
    val kept = spark.read.parquet(dedupOut).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L)) // min doc_id survives the dup group

    val expectOut = Files.createTempDirectory("cli_pipe_expect").toString
    Cli.run(spark, "pipeline", Map("op" -> "expect", "in" -> inDir, "out" -> expectOut))
    val report = spark.read.parquet(expectOut)
      .select("rule", "n_violations")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report == Map("id_not_null" -> 0L, "text_nonempty" -> 0L,
      "unique_doc_id" -> 0L))

    val scrubOut = Files.createTempDirectory("cli_pipe_scrub").toString
    Cli.run(spark, "pipeline", Map("op" -> "scrub", "in" -> inDir, "out" -> scrubOut))
    val scrubbed = spark.read.parquet(scrubOut).filter(col("doc_id") === 3L)
      .head().getAs[String]("text")
    assert(scrubbed == "mail me at [EMAIL] today")

    val splitOut = Files.createTempDirectory("cli_pipe_split").toString
    Cli.run(spark, "pipeline", Map("op" -> "split", "in" -> inDir, "out" -> splitOut))
    val splits = spark.read.parquet(splitOut).select("split")
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))

    val packOut = Files.createTempDirectory("cli_pipe_pack").toString
    Cli.run(spark, "pipeline", Map("op" -> "pack", "in" -> inDir,
      "out" -> packOut, "budget" -> "8"))
    val bins = spark.read.parquet(packOut).select("doc_id", "bin")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bins.size == 4 && bins.values.forall(_ >= 0))
    // missing stratum column errors usefully (not an unresolved-column CCE)
    val noSrc = Files.createTempDirectory("cli_pipe_nosrc").toString
    corpus.drop("source").write.mode("overwrite").parquet(noSrc)
    val e = intercept[IllegalArgumentException] {
      Cli.run(spark, "pipeline", Map("op" -> "pack", "in" -> noSrc, "out" -> packOut))
    }
    assert(e.getMessage.contains("--source-col"))

    val probeDir = Files.createTempDirectory("cli_pipe_probe").toString
    Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(probeDir)
    val deconOut = Files.createTempDirectory("cli_pipe_decon").toString
    Cli.run(spark, "pipeline", Map("op" -> "decontaminate", "in" -> inDir,
      "out" -> deconOut, "probe" -> probeDir))
    val hits = spark.read.parquet(deconOut).select("train_id")
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2L)) // the probe text appears in docs 1 and 2
  }

  test("pipeline verb: clean / spans / mix / merges / nll / cluster") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = Seq(
      (1L, "a good enough sentence sits right here.\nplease enable javascript now today ok.", "s1"),
      (2L, "another fine and complete sentence lives here.", "s1"),
      (3L, "one two three four five six seven eight nine ten", "s2"),
      (4L, "one two three four five six seven eight nine eleven", "s2")
    ).toDF("doc_id", "text", "source")
    val inDir = Files.createTempDirectory("cli_cur_in").toString
    corpus.write.mode("overwrite").parquet(inDir)

    val cleanOut = Files.createTempDirectory("cli_cur_clean").toString
    Cli.run(spark, "pipeline", Map("op" -> "clean", "in" -> inDir, "out" -> cleanOut))
    val c1 = spark.read.parquet(cleanOut).filter(col("doc_id") === 1L).head()
    assert(c1.getAs[Long]("n_boiler") === 1 && c1.getAs[Long]("n_kept") === 1)

    val spansOut = Files.createTempDirectory("cli_cur_spans").toString
    Cli.run(spark, "pipeline", Map("op" -> "spans", "in" -> inDir,
      "out" -> spansOut, "window" -> "9"))
    val sp = spark.read.parquet(spansOut).select("doc_id", "n_dup_windows")
      .as[(Long, Long)].collect().toMap
    assert(sp(3L) === 1 && sp(4L) === 1) // docs 3/4 share their 9-token prefix
    assert(sp(1L) === 0 && sp.size === 4) // short docs present with zero counts

    val mixOut = Files.createTempDirectory("cli_cur_mix").toString
    Cli.run(spark, "pipeline", Map("op" -> "mix", "in" -> inDir,
      "out" -> mixOut, "tau" -> "1.0", "target-frac" -> "1.0"))
    val mixed = spark.read.parquet(mixOut)
    assert(mixed.filter(col("kept")).count() === 4) // tau=1,f=1 keeps all

    val mergesOut = Files.createTempDirectory("cli_cur_merges").toString
    Cli.run(spark, "pipeline", Map("op" -> "merges", "in" -> inDir,
      "out" -> mergesOut, "k" -> "2"))
    val m = spark.read.parquet(mergesOut).orderBy("rank")
      .select("pair").as[String].collect()
    assert(m.length === 2 && m.head.nonEmpty)

    val nllOut = Files.createTempDirectory("cli_cur_nll").toString
    Cli.run(spark, "pipeline", Map("op" -> "nll", "in" -> inDir, "out" -> nllOut))
    assert(spark.read.parquet(nllOut).count() === 4)

    val encOut = Files.createTempDirectory("cli_cur_enc").toString
    Cli.run(spark, "pipeline", Map("op" -> "encode", "in" -> inDir,
      "out" -> encOut, "merges" -> mergesOut))
    val enc = spark.read.parquet(encOut)
    assert(enc.count() === 4 &&
      enc.filter(col("n_encoded") > col("n_pre")).count() === 0)

    val pairsDir = Files.createTempDirectory("cli_cur_pairs").toString
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")
      .write.mode("overwrite").parquet(pairsDir)
    val clusterOut = Files.createTempDirectory("cli_cur_cluster").toString
    Cli.run(spark, "pipeline", Map("op" -> "cluster", "in" -> pairsDir,
      "out" -> clusterOut))
    val labels = spark.read.parquet(clusterOut).as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("pipeline verb: lines / bigram-nll / classify / bm25 / chunk / keywords / retract") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val footer = "all rights reserved."
    val corpus = Seq(
      (1L, s"the rare word appears here once today\n$footer", "s1"),
      (2L, s"the common words appear here again now\n$footer", "s1"),
      (3L, s"more common words fill this line out\n$footer", "s2")
    ).toDF("doc_id", "text", "source")
    val inDir = Files.createTempDirectory("cli_r6_in").toString
    corpus.write.mode("overwrite").parquet(inDir)

    val linesOut = Files.createTempDirectory("cli_r6_lines").toString
    Cli.run(spark, "pipeline", Map("op" -> "lines", "in" -> inDir,
      "out" -> linesOut, "max-docs" -> "3"))
    val ln = spark.read.parquet(linesOut).select("doc_id", "n_removed")
      .as[(Long, Long)].collect().toMap
    assert(ln.values.forall(_ === 1L)) // the shared footer dies everywhere

    val bnOut = Files.createTempDirectory("cli_r6_bn").toString
    Cli.run(spark, "pipeline", Map("op" -> "bigram-nll", "in" -> inDir, "out" -> bnOut))
    assert(spark.read.parquet(bnOut).count() === 3)

    val clsOut = Files.createTempDirectory("cli_r6_cls").toString
    Cli.run(spark, "pipeline", Map("op" -> "classify", "in" -> inDir, "out" -> clsOut))
    val cls = spark.read.parquet(clsOut)
    assert(cls.count() === 3 && cls.columns.contains("keep"))

    val bmOut = Files.createTempDirectory("cli_r6_bm").toString
    Cli.run(spark, "pipeline", Map("op" -> "bm25", "in" -> inDir,
      "out" -> bmOut, "query" -> "rare", "k" -> "5"))
    val bm = spark.read.parquet(bmOut).orderBy("rk")
    assert(bm.head().getAs[Long]("id") === 1L) // only doc 1 has the term

    val chunkOut = Files.createTempDirectory("cli_r6_chunk").toString
    Cli.run(spark, "pipeline", Map("op" -> "chunk", "in" -> inDir,
      "out" -> chunkOut, "window" -> "4", "stride" -> "3"))
    assert(spark.read.parquet(chunkOut).count() > 3) // docs shard into >1 chunk

    val kwOut = Files.createTempDirectory("cli_r6_kw").toString
    Cli.run(spark, "pipeline", Map("op" -> "keywords", "in" -> inDir,
      "out" -> kwOut, "k" -> "2"))
    assert(spark.read.parquet(kwOut).filter(col("rk") <= 2L).count() === 6)

    // retract: --in is the landed index, --deletes the takedown ids
    val idxDir = Files.createTempDirectory("cli_r6_idx").toString
    graft.pipeline.Dedup.minhashIndex(corpus, "doc_id", "text")
      .write.mode("overwrite").parquet(idxDir)
    val delDir = Files.createTempDirectory("cli_r6_del").toString
    Seq(2L).toDF("doc_id").write.mode("overwrite").parquet(delDir)
    val retrOut = Files.createTempDirectory("cli_r6_retr").toString
    Cli.run(spark, "pipeline", Map("op" -> "retract", "in" -> idxDir,
      "out" -> retrOut, "deletes" -> delDir))
    val ids = spark.read.parquet(retrOut).select("id").distinct()
      .as[Long].collect().toSet
    assert(ids === Set(1L, 3L))

    // cdc: chunk table conserves per-doc char mass
    val cdcOut = Files.createTempDirectory("cli_r6_cdc").toString
    Cli.run(spark, "pipeline", Map("op" -> "cdc", "in" -> inDir, "out" -> cdcOut))
    val mass = spark.read.parquet(cdcOut).groupBy("doc_id")
      .agg(sum("chunk_len").as("n")).as[(Long, Long)].collect().toMap
    val want = corpus.select(col("doc_id"), length(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(mass === want)

    // leakage: cross-split near-dup pairs carry both split labels
    val leakOut = Files.createTempDirectory("cli_r6_leak").toString
    Cli.run(spark, "pipeline", Map("op" -> "leakage", "in" -> inDir,
      "out" -> leakOut, "threshold" -> "0.1"))
    val leak = spark.read.parquet(leakOut)
    assert(leak.columns.toSet.contains("split_i") && leak.columns.contains("split_j"))
    assert(leak.filter(col("split_i") === col("split_j")).count() === 0)
  }

  test("export verb writes each db.table through the URL template") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS cli_exp")
    Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "c"))
      .toDF("id", "v").createOrReplaceTempView("src_exp")
    spark.sql("CREATE TABLE cli_exp.items USING parquet AS SELECT * FROM src_exp")
    val root = Files.createTempDirectory("cli_export").toString
    Cli.run(spark, "export", Map(
      "tables" -> "cli_exp.items", "url" -> s"$root/{db}/{table}",
      "format" -> "csv", "options" -> "header=false"))
    val out = spark.read.option("sep", "☆").option("nullValue", "\\N")
      .schema("id LONG, v STRING").csv(s"$root/cli_exp/items")
    assert(out.count() == 3)
    assert(out.where($"v".isNull).count() == 1)
    // db.table without a dot is rejected
    intercept[IllegalArgumentException] {
      Cli.run(spark, "export", Map("tables" -> "items", "url" -> s"$root/x"))
    }
    spark.sql("DROP DATABASE cli_exp CASCADE")
  }

  test("unknown verb and missing flags error usefully") {
    val e1 = intercept[IllegalArgumentException] { Cli.run(spark, "nope", Map.empty) }
    assert(e1.getMessage.contains("unknown verb"))
    val e2 = intercept[IllegalArgumentException] { Cli.run(spark, "dump", Map.empty) }
    assert(e2.getMessage.contains("--audit-log"))
    assert(Cli.parseFlags(Seq("--a", "1", "--flag", "--b", "x")) ==
      Map("a" -> "1", "flag" -> "true", "b" -> "x"))
  }
}
