package graft.workload

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Golden tests against the reference's fixture corpus (counts mirror
  * reference: src/auditlog_test.go:30-110 and src/replay_test.go:15-96). */
class WorkloadSpec extends SparkSpec {

  private val auditLog = getClass.getResource("/fixture/fe.audit.log").getPath
  private val q0 = getClass.getResource("/fixture/q0.sql").getPath

  test("audit scan golden: only-select + strict + minDuration(8ms) -> 8") {
    val df = AuditLog.queries(spark, auditLog,
      AuditLog.ScanOpts(onlySelect = true, strict = true, minDurationMs = 8))
    assert(df.count() == 8)
  }

  test("audit scan golden: all statements + strict -> 9") {
    val df = AuditLog.queries(spark, auditLog, AuditLog.ScanOpts(strict = true))
    assert(df.count() == 9)
  }

  test("audit scan golden: from/to window -> 7") {
    val df = AuditLog.queries(spark, auditLog, AuditLog.ScanOpts(
      strict = true, from = "2024-08-06 23:44:11", to = "2024-08-06 23:44:12"))
    assert(df.count() == 7)
  }

  test("audit scan: users and dbs as in the fixture") {
    val rows = AuditLog.queries(spark, auditLog, AuditLog.ScanOpts(strict = true))
      .select("user", "db").distinct().collect()
    assert(rows.forall(_.getString(0) == "root"))
    assert(rows.map(_.getString(1)).toSet.subsetOf(Set("mydb", "__internal_schema")))
  }

  test("encode emits reference-shaped /*dodo{...}*/ lines") {
    val df = AuditLog.queries(spark, auditLog,
      AuditLog.ScanOpts(onlySelect = true, strict = true, minDurationMs = 8))
    val lines = AuditLog.encoded(df).collect().map(_.getString(0))
    assert(lines.forall(_.startsWith("""/*dodo{"ts":"""")))
    assert(lines.forall(_.endsWith(";")))
    assert(lines.forall(_.contains(""""user":"root"""")))
    assert(lines.forall(_.contains(""""durationMs":""")))
  }

  test("unescape: outside literals/comments only (reference semantics)") {
    assert(Unescape("""a\nb""") == "a\nb")
    assert(Unescape("""a\tb\rc""") == "a\tb\rc")
    assert(Unescape("""'a\nb'""") == """'a\nb'""")          // string literal kept
    assert(Unescape("""/*c\nc*/x\ny""") == "/*c\\nc*/x\ny") // comment kept
    assert(Unescape("""-- c\n x""") == "-- c\n x")          // line comment ends at \n
    assert(Unescape("""a\\b""") == """a\\b""")              // unknown escape kept
  }

  test("replay decode golden: per-client counts and minTs from q0.sql") {
    val df = ReplayCodec.decode(spark, q0)
    val counts = df.groupBy("client").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map(
      "192.168.48.119:51970" -> 7L, "192.168.48.118:51970" -> 5L))
    val mts = ReplayCodec.minTs(df)
    assert(mts.contains(
      java.sql.Timestamp.valueOf("2024-08-06 23:44:11.041").getTime))
  }

  test("replay decode golden: clientCount=4 re-buckets round-robin 3/3/3/3") {
    val df = ReplayCodec.decode(spark, q0, ReplayCodec.DecodeOpts(clientCount = 4))
    val counts = df.groupBy("client").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("client1" -> 3L, "client2" -> 3L, "client3" -> 3L, "client4" -> 3L))
  }

  test("decode ∘ encode = identity on the audit fixture") {
    val qdf = AuditLog.queries(spark, auditLog, AuditLog.ScanOpts(strict = true))
    val dir = java.nio.file.Files.createTempDirectory("graft_enc").toString
    AuditLog.encoded(qdf).coalesce(1).write.mode("overwrite").text(dir)
    val back = ReplayCodec.decode(spark, dir)
    assert(back.count() == qdf.count())
    val a = qdf.select("queryId", "db", "durationMs").orderBy("queryId").collect().toSeq
    val b = back.select("queryId", "db", "durationMs").orderBy("queryId").collect().toSeq
    assert(a == b)
  }

  test("S8: dump-SQL sink writes one q{i}.sql per input log file, in order") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // two input "log files": the fixture plus a copy with distinct query
    // ids (identical ids would be dropped by the F3 dedup, as in a real
    // dump of overlapping logs)
    val inDir = Files.createTempDirectory("graft_s8_in")
    Files.copy(Paths.get(auditLog), inDir.resolve("a.audit.log"), StandardCopyOption.REPLACE_EXISTING)
    Files.writeString(inDir.resolve("b.audit.log"),
      Files.readString(Paths.get(auditLog)).replace("QueryId=", "QueryId=b"))
    val outDir = Files.createTempDirectory("graft_s8_out").toString
    val qdf = AuditLog.queries(spark, inDir.toString, AuditLog.ScanOpts())
    val written = AuditLog.writeDumpSql(qdf, outDir)
    assert(written == Seq("q0.sql", "q1.sql"))
    val q0Lines = Files.readAllLines(Paths.get(s"$outDir/q0.sql"))
    assert(q0Lines.size > 0)
    assert(q0Lines.get(0).startsWith("/*dodo{"))
    // records may span physical lines (multi-line stmts after unescape);
    // the decoder reassembles them — each file decodes to its own half
    val backA = ReplayCodec.decode(spark, s"$outDir/q0.sql")
    val backB = ReplayCodec.decode(spark, s"$outDir/q1.sql")
    assert(backA.count() + backB.count() == qdf.count())
    assert(backA.count() == backB.count())
    // file b's ids were prefixed, and file order maps a->q0, b->q1
    assert(backB.select("queryId").collect().forall(_.getString(0).startsWith("b")))
    assert(backA.select("queryId").collect().forall(!_.getString(0).startsWith("b")))
  }

  private val splitMaxKey = "mapreduce.input.fileinputformat.split.maxsize"

  /** Hadoop input splits of `path` under a `maxBytes` split cap. */
  private def splitCount(path: String, maxBytes: Long): Int = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set(splitMaxKey, maxBytes.toString)
    spark.sparkContext.newAPIHadoopFile(path,
      classOf[TextInputFormat], classOf[LongWritable], classOf[Text],
      conf).getNumPartitions
  }

  private def withSplitMaxBytes[T](bytes: Long)(body: => T): T = {
    spark.conf.set(splitMaxKey, bytes.toString)
    try body finally spark.conf.unset(splitMaxKey)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("pos", "record").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq

  /** Plain-Scala reference reader: read the file, cut it at record-start
    * lines, drop what precedes the first, number from 1. */
  private def reference(path: String) = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    def isStart(l: String) = l.matches(s"${AuditLog.recordStartRe} .*")
    lines.dropWhile(!isStart(_))
      .foldLeft(Vector.empty[Vector[String]]) { (recs, l) =>
        if (isStart(l)) recs :+ Vector(l) else recs.init :+ (recs.last :+ l)
      }
      .map(_.mkString("\n")).zipWithIndex.map { case (r, i) => (i + 1, r) }
  }

  test("split-boundary reads: many tiny splits == one split, records identical") {
    // Each split reads the records whose start line begins in it, past
    // its end if need be, so the (pos, record) rows must not depend on
    // where Hadoop cuts the splits. Force pathological 512-byte splits
    // (the 26 KB fixture fans out to ~50 splits, cutting mid-record
    // everywhere) and 97-byte splits (shorter than any record's first
    // line, so most splits hold no start line) and compare every read
    // with the plain-Scala reference. The second input puts a ~1.7 KB
    // prelude before the first record, so whole splits hold nothing but
    // lines to drop.
    val withPrelude = java.nio.file.Files.createTempFile("graft_prelude", ".log")
    java.nio.file.Files.writeString(withPrelude,
      Seq.tabulate(30)(i => s"prelude line $i " + "x" * 40).mkString("", "\n", "\n") +
        java.nio.file.Files.readString(java.nio.file.Paths.get(auditLog)))
    for (path <- Seq(auditLog, withPrelude.toString)) {
      val want = reference(path)
      assert(want.exists(_._2.contains('\n')), "fixture has multi-line records")
      assert(splitCount(path, Long.MaxValue) == 1)
      assert(rows(AuditLog.records(spark, path)) == want,
        s"one-split read of $path must equal the reference")
      for (bytes <- Seq(512L, 97L)) {
        assert(splitCount(path, bytes) > 1)
        withSplitMaxBytes(bytes) {
          val df = AuditLog.records(spark, path)
          assert(df.rdd.getNumPartitions == splitCount(path, bytes),
            "the session's split cap reaches the reader")
          assert(rows(df) == want,
            s"$bytes-byte-split read of $path must equal the reference")
        }
      }
    }
  }

  test("single-split files: the counting pass pulls one line per split") {
    // Each file of the directory is one split, so each is its file's
    // last split and no split needs a count; the counting job (which
    // runs inside `records`, as there are two splits) must stop after
    // each split's first line. Input records read are counted per task
    // for the jobs under a tag, fenced by a later tagged job: listener
    // events arrive in order.
    import java.nio.file.{Files, Paths}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val dir = Files.createTempDirectory("graft_two_logs")
    val fixture = Files.readString(Paths.get(auditLog))
    Files.writeString(dir.resolve("a.log"), fixture)
    Files.writeString(dir.resolve("b.log"), "prelude line\n" + fixture.split("\n").take(20).mkString("", "\n", "\n"))
    val countStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val pulled = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val fenced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = String.valueOf(e.properties.getProperty("spark.job.tags")).split(",")
        if (tags.contains("graft-test-count")) e.stageIds.foreach(countStages.add)
        if (tags.contains("graft-test-fence")) fenced.set(true)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        pulled.add(e.stageId -> e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val df = try {
      spark.sparkContext.addJobTag("graft-test-count")
      val df = try AuditLog.records(spark, dir.toString)
        finally spark.sparkContext.removeJobTag("graft-test-count")
      spark.sparkContext.addJobTag("graft-test-fence")
      try spark.range(1).count() finally spark.sparkContext.removeJobTag("graft-test-fence")
      eventually(timeout(30.seconds))(assert(fenced.get()))
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(df.rdd.getNumPartitions == 2)
    val counts = pulled.toArray(Array.empty[(Int, Long)]).filter(p => countStages.contains(p._1))
    assert(counts.length == 2, "one counting task per split")
    assert(counts.forall(_._2 <= 1), s"lines pulled per counting task: ${counts.map(_._2).toSeq}")
    val got = df.select("file", "pos", "record").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    for (name <- Seq("a.log", "b.log")) {
      val want = reference(dir.resolve(name).toString)
      assert(want.nonEmpty)
      assert(got.filter(_._1.endsWith(s"/$name")).map(r => (r._2, r._3)).sortBy(_._1).toSeq == want,
        s"records of $name must equal the reference")
    }
  }

  test("a gzip copy of the log reads the same rows as the plain file") {
    import java.nio.file.{Files, Paths}
    val gz = Files.createTempDirectory("graft_gz").resolve("fe.audit.log.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try Files.copy(Paths.get(auditLog), out) finally out.close()
    val want = reference(auditLog)
    assert(rows(AuditLog.records(spark, gz.toString)) == want)
    // a compressed file is never split, whatever the split cap
    withSplitMaxBytes(512) {
      val df = AuditLog.records(spark, gz.toString)
      assert(df.rdd.getNumPartitions == 1)
      assert(rows(df) == want)
    }
  }

  test("reader streams: the first record is out before the split is read") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapreduce.TaskAttemptID
    import org.apache.hadoop.mapreduce.lib.input.FileSplit
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val file = new Path(auditLog)
    val len = java.nio.file.Files.size(java.nio.file.Paths.get(auditLog))
    val split = new FileSplit(file, 0L, len, Array.empty[String])
    val ctx = new TaskAttemptContextImpl(spark.sessionState.newHadoopConf(), new TaskAttemptID())
    val reader = new LinesToEof().createRecordReader(split, ctx)
    reader.initialize(split, ctx)
    try {
      var pulled = 0
      val lines = Iterator.continually(reader).takeWhile(_.nextKeyValue()).map { r =>
        pulled += 1
        (r.getCurrentKey, r.getCurrentValue)
      }
      val recs = AuditLog.group(lines,
        java.util.regex.Pattern.compile(s"${AuditLog.recordStartRe} "))
      val want = reference(auditLog)
      assert(recs.next() == want.head._2)
      // the first record's lines plus the start line that closed it
      assert(pulled == want.head._2.count(_ == '\n') + 2,
        "the reader must not drain its split to emit a record")
      assert(recs.toSeq == want.tail.map(_._2))
      assert(pulled == java.nio.file.Files.readAllLines(java.nio.file.Paths.get(auditLog)).size)
    } finally reader.close()
  }

  test("decode of a dump directory: 512-byte splits == natural read, row for row") {
    import java.nio.file.{Files, Paths}
    val qdf = AuditLog.queries(spark, auditLog, AuditLog.ScanOpts())
    val outDir = Files.createTempDirectory("graft_dump").toString
    assert(AuditLog.writeDumpSql(qdf, outDir) == Seq("q0.sql"))
    assert(Files.isDirectory(Paths.get(s"$outDir/_staging")), "dump keeps its staging dir")
    def rows() = ReplayCodec.decode(spark, outDir, ReplayCodec.DecodeOpts(clientCount = 4))
      .select("file", "sqlIdx", "queryId", "stmt", "client").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4)))
      .sortBy(r => (r._1, r._2)).toSeq
    val natural = rows()
    assert(splitCount(s"$outDir/q0.sql", 512) > 1)
    val forced = withSplitMaxBytes(512)(rows())
    assert(forced == natural)
    assert(natural.map(_._2) == natural.indices, "sqlIdx is a dense 0-based index")
    // stmt is the dumped statement with its `;` and no line terminator
    val want = qdf.select("queryId", "stmt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(natural.size == want.size)
    natural.foreach { case (_, _, id, stmt, _) =>
      val w = want(id)
      assert(stmt == (if (w.endsWith(";")) w else w + ";"), s"stmt of $id")
    }
  }
}
