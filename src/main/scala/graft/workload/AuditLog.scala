package graft.workload

import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{ByteWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.InputSplit
import org.apache.hadoop.mapreduce.lib.input.FileSplit
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** Audit-log workload extraction (SURVEY.md §2.1 S1–S3, §2.2 F1–F5).
  *
  * Pipeline: file scan with multi-line record reassembly → one regex
  * extraction into typed columns → statement filters (truncated / self /
  * EXPLAIN-SHOW-USE / time window / min duration) → query-id dedup →
  * unescape → optional strict parse-validation → replay-format encode.
  *
  * Scale design: a line-based scan — big unrotated files split across
  * tasks like any text source, and each split reads its records whole
  * (see `records`). Records never cross files, so a 10k-file 100 TB log
  * directory still fans out to independent tasks, and a single multi-GB
  * file never serializes into one task or one JVM string.
  */
object AuditLog {

  /** Record-start pattern: `yyyy-mm-dd HH:MM:SS,S…` at line head. */
  val recordStartRe = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d*"""

  /** The extraction regex (groups: time, client, user, db, durationMs,
    * queryId, isQuery, stmt) — reference: src/auditlog.go:29. `(?s)` lets
    * Stmt span the record's embedded newlines. */
  def extractRe(dbs: Seq[String] = Nil, states: Seq[String] = Nil,
                onlySelect: Boolean = false): String = {
    val dbPat = if (dbs.nonEmpty) dbs.map(java.util.regex.Pattern.quote).mkString("|") else "[^|]*"
    val statePat = if (states.nonEmpty) states.map(java.util.regex.Pattern.quote).mkString("|") else "[^|]*"
    val isQueryPat = if (onlySelect) "true" else "[^|]+"
    s"(?s)^($recordStartRe) \\[[^\\]]+\\] \\|Client=([^|]+)\\|User=([^|]+)(?:\\|Ctl=[^|]+)?" +
      s"\\|Db=($dbPat)(?:\\|CommandType=[^|]+)?\\|State=($statePat)\\|(?:.+?)\\|Time(?:\\(ms\\))?=(\\d*)" +
      s"\\|(?:.+?)\\|QueryId=([a-z0-9-]+)\\|IsQuery=($isQueryPat)\\|(?:.+?)\\|Stmt=(.+?)\\|CpuTimeMS="
  }

  /** Header-prefix pattern (through IsQuery — every field on the record's
    * first line), usable both on reassembled records and on single lines:
    * the cross-engine parity surface for the oracle. Groups: time(1),
    * client(2), user(3), db(4), state(5), queryId(6), isQuery(7). */
  val headerRe: String =
    s"^($recordStartRe) \\[[^\\]]+\\] \\|Client=([^|]+)\\|User=([^|]+)(?:\\|Ctl=[^|]+)?" +
      "\\|Db=([^|]*)(?:\\|CommandType=[^|]+)?\\|State=([^|]*)\\|(?:.+?)" +
      "\\|QueryId=([a-z0-9-]+)\\|IsQuery=([^|]+)\\|"

  case class ScanOpts(
      dbs: Seq[String] = Nil,
      states: Seq[String] = Nil,
      onlySelect: Boolean = false,
      minDurationMs: Long = 0,
      from: String = "", to: String = "",
      strict: Boolean = false)

  /** S1: file scan + multi-line reassembly — the one reader for
    * start-line-delimited text (audit logs here, replay dumps in
    * [[ReplayCodec.decode]]). One row per *record*: a line matching
    * `startRe` at its head opens a record, any other line belongs to the
    * previous one, lines before a file's first start line are dropped.
    * Columns: file, pos (1-based record index within its file), record
    * (lines joined with `\n`, line terminators dropped). Each task
    * decodes its file's lines in the charset [[CharsetDetect]] finds in
    * the file's first 4 KB (S2); a UTF-16 file (a BOM) is rejected, as
    * the line reader needs a charset that keeps ASCII bytes ASCII.
    *
    * Scale design: a LINE-based scan, never one row per file — one
    * unrotated multi-GB log (or the multi-GB `q0.sql` dumped from it)
    * must neither hit Spark's ~2 GB single-string ceiling nor serialize
    * into one task (the reference streams the file line by line for the
    * same reason, src/auditlog.go:88-138). A record belongs to the
    * split its start line begins in, the rule Hadoop's line reader uses
    * for a line: each task reads its split's lines in order, drops the
    * head that ends an earlier split's record, and reads past the split
    * end to finish its last record ([[LinesToEof]], [[group]]). One
    * counting job gives each split its base, the records that start in
    * its file's earlier splits, so `pos` is base + index within the
    * split: no persist, window, shuffle or broadcast, and only one
    * record ever exists as one string. The session's
    * `mapreduce.input.fileinputformat.split.maxsize` caps the split size
    * (unset, Hadoop's block-size splits apply). */
  def records(spark: SparkSession, path: String,
              startRe: String = s"$recordStartRe "): DataFrame = {
    val start = java.util.regex.Pattern.compile(startRe)
    val conf = spark.sessionState.newHadoopConf()
    val lines = spark.sparkContext.newAPIHadoopFile(path, classOf[LinesToEof],
        classOf[ByteWritable], classOf[Text], conf)
      .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[ByteWritable, Text]]
    // each split's base: the records that start in its file's earlier
    // splits, from one counting job (the RDD.zipWithIndex pattern; none
    // when there is one split). A file's last split counts for no later
    // split, and its first line's key says so: it stops there. The
    // start pattern is ASCII and no detected charset uses 0x0A or 0x0D
    // as a trail byte, so counting reads every file as UTF-8.
    val bases: Map[(String, Long), Long] =
      if (lines.getNumPartitions <= 1) Map.empty
      else lines.mapPartitionsWithInputSplit { (s, it) =>
          val in = it.buffered
          val n =
            if (in.hasNext && in.head._1.get == LinesToEof.InLastSplit) 0L
            else group(in, start).size.toLong
          Iterator(fileAndStart(s) -> n)
        }
        .collect().groupBy(_._1._1).valuesIterator.flatMap { counts =>
          val sorted = counts.sortBy(_._1._2)
          sorted.iterator.map(_._1).zip(sorted.iterator.scanLeft(0L)(_ + _._2))
        }.toMap
    val taskConf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    spark.createDataFrame(lines.mapPartitionsWithInputSplit { (s, it) =>
      val (file, off) = fileAndStart(s)
      val base = bases.getOrElse((file, off), 0L)
      group(it, start, charsetOf(s, taskConf.value.value)).zipWithIndex
        .map { case (r, i) => (file, (base + i + 1).toInt, r) }
    }).toDF("file", "pos", "record")
  }

  private def fileAndStart(split: InputSplit): (String, Long) = {
    val f = split.asInstanceOf[FileSplit]
    (f.getPath.toString, f.getStart)
  }

  /** The charset of the split's file, detected from its first 4 KB
    * (decompressed, if a codec applies). */
  private def charsetOf(split: InputSplit, conf: Configuration): Charset = {
    val path = split.asInstanceOf[FileSplit].getPath
    val codec = new CompressionCodecFactory(conf).getCodec(path)
    val raw = path.getFileSystem(conf).open(path)
    val in = if (codec == null) raw else codec.createInputStream(raw)
    val name = try detectEncoding(in.readNBytes(4096)) finally in.close()
    if (name == "UTF-16") throw new IllegalArgumentException(
      s"$path is UTF-16 (byte-order mark); the record reader needs an " +
        "ASCII-compatible charset: convert the file, e.g. to UTF-8")
    Charset.forName(name)
  }

  /** Cut one split's lines, keyed as [[LinesToEof]] keys them, in file
    * order and decoded in `cs`, into records. Lines before the first
    * start line end a record of an earlier split (or are a prelude) and
    * are dropped; a record runs to the next start line, and the first
    * start line past the split end stops the split. Lazy: only the
    * current record is held in memory. */
  private[workload] def group(lines: Iterator[(ByteWritable, Text)],
                              start: java.util.regex.Pattern,
                              cs: Charset = UTF_8): Iterator[String] = {
    val in = lines.map { case (key, text) =>
      val l = new String(text.getBytes, 0, text.getLength, cs)
      (key.get == LinesToEof.PastEnd, start.matcher(l).lookingAt(), l)
    }.buffered
    while (in.hasNext && !in.head._1 && !in.head._2) in.next()
    new Iterator[String] {
      def hasNext: Boolean = in.hasNext && !in.head._1 && in.head._2
      def next(): String = {
        if (!hasNext) throw new NoSuchElementException("no more records")
        val sb = new java.lang.StringBuilder(in.next()._3)
        while (in.hasNext && !in.head._2) sb.append('\n').append(in.next()._3)
        sb.toString
      }
    }
  }

  /** S2: encoding detection over a head sample — strict UTF-8 probe
    * first (reference keeps UTF-8 whenever plausible), then
    * [[CharsetDetect]]'s structural+statistical scorer over the charsets
    * an audit log plausibly arrives in (Shift_JIS, EUC-KR, GB18030,
    * Big5, the Latin family), falling back to GB18030 — mirroring the
    * reference's chardet + GBK→GB18030 promotion (reference:
    * src/auditlog.go:438-457, src/misc.go:116-163). */
  def detectEncoding(head: Array[Byte]): String = CharsetDetect.detect(head)

  /** S3 + F1: regex extraction into typed columns. Rows whose record does
    * not match the (db/state/only-select-refined) pattern are dropped —
    * the same pushdown the reference folds into its regex. */
  def events(spark: SparkSession, path: String, opts: ScanOpts = ScanOpts()): DataFrame = {
    val re = extractRe(opts.dbs, opts.states, opts.onlySelect)
    def g(i: Int) = regexp_extract(col("record"), re, i)
    records(spark, path)
      .withColumn("m", regexp_extract(col("record"), re, 1))
      .filter(col("m") =!= "")
      .select(
        col("file"), col("pos"),
        regexp_replace(g(1), ",", ".").as("ts"),
        g(2).as("client"), g(3).as("user"), g(4).as("db"), g(5).as("state"),
        g(6).cast("long").as("durationMs"),
        g(7).as("queryId"), (g(8) === "true").as("isQuery"),
        trim(g(9)).as("stmt"))
  }

  /** F2–F4: statement filters + query-id dedup + unescape, mirroring the
    * reference's onMatch/filterStmtFromMatch (src/auditlog.go:258-339). */
  def queries(spark: SparkSession, path: String, opts: ScanOpts = ScanOpts()): DataFrame = {
    val ev = events(spark, path, opts)
      // dedup before filtering, like the reference's distinctQueryIds cache
      // (F3) — exact dropDuplicates instead of a bounded sliding window
      .dropDuplicates("queryId")
      .filter(col("stmt") =!= "")
      // truncated statements (audit_plugin_max_sql_length)
      .filter(!col("stmt").endsWith("...") &&
        !(col("stmt").endsWith("*/") && col("stmt").contains("... /*")))
      // dodo self-queries
      .filter(!col("stmt").startsWith("/*dodo"))
    val ev2 =
      if (!opts.onlySelect) ev.filter(!col("stmt").rlike("(?i)^(EXPLAIN|SHOW|USE)"))
      else ev
    val ev3 = ev2
      .filter(if (opts.from.nonEmpty) substring_index(col("ts"), ".", 1) >= opts.from else lit(true))
      .filter(if (opts.to.nonEmpty) substring_index(col("ts"), ".", 1) <= opts.to else lit(true))
      .filter(if (opts.minDurationMs > 0) col("durationMs") >= opts.minDurationMs else lit(true))
      .withColumn("stmt", Unescape.udf(col("stmt")))
    if (opts.strict) ev3.filter(ParseValidate.udf(col("stmt"))) else ev3
  }

  /** F7/S8: encode rows to replay-format lines
    * `/*dodo{meta}*/ stmt;` (reference: src/replay.go:514-533).
    * durationMs is omitted when 0 (json omitempty parity). */
  def encodeReplaySql(ts: Column, client: Column, user: Column, db: Column,
                      queryId: Column, durationMs: Column, stmt: Column): Column = {
    val metaFull = to_json(struct(
      ts.as("ts"), client.as("client"), user.as("user"), db.as("db"),
      queryId.as("queryId"), durationMs.as("durationMs")))
    val metaNoDur = to_json(struct(
      ts.as("ts"), client.as("client"), user.as("user"), db.as("db"),
      queryId.as("queryId")))
    val meta = when(durationMs.isNull || durationMs === 0, metaNoDur).otherwise(metaFull)
    val line = concat(lit("/*dodo"), meta, lit("*/ "), stmt)
    when(line.endsWith(";"), line).otherwise(concat(line, lit(";")))
  }

  def encoded(df: DataFrame): DataFrame =
    df.select(encodeReplaySql(col("ts"), col("client"), col("user"), col("db"),
      col("queryId"), col("durationMs"), col("stmt")).as("line"))

  /** S8: dump-SQL file sink — one `q{i}.sql` per input log file, lines in
    * file order (reference: cmd/dump.go:461-536). The write itself is one
    * distributed job partitioned by source-file index; the q{i} renames
    * are driver-side metadata moves. */
  def writeDumpSql(queriesDf: DataFrame, outDir: String): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val spark = queriesDf.sparkSession
    val files = queriesDf.select("file").distinct().collect().map(_.getString(0)).sorted
    // file → index as a broadcast join against a tiny frame — NOT a
    // when-chain: at the reference's own 10k-rotated-file target a
    // 10k-deep nested CaseWhen blows up analysis/codegen.
    val idxDf = broadcast(
      spark.createDataFrame(files.toSeq.zipWithIndex).toDF("file", "fileIdx"))
    val staging = s"$outDir/_staging"
    queriesDf.join(idxDf, "file")
      .withColumn("line", encodeReplaySql(col("ts"), col("client"), col("user"),
        col("db"), col("queryId"), col("durationMs"), col("stmt")))
      .repartition(col("fileIdx"))
      .sortWithinPartitions("fileIdx", "pos")
      .select(col("fileIdx"), col("line"))
      .write.mode("overwrite").partitionBy("fileIdx").text(staging)
    // q{i}.sql per input file: stream-concatenate the sorted part files
    // (constant driver memory — never materialize a file's lines).
    Files.createDirectories(Paths.get(outDir))
    val out = files.indices.map { i =>
      val partDir = Paths.get(s"$staging/fileIdx=$i")
      val parts = Files.list(partDir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      val target = Paths.get(s"$outDir/q$i.sql")
      val os = new java.io.BufferedOutputStream(Files.newOutputStream(target))
      try parts.foreach(p => Files.copy(p, os)) finally os.close()
      s"q$i.sql"
    }
    out
  }
}

/** F4: unescape \n, \t, \r outside string literals and comments — a
  * stateful character scan, the one audit-path op not expressible in
  * builtin functions (reference: src/auditlog.go:341-390). */
object Unescape {
  def apply(stmt: String): String = {
    val w = new StringBuilder(stmt.length)
    var ignoreUntil = ""
    var i = 0
    while (i < stmt.length) {
      val curr = stmt.charAt(i)
      if (i < stmt.length - 1) {
        if (ignoreUntil.nonEmpty) {
          // a `--` comment ends at the ESCAPED newline ("\n" two-char
          // sequence, the audit-log encoding) OR a REAL newline —
          // reassembled multi-line records contain real '\n' chars, and
          // staying in comment mode past the true line end would let the
          // scanner "unescape" sequences inside a later string literal
          if (ignoreUntil == "\\n" && curr == '\n') ignoreUntil = ""
          else if (curr == ignoreUntil.charAt(0) &&
              (ignoreUntil.length < 2 || stmt.charAt(i + 1) == ignoreUntil.charAt(1)))
            ignoreUntil = ""
        } else if (curr == '\'' || curr == '"') ignoreUntil = curr.toString
        else if (curr == '/' && stmt.charAt(i + 1) == '*') ignoreUntil = "*/"
        else if (curr == '-' && stmt.charAt(i + 1) == '-') ignoreUntil = "\\n"
      }
      if (ignoreUntil.isEmpty && curr == '\\' && i + 1 < stmt.length) {
        i += 1
        stmt.charAt(i) match {
          case 'n' => w += '\n'
          case 't' => w += '\t'
          case 'r' => w += '\r'
          case c   => w += '\\'; w += c
        }
      } else if (ignoreUntil.isEmpty && curr == '\\' && i + 1 >= stmt.length) {
        w += curr
      } else w += curr
      i += 1
    }
    w.toString
  }
  val udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((s: String) => if (s == null) null else apply(s))
}

/** F5: strict parse-validation through Spark's own SQL parser (the
  * engine's executable dialect — statements it cannot parse cannot be
  * replayed, which is exactly what strict mode is for). */
object ParseValidate {
  def apply(stmt: String): Boolean =
    try {
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parsePlan(stmt)
      true
    } catch { case _: Throwable => false }
  val udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((s: String) => s != null && apply(s))
}

/** Hadoop text input for [[AuditLog.records]]: each split's reader is
  * Hadoop's `LineRecordReader` with the split's end moved to the end of
  * the file, so it starts where a line reader would and can read on to
  * finish the split's last record. Each line is keyed with where it
  * starts: before the split's real end, past it, or in a file's last
  * split (which has no real end); `records` stops pulling at the first
  * start line past the end. BOM skip,
  * CRLF, codecs and the `_`/`.` hidden-file filter stay Hadoop's; a
  * compressed file is one split. */
private[workload] class LinesToEof
    extends org.apache.hadoop.mapreduce.lib.input.FileInputFormat[ByteWritable, Text] {
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.mapreduce.{JobContext, RecordReader, TaskAttemptContext}
  import org.apache.hadoop.mapreduce.lib.input.LineRecordReader

  override protected def isSplitable(context: JobContext, file: Path): Boolean =
    new org.apache.hadoop.io.compress.CompressionCodecFactory(context.getConfiguration)
      .getCodec(file) == null

  override def createRecordReader(split: InputSplit,
      context: TaskAttemptContext): RecordReader[ByteWritable, Text] =
    new RecordReader[ByteWritable, Text] {
      private val lines = new LineRecordReader()
      private val key = new ByteWritable
      private var end = Long.MaxValue

      def initialize(split: InputSplit, context: TaskAttemptContext): Unit = {
        val f = split.asInstanceOf[FileSplit]
        val len = f.getPath.getFileSystem(context.getConfiguration)
          .getFileStatus(f.getPath).getLen
        if (f.getStart + f.getLength < len) end = f.getStart + f.getLength
        lines.initialize(
          new FileSplit(f.getPath, f.getStart, len - f.getStart, f.getLocations), context)
      }
      def nextKeyValue(): Boolean = lines.nextKeyValue() && {
        // LineRecordReader's own rule: a split reads the line that starts
        // at its end byte, the next split skips it
        key.set(
          if (end == Long.MaxValue) LinesToEof.InLastSplit
          else if (lines.getCurrentKey.get > end) LinesToEof.PastEnd
          else LinesToEof.InSplit)
        true
      }
      def getCurrentKey: ByteWritable = key
      def getCurrentValue: Text = lines.getCurrentValue
      def getProgress: Float = lines.getProgress
      def close(): Unit = lines.close()
    }
}

private[workload] object LinesToEof {
  /** The line starts before the split's real end. */
  val InSplit: Byte = 0
  /** The line starts past the split's real end. */
  val PastEnd: Byte = 1
  /** The line is in its file's last split. */
  val InLastSplit: Byte = 2
}
