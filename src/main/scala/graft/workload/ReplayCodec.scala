package graft.workload

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Replay-file decode (F6) + synthetic client re-bucketing (A4) —
  * reference: src/replay.go:374-497.
  *
  * File format: one statement per record, records start with
  * `/*dodo{json-meta}*/ ` and may wrap to continuation lines. Decoding
  * reads records with the audit scan's own line reader
  * ([[AuditLog.records]] with the replay record-start pattern), so one
  * multi-GB `q0.sql` splits across tasks like the log it was dumped
  * from, each split reading its records whole; a one-split file costs
  * no job before the first action, and each action reads it once. Its
  * 1-based per-file record index gives `sqlIdx = pos - 1`,
  * which is what makes round-robin re-bucketing `(i % clientCount) + 1`
  * deterministic and partition-independent.
  */
object ReplayCodec {

  val metaSchema: StructType = StructType(Seq(
    StructField("ts", StringType), StructField("client", StringType),
    StructField("user", StringType), StructField("db", StringType),
    StructField("queryId", StringType), StructField("durationMs", LongType)))

  /** Record-start line pattern of a replay file. */
  private val recordStartRe = """/\*dodo\{"""

  case class DecodeOpts(
      dbs: Seq[String] = Nil, users: Seq[String] = Nil,
      fromMs: Long = 0, toMs: Long = 0, clientCount: Int = 0)

  /** Decode a replay-SQL directory/file into
    * (file, sqlIdx, client, ts, tsMs, user, db, queryId, durationMs, stmt). */
  def decode(spark: SparkSession, path: String, opts: DecodeOpts = DecodeOpts()): DataFrame = {
    val raw = AuditLog.records(spark, path, startRe = recordStartRe)
      .select(col("file"), (col("pos") - 1).as("sqlIdx"), col("record").as("rec"))
    val metaJson = regexp_extract(col("rec"), """(?s)^/\*dodo(\{.*?\})\*/""", 1)
    val stmt = trim(regexp_extract(col("rec"), """(?s)^/\*dodo\{.*?\}\*/(.*)$""", 1))
    val decoded = raw
      .withColumn("meta", from_json(metaJson, metaSchema))
      .withColumn("stmt", stmt)
      .filter(col("meta").isNotNull && col("meta.queryId").isNotNull && col("stmt") =!= "")
      .select(
        col("file"), col("sqlIdx"),
        col("meta.client").as("origClient"), col("meta.ts").as("ts"),
        unix_millis(to_timestamp(col("meta.ts"))).as("tsMs"),
        col("meta.user").as("user"), col("meta.db").as("db"),
        col("meta.queryId").as("queryId"),
        coalesce(col("meta.durationMs"), lit(0L)).as("durationMs"),
        col("stmt"))
    val filtered = decoded
      .filter(if (opts.dbs.nonEmpty) col("db").isin(opts.dbs: _*) else lit(true))
      .filter(if (opts.users.nonEmpty) col("user").isin(opts.users: _*) else lit(true))
      .filter(if (opts.fromMs > 0) col("tsMs") >= opts.fromMs else lit(true))
      .filter(if (opts.toMs > 0) col("tsMs") <= opts.toMs else lit(true))
    // R4: --client-count re-buckets statements round-robin onto synthetic
    // clients client1..clientN (name width = digits of N).
    if (opts.clientCount > 0) {
      val width = opts.clientCount.toString.length
      filtered.withColumn("client",
        format_string(s"client%0${width}d", pmod(col("sqlIdx"), lit(opts.clientCount)) + 1))
    } else filtered.withColumn("client", col("origClient"))
  }

  /** A6: the replay epoch — global min timestamp (ms). */
  def minTs(decoded: DataFrame): Option[Long] =
    decoded.agg(min(col("tsMs"))).head().getAs[Any](0) match {
      case null => None
      case l: Long => Some(l)
    }

  /** A4: per-client statement lists in file order. */
  def byClient(decoded: DataFrame): Map[String, Seq[ReplayStatement]] = {
    import scala.collection.immutable.ListMap
    // a record whose meta ts was missing/unparseable has NULL tsMs and
    // cannot be scheduled against the epoch — drop it here (decode only
    // filters null queryId) instead of NPEing the whole plan build on
    // getLong; a NULL duration defaults to 0 (it only feeds reporting)
    val rows = decoded
      .filter(col("tsMs").isNotNull)
      .select(col("client"), col("file"), col("sqlIdx"), col("ts"),
        col("tsMs"), col("db"), col("queryId"),
        coalesce(col("durationMs"), lit(0L)).as("durationMs"), col("stmt"))
      .orderBy("file", "sqlIdx").collect()
    ListMap(rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (c, rs) =>
      c -> rs.toSeq.map(r => ReplayStatement(
        ts = r.getString(3), tsMs = r.getLong(4), db = r.getString(5),
        queryId = r.getString(6), durationMs = r.getLong(7), stmt = r.getString(8)))
    }: _*)
  }
}

case class ReplayStatement(ts: String, tsMs: Long, db: String, queryId: String,
                           durationMs: Long, stmt: String)
