package graft.streaming

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** The batch event operators of [[EventStream]], plus two checks that
  * Spark's Structured Streaming engine keeps its contracts on this build:
  * a foreachBatch sink restarted from its checkpoint, and the graft_kmv
  * aggregate under a watermarked streaming window. */
class StreamingSpec extends SparkSpec {

  test("funnel completions: greedy non-overlapping chains per user") {
    import spark.implicits._
    val H = 3600000000L // 1 hour in µs
    val base = 1704067200000000L // 2024-01-01T00:00Z
    def ev(u: Long, hour: Double, tpe: String): (Long, Long, String) =
      (u, base + (hour * H).toLong, tpe)
    // early events: chains in progress
    val early = Seq(
      ev(1, 0.0, "view"), ev(1, 0.5, "click"),                      // completes later
      ev(2, 0.0, "view"), ev(2, 0.3, "view"), ev(2, 0.6, "click"),  // VVC…
      ev(3, 0.0, "purchase"), ev(3, 0.5, "view"),                   // wrong order start
      ev(4, 0.0, "view"), ev(4, 0.4, "click"), ev(4, 0.8, "purchase"), // full chain early
      ev(5, 0.0, "view"))                                           // dies by window
    // later events: completions, a second chain, the too-late step
    val late = Seq(
      ev(1, 1.2, "purchase"),                                       // completes u1 (span 1.2h ≤ 2h)
      ev(2, 1.0, "purchase"),                                       // completes u2
      ev(2, 2.0, "view"), ev(2, 2.5, "click"), ev(2, 3.0, "purchase"), // u2 second chain
      ev(3, 1.0, "click"), ev(3, 1.5, "purchase"),                  // u3 completes (V@0.5)
      ev(5, 5.0, "purchase"),                                       // > window after V@0
      ev(99, 48.0, "view"))
    def toDf(rows: Seq[(Long, Long, String)]) =
      rows.toDF("user_id", "us", "event_type")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("event_type"))

    val steps = Seq("view", "click", "purchase")
    val batch = EventStream.funnelCompletions(
        toDf(early ++ late), steps, windowMinutes = 120)
      .collect().map(m => (m.userId, m.chainStart, m.chainEnd)).toSet
    assert(batch.map(_._1) == Set(1L, 2L, 3L, 4L))
    assert(batch.count(_._1 == 2L) == 2, s"u2 should complete twice: $batch")
    // each chain starts at the latest step-1 event that still completes it
    def at(hour: Double) = new java.sql.Timestamp((base + (hour * H).toLong) / 1000L)
    assert(batch == Set((1L, at(0.0), at(1.2)), (2L, at(0.3), at(1.0)),
      (2L, at(2.0), at(3.0)), (3L, at(0.5), at(1.5)), (4L, at(0.0), at(0.8))),
      s"matches: $batch")
  }

  test("SLIDING-window agg: every event lands in width/slide windows") {
    val dir = "/root/testdata/sf0.001"
    val events = Tables.t(spark, dir, "events")
    val batch = EventStream.slidingAgg(events).collect()
    // membership arithmetic: Σ window counts == events × (width/slide)
    val total = batch.map(_.getAs[Long]("n")).sum
    assert(total === events.count() * 2,
      s"each event must appear in exactly 2 overlapping windows, got $total")
  }

  test("funnel completions drop null-key and null-ts rows, no decoder crash") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE")
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, ts, "view", 2.0),
        org.apache.spark.sql.Row(1L, ts, "view", null),
        org.apache.spark.sql.Row(null, ts, "view", 9.0),
        org.apache.spark.sql.Row(2L, null, "view", 1.0)),
      schema)
    // null-key and null-ts rows drop; the null VALUE row is a real event
    val funnels = EventStream.funnelCompletions(rows, Seq("view"),
      windowMinutes = 60).collect()
    assert(funnels.map(_.userId).toSet == Set(1L))
  }

  test("foreachBatch idempotent sink: batchId-keyed overwrite gives exactly-once across restarts") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val src = spark.read.parquet(s"$dir/events.parquet")
    val nSrc = src.count()

    val streamDir = java.nio.file.Files.createTempDirectory("fb_stream")
    src.where(col("event_id") % 2 === 0)
      .write.parquet(streamDir.resolve("a").toString + "/p")
    src.where(col("event_id") % 2 === 1)
      .write.parquet(streamDir.resolve("b").toString + "/p")
    val outDir = java.nio.file.Files.createTempDirectory("fb_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("fb_ckpt").toString

    // The exactly-once recipe for a non-transactional sink: foreachBatch
    // gets (df, batchId); writing each batch into a batchId-keyed dir
    // with mode=overwrite makes a RETRY of the same batch idempotent —
    // the second attempt replaces, never appends.
    def run(): Unit = {
      val q = spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir.toString + "/*/p")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$outDir/batch=$id")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    run()
    val afterFirst = spark.read.parquet(s"$outDir/batch=*")
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(afterFirst.length == nSrc, "first run must land every event once")
    assert(afterFirst.toSeq == afterFirst.distinct.toSeq)

    // restart with the SAME checkpoint and no new input: the committed
    // offsets make this a no-op — nothing may duplicate
    run()
    val afterSecond = spark.read.parquet(s"$outDir/batch=*")
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(afterSecond.toSeq == afterFirst.toSeq,
      "restart re-emitted data despite committed offsets")
  }

  test("graft_kmv works as a streaming windowed aggregate (distinct users per window)") {
    // the custom TypedImperativeAggregate must behave in Structured
    // Streaming's partial/merge protocol exactly as in batch: per-window
    // distinct-user sketches, exact below k — so the streamed result
    // must EQUAL the batch count(distinct) per closed window
    import org.apache.spark.sql.functions._
    graft.functions.KmvAgg.register(spark)
    val dir = "/root/testdata/sf0.001"
    val streamDir = java.nio.file.Files.createTempDirectory("ev_kmv")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def unitHash(c: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit("su:"), c.cast("string"))), 1, 8), 16, 10)
        .cast("long").cast("double") / 4294967296.0
    val streamIn = spark.readStream.schema(schema).parquet(streamDir.toString)
      .transform(Tables.normalizeEventTs)
    val q = streamIn
      .withColumn("u", unitHash(col("user_id")))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr("graft_kmv(u, 4096)").as("sk"))
      .select(col("w.start").as("ws"), col("sk.n_min").as("n_users"))
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("kmv_stream").collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty, "stream emitted nothing")
    val batch = Tables.t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("n"))
      .select(col("w.start"), col("n")).collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    streamed.foreach { case (ws, n) =>
      assert(batch.get(ws).contains(n),
        s"window $ws: stream kmv $n vs batch distinct ${batch.get(ws)}")
    }
  }
}
