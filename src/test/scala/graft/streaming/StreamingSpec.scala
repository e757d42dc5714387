package graft.streaming

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Structured Streaming parity: the SAME windowed-agg operator runs over
  * a stream (file source, AvailableNow) and must produce the batch
  * result — the backfill/live-ingest equivalence a production event
  * pipeline relies on. */
class StreamingSpec extends SparkSpec {

  test("streaming funnel completions equal batch greedy matches") {
    import spark.implicits._
    val H = 3600000000L // 1 hour in µs
    // real epoch base: a row with event time ≤ the current watermark is
    // dropped as late BEFORE reaching state — ts 0 dies at watermark 0
    val base = 1704067200000000L // 2024-01-01T00:00Z
    def ev(u: Long, hour: Double, tpe: String): (Long, Long, String) =
      (u, base + (hour * H).toLong, tpe)
    // file 1: early events — chains IN PROGRESS at the first watermark
    val early = Seq(
      ev(1, 0.0, "view"), ev(1, 0.5, "click"),                      // completes in file 2
      ev(2, 0.0, "view"), ev(2, 0.3, "view"), ev(2, 0.6, "click"),  // VVC…
      ev(3, 0.0, "purchase"), ev(3, 0.5, "view"),                   // wrong order start
      ev(4, 0.0, "view"), ev(4, 0.4, "click"), ev(4, 0.8, "purchase"), // full chain early
      ev(5, 0.0, "view"))                                           // dies by window
    // file 2: completions, a second chain, the too-late step, heartbeat
    val late = Seq(
      ev(1, 1.2, "purchase"),                                       // completes u1 (span 1.2h ≤ 2h)
      ev(2, 1.0, "purchase"),                                       // completes u2
      ev(2, 2.0, "view"), ev(2, 2.5, "click"), ev(2, 3.0, "purchase"), // u2 second chain
      ev(3, 1.0, "click"), ev(3, 1.5, "purchase"),                  // u3 completes (V@0.5)
      ev(5, 5.0, "purchase"),                                       // > window after V@0
      // heartbeat that ADVANCES the final watermark past every user's
      // timeout: it must be a step type — the step filter is pushed
      // BELOW the watermark node, so a non-step event never reaches the
      // event-time stats and would leave the watermark stalled
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

    val streamDir = java.nio.file.Files.createTempDirectory("funnel_stream")
    toDf(early).coalesce(1).write.parquet(streamDir.resolve("f1").toString)
    toDf(late).coalesce(1).write.parquet(streamDir.resolve("f2").toString)
    val schema = toDf(early).schema
    val streamIn = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString + "/*")
    val q = EventStream.funnelCompletions(streamIn, steps,
        windowMinutes = 120, watermark = "1 minute", streaming = true)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("funnel_stream")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    // the hour-48 heartbeat drives the final watermark past every
    // timeout, so the stream must flush EVERY batch match
    assert(streamed == batch, s"stream $streamed\nbatch $batch")
  }

  test("streaming windowed agg (watermark, append) matches the batch result") {
    val dir = "/root/testdata/sf0.001"
    val batch = EventStream.windowedAgg(Tables.t(spark, dir, "events"))
      .orderBy("hour_start", "event_type").collect()

    // the file stream source wants a directory
    val streamDir = java.nio.file.Files.createTempDirectory("ev_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamIn = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
      .transform(Tables.normalizeEventTs)
    val q = EventStream.windowedAggStream(streamIn)
      .writeStream.format("memory").queryName("ev_agg")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    // append mode only emits windows the watermark has closed; with
    // AvailableNow the final watermark closes all but the last window(s),
    // so compare on the emitted prefix and require real coverage
    val streamed = spark.table("ev_agg")
      .orderBy("hour_start", "event_type").collect()
    assert(streamed.nonEmpty, "stream emitted nothing")
    val batchByKey = batch.map(r => (r.get(0), r.get(1)) -> r.toSeq).toMap
    streamed.foreach { r =>
      val k = (r.get(0), r.get(1))
      assert(batchByKey.contains(k), s"stream emitted unknown window $k")
      assert(batchByKey(k) == r.toSeq, s"window $k differs: batch=${batchByKey(k)} stream=${r.toSeq}")
    }
    assert(streamed.length >= batch.length - 8,
      s"stream closed too few windows: ${streamed.length} vs batch ${batch.length}")
  }

  test("streaming SLIDING-window agg matches batch; every event lands in width/slide windows") {
    val dir = "/root/testdata/sf0.001"
    val events = Tables.t(spark, dir, "events")
    val batch = EventStream.slidingAgg(events)
      .orderBy("win_start", "event_type").collect()
    // membership arithmetic: Σ window counts == events × (width/slide)
    val total = batch.map(_.getAs[Long]("n")).sum
    assert(total === events.count() * 2,
      s"each event must appear in exactly 2 overlapping windows, got $total")

    val streamDir = java.nio.file.Files.createTempDirectory("ev_slide")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamIn = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
      .transform(Tables.normalizeEventTs)
    val q = EventStream.slidingAggStream(streamIn)
      .writeStream.format("memory").queryName("ev_slide_agg")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ev_slide_agg")
      .orderBy("win_start", "event_type").collect()
    assert(streamed.nonEmpty, "stream emitted nothing")
    val batchByKey = batch.map(r => (r.get(0), r.get(1)) -> r.toSeq).toMap
    streamed.foreach { r =>
      val k = (r.get(0), r.get(1))
      assert(batchByKey.contains(k), s"stream emitted unknown window $k")
      assert(batchByKey(k) == r.toSeq, s"window $k differs")
    }
    assert(streamed.length >= batch.length - 16,
      s"stream closed too few windows: ${streamed.length} vs batch ${batch.length}")
  }

  test("custom-state sessionization equals the declarative session_window path") {
    val dir = "/root/testdata/sf0.001"
    val events = Tables.t(spark, dir, "events")
    val declarative = EventStream.sessionize(events)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(_.toSeq).toSet
    val custom = EventStream.sessionizeWithState(events)
      .toDF()
      .select(col("userId").as("user_id"),
        col("sessionStart").cast("timestamp_ntz"),
        col("sessionEnd").cast("timestamp_ntz"),
        col("nEvents"))
      .collect().map(_.toSeq).toSet
    assert(declarative.nonEmpty && custom == declarative)
    // and the custom path's extra column is consistent: per-type counts
    // sum to the session's event count
    val sums = EventStream.sessionizeWithState(events).collect()
    assert(sums.forall(s => s.eventTypes.values.sum == s.nEvents))
  }

  test("custom-state paths tolerate dirty rows (null key/ts/value), no decoder crash") {
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
    val sessions = EventStream.sessionizeWithState(rows).collect()
    // null-key and null-ts rows drop; the null VALUE is a real event
    // counted with sum contribution 0
    assert(sessions.map(_.userId).toSet == Set(1L))
    assert(sessions.head.nEvents == 2L && sessions.head.sumValue == 2.0)
    val funnels = EventStream.funnelCompletions(rows, Seq("view"),
      windowMinutes = 60).collect()
    assert(funnels.map(_.userId).toSet == Set(1L))
  }

  test("custom-state streaming sessionization seals before emitting " +
      "(late-but-admitted events merge, never regress)") {
    // gap 30m, watermark 2h. Trigger 1 delivers 10:00 and 11:00; the
    // eager fold would emit [10:00,10:30] immediately and open a session
    // at 11:00. Trigger 2 delivers the LATE 10:15 (still above
    // watermark, so admitted) and 10:50 — under seal-before-emit the
    // true sessions are {10:00,10:15} and {10:50,11:00}; the old fold
    // produced a Session(end < start). Trigger 3 is a heartbeat that
    // advances the watermark past every timeout.
    import spark.implicits._
    def ev(user: Long, mins: Long, tpe: String) =
      (user, mins * 60000000L, tpe, 1.0)
    val f1 = Seq(ev(1, 600, "view"), ev(1, 660, "click"))
    val f2 = Seq(ev(1, 615, "view"), ev(1, 650, "click"))
    val f3 = Seq(ev(99, 4000, "view"))
    def toDf(rows: Seq[(Long, Long, String, Double)]) =
      rows.toDF("user_id", "us", "event_type", "value")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          col("event_type"), col("value"))

    val batch = EventStream.sessionizeWithState(toDf(f1 ++ f2 ++ f3))
      .collect().map(s => (s.userId, s.sessionStart, s.sessionEnd, s.nEvents)).toSet
    // sanity: u1 splits exactly at the sealed 35-minute gap
    assert(batch.count(_._1 == 1L) == 2, s"expected 2 u1 sessions: $batch")

    val streamDir = java.nio.file.Files.createTempDirectory("sess_state_stream")
    toDf(f1).coalesce(1).write.parquet(streamDir.resolve("f1").toString)
    toDf(f2).coalesce(1).write.parquet(streamDir.resolve("f2").toString)
    toDf(f3).coalesce(1).write.parquet(streamDir.resolve("f3").toString)
    val schema = toDf(f1).schema
    val streamIn = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString + "/*")
    val q = EventStream.sessionizeWithState(streamIn, streaming = true)
      .writeStream.format("memory").queryName("sess_state_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("sess_state_stream")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    // the heartbeat user's own session never seals (no later watermark
    // passes its timeout), so append mode correctly withholds it —
    // compare the sealed user only
    assert(streamed == batch.filter(_._1 == 1L),
      s"stream $streamed\nbatch $batch")
    // no emitted session may end before it starts (the old fold's bug)
    assert(streamed.forall(s => !s._3.before(s._2)), s"end<start in $streamed")
  }

  test("streaming sessionization (session_window + watermark) matches batch") {
    val dir = "/root/testdata/sf0.001"
    val batch = EventStream.sessionize(Tables.t(spark, dir, "events"))
      .collect().map(r => (r.get(0), r.get(1)) -> r.toSeq).toMap

    val streamDir = java.nio.file.Files.createTempDirectory("sess_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamIn = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
      .transform(Tables.normalizeEventTs)
    val q = EventStream.sessionizeStream(streamIn)
      .writeStream.format("memory").queryName("sess_agg")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("sess_agg").collect()
    assert(streamed.nonEmpty, "stream emitted no sessions")
    streamed.foreach { r =>
      val k = (r.get(0), r.get(1))
      assert(batch.contains(k), s"stream emitted unknown session $k")
      assert(batch(k) == r.toSeq, s"session $k differs")
    }
    // the watermark closes every session except those near the stream end
    assert(streamed.length >= batch.size * 3 / 4,
      s"stream closed too few sessions: ${streamed.length} vs batch ${batch.size}")
  }

  test("stream-stream attribution join matches the batch join exactly") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.t(spark, dir, "events")
    val batch = EventStream.attribution(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"))
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "no attributed pairs in the fixture data")

    val streamDir = java.nio.file.Files.createTempDirectory("attr_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def streamIn = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
      .transform(Tables.normalizeEventTs)
    val q = EventStream.attribution(
      streamIn.filter(col("event_type") === "purchase"),
      streamIn.filter(col("event_type") === "click"),
      streaming = true)
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("attr_out").select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // inner stream-stream joins emit a pair as soon as both sides arrive;
    // watermarks only bound state, so the full pair set must appear
    assert(streamed == batch,
      s"stream ${streamed.size} pairs vs batch ${batch.size}")
  }

  test("stream-stream LEFT-OUTER attribution: matched rows exact, null rows sealed by watermark") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.t(spark, dir, "events")
    val batch = EventStream.attributionOuter(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"))
    val batchRows = batch.select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val batchNulls = batchRows.count(_._2 == -1L)
    assert(batchNulls > 0, "fixture has no unattributed purchases — test is vacuous")

    val streamDir = java.nio.file.Files.createTempDirectory("attro_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def streamIn = spark.readStream.schema(schema)
      .parquet(streamDir.toString)
      .transform(Tables.normalizeEventTs)
    val q = EventStream.attributionOuter(
      streamIn.filter(col("event_type") === "purchase"),
      streamIn.filter(col("event_type") === "click"),
      streaming = true)
      .writeStream.format("memory").queryName("attro_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("attro_out").select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    // every emitted row must exist in the batch result (no spurious nulls:
    // a null row emitted while a matching click could still arrive would
    // violate outer-join semantics), and the matched subset must be exact;
    // null rows for tail purchases the final watermark never sealed may be
    // withheld — that is the one legitimate delta
    assert(streamed.subsetOf(batchRows),
      s"stream emitted rows not in batch: ${(streamed -- batchRows).take(5)}")
    val batchMatched = batchRows.filter(_._2 != -1L)
    val streamMatched = streamed.filter(_._2 != -1L)
    assert(streamMatched == batchMatched,
      s"matched pairs differ: stream ${streamMatched.size} vs batch ${batchMatched.size}")
    assert(streamed.count(_._2 == -1L) > 0,
      "watermark sealed no unattributed purchases — outer path never exercised")
  }

  test("streaming dedup (watermark-bounded state) equals batch dedup") {
    val dir = "/root/testdata/sf0.001"
    val events = Tables.t(spark, dir, "events")
    // plant duplicates: every event twice, so dedup must halve the stream
    val doubled = events.unionAll(events)
    val batchIds = EventStream.dedup(doubled)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(batchIds.size == events.count())

    val streamDir = java.nio.file.Files.createTempDirectory("dedup_stream")
    // two copies of the file = duplicate arrivals across micro-batches
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("a.parquet"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("b.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamIn = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // force the dup into a LATER batch
      .parquet(streamDir.toString)
      .transform(Tables.normalizeEventTs)
    val q = EventStream.dedup(streamIn, streaming = true)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0))
    // every id exactly once: duplicates in the second file were suppressed
    // because their event times precede the watermark-held state expiry
    assert(streamed.length == streamed.distinct.length,
      s"stream emitted duplicate ids: ${streamed.length} vs ${streamed.distinct.length}")
    assert(streamed.toSet == batchIds,
      s"stream ids differ from batch: ${streamed.length} vs ${batchIds.size}")
  }

  test("transformWithState profiles: last update per user equals batch groupBy") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val events = Tables.t(spark, dir, "events")
    val expected = events.groupBy("user_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("event_type")).as("nt"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    // TWS requires the RocksDB state store provider
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // split the corpus into two files -> at least two micro-batches, so
      // state genuinely carries across triggers (not one-shot aggregation)
      val streamDir = java.nio.file.Files.createTempDirectory("tws_stream")
      val src = spark.read.parquet(s"$dir/events.parquet")
      src.where(col("event_id") % 2 === 0)
        .write.parquet(streamDir.resolve("a").toString + "/part")
      src.where(col("event_id") % 2 === 1)
        .write.parquet(streamDir.resolve("b").toString + "/part")
      val schema = src.schema
      val streamIn = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir.toString + "/*/part")
        .transform(Tables.normalizeEventTs)
      val q = EventStream.userProfiles(streamIn)
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)

      val updates = spark.table("tws_out").collect()
      // multiple micro-batches -> some user must have been emitted twice
      assert(updates.length > expected.size,
        s"expected incremental re-emissions: ${updates.length} vs ${expected.size} users")
      // the last emission per user is the converged profile
      val last = updates.zipWithIndex
        .groupBy(_._1.getAs[Long]("userId"))
        .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
      assert(last.keySet == expected.keySet)
      last.foreach { case (u, r) =>
        val (n, nt) = expected(u)
        assert(r.getAs[Long]("nEvents") == n, s"user $u count")
        assert(r.getAs[Long]("nTypes") == nt, s"user $u distinct types")
        assert(r.getAs[Long]("topCount") > 0 &&
          r.getAs[String]("topType").nonEmpty)
      }
    } finally prevProvider match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
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
