package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch event operators over the `events` table (ts, user_id,
  * event_type, value, props): tumbling and sliding window aggregates,
  * session_window sessionization, click→purchase attribution joins and
  * greedy funnel completions. The reference has no streaming or event
  * analytics (SURVEY.md §2.11); these back p08, p14, p23, p25, p54 and
  * p55.
  */
object EventStream extends Serializable {

  /** Tumbling-window per-type aggregate over (ts, event_type, value,
    * props). Window start aligns with date_trunc for whole-unit windows,
    * so any engine can recompute it. Grouping is by the `window` struct
    * itself, projected to `start` after the agg. */
  def windowedAgg(events: DataFrame, windowLength: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value")).cast("double").as("sum_value"),
        avg(get_json_object(col("props"), "$.k").cast("int")).as("avg_k"))
      // NTZ: parquet writes isAdjustedToUTC=false, matching engines that
      // treat event time as naive (session TZ is UTC, values unchanged)
      .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"), col("avg_k"))

  /** SLIDING-window per-type aggregate — the overlapping-window
    * counterpart of [[windowedAgg]] (each event lands in width/slide
    * windows; the trend/moving-rate query shape). Spark's `window(ts,
    * width, slide)` replicates the row into every containing window
    * BEFORE the aggregate — output ∝ events·(width/slide), each window
    * a normal partial-aggregating group, so the plan scales exactly
    * like the tumbling one at a constant factor. Windows align to the
    * epoch (floor(ts/slide)·slide and its predecessors), so any engine
    * can recompute membership analytically. */
  def slidingAgg(events: DataFrame, width: String = "10 minutes",
                 slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")).cast("double"), 4).as("sum_value"))
      .select(col("window.start").cast("timestamp_ntz").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Per-user SESSIONIZATION: maximal event runs with inter-event gap
    * < `gap`, via the built-in `session_window` — the declarative
    * Catalyst path (merging-window aggregate, shuffle keyed by user).
    * Emits one row per session:
    * (user_id, session_start, session_end, n_events, sum_value).
    * Session bounds follow Spark's session_window semantics: end =
    * last event + gap, so `duration_s` below subtracts the gap back to
    * the observable last-event time — an engine-independent quantity
    * any SQL (gaps-and-islands) can recompute. */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).cast("double").as("sum_value"))
      .select(
        col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("session_window.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Click→purchase ATTRIBUTION join: every (purchase, click) pair of
    * the same user with the click inside the `windowMinutes` before the
    * purchase (inclusive) — the classic conversion-attribution shape:
    * an equi-join on user plus the time-range predicate. Returns
    * (purchase_id, user_id, purchase_ts, click_id, click_ts, gap_s). */
  def attribution(purchases: DataFrame, clicks: DataFrame,
                  windowMinutes: Long = 30): DataFrame =
    attributionJoin(purchases, clicks, windowMinutes, joinType = "inner")

  /** LEFT-OUTER attribution — the "unattributed conversions" flavor of
    * [[attribution]]: every purchase emits, with null click columns when
    * no qualifying click exists (an ordinary left outer interval join).
    * `gap_s` is null exactly on unattributed rows, giving downstream a
    * sargable flag. */
  def attributionOuter(purchases: DataFrame, clicks: DataFrame,
                       windowMinutes: Long = 30): DataFrame =
    attributionJoin(purchases, clicks, windowMinutes, joinType = "left_outer")

  /** Shared body of [[attribution]]/[[attributionOuter]] — one home for
    * the projections and interval predicate so the two flavors cannot
    * drift. */
  private def attributionJoin(purchases: DataFrame, clicks: DataFrame,
                              windowMinutes: Long, joinType: String): DataFrame = {
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id"), col("ts").as("purchase_ts"))
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("c_user_id"), col("ts").as("click_ts"))
    p.join(c,
        col("user_id") === col("c_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
        joinType)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"),
        ((unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))) / 1000000L)
          .as("gap_s"))
  }

  private def usToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** One completed funnel (greedy non-overlapping; see
    * FunnelAggs.funnelMatches). */
  case class FunnelMatch(userId: Long, chainStart: java.sql.Timestamp,
                         chainEnd: java.sql.Timestamp)

  /** Funnel-completion detection (CEP-style): one row per COMPLETED
    * ordered chain step1 < step2 < … < stepN with span ≤
    * `windowMinutes`, greedy and non-overlapping per user — each user's
    * events sorted by time and matched by FunnelAggs.funnelMatches.
    * Rows with a null user_id or ts belong to no funnel and drop. */
  def funnelCompletions(events: DataFrame, steps: Seq[String],
                        windowMinutes: Long = 360): org.apache.spark.sql.Dataset[FunnelMatch] = {
    require(steps.nonEmpty && steps.size <= 31 && steps.distinct == steps,
      "steps must be distinct, 1..31")
    val spark = events.sparkSession
    import spark.implicits._
    val windowUs = windowMinutes * 60000000L
    val stepIdx = steps.zipWithIndex.toMap
    events
      .filter(col("event_type").isin(steps: _*))
      // null user_id/ts guard: the primitive decoder throws on NULL in a
      // non-nullable field
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").cast("long"), unix_micros(col("ts")), col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroups { (userId, rows) =>
        val evs = rows.map { case (_, us, tpe) => (us, 1 << stepIdx(tpe)) }.toArray.sortBy(_._1)
        graft.functions.FunnelAggs.funnelMatches(evs.map(_._1), evs.map(_._2), windowUs, steps.size)
          .iterator.map { case (s, e) => FunnelMatch(userId, usToTs(s), usToTs(e)) }
      }
  }
}
