package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.storage.StorageLevel

/** Size-gated broadcast hints.
  *
  * An explicit `broadcast()` hint is an ORDER, not a suggestion: Spark
  * honors it regardless of `spark.sql.autoBroadcastJoinThreshold`, and a
  * build side past the hard 8 GB broadcast limit (or past driver memory)
  * fails the job outright instead of degrading to a shuffle join. That
  * makes an unconditional hint on any corpus-linear table (one row per
  * document, per block key, ...) a scale bug: correct at sf0.1, fatal at
  * 100 TB.
  *
  * [[Broadcasts.sizeGated]] measures before hinting: it persists the
  * frame (the callers all consume it at least twice, so the persist pays
  * for itself), materializes it, reads the ACTUAL cached size from the
  * InMemoryRelation stats, and applies the hint only under a byte cap.
  * Past the cap it emits NO hint and the planner — cost-based plus AQE's
  * runtime re-plan — picks the join strategy from real sizes.
  */
object Broadcasts {

  /** Conf key for the hint cap; tests set it to 0 to force the shuffle
    * path on toy data. */
  val MaxBytesConf = "graft.broadcast.maxBytes"

  /** Default hint cap: 512 MB — far under the 8 GB broadcast hard limit
    * and a safe fraction of any realistic driver heap, while still
    * covering every genuinely-small dimension this library hints. */
  val DefaultMaxBytes: Long = 512L << 20

  /** Persist + materialize `df`, then return it WITH a broadcast hint iff
    * its measured in-memory size is within the configured cap, else
    * without any hint. Always returns the persisted frame — callers that
    * reuse it (both sides of a self-join, a verify stage) read the cache
    * instead of recomputing the aggregate that produced it.
    *
    * The measurement is real, not estimated: after `count()` the cache
    * manager substitutes an InMemoryRelation whose stats carry the
    * accumulated batch bytes, so `optimizedPlan.stats.sizeInBytes` is the
    * observed cached footprint (an upper-bound proxy for the broadcast
    * build size, which is what we want for a safety gate). */
  def sizeGated(df: DataFrame): DataFrame = {
    val cached = trackedPersist(df)
    cached.count()
    gateMaterialized(cached)
  }

  /** [[sizeGated]] minus the persist-and-count: hint an ALREADY
    * persisted-and-materialized frame iff its measured cache size is
    * under the cap. For callers whose own materializing action (an
    * aggregate they needed anyway) already populated the cache — saves
    * the separate count job. Caller contract: `cached` IS persisted and
    * FULLY materialized — a lazy or partial cache entry reports the
    * optimizer's estimate instead of observed bytes, which could hint a
    * frame the measurement was supposed to veto. */
  private[graft] def gateMaterialized(cached: DataFrame): DataFrame =
    hintWithinCap(cached.sparkSession, measuredBytes(cached))(cached)

  /** The one hint decision every size-gated broadcast in this library
    * makes: `broadcast` iff `bytes` (a MEASURED size, never an estimate)
    * is within the configured cap, else identity — past the cap the
    * planner picks the join strategy from real sizes. Returned as a
    * function so an iterative operator can decide once and apply the
    * verdict to each round's node-bounded table. */
  private[graft] def hintWithinCap(spark: org.apache.spark.sql.SparkSession,
                                   bytes: BigInt): DataFrame => DataFrame = {
    val cap = spark.conf.getOption(MaxBytesConf).map(_.toLong)
      .getOrElse(DefaultMaxBytes)
    if (bytes <= cap) broadcast(_) else identity
  }

  // ---- persist lifecycle ------------------------------------------------
  // Every persist this library takes mid-operator (sizeGated's measure,
  // the persist-the-fan-out sites in Dedup/Stats/Graphs) is REGISTERED
  // here; a long-lived session calls [[release]] between queries so
  // MEMORY_AND_DISK entries never accumulate unboundedly. Verify and
  // Bench call it after every query; interactive users with a session
  // running many operators should do the same.
  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` (MEMORY_AND_DISK — spills rather than OOMs) and
    * register it for [[release]]. */
  private[graft] def trackedPersist(df: DataFrame): DataFrame = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    tracked.add(cached)
    cached
  }

  /** Unpersist every frame this library persisted for `spark`'s session
    * since the last release (lazy eviction — no recompute is triggered).
    * Frames an operator already unpersisted itself are no-ops. Returns
    * the number of registry entries released. */
  def release(spark: org.apache.spark.sql.SparkSession): Int = {
    var n = 0
    val it = tracked.iterator()
    while (it.hasNext) {
      val df = it.next()
      if (df.sparkSession eq spark) { df.unpersist(false); it.remove(); n += 1 }
    }
    n
  }

  /** Run `body`, then release every persist the library tracked for
    * `spark` — the explicit per-operator scope for callers that want
    * deterministic cleanup (Verify and Bench use the bare [[release]]
    * between queries; this wraps the same discipline). */
  def withReleased[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    try body finally release(spark)

  /** Observed cached size of a persisted-and-materialized frame. */
  private[graft] def measuredBytes(cached: DataFrame): BigInt =
    // A fresh Dataset over the same plan (identity filter) so cache
    // substitution — which happens when THIS query execution is optimized,
    // i.e. strictly after the persist+count above — sees the materialized
    // entry and reports its accumulated batch bytes. Planned, never run.
    cached.filter(org.apache.spark.sql.functions.lit(true))
      .queryExecution.optimizedPlan.stats.sizeInBytes
}
