package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed MERGE (lakehouse upsert) into a hive-partitioned parquet
  * table — the incremental-corpus write path beyond append/overwrite:
  * matched keys take the update row, unmatched update rows insert,
  * unmatched target rows survive untouched.
  *
  * PARTITION-SCOPED by construction: only partitions named by the
  * update batch are read into the merge join and only those (plus any
  * brand-new partitions the inserts create) are rewritten — dynamic
  * partition overwrite leaves every other partition's files
  * byte-identical. At 100 TB that is the whole point: a daily upsert
  * touching 30 date-partitions rewrites 30 partitions, not the table.
  * The merge join shuffles only the touched slice against the update
  * batch, both sides keyed on the merge key.
  *
  * Contract: a key's partition value is FIXED (it is the row's physical
  * address — the usual lakehouse discipline of partitioning by an
  * immutable column). An update that tries to MOVE a key across
  * partitions is a loud error, not a silent duplicate: the old copy
  * would live in a partition this merge never reads.
  *
  * The returned stats prove row conservation in-query over the TOUCHED
  * slice: afterTouched == beforeTouched + inserted (and matched ≤
  * updates). Untouched partitions are byte-identical by dynamic-
  * overwrite construction (spec-pinned), so global conservation follows
  * without ever counting the full table — the counts scan only the
  * partitions the merge reads anyway, keeping the proof itself
  * partition-scoped at 100 TB.
  *
  * DURABILITY WINDOW (non-atomic, by design): the touched partitions are
  * rewritten IN PLACE via dynamic overwrite. The read side is safe (the
  * merged frame is localCheckpoint'ed before any file is deleted), but a
  * crash mid-write leaves the touched partitions partially rewritten —
  * the conservation `require` detects that on the next run; it cannot
  * undo it. This is the same window every directory-layout lakehouse
  * write has without a table format's commit log. Callers must be able
  * to REPLAY the batch (a replayed batch re-merges the same rows
  * idempotently — MergeSpec's replay case pins it), or snapshot the
  * touched partitions first. For table formats with atomic swap
  * (Iceberg/Delta), route the merged frame to their writer instead. */
object Merge {

  case class MergeStats(touchedPartitions: Seq[String], beforeTouched: Long,
                        updates: Long, matched: Long, inserted: Long,
                        afterTouched: Long)

  /** @param verifyKeys when true (default), one column-pruned semi-join
    *   proves no update key already lives in an UNTOUCHED partition —
    *   the violation the scoped merge could not otherwise see (it would
    *   silently insert a duplicate). The check scans only the key +
    *   partition columns of the untouched slice; a deployment whose
    *   partition value is derived from the key can switch it off. */
  def mergeInto(spark: SparkSession, root: String, updates: DataFrame,
                keyCols: Seq[String], partCol: String,
                verifyKeys: Boolean = true): MergeStats = {
    require(keyCols.nonEmpty && !keyCols.contains(partCol),
      "need a non-empty merge key distinct from the partition column")
    val target = spark.read.parquet(root)
    require(target.columns.sorted.sameElements(updates.columns.sorted),
      s"schema mismatch: target ${target.columns.mkString(",")} vs " +
        s"updates ${updates.columns.mkString(",")}")
    // ONE job over the PERSISTED batch replaces four (r14, guide §1.2 /
    // the io13 33-job profile: each extra action here is a fixed-cost
    // job dispatch, and touched/unstable/count each rebuilt the update
    // frame from raw scans before the persist existed): the per-partition
    // aggregate below yields the touched-partition set (bounded METADATA,
    // one row per partition of the batch — the boundary-array collect
    // class), the round-trip stability count, and the batch row count,
    // while its scan is what materializes the cache every later pass
    // reads.
    val pType = target.schema(partCol).dataType
    val u = graft.operators.Broadcasts.trackedPersist(updates)
    val pstats = u.groupBy(col(partCol).cast("string").as("__p"))
      .agg(count(lit(1)).as("__n"),
        sum(when(!(col(partCol).cast("string").cast(pType).cast("string")
          <=> col(partCol).cast("string")), 1L).otherwise(0L)).as("__bad"))
      .collect()
    // a NULL partition value cannot be scoped: isin(null) never matches,
    // so the existing __HIVE_DEFAULT_PARTITION__ rows would be EXCLUDED
    // from the merge read yet REPLACED by the dynamic overwrite — silent
    // data loss the conservation check would flag only after the rewrite
    require(!pstats.exists(_.isNullAt(0)),
      s"update batch has rows with a NULL '$partCol' — a key's partition " +
        "value is its physical address and must be non-null")
    val touched = pstats.map(_.getString(0)).sorted.toSeq
    // the scoping filter compares string views across a disk round-trip,
    // so the partition value must survive the target's read-back type
    // (Hive partition-column inference turns '01' into int 1 → '1', and
    // the scoped read would then MISS the existing partition before the
    // overwrite replaces it).
    val unstable = pstats.map(_.getLong(2)).sum
    require(unstable == 0L,
      s"$unstable update rows carry '$partCol' values that do not survive " +
        s"the partition-column round trip to ${pType.sql} (e.g. zero-padded " +
        "numerics) — they would scope to a DIFFERENT partition than the " +
        "one the write replaces")
    val scoped = target.filter(col(partCol).cast("string").isin(touched: _*))
    val nUpdates = pstats.map(_.getLong(1)).sum
    // duplicate-key guard BEFORE anything is written: SQL MERGE rejects
    // a source that updates the same target row twice, and for good
    // reason — matched duplicates would write two copies of the key
    // into the partition, unmatched duplicates would insert the key
    // twice, and the conservation check either fires AFTER the
    // destructive rewrite or (the insert case) not at all
    val dupKeys = u.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).count()
    require(dupKeys == 0L,
      s"$dupKeys merge keys appear more than once in the update batch — " +
        "a key must resolve to exactly one update row; dedup the batch " +
        "(e.g. keep the latest CDC event per key) before merging")
    if (verifyKeys) {
      // null-safe on BOTH axes: the untouched filter must keep a
      // NULL-partition target row (plain !isin evaluates NULL and drops
      // it), and the key comparison must be <=> — NULL merge keys are
      // first-class rows here, so a NULL-key stray must be caught too
      val untouched = target.filter(
        !coalesce(col(partCol).cast("string").isin(touched: _*), lit(false)))
        .select(keyCols.map(c => col(c).as(s"__s_$c")): _*)
      val strayCond = keyCols.map(c => col(c) <=> col(s"__s_$c")).reduce(_ && _)
      val strays = u.join(untouched, strayCond, "left_semi").count()
      require(strays == 0L,
        s"$strays update keys already live in partitions this merge does " +
          "not touch — honoring them would duplicate the key; fix the " +
          "update batch's partition values")
    }
    val cond = keyCols.map(k => col(s"t.$k") <=> col(s"u.$k")).reduce(_ && _)
    // localCheckpoint, not persist: the merged frame is REWRITTEN over
    // the very files it reads, so it must be fully materialized (eager)
    // with its file lineage truncated before the overwrite starts — a
    // lazy cache could re-read files the write is deleting
    // presence flags, not key-null checks: the join condition is
    // null-safe (<=>), so an update row whose merge key is NULL is a
    // legitimate row that must match a null-key target row or insert —
    // keyCol.isNotNull would silently drop it (or emit an all-NULL row)
    val joined = scoped.withColumn("__t_present", lit(true)).as("t")
      .join(u.withColumn("__u_present", lit(true)).as("u"), cond, "full_outer")
      .localCheckpoint()
    val uHas = col("u.__u_present").isNotNull
    val tHas = col("t.__t_present").isNotNull
    // one bounded aggregate: match/insert counts + the moved-key guard
    // before = target rows of the touched slice, read off the SAME
    // bounded aggregate (every scoped row appears exactly once in the
    // full outer join) — the separate scoped.count() job it replaces
    // scanned the slice a second time (r14 job fold)
    val stats = joined.agg(
      sum(when(uHas && tHas, 1L).otherwise(0L)).as("matched"),
      sum(when(uHas && !tHas, 1L).otherwise(0L)).as("inserted"),
      sum(when(uHas && tHas &&
        !(col(s"t.$partCol") <=> col(s"u.$partCol")), 1L).otherwise(0L))
        .as("moved"),
      sum(when(tHas, 1L).otherwise(0L)).as("before")).head()
    val matched = Option(stats.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val inserted = Option(stats.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val moved = Option(stats.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val before = Option(stats.get(3)).map(_.asInstanceOf[Long]).getOrElse(0L)
    require(moved == 0L,
      s"$moved update rows try to move keys across partitions — a key's " +
        "partition value is its physical address and cannot change in a merge")
    val merged = joined.select(target.columns.toIndexedSeq.map(c =>
      when(uHas, col(s"u.$c")).otherwise(col(s"t.$c")).as(c)): _*)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(root)
    u.unpersist(false)
    joined.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))
    // conservation over the TOUCHED slice only (inserts cannot land
    // outside it — their partition values define `touched`); untouched
    // partitions are byte-identical by dynamic-overwrite construction
    val after = spark.read.parquet(root)
      .filter(col(partCol).cast("string").isin(touched: _*)).count()
    require(after == before + inserted,
      s"row conservation violated on the touched slice: " +
        s"before=$before inserted=$inserted after=$after")
    MergeStats(touched, before, nUpdates, matched, inserted, after)
  }
}
