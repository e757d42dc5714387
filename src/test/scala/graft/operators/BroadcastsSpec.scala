package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Broadcasts.sizeGated — the measured gate that replaced the
  * unconditional broadcast() hints on corpus-linear tables (VERDICT r6
  * item 1), and Ranks.globalRowNumber — the distributed replacement for
  * the single-partition global-window rank (item 3). */
class BroadcastsSpec extends SparkSpec {
  import spark.implicits._

  test("sizeGated applies the hint under the cap and withholds it past it") {
    val small = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
    val probe = spark.range(1000).select((col("id") % 100).as("id"))

    def joinPlan(maxBytes: Long): String = {
      spark.conf.set(Broadcasts.MaxBytesConf, maxBytes.toString)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val gated = Broadcasts.sizeGated(small.select(col("id"), col("k")))
        val joined = probe.join(gated, "id")
        joined.collect() // run so AQE settles on the final plan
        joined.queryExecution.executedPlan.toString
      } finally {
        spark.conf.unset(Broadcasts.MaxBytesConf)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    // autoBroadcastJoinThreshold is -1 both times, so any broadcast in the
    // plan can only come from the gate's explicit hint.
    assert(joinPlan(Broadcasts.DefaultMaxBytes).contains("BroadcastHashJoin"),
      "under-cap table should carry the explicit broadcast hint")
    assert(!joinPlan(0L).contains("BroadcastHashJoin"),
      "over-cap table must NOT be hint-broadcast (would fail at 8 GB)")
  }

  test("measuredBytes reports a real materialized size") {
    val df = spark.range(10000).select(col("id"), rand(7).as("x"))
      .persist()
    df.count()
    val bytes = Broadcasts.measuredBytes(df.toDF())
    df.unpersist()
    // 10k rows of (long, double) — cached columnar batches land well
    // inside this window; the point is the stats are OBSERVED, not the
    // optimizer's 8 EiB unknown default.
    assert(bytes > 10000L && bytes < (16L << 20), s"got $bytes")
  }

  test("globalRowNumber matches single-partition row_number on a unique key") {
    val df = (1 to 5000).map(i => ((i * 2654435761L) % 977, s"t$i"))
      .toDF("w", "tok")
    val got = Ranks.globalRowNumber(df, "rk", col("w"), col("tok"))
      .select("tok", "rk")
    val want = {
      import org.apache.spark.sql.expressions.Window
      df.withColumn("rk", row_number().over(
        Window.orderBy(col("w"), col("tok"))).cast("long"))
        .select("tok", "rk")
    }
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "distributed rank must equal the single-partition reference rank")
    // and the plan must not move everything to one partition: the only
    // single-partition window allowed is over the per-partition counts
    val phys = got.queryExecution.executedPlan.toString
    assert(phys.contains("Window"), "sanity: window-based rank")
  }

  test("globalRowNumber property: 40 seeded random frames match the reference rank") {
    // the r9 redesign (literal sampled boundaries + binary-search pid)
    // must agree with the single-partition reference under skew, ties
    // in the leading key, negative/extreme numerics, and unicode tokens
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 40) {
      val n = 200 + rnd.nextInt(2000)
      val skew = rnd.nextInt(4) // 0 = unique keys, 3 = heavy ties
      val rows = (1 to n).map { i =>
        val w = skew match {
          case 0 => rnd.nextLong()
          case 1 => rnd.nextInt(50).toLong
          case 2 => if (rnd.nextBoolean()) 7L else rnd.nextLong()
          case _ => 1L
        }
        val tok = rnd.nextInt(3) match {
          case 0 => s"t$i"
          case 1 => s"ß${i}äé"
          case _ => f"key$i%08d"
        }
        (w, tok)
      }
      val df = rows.toDF("w", "tok").repartition(1 + rnd.nextInt(8))
      val got = Ranks.globalRowNumber(df, "rk", col("w"), col("tok"))
        .select("w", "tok", "rk")
      val want = {
        import org.apache.spark.sql.expressions.Window
        df.withColumn("rk", row_number().over(
          Window.orderBy(col("w"), col("tok"))).cast("long"))
          .select("w", "tok", "rk")
      }
      // (w, tok) is a unique key in every trial (tok carries i), so the
      // rank is fully determined
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"trial $trial (n=$n skew=$skew) diverged from the reference rank")
    }
  }

  test("globalRowNumber on an empty frame returns empty with the rank column") {
    val df = Seq.empty[(Long, String)].toDF("w", "tok")
    val out = Ranks.globalRowNumber(df, "rk", col("w"), col("tok"))
    assert(out.columns.contains("rk") && out.count() == 0)
  }

  test("release unpersists every frame the library persisted in this session") {
    spark.catalog.clearCache()
    Broadcasts.release(spark) // drain anything a previous test tracked
    Broadcasts.sizeGated(spark.range(50).toDF()) // tracks its persist
    val b = Broadcasts.trackedPersist(spark.range(60).toDF())
    b.count()
    assert(b.storageLevel.useMemory || b.storageLevel.useDisk)
    val n = Broadcasts.release(spark)
    assert(n == 2, s"expected 2 tracked entries, got $n")
    assert(b.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    // idempotent: registry drained, double release is a no-op
    assert(Broadcasts.release(spark) == 0)
  }

  test("withReleased releases the scope's tracked persists on exit") {
    spark.catalog.clearCache()
    Broadcasts.release(spark)
    var inner: org.apache.spark.sql.DataFrame = null
    Broadcasts.withReleased(spark) {
      inner = Broadcasts.trackedPersist(spark.range(100).toDF())
      inner.count()
      assert(inner.storageLevel.useMemory || inner.storageLevel.useDisk)
    }
    assert(inner.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("globalCumSum matches the single-partition cumulative window") {
    val df = (1 to 4000).map(i => (((i * 2654435761L) % 1999).toDouble / 7.0,
      (i % 13).toLong)).toDF("v", "c")
      .groupBy("v").agg(sum(col("c")).as("c"))
    val got = Ranks.globalCumSum(df, "c", "cum", col("v")).select("v", "cum")
    val want = {
      import org.apache.spark.sql.expressions.Window
      df.withColumn("cum", sum(col("c")).over(Window.orderBy("v")))
        .select("v", "cum")
    }
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "distributed cumsum must equal the single-partition reference")
  }
}
