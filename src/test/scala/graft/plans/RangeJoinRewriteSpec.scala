package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The optimizer rule must be EXACT (same pairs as the naive theta
  * join, boundary cases included) and conservative (no-op without its
  * conf, no-op when an equi conjunct already exists). */
class RangeJoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  // planted intervals: bucket-boundary touching pairs, contained
  // intervals, a degenerate e < s row, an exact-endpoint touch, and
  // far-apart non-matches (width 100 in the tests)
  private def leftDf: DataFrame = Seq(
    (1L, 0L, 100L),     // exactly one bucket wide
    (2L, 95L, 205L),    // spans a boundary
    (3L, 300L, 310L),
    (4L, 500L, 450L),   // degenerate: e < s
    (5L, 1000L, 1100L)
  ).toDF("l_id", "l_s", "l_e")

  private def rightDf: DataFrame = Seq(
    (10L, 100L, 100L),  // point touching l1's end and l2's interior
    (11L, 200L, 299L),  // touches l2, just misses l3
    (12L, 310L, 400L),  // touches l3's endpoint exactly
    (13L, 440L, 520L),  // overlaps the degenerate row's theta semantics
    (14L, 5000L, 5100L) // matches nothing
  ).toDF("r_id", "r_s", "r_e")

  private def naive: DataFrame =
    leftDf.join(rightDf)
      .filter(col("l_s") <= col("r_e") && col("r_s") <= col("l_e"))

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("l_id", "r_id").as[(Long, Long)].collect().toSet

  private def withRule[T](width: Long)(body: => T): T = {
    val prevOpt = spark.experimental.extraOptimizations
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(RangeJoinRewrite.WidthKey, width.toString)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.experimental.extraOptimizations = prevOpt :+ RangeJoinRewrite
    try body
    finally {
      spark.experimental.extraOptimizations = prevOpt
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.unset(RangeJoinRewrite.WidthKey)
    }
  }

  test("rewrite is exact on boundary/degenerate cases and kills the quadratic plan") {
    val expected = pairs(naive) // rule not installed
    assert(expected.nonEmpty && !expected.exists(_._2 == 14L))
    // theta semantics keep the degenerate row's matches: (4, 13)
    assert(expected.contains((4L, 13L)))
    for (width <- Seq(1L, 7L, 100L, 1000L, 1000000L)) {
      withRule(width) {
        val df = naive
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoop"),
          s"width=$width left a quadratic join:\n${plan.take(800)}")
        assert(pairs(df) === expected, s"width=$width changed the pair set")
      }
    }
  }

  test("every pair emits exactly once (canonical bucket, no distinct)") {
    withRule(100L) {
      val rows = naive.select("l_id", "r_id").as[(Long, Long)].collect()
      assert(rows.length === rows.distinct.length,
        "a pair was emitted from more than one bucket")
    }
  }

  test("no-op without the width conf and when an equi conjunct exists") {
    // width unset: plan stays whatever Spark picks (no bucket explode)
    val prevOpt = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prevOpt :+ RangeJoinRewrite
    try {
      val plan = naive.queryExecution.optimizedPlan.toString
      assert(!plan.contains("__bucket_l"), "rule fired without its conf")
    } finally spark.experimental.extraOptimizations = prevOpt
    // equi conjunct present: the hash join is already fine — keep it
    withRule(100L) {
      val equi = leftDf.join(rightDf,
        col("l_id") === col("r_id") - 9L &&
          col("l_s") <= col("r_e") && col("r_s") <= col("l_e"))
      val plan = equi.queryExecution.optimizedPlan.toString
      assert(!plan.contains("__bucket_l"), "rule fired over an equi join")
      assert(pairs(equi) === pairs(equi)) // sanity: evaluable
    }
  }

  test("property: random intervals x random widths — rewritten pair set equals naive") {
    // seeded random corpora with deliberate collisions, shared endpoints
    // and degenerate e<s rows; ONE rule-off baseline per corpus, then the
    // pair set must survive any bucket width
    for (seed <- 1 to 12) {
      val r = new scala.util.Random(seed)
      def corpus(p: String, n: Int) = (1 to n).map { i =>
        val s = r.nextInt(2000).toLong
        val len = r.nextInt(300).toLong - 20L // some negatives: e < s
        (i.toLong, s, s + len)
      }.toDF(s"${p}_id", s"${p}_s", s"${p}_e")
      val l = corpus("l", 30).cache()
      val rr = corpus("r", 30).cache()
      def theta = l.join(rr)
        .filter(col("l_s") <= col("r_e") && col("r_s") <= col("l_e"))
      val expected = pairs(theta)
      val width = 1L + r.nextInt(500)
      withRule(width) {
        val got = theta.select("l_id", "r_id").as[(Long, Long)].collect()
        assert(got.length === got.distinct.length,
          s"seed=$seed width=$width emitted a pair twice")
        assert(got.toSet === expected, s"seed=$seed width=$width pair drift")
      }
      l.unpersist(); rr.unpersist()
    }
  }

  test("config-only install through GraftExtensions fires the rule") {
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // own builder: extensions need a fresh session, not Session's shared one
    val s2 = SparkSession.builder().master("local[2]")
      .appName("rj-ext-spec")
      .withExtensions(e => new graft.GraftExtensions().apply(e))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      s2.conf.set(RangeJoinRewrite.WidthKey, "100")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import s2.implicits._
      val l = Seq((1L, 0L, 100L), (2L, 300L, 400L)).toDF("l_id", "l_s", "l_e")
      val r = Seq((10L, 50L, 60L), (11L, 500L, 600L)).toDF("r_id", "r_s", "r_e")
      val df = l.join(r)
        .filter(col("l_s") <= col("r_e") && col("r_s") <= col("l_e"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"),
        s"extensions route did not fire the rule:\n${plan.take(800)}")
      assert(df.select("l_id", "r_id").as[(Long, Long)].collect().toSet ===
        Set((1L, 10L)))
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
