package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** The extensions hook must make every graft function available with
  * configuration alone. Extensions are a per-SparkSession concern, so
  * the spec builds its OWN session — over the JVM's existing
  * SparkContext if one is up (stopping it would kill sibling suites),
  * restoring the previous default/active session afterwards. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions=graft.GraftExtensions enables all function families") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    // force a NEW SparkSession (extensions apply at session creation;
    // getOrCreate would hand back a sibling suite's session unchanged).
    // `spark.sql.extensions` is a STATIC conf — honored only when the
    // SparkContext itself is created (the spark-submit path); in a JVM
    // whose context already exists (this suite) the equivalent
    // programmatic route is builder.withExtensions with the same object.
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // own builder: extensions need a fresh session, not Session's shared one
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("ext-spec")
      .withExtensions(e => new GraftExtensions().apply(e))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      // one probe per injected family, no register() calls anywhere
      val row = spark.sql("""
        SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cos,
               graft_bitmap_count(graft_bitmap_agg(x)) AS bc,
               element_at(graft_topn(CAST(x AS STRING), 1, 4), 1).value AS tv,
               money_format(1234567.5) AS mf,
               size(graft_minhash_sig(array('a', 'b'), 4, 7)) AS mh,
               size(graft_winnowing('abcdefghij abcdefghij', 4, 2)) > 0 AS wn,
               graft_window_funnel(100, x, x = 1, x = 2) AS wf,
               graft_retention(x = 1, x = 2) AS ret,
               graft_sequence_match('(?1).*(?2)', x, x = 1, x = 2) AS sm,
               graft_vec_sum(array(CAST(x AS DOUBLE)))[0] AS vs,
               size(graft_shingle_hashes('a b c', 2)) AS sh,
               graft_distinct_kgrams('abab', 2) AS dk,
               graft_kll_quantiles(graft_kll(CAST(x AS DOUBLE), 200), array(1.0D))[0] AS kq,
               size(graft_cdc_boundaries('abcdefgh', 2, 1)) AS cdc,
               graft_kmv(CAST(x AS DOUBLE) / 10, 16).n_min AS kmv
        FROM VALUES (1L), (1L), (2L) t(x)""").head()
      assert(row.getDouble(0) == 1.0)
      assert(row.getLong(1) == 2L)
      assert(row.getString(2) == "1")
      assert(row.getString(3) == "1,234,567.50")
      assert(row.getInt(4) == 4)
      assert(row.getBoolean(5))
      assert(row.getInt(6) == 2)                       // funnel 1 → 2
      assert(row.getSeq[Boolean](7) == Seq(true, true)) // retention gating
      assert(row.getBoolean(8))                         // sequence match
      assert(row.getDouble(9) == 4.0)                   // vector sum
      assert(row.getInt(10) == 2)                       // "a b", "b c"
      assert(row.getLong(11) == 2L)                     // "ab", "ba"
      assert(row.getDouble(12) == 2.0)                  // KLL max
      assert(row.getInt(13) == 7)                       // every window end
      assert(row.getLong(14) == 2L)                     // KMV distinct values
      // newSession() forks see the functions too (replay scheduler path)
      val forked = spark.newSession()
      assert(forked.sql("SELECT money_format(1.0)").head().getString(0) == "1.00")
    } finally {
      // never stop the (shared) context; just restore session defaults
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
