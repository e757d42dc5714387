package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup.jaccardJoin over word sets — exact set-similarity join by
  * prefix filtering (AllPairs/PPJoin), plus Series.markovTransitions. */
class PrefixJoinSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon"),
    (2L, "alpha beta gamma delta zeta"),     // J(1,2) = 4/6
    (3L, "alpha beta gamma delta epsilon"),  // J(1,3) = 1
    (4L, "omega psi chi phi"),               // disjoint-ish
    (5L, "omega psi chi phi upsilon")        // J(4,5) = 4/5
  ).toDF("doc_id", "text")

  private def brute(threshold: Double) = {
    val base = docs.select(col("doc_id").as("id"),
      array_distinct(TextOps.tokens(col("text"))).as("ts"))
    base.as("a").crossJoin(base.as("b"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("inter", size(array_intersect(col("a.ts"), col("b.ts"))))
      .withColumn("j", col("inter").cast("double") /
        (size(col("a.ts")) + size(col("b.ts")) - col("inter")).cast("double"))
      .filter(col("j") >= threshold)
      .select(col("a.id").as("i"), col("b.id").as("j2"), col("j"))
  }

  test("prefix filtering is lossless at several thresholds") {
    for (t <- Seq(0.5, 0.66, 0.8, 1.0)) {
      val got = Dedup.jaccardJoin(docs, "doc_id", "text", t, Dedup.WordSets).pairs
        .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = brute(t).select("i", "j2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"threshold $t")
    }
  }

  test("exact-duplicate pair scores 1.0; near pair scores its true Jaccard") {
    val out = Dedup.jaccardJoin(docs, "doc_id", "text", 0.6, Dedup.WordSets).pairs
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 3L)) === 1.0)
    assert(math.abs(out((1L, 2L)) - 4.0 / 6.0) < 1e-12)
    assert(math.abs(out((4L, 5L)) - 4.0 / 5.0) < 1e-12)
  }

  test("prefix postings shrink as the threshold rises (the pruning claim)") {
    val loose = Dedup.prefixPostings(docs, "doc_id", "text", 0.5, Dedup.WordSets).count()
    val tight = Dedup.prefixPostings(docs, "doc_id", "text", 0.95, Dedup.WordSets).count()
    val full = docs.select(explode(array_distinct(
      TextOps.tokens(col("text"))))).count()
    assert(tight < loose)
    assert(loose < full, "even a loose prefix beats the full inverted index")
    // at t close to 1 each record contributes exactly one posting
    assert(tight === docs.count())
  }

  // ---- Series.markovTransitions -----------------------------------------

  test("markov transitions count lagged pairs and Laplace-normalize rows") {
    // user 1 path: a -> b -> a ; user 2 path: a -> b  (3 transitions)
    val ev = Seq(
      (1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"), (1L, 3L, 3L, "a"),
      (2L, 1L, 4L, "a"), (2L, 2L, 5L, "b")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = Series.markovTransitions(ev, "user_id", "ts", "event_id",
      "event_type").orderBy("prev_state", "state").collect()
    // transitions: a->b (x2), b->a (x1); 2 observed states
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      === Seq(("a", "b", 2L), ("b", "a", 1L)))
    // P(b|a) = (2+1)/(2+2) = 0.75 ; P(a|b) = (1+1)/(1+2) = 0.666667
    assert(out(0).getDouble(3) === 0.75)
    assert(math.abs(out(1).getDouble(3) - 2.0 / 3) < 1e-6)
  }

  test("markov never crosses user boundaries") {
    val ev = Seq((1L, 1L, 1L, "a"), (2L, 2L, 2L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    assert(Series.markovTransitions(ev, "user_id", "ts", "event_id",
      "event_type").count() === 0)
  }

  // ---- Series.ksDrift ---------------------------------------------------

  test("ksDrift computes the exact two-sample sup gap") {
    // group a = {1,2}, group b = {3,4}; global = {1,2,3,4}.
    // F_a jumps to 1 by v=2 where F = 0.5 -> D_a = 0.5; symmetric for b.
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0))
      .toDF("g", "v")
    val out = Series.ksDrift(df, "g", "v", threshold = 0.4)
      .orderBy("g").collect()
    assert(out.map(_.getDouble(2)).toSeq === Seq(0.5, 0.5))
    assert(out.forall(_.getBoolean(3)))
  }

  // ---- Ann.kCenterSelect ------------------------------------------------

  test("k-center picks the farthest point each round, radius non-increasing") {
    // four unit vectors: two near-identical pairs on orthogonal axes.
    // seed = id 1 (min id, x-ish); pick 2 must be a y-axis vector (far),
    // picks 3/4 are the near-twins (tiny radius)
    val e = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.999f, 0.0447f)),
      (3L, Seq(0f, 1f)), (4L, Seq(0.0447f, 0.999f))
    ).toDF("vec_id", "embedding")
    val out = Ann.kCenterSelect(e, k = 4).orderBy("rk").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 3L, 2L, 4L))
    val radii = out.drop(1).map(_.getDouble(2))
    assert(radii.sameElements(radii.sorted.reverse), "radius must not increase")
    assert(radii.head > 0.9 && radii.last < 0.01)
  }

  // ---- Series.markovAttribution ----------------------------------------

  test("markov attribution matches the hand-computed absorbing chain") {
    // u1: a -> purchase ; u2: a (drops) ; u3: b -> purchase
    // P(START->a)=2/3, P(START->b)=1/3, P(a->CONV)=1/2, P(b->CONV)=1
    // p_base = 2/3*1/2 + 1/3 = 2/3; removing either channel leaves 1/3
    val ev = Seq(
      (1L, 1L, 1L, "a"), (1L, 2L, 2L, "purchase"),
      (2L, 1L, 3L, "a"),
      (3L, 1L, 4L, "b"), (3L, 2L, 5L, "purchase")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = Series.markovAttribution(ev, "user_id", "ts", "event_id",
      "event_type", convState = "purchase").orderBy("channel").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "b"))
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("p_base") - 2.0 / 3) < 1e-6)
      assert(math.abs(r.getAs[Double]("p_removed") - 1.0 / 3) < 1e-6)
      assert(math.abs(r.getAs[Double]("share") - 0.5) < 1e-6)
    }
  }

  test("markov attribution truncates journeys at the first conversion") {
    // events AFTER the purchase must not create transitions
    val ev = Seq(
      (1L, 1L, 1L, "a"), (1L, 2L, 2L, "purchase"), (1L, 3L, 3L, "zzz")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = Series.markovAttribution(ev, "user_id", "ts", "event_id",
      "event_type", convState = "purchase").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a")) // zzz never a channel
  }

  test("ksDrift is zero for a group identical to the global mix") {
    // both groups hold the same values -> each group's ECDF == global
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0))
      .toDF("g", "v")
    val out = Series.ksDrift(df, "g", "v").collect()
    assert(out.forall(_.getDouble(2) === 0.0))
    assert(out.forall(!_.getBoolean(3)))
  }
}
