package graft.functions

import org.apache.spark.sql.functions._

/** The compiled hashed-shingle kernel must be SET-equivalent to the
  * declarative string-shingle chain it replaced in the dedup family's
  * postings/verify paths: same distinct count per doc (what sizes and
  * Jaccard denominators read), same co-occurrence structure (equal
  * shingles ⇒ equal hashes; distinct shingles ⇒ distinct hashes at
  * 64-bit collision odds), and the same edge semantics (< n tokens ⇒
  * empty; null ⇒ null; whitespace runs and case folded identically). */
class ShingleHashesSpec extends graft.SparkSpec {

  private def hashesOf(texts: Seq[String], n: Int): Seq[Seq[Long]] = {
    ShingleHashesExpr.register(spark)
    import spark.implicits._
    texts.toDF("text")
      .select(call_function("graft_shingle_hashes", col("text"), lit(n)).as("h"))
      .collect().map(r => Option(r.getSeq[Long](0)).map(_.toSeq).orNull)
      .toSeq
  }

  private def stringShingleCount(text: String, n: Int): Int = {
    import spark.implicits._
    Seq(text).toDF("text")
      .select(size(graft.pipeline.TextOps.shingles(
        graft.pipeline.TextOps.tokens(col("text")), n)).as("c"))
      .head().getInt(0)
  }

  test("distinct count matches the string-shingle chain on varied texts") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a a",                        // all-duplicate shingles
      "  leading   and trailing   spaces  ",
      "ONE two THREE four FIVE six",        // case folding
      "exactly three tokens",
      "two tokens",                         // < n ⇒ empty
      "one",
      "tab\tseparated\tand\nnewline separated tokens here",
      // r12 ADVICE: LEADING/TRAILING non-space whitespace — real corpora
      // end in '\n' constantly, and the kernel/chain/oracle trio used to
      // disagree on exactly these (SQL trim strips only spaces, so the
      // chain kept a phantom ""-token the kernel never saw)
      "ends with a newline\n",
      "\tstarts with a tab and more words",
      "\n\nframed by newlines either side\t\n",
      "a b\n",
      "\t\na b c\t")
    for (t <- texts; n <- Seq(2, 3)) {
      val h = hashesOf(Seq(t), n).head
      val expected = stringShingleCount(t, n)
      assert(h.length == expected,
        s"count mismatch for '$t' n=$n: kernel ${h.length} vs chain $expected")
      assert(h.distinct.length == h.length, "output must be distinct")
      assert(h == h.sorted, "output is sorted by contract")
    }
  }

  test("equal shingle windows hash equal across docs; disjoint docs share nothing") {
    val Seq(a, b, c) = hashesOf(Seq(
      "alpha beta gamma delta epsilon",
      "zz alpha beta gamma yy",  // shares exactly the 'alpha beta gamma' window
      "p q r s t"), 3)
    assert(a.toSet.intersect(b.toSet).size == 1,
      "exactly the one shared 3-gram must collide")
    assert(a.toSet.intersect(c.toSet).isEmpty)
  }

  test("edge semantics: null text is null, empty/whitespace text is empty") {
    ShingleHashesExpr.register(spark)
    import spark.implicits._
    val rows = Seq(Some("a b c"), None, Some(""), Some("   \t  "))
      .toDF("text")
      .select(call_function("graft_shingle_hashes", col("text"), lit(3)).as("h"))
      .collect()
    assert(rows(0).getSeq[Long](0).length == 1)
    assert(rows(1).isNullAt(0), "null in, null out (UnaryExpression contract)")
    assert(rows(2).getSeq[Long](0).isEmpty)
    assert(rows(3).getSeq[Long](0).isEmpty)
  }
}
