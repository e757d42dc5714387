package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-6 curation operators: C4 line cleaning, bloom-prefiltered
  * decontamination, SemDeDup, duplicated-span profile, temperature
  * mixing, alternating-star connected components. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // ---- Clean.c4Lines ----------------------------------------------------

  test("c4Lines applies rules in precedence order and counts partition drops") {
    val doc = Seq(
      "this is a perfectly fine first sentence.",   // kept
      "please enable javascript to continue.",      // boiler (despite punct+words)
      "too short.",                                  // short
      "this long line is missing its terminal punctuation", // nopunct
      "this is a perfectly fine first sentence.",   // dup of line 1
      "a distinct closing line rounds out the doc." // kept
    ).mkString("\n")
    val out = Clean.c4Lines(Seq((1L, doc)).toDF("doc_id", "text"), "doc_id", "text")
      .head()
    assert(out.getAs[Long]("n_lines") === 6)
    assert(out.getAs[Long]("n_boiler") === 1)
    assert(out.getAs[Long]("n_short") === 1)
    assert(out.getAs[Long]("n_nopunct") === 1)
    assert(out.getAs[Long]("n_dupline") === 1)
    assert(out.getAs[Long]("n_kept") === 2)
    assert(out.getAs[Boolean]("doc_keep") === false) // 2 < minKeptLines
  }

  test("c4Lines oversize gate: loud by default, in-band drop when configured") {
    // 6 kept-eligible lines against a cap of 4 — over the bound
    val big = (1 to 6).map(i => s"line number $i is a fine sentence.")
      .mkString("\n")
    val ok = "a perfectly ordinary single sentence stands here.\n" +
      "and a second distinct sentence closes it out.\n" +
      "plus a third so the doc clears the kept-lines gate."
    val df = Seq((1L, big), (2L, ok)).toDF("doc_id", "text")
    // default: the whole job fails loudly, naming the bound
    val e = intercept[Exception] {
      Clean.c4Lines(df, "doc_id", "text",
        Clean.C4Config(dedupLineCap = 4)).collect()
    }
    assert(e.getMessage.contains("kept-eligible lines"))
    // failOnOversize=false: the oversized doc is dropped IN-BAND
    // (n_dupline=-1 marker, nothing kept) and the healthy doc survives
    val rows = Clean.c4Lines(df, "doc_id", "text",
        Clean.C4Config(dedupLineCap = 4, failOnOversize = false))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Long]("n_dupline") === -1L)
    assert(rows(1L).getAs[Long]("n_kept") === 0L)
    assert(!rows(1L).getAs[Boolean]("doc_keep"))
    assert(rows(2L).getAs[Boolean]("doc_keep"))
    assert(rows(2L).getAs[Long]("n_dupline") === 0L)
  }

  test("c4Lines doc-level gates: lorem ipsum and braces kill the doc") {
    val good = (1 to 4).map(i =>
      s"good sentence number $i with plenty of words present.").mkString("\n")
    val df = Seq(
      (1L, good),
      (2L, good + "\nlorem ipsum dolor sit amet filler text here."),
      (3L, good.replace("plenty", "{plenty}"))
    ).toDF("doc_id", "text")
    val keep = Clean.c4Lines(df, "doc_id", "text")
      .select("doc_id", "doc_keep").as[(Long, Boolean)].collect().toMap
    assert(keep(1L) === true)
    assert(keep(2L) === false)
    assert(keep(3L) === false)
  }

  test("c4Lines cleaned text keeps first occurrences in order") {
    val doc = Seq(
      "alpha line one has five words total.",
      "beta line two also has enough words.",
      "alpha line one has five words total.").mkString("\n")
    val out = Clean.c4Lines(Seq((1L, doc)).toDF("doc_id", "text"), "doc_id", "text").head()
    val expected = "alpha line one has five words total.\n" +
      "beta line two also has enough words."
    assert(out.getAs[Long]("clean_chars") === expected.length.toLong)
    assert(out.getAs[String]("clean_md5") ===
      java.security.MessageDigest.getInstance("MD5")
        .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("c4Lines drop counts PARTITION the lines (property over random docs)") {
    // every line lands in exactly one bucket: boiler | short | nopunct |
    // dup | kept — so the five counts must always sum to n_lines
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val lineGen = Gen.oneOf(
      Gen.const("a perfectly adequate sentence lives right here."),
      Gen.const("please enable javascript to proceed further today."),
      Gen.const("short one."),
      Gen.const("this longer line carries no terminal punctuation at all"),
      Gen.alphaLowerStr.map(s => s"generated $s words fill this line out."))
    val docGen = Gen.nonEmptyListOf(lineGen).map(_.take(12).mkString("\n"))
    val prop = Prop.forAll(Gen.nonEmptyListOf(docGen).map(_.take(8))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      Clean.c4Lines(df, "doc_id", "text").collect().forall { r =>
        r.getAs[Long]("n_boiler") + r.getAs[Long]("n_short") +
          r.getAs[Long]("n_nopunct") + r.getAs[Long]("n_dupline") +
          r.getAs[Long]("n_kept") == r.getAs[Long]("n_lines")
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- Clean.globalLineDedup -------------------------------------------

  test("globalLineDedup removes lines in >= maxDocs distinct docs, keeps order") {
    val footer = "all rights reserved."
    val df = Seq(
      (1L, s"alpha unique one\n$footer\nomega unique one"),
      (2L, s"$footer\nbeta unique two"),
      (3L, s"gamma unique three\n$footer"),
      // doc 4 repeats the footer twice WITHIN the doc: still one distinct
      // doc for the count, and both copies are removed
      (4L, s"$footer\ndelta unique four\n$footer")
    ).toDF("doc_id", "text")
    val out = Clean.globalLineDedup(df, "doc_id", "text", maxDocs = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_removed") === 1)
    assert(out(1L).getAs[Long]("n_kept") === 2)
    assert(out(4L).getAs[Long]("n_removed") === 2)
    assert(out(4L).getAs[Long]("n_kept") === 1)
    def md5of(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L).getAs[String]("clean_md5") ===
      md5of("alpha unique one\nomega unique one"))
    assert(out(4L).getAs[String]("clean_md5") === md5of("delta unique four"))
  }

  test("globalLineDedup: below-threshold lines survive; all-hot doc hashes empty") {
    val shared = "shared by exactly two docs"
    val df = Seq(
      (1L, s"$shared\nmine alone one"),
      (2L, s"$shared\nmine alone two"),
      (3L, shared) // with maxDocs=3 the 3-doc line IS hot; doc 3 empties
    ).toDF("doc_id", "text")
    val out = Clean.globalLineDedup(df, "doc_id", "text", maxDocs = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_removed") === 1)
    assert(out(3L).getAs[Long]("n_kept") === 0)
    def md5of(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(3L).getAs[String]("clean_md5") === md5of(""))
    // two-doc line survives when threshold is 3
    val out2 = Clean.globalLineDedup(
      df.filter(col("doc_id") < 3L), "doc_id", "text", maxDocs = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out2(1L).getAs[Long]("n_removed") === 0)
  }

  // ---- Lm.bm25TopK -------------------------------------------------------

  test("bm25TopK matches the hand-computed score and ranks rare-term docs first") {
    // corpus: d1 has the rare term once; d2 has the common term; both len 4
    val df = Seq(
      (1L, "rare aaa bbb ccc"),
      (2L, "common aaa bbb ccc"),
      (3L, "common common aaa bbb"),
      (4L, "aaa bbb ccc ddd")).toDF("doc_id", "text")
    val out = Lm.bm25TopK(df, "doc_id", "text",
      queries = Seq(1 -> "rare", 2 -> "common"), k = 10)
      .collect().groupBy(_.getAs[Int]("query_id"))
    // q1: only d1 matches; hand-compute Lucene-BM25 with N=4, df=1,
    // tf=1, dl=4, avgdl=4, k1=1.2, b=0.75
    val idfRare = math.log(1.0 + (4.0 - 1.0 + 0.5) / 1.5)
    val expected1 = idfRare * (1.0 * 2.2) / (1.0 + 1.2 * (0.25 + 0.75 * 1.0))
    val q1 = out(1)
    assert(q1.map(_.getAs[Long]("id")).toSeq === Seq(1L))
    assert(math.abs(q1.head.getAs[Double]("score") -
      (math.rint(expected1 * 1e6) / 1e6)) < 1e-9)
    // q2: d3 (tf=2) outranks d2 (tf=1); d1/d4 don't match
    val q2 = out(2).sortBy(_.getAs[Long]("rk"))
    assert(q2.map(_.getAs[Long]("id")).toSeq === Seq(3L, 2L))
  }

  // ---- Dedup.retractFromIndex -------------------------------------------

  test("retractFromIndex removes exactly the deleted ids, keeps the params stamp") {
    val df = (0L until 20L).map(i =>
      (i, s"document number $i carries some shared words plus token$i here"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashIndex(df, "doc_id", "text")
    val deletes = Seq(3L, 7L, 3L).toDF("doc_id") // duplicate delete is fine
    val retained = Dedup.retractFromIndex(index, deletes, "doc_id")
    val ids = retained.select("id").distinct().as[Long].collect().toSet
    assert(!ids.contains(3L) && !ids.contains(7L))
    assert(ids === (0L until 20L).toSet -- Set(3L, 7L))
    // surviving rows are byte-identical to the original index rows
    assert(retained.exceptAll(index.filter(!col("id").isin(3L, 7L))).isEmpty)
    // params stamp survives → incremental ingest still accepts the index
    val p = retained.select("params.k", "params.bands").distinct().head()
    assert(p.getInt(0) === 64 && p.getInt(1) === 16)
  }

  // ---- Lm.bigramNll ------------------------------------------------------

  test("bigramNll matches the hand-computed interpolated probability") {
    // corpus: "a b" and "a b a" → unigrams: a=3, b=2, N=5
    // bigrams: (a,b)=2, (b,a)=1
    val df = Seq((1L, "a b"), (2L, "a b a")).toDF("doc_id", "text")
    val out = Lm.bigramNll(df, "doc_id", "text", lambda = 0.7)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val pAB = 0.7 * 2.0 / 3.0 + 0.3 * 2.0 / 5.0 // p(b|a)
    val pBA = 0.7 * 1.0 / 2.0 + 0.3 * 3.0 / 5.0 // p(a|b)
    assert(out(1L).getAs[Long]("n_bigrams") === 1)
    assert(math.abs(out(1L).getAs[Double]("avg_nll") - (-math.log(pAB))) < 1e-12)
    assert(out(2L).getAs[Long]("n_bigrams") === 2)
    val expected = (-math.log(pAB) - math.log(pBA)) / 2.0
    assert(math.abs(out(2L).getAs[Double]("avg_nll") - expected) < 1e-12)
  }

  test("bigramNll: single-token docs emit no row; nll is always positive here") {
    val df = Seq((1L, "lonely"), (2L, "two words")).toDF("doc_id", "text")
    val out = Lm.bigramNll(df, "doc_id", "text").collect()
    assert(out.map(_.getAs[Long]("id")).toSet === Set(2L))
    // interpolated p < 1 strictly when the vocabulary has >1 type
    assert(out.head.getAs[Double]("avg_nll") > 0.0)
  }

  test("alternating CC handles hub, complete, and self/duplicate-edge graphs") {
    // hub: star already — must converge immediately and label by the hub min
    val hub = (1L to 20L).map(v => (0L, v)).toDF("i", "j")
    val hubLabels = Dedup.connectedComponents(hub)
      .as[(Long, Long)].collect()
    assert(hubLabels.length === 21 && hubLabels.forall(_._2 === 0L))
    // complete graph K8 (+ duplicate and self edges, which must be ignored)
    val k8 = (for { i <- 0L until 8L; j <- 0L until 8L if i != j }
      yield (i, j)) ++ Seq((3L, 3L), (1L, 2L), (1L, 2L))
    val k8Labels = Dedup.connectedComponents(k8.toDF("i", "j"))
      .as[(Long, Long)].collect()
    assert(k8Labels.length === 8 && k8Labels.forall(_._2 === 0L))
  }

  test("dsirLogWeights ranks target-profile docs above junk, by content") {
    // target vocab {alpha beta} appears only in target docs; junk vocab
    // {zzz yyy} only in raw. n_feats = tokens + bigrams.
    val df = Seq(
      (1L, true, "alpha beta alpha"), (2L, true, "beta alpha beta"),
      (3L, false, "zzz yyy zzz"), (4L, false, "yyy zzz yyy"),
      (5L, false, "alpha beta alpha")   // raw doc with target profile
    ).toDF("doc_id", "tgt", "text")
    val out = Mixing.dsirLogWeights(df, "doc_id", "text", $"tgt", buckets = 64)
      .select("id", "n_feats", "log_w").as[(Long, Long, Double)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L)._1 === 5L)           // 3 tokens + 2 bigrams
    // the RANKING is the DSIR contract (absolute values carry the
    // smoothing normalization): every target-profile doc outscores
    // every junk doc
    val tgtScores = Seq(out(1L)._2, out(2L)._2, out(5L)._2)
    val junkScores = Seq(out(3L)._2, out(4L)._2)
    assert(tgtScores.min > junkScores.max)
    // importance weighting scores CONTENT, not the label: the raw doc
    // with identical text to target doc 1 scores identically
    assert(out(5L)._2 === out(1L)._2)
  }

  test("canonicalKeep keeps best score per cluster, ties to smallest id") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("v", "lbl")
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 20L), (4L, 7L), (5L, 7L))
      .toDF("doc_id", "n_chars")
    val out = Dedup.canonicalKeep(labels, docs, "doc_id", "n_chars")
      .select("doc_id", "cluster", "keep")
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(2L) === ((1L, true)))   // best score in cluster 1
    assert(out(1L) === ((1L, false)) && out(3L) === ((1L, false)))
    assert(out(4L) === ((4L, true)))   // score tie → smaller id keeps
    assert(out(5L) === ((4L, false)))
    assert(out.size === 5)
  }

  test("canonicalKeep ranks FRACTIONAL quality scores (no long truncation)") {
    // Gopher-style keep-scores in [0,1]: a long cast would truncate all
    // of these to 0, tie every cluster, and keep the smallest id
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("v", "lbl")
    val docs = Seq((1L, 0.17), (2L, 0.92), (3L, -0.4), (4L, -0.1))
      .toDF("doc_id", "q")
    val keep = Dedup.canonicalKeep(labels, docs, "doc_id", "q")
      .filter(col("keep")).select("doc_id")
      .as[Long].collect().toSet
    assert(keep === Set(2L, 4L),
      "the HIGHER fractional (and the less-negative) score must win")
  }

  // ---- Dedup.bloomContaminationPairs -------------------------------------

  private def corpus(n: Int) = {
    val docs = (0 until n).map { i =>
      val words = (0 until 30).map(w => s"w${(i * 31 + w * 7) % 97}")
      (i.toLong, words.mkString(" "))
    }
    // plant containment: doc n   = full copy of doc 0's text plus noise
    val planted = (n.toLong, docs(0)._2 + " extra tail words here")
    (docs :+ planted).toDF("doc_id", "text")
  }

  test("bloom prefilter returns the exact contamination pair set") {
    val d = corpus(40)
    val probe = d.filter(col("doc_id") % 10 === 0)
    val train = d.filter(col("doc_id") % 10 =!= 0)
    val exact = Dedup.contaminationPairs(train, probe, "doc_id", "text",
      threshold = 0.3).orderBy("train_id", "eval_id").collect().toSeq
    val bloomed = Dedup.bloomContaminationPairs(train, probe, "doc_id", "text",
      threshold = 0.3).orderBy("train_id", "eval_id").collect().toSeq
    assert(exact.nonEmpty, "fixture must produce at least one contaminated pair")
    assert(bloomed === exact)
  }

  test("bloom prefilter prunes nearly everything when probe is disjoint") {
    val train = (0 until 200).map(i =>
      (i.toLong, (0 until 20).map(w => s"t${i}x$w").mkString(" ")))
      .toDF("doc_id", "text")
    val probe = Seq((9999L, (0 until 20).map(w => s"probeword$w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.bloomContaminationPairs(train, probe, "doc_id", "text",
      threshold = 0.1)
    assert(out.count() === 0)
  }

  // ---- Dedup.dupSpanProfile ----------------------------------------------

  test("dupSpanProfile flags cross-doc duplicated windows only") {
    val span = (1 to 12).map(i => s"shared$i").mkString(" ")
    val df = Seq(
      (1L, span + " unique one tail of doc"),
      (2L, "prefix words for doc two " + span),
      (3L, (1 to 20).map(i => s"only$i").mkString(" "))
    ).toDF("doc_id", "text")
    val prof = Dedup.dupSpanProfile(df, "doc_id", "text", window = 8)
      .orderBy("id").collect()
    val byId = prof.map(r => r.getLong(0) -> r).toMap
    // the 12 shared tokens give 5 shared 8-windows; both docs must flag ≥5
    assert(byId(1L).getAs[Long]("n_dup_windows") >= 5)
    assert(byId(2L).getAs[Long]("n_dup_windows") >= 5)
    assert(byId(3L).getAs[Long]("n_dup_windows") === 0)
    assert(byId(3L).getAs[Double]("dup_frac") === 0.0)
  }

  test("dupSpanRemoval cuts exactly the tokens under cross-doc duplicated windows") {
    val span = (1 to 12).map(i => s"shared$i").mkString(" ")
    val df = Seq(
      (1L, span + " " + (1 to 6).map(i => s"uone$i").mkString(" ")),
      (2L, (1 to 5).map(i => s"utwo$i").mkString(" ") + " " + span),
      (3L, (1 to 10).map(i => s"uthree$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanRemoval(df, "doc_id", "text", window = 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    // the 12 shared tokens are fully covered by the 5 shared windows;
    // boundary-spanning windows differ between docs, so nothing else goes
    assert(out(1L).getAs[Long]("n_removed") === 12)
    assert(out(2L).getAs[Long]("n_removed") === 12)
    assert(out(3L).getAs[Long]("n_removed") === 0)
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L).getAs[String]("clean_md5") ===
      md5((1 to 6).map(i => s"uone$i").mkString(" ")))
    assert(out(2L).getAs[String]("clean_md5") ===
      md5((1 to 5).map(i => s"utwo$i").mkString(" ")))
  }

  // ---- Ann.semDedupPairs ---------------------------------------------------

  test("semDedup within-cell pairs match a brute force restricted to cells") {
    val rnd = new scala.util.Random(7)
    val base = (0 until 60).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1))
    }
    // plant near-dups: vectors 100+i ≈ vectors i (tiny perturbation)
    val dups = (0 until 5).map { i =>
      (100L + i, base(i)._2.map(x => x + 0.01f))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val cells = Ann.kmeansCells(emb, nCells = 4)
    val got = Ann.semDedupPairs(emb, cells, threshold = 0.95)
      .select("i", "j").as[(Long, Long)].collect().toSet
    // brute force within cells
    val cellMap = cells.as[(Long, Long)].collect().toMap
    val vecs = emb.as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val want = (for {
      i <- vecs.keys; j <- vecs.keys
      if i < j && cellMap(i) == cellMap(j)
      if BigDecimal(cos(vecs(i), vecs(j))).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.95
    } yield (i, j)).toSet
    assert(got === want)
    // the planted dups must be found (same cell by construction of KMeans)
    assert((0 until 5).count(i => got.contains((i.toLong, 100L + i))) >= 4)
  }

  // ---- Mixing.temperatureRates ---------------------------------------------

  test("temperature tau=1 is proportional sampling: every rate = targetFrac") {
    val counts = Seq(("a", 100L), ("b", 300L), ("c", 50L)).toDF("source", "n")
    val r = Mixing.temperatureRates(counts, "source", "n", tau = 1.0, targetFrac = 0.5)
      .select("source", "rate").as[(String, Double)].collect().toMap
    r.values.foreach(v => assert(math.abs(v - 0.5) < 1e-12))
  }

  test("temperature tau=0 equalizes expected per-source volume") {
    val counts = Seq(("a", 100L), ("b", 400L)).toDF("source", "n")
    val r = Mixing.temperatureRates(counts, "source", "n", tau = 0.0, targetFrac = 0.4)
      .select("source", "rate", "n").as[(String, Double, Long)].collect()
    // expected kept = rate * n must be equal across sources (=f*N/S=100)
    r.foreach { case (_, rate, n) => assert(math.abs(rate * n - 100.0) < 1e-9) }
  }

  // ---- Mixing.uniMaxAllocation ---------------------------------------------

  test("uniMax: huge budget caps everything; tiny budget splits equally; mixed matches greedy") {
    val counts = Seq(("a", 100L), ("b", 300L), ("c", 50L)).toDF("source", "n")
    def run(budget: Double, cap: Double) =
      Mixing.uniMaxAllocation(counts, "source", "n", budget, cap)
        .select("source", "capped", "alloc")
        .as[(String, Boolean, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // budget above total capacity: every source takes its full cap
    val big = run(budget = 10000.0, cap = 2.0)
    assert(big.values.forall(_._1))
    assert(math.abs(big.values.map(_._2).sum - 900.0) < 1e-9)
    // budget below the smallest cap x m: nobody capped, equal thirds
    val small = run(budget = 90.0, cap = 2.0)
    assert(small.values.forall(!_._1))
    small.values.foreach(v => assert(math.abs(v._2 - 30.0) < 1e-9))
    // mixed: greedy water-filling by hand — caps (c=100, a=200, b=600),
    // B=500: c takes min(100, 500/3)=100, a takes min(200, 400/2)=200,
    // b takes the remaining 200, uncapped
    val mix = run(budget = 500.0, cap = 2.0)
    assert(mix("c") === ((true, 100.0)))
    assert(mix("a") === ((true, 200.0)))
    assert(mix("b")._1 === false)
    assert(math.abs(mix("b")._2 - 200.0) < 1e-9)
  }

  test("uniMax: no source ever exceeds its epoch cap; mass = min(budget, capacity)") {
    val counts = Seq(("a", 10L), ("b", 70L), ("c", 500L), ("d", 3L))
      .toDF("source", "n")
    for (budget <- Seq(50.0, 300.0, 800.0, 5000.0)) {
      val out = Mixing.uniMaxAllocation(counts, "source", "n", budget, 4.0)
        .select("alloc", "cap").as[(Double, Double)].collect()
      out.foreach { case (alloc, cap) => assert(alloc <= cap + 1e-9) }
      val mass = out.map(_._1).sum
      assert(math.abs(mass - math.min(budget, out.map(_._2).sum)) < 1e-9,
        s"budget $budget mass $mass")
    }
  }

  test("temperature tau<1 upsamples small sources relative to large ones") {
    val counts = Seq(("small", 100L), ("big", 10000L)).toDF("source", "n")
    val r = Mixing.temperatureRates(counts, "source", "n", tau = 0.5, targetFrac = 0.3)
      .select("source", "rate").as[(String, Double)].collect().toMap
    assert(r("small") > r("big"))
  }

  // ---- Dedup.incrementalMinhashPairs ----------------------------------------

  test("incremental dedup against a landed index equals batch cross-set pairs") {
    // corpus(60) plants doc 60 ≈ doc 0; split so the pair CROSSES the
    // boundary (0 is new, its copy 60 lives in the indexed corpus)
    val d = corpus(60)
    val oldDocs = d.filter(col("doc_id") >= 30)
    val newDocs = d.filter(col("doc_id") < 30)
    val dir = java.nio.file.Files.createTempDirectory("mh_index").toString
    Dedup.minhashIndex(oldDocs, "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val inc = Dedup.incrementalMinhashPairs(newDocs, index, oldDocs,
      "doc_id", "text", threshold = 0.3)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    // ground truth: full-corpus minhash pairs, restricted to cross-set
    val full = Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val want = full.collect {
      case (i, j) if i < 30 && j >= 30 => (i, j)
      case (i, j) if j < 30 && i >= 30 => (j, i)
    }
    assert(inc === want)
    assert(inc.nonEmpty, "fixture must contain at least one cross-set pair")
  }

  test("incremental dedup rejects an index built with different parameters") {
    val d = corpus(20)
    val dir = java.nio.file.Files.createTempDirectory("mh_index_mm").toString
    Dedup.minhashIndex(d, "doc_id", "text", seed = 7).write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalMinhashPairs(d, index, d, "doc_id", "text", seed = 8)
    }
    assert(e.getMessage.contains("rebuild the index"))
  }

  // ---- Lm.bpeMergeCandidates / unigramNll ----------------------------------

  test("bpeMergeCandidates counts every adjacency and ranks deterministically") {
    val df = Seq(
      (1L, "ab ab ab"),   // pre-tokens: ab,ab,ab → pairs (ab ab) ×2
      (2L, "ab cd ab cd") // pairs: (ab cd) ×2, (cd ab) ×1
    ).toDF("doc_id", "text")
    val top = Lm.bpeMergeCandidates(df, "text", k = 3)
      .select("rank", "pair", "cnt")
      .as[(Long, String, Long)].collect().toSeq
    assert(top === Seq((1L, "ab ab", 2L), (2L, "ab cd", 2L), (3L, "cd ab", 1L)))
  }

  test("bpeEncode applies merges greedily by rank to a fixpoint") {
    val df = Seq(
      (1L, "a b c"),      // "a b" (rank 0) fires first -> [a b, c] -> done
      (2L, "b c a"),      // "b c" (rank 1) -> [b c, a]
      (3L, "a b b c"),    // rank 0 at idx0, then rank 1 on the remainder
      (4L, "x y z")       // no rule applies
    ).toDF("doc_id", "text")
    val out = Lm.bpeEncode(df, "doc_id", "text", Seq("a b", "b c"))
      .select("id", "n_pre", "n_encoded").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) === ((3L, 2L)))
    assert(out(2L) === ((3L, 2L)))
    assert(out(3L) === ((4L, 2L)))
    assert(out(4L) === ((3L, 3L)))
  }

  test("bpeEncode survives null text (empty doc, not an NPE)") {
    val df = Seq((1L, "a b"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val out = Lm.bpeEncode(df, "doc_id", "text", Seq("a b"))
      .select("id", "n_pre", "n_encoded").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) === ((2L, 1L)))
    assert(out(2L) === ((0L, 0L)), "null text is an empty doc")
    assert(out(3L) === ((0L, 0L)), "empty text has no pre-tokens")
  }

  test("empty/whitespace docs mint no phantom token into any Lm model") {
    val df = Seq((1L, "alpha beta alpha"), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text")
    // unigram NLL: empty docs emit NO row, and the model must not
    // contain the "" token (which would also skew doc 1's probabilities)
    val nll = Lm.unigramNll(df, "doc_id", "text")
      .select("id", "n_toks").as[(Long, Long)].collect().toMap
    assert(nll == Map(1L -> 3L), s"got $nll")
    // source drift: a source of only empty docs contributes nothing
    val kl = Lm.sourceDrift(df.withColumn("source",
        when(col("doc_id") === 1, "real").otherwise("empty")),
      "source", "text").select("source").as[String].collect().toSet
    assert(kl == Set("real"))
    // tf-idf: "" can never be a keyword
    val terms = Lm.tfidfTopK(df, "doc_id", "text", k = 3)
      .select("term").as[String].collect().toSet
    assert(!terms.contains(""), s"phantom keyword: $terms")
    // bm25: N counts all docs but the vocab has no "" term
    val bm = Lm.bm25TopK(df, "doc_id", "text", Seq(1 -> "alpha"), k = 5)
      .select("id").as[Long].collect().toSet
    assert(bm == Set(1L))
  }

  test("merges induced by bpeMergeCandidates compress the corpus they came from") {
    val df = (0L until 40L).map(i => (i, "the quick fox " + s"tail$i end"))
      .toDF("doc_id", "text")
    val merges = Lm.bpeMergeCandidates(df, "text", k = 3)
      .orderBy("rank").select("pair").as[String].collect().toSeq
    val enc = Lm.bpeEncode(df, "doc_id", "text", merges)
    val ratio = enc.agg(sum("n_encoded"), sum("n_pre")).head()
    assert(ratio.getLong(0) < ratio.getLong(1),
      "applying the corpus's own top merges must shorten it")
  }

  test("perplexityBuckets: per-group model, rank tertiles, ntile sizing") {
    // group g: doc1 all-common, doc2 mixed, doc3 all-rare → nll strictly
    // ascending → buckets 1,2,3; group h has 2 docs → ntile(3) gives 1,2.
    val df = Seq(
      (1L, "g", "a a a a"), (2L, "g", "a a b b"), (3L, "g", "c d e f"),
      (4L, "h", "x x"), (5L, "h", "x y")
    ).toDF("doc_id", "lang", "text")
    val out = Lm.perplexityBuckets(df, "doc_id", "lang", "text", 3)
      .select("id", "grp", "bucket").as[(Long, String, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) === (("g", 1L)))
    assert(out(2L) === (("g", 2L)))
    assert(out(3L) === (("g", 3L)))
    assert(out(4L) === (("h", 1L)))   // x x: all-common, lowest nll
    assert(out(5L) === (("h", 2L)))
    // per-GROUP model: token "a" frequent in g is absent from h's model —
    // h's nll depends only on h's counts (x p=3/4, y p=1/4)
    val nll = Lm.perplexityBuckets(df, "doc_id", "lang", "text", 3)
      .select("id", "nll").as[(Long, Double)].collect().toMap
    val expected5 = (-math.log(3.0 / 4) - math.log(1.0 / 4)) / 2
    assert(math.abs(nll(5L) - expected5) < 1e-5)
  }

  test("unigramNll: uniform docs score ln(vocab), rare tokens raise the score") {
    // 4 docs over 2 equally frequent tokens → p = 1/2 for both, nll = ln 2
    val uniform = Seq((1L, "aa bb"), (2L, "bb aa"), (3L, "aa bb"), (4L, "bb aa"))
      .toDF("doc_id", "text")
    val u = Lm.unigramNll(uniform, "doc_id", "text")
      .select("avg_nll").as[Double].collect()
    u.foreach(v => assert(math.abs(v - math.log(2.0)) < 1e-9))
    // a doc made of a rare token scores higher than one of a common token
    val skewed = Seq((1L, "common common common common"), (2L, "rare"))
      .toDF("doc_id", "text")
    val s = Lm.unigramNll(skewed, "doc_id", "text")
      .select("id", "avg_nll").as[(Long, Double)].collect().toMap
    assert(s(2L) > s(1L))
  }

  // ---- streaming face: the scan-local curation gate is stateless, so the
  //      SAME composition (PII scrub → C4 clean → split assign) must run
  //      unchanged as a streaming ingest gate in append mode -----------------

  test("scan-local curation gate runs identically over a stream") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists, "testdata absent")
    def gate(df: org.apache.spark.sql.DataFrame) =
      Clean.c4Lines(
        df.select(col("doc_id"), TextOps.piiScrub(col("text")).as("text")),
        "doc_id", "text")
        .withColumn("split", Mixing.splitAssign(
          Mixing.hashUnit(col("doc_id"), "graft-split")))
    val batch = gate(spark.read.parquet(s"$dir/documents.parquet"))
      .collect().map(_.toSeq).toSet
    val streamDir = java.nio.file.Files.createTempDirectory("cur_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      streamDir.resolve("documents.parquet"))
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val q = gate(spark.readStream.schema(schema).parquet(streamDir.toString))
      .writeStream.format("memory").queryName("cur_gate")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("cur_gate").collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  // ---- documented 100 TB plan shapes, pinned --------------------------------

  test("bloom decontamination plans broadcast containment joins and a " +
      "pre-join bit-test filter") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists, "testdata absent")
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val probe = d.filter(col("doc_id") % 20 === 13)
    val train = d.filter(col("doc_id") % 20 =!= 13)
    val plan = Dedup.bloomContaminationPairs(train, probe, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "probe side must broadcast — a shuffled containment join defeats the design")
    // the bit-table tests sit in a Filter ABOVE the train scan, not after
    // the join: the train postings that match nothing never reach it —
    // element_at over the bit-table literal only exists in that filter
    assert(plan.contains("element_at"),
      "bloom bit-test filter missing from the plan:\n" + plan.take(3000))
  }

  test("incremental dedup plans a semi-join prune of the old-corpus scan") {
    val d = corpus(30)
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_plan").toString
    Dedup.minhashIndex(d, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val plan = Dedup.incrementalMinhashPairs(d, spark.read.parquet(dir), d,
      "doc_id", "text").queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      "old docs must be pruned to candidates via a semi join before shingling")
  }

  // ---- p37's scale claim: rank-limit pushed below the shuffle --------------

  test("stratified top-k plans a WindowGroupLimit (partial per-partition top-k)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists, "testdata absent")
    val plan = graft.SparkEntry.queries("p37_stratified_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rank<=k filter must compile to WindowGroupLimit — without it every " +
        "stratum is fully sorted before the limit applies:\n" + plan)
  }

  // ---- Dedup.connectedComponents -----------------------------------------
  // The driver-side union-find (default cap) is the reference every
  // distributed star-loop run (withDistributedCC) is compared against.

  /** Labels as a map: the distributed star loop when `distributed`, else
    * the same call under the default cap (union-find on these sizes). */
  private def ccLabels(pairs: org.apache.spark.sql.DataFrame,
                       distributed: Boolean): Map[Long, Long] = {
    def run = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    if (distributed) withDistributedCC(run) else run
  }

  test("distributed star CC matches union-find on a random graph") {
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 150).map(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2)
      .toDF("i", "j")
    assert(ccLabels(pairs, distributed = true) ===
      ccLabels(pairs, distributed = false))
  }

  test("local union-find CC == distributed star loop, seeded shapes") {
    // the law that licenses the measured-size-gated driver path (r13):
    // under the cap the collect+union-find must label EXACTLY as the
    // loop it replaces. Raw pairs go to both paths — self-loops,
    // parallel edges and one null-endpoint row in — pinning the one
    // node-universe contract: such rows are ignored, and a node is
    // labelled iff it has an edge to a different node.
    for (seed <- 21 to 26) {
      val rnd = new scala.util.Random(seed)
      val n = 15 + rnd.nextInt(50)
      val m = n / 2 + rnd.nextInt(n * 2)
      val raw = (0 until m).map(_ =>
        (Option(rnd.nextInt(n).toLong), Option(rnd.nextInt(n).toLong))) :+
        ((Option(n.toLong), Option.empty[Long]))
      val pairs = raw.toDF("i", "j")
      val loop = ccLabels(pairs, distributed = true)
      val local = ccLabels(pairs, distributed = false)
      assert(local === loop, s"local != loop, seed=$seed")
      val edgeNodes = raw.flatMap {
        case (Some(a), Some(b)) if a != b => Seq(a, b)
        case _ => Nil
      }.toSet
      assert(local.keySet === edgeNodes, s"node universe, seed=$seed")
    }
  }

  test("distributed star CC == union-find across seeded graph shapes") {
    // property sweep guarding smallStar's oriented-input precondition
    // (r9 drops its canonicalization as a no-op on largeStar output):
    // densities from forest-sparse to near-complete, parallel edges
    // left IN (the operator must dedup them itself)
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(60)
      val m = n / 2 + rnd.nextInt(n * 3)
      val pairs = (0 until m).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
        .toDF("i", "j")
      assert(ccLabels(pairs, distributed = true) ===
        ccLabels(pairs, distributed = false), s"seed=$seed n=$n m=$m")
    }
  }

  test("alternating CC converges on a 200-node chain in few rounds") {
    withDistributedCC {
      // diameter 199: per-hop propagation would need 199 rounds; star
      // contraction must do it within the default budget (O(log n))
      val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("i", "j")
      val labels = Dedup.connectedComponents(pairs, maxIter = 15)
        .as[(Long, Long)].collect()
      assert(labels.length === 200)
      assert(labels.forall(_._2 === 0L))
    }
  }

  test("alternating CC labels two disjoint chains by their minima") {
    val pairs = ((0L until 49L).map(i => (i, i + 1)) ++
      (100L until 149L).map(i => (i, i + 1))).toDF("i", "j")
    val labels = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().groupBy(_._2).view.mapValues(_.length).toMap
    assert(labels === Map(0L -> 50, 100L -> 50))
  }

  // ---- Chunking.chunkSliding -------------------------------------------

  test("chunkSliding: stride/window arithmetic, full coverage, short docs") {
    // 80 tokens, w=32 s=24: chunks at 0,24,48 cover [0,80) with the last
    // chunk exactly [48,80) — ceil((80-32)/24)+1 = 3
    val doc80 = (0 until 80).map(i => s"t$i").mkString(" ")
    val out = Chunking.chunkSliding(
        Seq((1L, doc80), (2L, "just three tokens"), (3L, "")).toDF("id", "text"),
        "id", "text", window = 32, stride = 24)
      .orderBy("id", "chunk_id")
      .collect()
    val byDoc = out.groupBy(_.getLong(0)).view.mapValues(_.toSeq).toMap
    assert(byDoc(1L).map(_.getLong(1)) === Seq(0L, 1L, 2L))
    assert(byDoc(1L).map(_.getLong(2)) === Seq(32L, 32L, 32L))
    // every doc yields at least one chunk; short docs are one partial
    assert(byDoc(2L).map(r => (r.getLong(1), r.getLong(2))) === Seq((0L, 3L)))
    assert(byDoc(3L).size === 1)
    // 81 tokens forces a fourth, 9-token tail chunk [72,81)
    val doc81 = (0 until 81).map(i => s"t$i").mkString(" ")
    val tail = Chunking.chunkSliding(
        Seq((1L, doc81)).toDF("id", "text"), "id", "text", 32, 24)
      .orderBy("chunk_id").collect()
    assert(tail.map(_.getLong(2)).toSeq === Seq(32L, 32L, 32L, 9L))
  }

  test("chunkSliding: consecutive chunks overlap by window - stride tokens") {
    val doc = (0 until 56).map(i => s"w$i").mkString(" ")
    val out = Chunking.chunkSliding(
        Seq((1L, doc)).toDF("id", "text"), "id", "text", 32, 24)
      .orderBy("chunk_id").collect()
    assert(out.length === 2)
    // chunk 1 starts at token 24 — the 8-token overlap means md5s differ
    // but both chunks are full windows
    assert(out.map(_.getLong(2)).toSeq === Seq(32L, 32L))
    assert(out(0).getString(3) !== out(1).getString(3))
  }

  // ---- Lm.tfidfTopK ----------------------------------------------------

  test("tfidfTopK: rare terms outrank ubiquitous ones, k and ties honored") {
    // 'common' appears in every doc (df=4 → low idf); each doc also has a
    // unique term (df=1 → high idf) that must rank first
    val docs = Seq(
      (1L, "common alpha alpha common common"),
      (2L, "common beta beta"),
      (3L, "common gamma gamma"),
      (4L, "common delta delta")).toDF("doc_id", "text")
    val out = Lm.tfidfTopK(docs, "doc_id", "text", k = 2)
      .orderBy("id", "rk").collect()
    val top = out.filter(_.getLong(1) == 1L).map(r => (r.getLong(0), r.getString(2)))
    assert(top.toSeq === Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta")))
    // every doc emits exactly k rows with ranks 1..k
    assert(out.groupBy(_.getLong(0)).forall(_._2.map(_.getLong(1)).toSeq == Seq(1L, 2L)))
    // the ubiquitous term still carries weight > 0 (smoothed idf)
    assert(out.filter(_.getString(2) == "common").forall(_.getDouble(3) > 0))
  }

  // ---- Mixing.charBudgetCap --------------------------------------------

  test("charBudgetCap keeps an exact quality-ranked prefix per source") {
    val docs = Seq(
      // srcA ranked by chars desc, id asc: 5(300), 1(200), 2(200), 3(100)
      (1L, "srcA", 200L), (2L, "srcA", 200L), (3L, "srcA", 100L), (5L, "srcA", 300L),
      // srcB: single doc larger than the budget → nothing kept
      (6L, "srcB", 900L),
      // srcC: exact fit at the boundary (<= keeps it)
      (7L, "srcC", 500L), (8L, "srcC", 100L)).toDF("doc_id", "source", "n_chars")
    val kept = Mixing.charBudgetCap(docs, "source", "n_chars", "doc_id", budget = 600L)
      .filter(col("kept")).select("doc_id").as[Long].collect().toSet
    // srcA: 300+200 = 500 ok, +200 = 700 > 600 stops the prefix there;
    // the tie between ids 1 and 2 breaks on doc_id, so 1 is in, 2 is out
    assert(kept === Set(5L, 1L, 7L, 8L))
  }

  // ---- Rank.pageRank ----------------------------------------------------

  test("pageRank: symmetric cycle stays uniform, mass conserves, hub wins") {
    // 2-cycle: perfectly symmetric — every iteration must return 1/2 each
    val nodes2 = Seq(0L, 1L).toDF("id")
    val cyc = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val pr2 = Rank.pageRank(nodes2, cyc, iters = 4).orderBy("id")
      .select("score").as[Double].collect()
    assert(pr2.forall(s => math.abs(s - 0.5) < 1e-12))

    // star 1..4 → 0: the hub must outrank the leaves; leaves (in-degree 0,
    // out-degree 1, no dangling) hold exactly the teleport floor
    val nodes5 = (0L to 4L).toDF("id")
    val star = (1L to 4L).map(i => (i, 0L)).toDF("src", "dst")
    val pr5 = Rank.pageRank(nodes5, star, iters = 3).orderBy("id")
      .select("score").as[Double].collect()
    assert(pr5(0) > pr5(1))
    assert((1 to 4).forall(i => math.abs(pr5(i) - 0.15 / 5) < 1e-12))
    // the hub is dangling (no out-edges): its damped mass leaks by the
    // pinned semantics, so totals stay BELOW 1 but above the teleport sum
    assert(pr5.sum < 1.0 && pr5.sum > 0.15)
  }

  // ---- Dedup.cdcChunks --------------------------------------------------

  test("cdcChunks reconstructs every document exactly, in order") {
    // varied (non-periodic) text: a periodic string repeats the same
    // window hashes, so it legitimately may produce zero boundaries
    val base = (1 to 12).map(i =>
      s"sentence number $i carries some distinct words.").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, "short"),            // shorter than the window -> one chunk
      (3L, ""),                 // empty -> no chunks
      (4L, base.substring(0, 100))).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text")
    // per-doc char mass conserves and chunk ids tile [0, n) contiguously
    val per = ch.groupBy("doc_id")
      .agg(sum("chunk_len").as("chars"), count(lit(1)).as("n"),
        min("chunk_id").as("lo"), max("chunk_id").as("hi"),
        min("chunk_start").as("first_start"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(!per.contains(3L)) // empty doc yields no rows
    for ((id, txt) <- Seq(1L -> base, 2L -> "short", 4L -> base.substring(0, 100))) {
      val (chars, n, lo, hi, first) = per(id)
      assert(chars === txt.length.toLong, s"doc $id mass")
      assert(lo === 0L && hi === n - 1 && first === 0L, s"doc $id tiling")
    }
    // adjacent chunks abut: start(k+1) = start(k) + len(k)
    val rows = ch.filter(col("doc_id") === 1L).orderBy("chunk_id")
      .select("chunk_start", "chunk_len").as[(Long, Long)].collect()
    rows.sliding(2).foreach {
      case Array((s0, l0), (s1, _)) => assert(s1 === s0 + l0)
      case _ =>
    }
    assert(rows.length > 3, "expected several chunks from a 400+ char doc")
  }

  test("cdcChunks boundaries are content-defined: a prefix edit leaves the tail chunks intact") {
    val base = (1 to 60).map(i => s"sentence number $i carries some distinct words.").mkString(" ")
    val edited = "XYZZY INSERTED PREFIX " + base
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text")
    val a = ch.filter(col("doc_id") === 1L).select("chunk_md5").as[String].collect().toSet
    val b = ch.filter(col("doc_id") === 2L).select("chunk_md5").as[String].collect().toSet
    // fixed-size chunking would share ZERO chunks after a prefix insert;
    // CDC must re-converge right after the first boundary past the edit
    val shared = a.intersect(b).size
    assert(shared >= a.size - 2,
      s"only $shared of ${a.size} original chunks survived a prefix edit")
    assert(a.size > 5, "base doc should split into several chunks")
  }

  // ---- Mixing.packWindows ----------------------------------------------

  test("packWindows: starts, enters, and offsets reconstruct the planted token layout") {
    import spark.implicits._
    // one source, budget 10; docs (id, toks): 1->4, 2->4, 3->7, 4->25
    // stream: doc1 [0,4) doc2 [4,8) doc3 [8,15) doc4 [15,40)
    // windows: w0 starts 1@0,2@4,3@8; w1 enters {3}, starts 4@5;
    //          w2,w3 enters {4} only
    val df = Seq((1L, 4L), (2L, 4L), (3L, 7L), (4L, 25L)).toDF("id", "toks")
      .withColumn("src", lit("a"))
    val out = Mixing.packWindows(df, "src", "id", "toks", budget = 10)
      .orderBy("bin")
      .select("bin", "n_starts", "n_enters", "first_off", "last_off")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect()
    assert(out.toSeq == Seq(
      (0L, 3L, 0L, Some(0L), Some(8L)),
      (1L, 1L, 1L, Some(5L), Some(5L)),
      (2L, 0L, 1L, None, None),
      (3L, 0L, 1L, None, None)))
    // zero-token docs are excluded by contract
    val withZero = df.union(Seq((9L, 0L)).toDF("id", "toks")
      .withColumn("src", lit("a")))
    assert(Mixing.packWindows(withZero, "src", "id", "toks", 10)
      .agg(org.apache.spark.sql.functions.sum("n_starts")).head().getLong(0) == 4L)
  }

  // ---- Clean.htmlToText ------------------------------------------------

  test("htmlToText: scripts/styles/comments drop, entities decode in safe order, malformed degrades to whitespace") {
    import spark.implicits._
    def x(h: String): String =
      Seq(h).toDF("h").select(Clean.htmlToText(col("h"))).head().getString(0)
    assert(x("<p>Hello <b>world</b></p>") == "Hello world")
    // script payload with operators that look like tags must vanish whole
    assert(x("<script>if (a<b && c>d) alert('x')</script>ok") == "ok")
    assert(x("a<style>p { color: red; }</style>b") == "a b")
    assert(x("a<!-- hidden <b>bold</b> -->b") == "a b")
    // &amp; decodes LAST: "&amp;lt;" must surface as "&lt;", never "<"
    assert(x("x &amp;lt; y") == "x &lt; y")
    assert(x("Tom &amp; Jerry &lt;3 &quot;q&#39;&nbsp;.") == "Tom & Jerry <3 \"q' .")
    // malformed nesting: an unterminated tag is LITERAL text (matching
    // browsers' recovery), well-formed tags around it still strip
    assert(x("<div><p>un<closed") == "un<closed")
    assert(x("") == "")
  }

  // ---- Clean.canonicalizeUrl -------------------------------------------

  test("canonicalizeUrl: case, ports, www, tracking params, order, fragments all collapse; scheme-less passes through") {
    import spark.implicits._
    def c(u: String): String =
      Seq(u).toDF("u").select(Clean.canonicalizeUrl(col("u"))).head().getString(0)
    val want = "http://example.com/p?a=1&b=2"
    assert(c("HTTP://WWW.Example.COM:80/p?utm_source=x&b=2&a=1#frag") == want)
    assert(c("http://example.com/p?a=1&b=2") == want)
    assert(c("http://www.example.com/p?b=2&utm_medium=m&a=1&gclid=g") == want)
    // https keeps :8443 (non-default) but strips :443
    assert(c("https://Example.com:443/") == "https://example.com/")
    assert(c("https://example.com:8443/x") == "https://example.com:8443/x")
    // empty path becomes /
    assert(c("http://example.com") == "http://example.com/")
    // all-tracking query drops the ? entirely
    assert(c("http://example.com/p?utm_source=a&fbclid=b&ref=c") ==
      "http://example.com/p")
    // scheme-less input is passed through untouched, never an error
    assert(c("example.com/p?b=2&a=1") == "example.com/p?b=2&a=1")
    // a '?' INSIDE the fragment is fragment content, not a query — the
    // unanchored extract resurrected it and split the dedup key
    assert(c("http://example.com/p#sec?x=1") == "http://example.com/p")
    assert(c("http://example.com/p?a=1#sec?x=9") == "http://example.com/p?a=1")
  }

  test("c4Lines rules trim before counting words and testing terminal punct") {
    import spark.implicits._
    // 4 words with a leading tab: split would see ["", w, w, w, w] and
    // wave the too-short line past minWords=5; CRLF corpora would shift
    // EVERY line's count by one. And a trailing space must not fail the
    // terminal-punctuation rule for a good sentence.
    val doc = Seq((1L,
      "\tone two three four.\n" +               // short (4 words) -> drop
      "a good line with five words. \n" +        // good, trailing space
      "another good line has six words here.")) // good
      .toDF("doc_id", "text")
    val r = Clean.c4Lines(doc, "doc_id", "text",
      Clean.C4Config(minKeptLines = 1)).head()
    assert(r.getAs[Long]("n_short") == 1L, "the 4-word line is short")
    assert(r.getAs[Long]("n_kept") == 2L,
      "trailing-space sentence must keep its terminal punctuation")
  }

  test("c4Lines gates the per-row quadratic dedup LOUDLY past the line bound") {
    import spark.implicits._
    val big = (1 to 10001).map(i => s"generated unique sentence number $i ok.")
      .mkString("\n")
    val e = intercept[Exception] {
      Clean.c4Lines(Seq((1L, big)).toDF("doc_id", "text"), "doc_id", "text")
        .collect()
    }
    assert(e.getMessage.contains("globalLineDedup"),
      s"expected the routing hint, got: ${e.getMessage.take(120)}")
  }

  test("globalLineDedup: null-text docs appear in the report, never vanish") {
    import spark.implicits._
    val docs = Seq((1L, "alpha\nbeta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Clean.globalLineDedup(docs, "doc_id", "text", maxDocs = 5)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_lines")).toMap
    assert(out.keySet == Set(1L, 2L), s"null-text doc vanished: $out")
    assert(out(2L) == 1L, "null text reads as one empty line")
  }

  // ---- Mixing.exactStratifiedSplit / weightedSampleK -------------------

  test("exactStratifiedSplit realizes exact per-stratum counts and is " +
      "a deterministic function of the id") {
    import spark.implicits._
    // deliberately awkward stratum sizes: 7, 10, 23 - a hash split
    // cannot hit 80/10/10 on these; the rank cut must, at floor exactness
    val rows = (1 to 7).map(i => (i.toLong, "a")) ++
      (101 to 110).map(i => (i.toLong, "b")) ++
      (201 to 223).map(i => (i.toLong, "c"))
    val df = rows.toDF("id", "src")
    val sp = Mixing.exactStratifiedSplit(df, "id", "src", "t")
    val counts = sp.groupBy("stratum", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def expected(n: Int): (Long, Long, Long) = {
      val tr = math.floor(n * 0.8 + 1e-9).toLong
      val tv = math.floor(n * 0.9 + 1e-9).toLong - tr
      (tr, tv, n - tr - tv)
    }
    for ((src, n) <- Seq(("a", 7), ("b", 10), ("c", 23))) {
      val (tr, tv, te) = expected(n)
      assert(counts.getOrElse((src, "train"), 0L) == tr, s"$src train")
      assert(counts.getOrElse((src, "val"), 0L) == tv, s"$src val")
      assert(counts.getOrElse((src, "test"), 0L) == te, s"$src test")
    }
    // total preserved, and a rerun assigns every id identically
    assert(sp.count() == rows.size)
    val again = Mixing.exactStratifiedSplit(df, "id", "src", "t")
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = sp.select("id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == again, "split must be a pure function of (id, salt)")
  }

  test("weightedSampleK prefers heavy weights and returns a ranked " +
      "deterministic top-k") {
    import spark.implicits._
    // 10 heavy rows (w=1e4) race against 90 light rows (w=1e-2): the
    // heavy keys are u^(1e-4) ~ 1 while light keys are u^(100) ~ 0, so
    // an 8-sample must be all heavy ids - a probabilistic law made
    // deterministic by the weight gap
    val df = ((1 to 10).map(i => (i.toLong, 1e4)) ++
      (11 to 100).map(i => (i.toLong, 1e-2))).toDF("id", "w")
    val out = Mixing.weightedSampleK(df, "id", "w", k = 8, salt = "s")
      .collect()
    assert(out.length == 8)
    assert(out.forall(_.getLong(1) <= 10), "sample must be the heavy ids")
    val keys = out.sortBy(_.getLong(0)).map(_.getDouble(3))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b },
      "keys must be non-increasing in rank")
    // zero/negative weights are excluded by contract
    val withBad = df.union(Seq((999L, 0.0), (998L, -3.0)).toDF("id", "w"))
    assert(Mixing.weightedSampleK(withBad, "id", "w", k = 200, salt = "s")
      .filter(col("id") >= 998).count() == 0)
  }
}
