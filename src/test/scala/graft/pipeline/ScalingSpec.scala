package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-slope guard for the dedup/ANN candidate generators (VERDICT
  * r5 item 6): the 100 TB claims in the operator docs are that candidate
  * volume stays ~LINEAR in corpus size. This spec measures it — each
  * family's candidate volume is Σ c·(c−1)/2 over its bucket-postings
  * sizes (the exact pair count its self-join would emit), computed
  * WITHOUT materializing pairs — at the two distinct corpus sizes the
  * testdata ships (sf0.01: 500 docs/500 vectors; sf0.1: 5000 docs/2000
  * vectors; sf0.001 repeats the 500-doc corpus, so it adds no slope
  * information) and fails on a superlinear growth exponent.
  *
  * The LSH families hold linearity under their DOCUMENTED scaling rule,
  * not at frozen parameters: hyperplane buckets are 2^planes per table,
  * so planes must grow with log₂(n) to keep E[bucket size] bounded
  * (Ann.lshNeighbors doc) — the spec scales planes accordingly and
  * would fail if the rule stopped working. */
class ScalingSpec extends SparkSpec {

  private val sfSmall = "/root/testdata/sf0.01"
  private val sfLarge = "/root/testdata/sf0.1"

  private def haveData: Boolean =
    new java.io.File(s"$sfSmall/documents.parquet").exists &&
      new java.io.File(s"$sfLarge/documents.parquet").exists

  private def docs(dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def embs(dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** candidate-pair volume of a self-join on `key`: Σ c·(c−1)/2. */
  private def candVolume(postings: DataFrame, key: String = "bkt"): Long =
    postings.groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)).as("v"))
      .head().getLong(0)

  /** log-log slope of candidate volume vs corpus size. */
  private def growthExponent(n1: Long, v1: Long, n2: Long, v2: Long): Double =
    math.log(math.max(v2, 1).toDouble / math.max(v1, 1).toDouble) /
      math.log(n2.toDouble / n1.toDouble)

  private def assertLinear(name: String, maxExp: Double,
                           n1: Long, v1: Long, n2: Long, v2: Long): Unit = {
    assert(v2 > 0, s"$name produced no candidates at the large scale")
    val e = growthExponent(n1, v1, n2, v2)
    info(f"$name: $v1%d pairs @ $n1%d → $v2%d pairs @ $n2%d, exponent $e%.2f")
    assert(e <= maxExp,
      f"$name candidate growth superlinear: exponent $e%.2f > $maxExp " +
        f"($v1 pairs @ $n1 docs → $v2 pairs @ $n2 docs)")
  }

  private def shingledOf(d: DataFrame) = Dedup.shingled(d, "doc_id", "text")

  test("minhash (p04) candidate volume grows ~linearly in docs") {
    assume(haveData, "testdata absent")
    val (dS, dL) = (docs(sfSmall), docs(sfLarge))
    assertLinear("minhash(p04)", 1.35, dS.count(),
      candVolume(Dedup.minhashPostings(shingledOf(dS), 64, 16, 7)), dL.count(),
      candVolume(Dedup.minhashPostings(shingledOf(dL), 64, 16, 7)))
  }

  test("winnowing (p13) candidate volume grows ~linearly in docs") {
    assume(haveData, "testdata absent")
    val (dS, dL) = (docs(sfSmall), docs(sfLarge))
    assertLinear("winnowing(p13)", 1.35, dS.count(),
      candVolume(Dedup.winnowingPostings(dS, "doc_id", "text")), dL.count(),
      candVolume(Dedup.winnowingPostings(dL, "doc_id", "text")))
  }

  test("winnowing dfCap (p13, r12): hot-fingerprint boilerplate is quadratic " +
      "uncapped; the cap restores linearity and loses no true pair") {
    // the failure mode ProbeWinnow measured at x10 (9 fingerprints with
    // df > 1000 carried 70% of 2e7 candidates): a shared >=31-char
    // boilerplate RUN gives every doc the same fingerprint, df = n.
    // Each doc also gets its own near-dup partner via a repeated body
    // (every 10th doc repeats its predecessor), so true pairs are
    // linear and must survive the cap.
    def corpus(n: Int): DataFrame = spark.range(n).select(col("id"),
      concat(
        lit("this exact boilerplate header line is long enough to fingerprint "),
        expr("""concat_ws(' ', transform(sequence(1, 30),
          k -> concat('tok', CAST(id - (CASE WHEN id % 10 = 1 THEN 1 ELSE 0 END) AS STRING), 'word', CAST(k AS STRING))))"""))
        .as("text"))
    def volume(df: DataFrame, cap: Int): Long = {
      val fps = Dedup.winnowingPostings(df, "id", "text")
      val usable = if (cap <= 0) fps else {
        val hot = fps.groupBy("bkt").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("bkt")
        fps.join(hot, Seq("bkt"), "left_anti")
      }
      candVolume(usable)
    }
    val (n1, n2) = (200L, 400L)
    val (c1, c2) = (corpus(200), corpus(400))
    val e0 = growthExponent(n1, volume(c1, 0), n2, volume(c2, 0))
    assert(e0 > 1.35,
      f"uncapped exponent $e0%.2f should be ~2 — boilerplate fingerprints are quadratic")
    val eCap = growthExponent(n1, volume(c1, 100), n2, volume(c2, 100))
    assert(eCap <= 1.35, f"dfCap=100 should restore linearity, got $eCap%.2f")
    // losslessness on the planted pairs: capped winnowingPairs still
    // finds every predecessor-repeat near-dup (they share MANY sub-cap
    // fingerprints; only the boilerplate bucket is dropped)
    val pairs = Dedup.winnowingPairs(c2.withColumnRenamed("id", "doc_id"),
      "doc_id", "text", threshold = 0.5, dfCap = 100)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (1L until 400L by 10L).map(i => (i - 1, i)).toSet
    assert(planted.subsetOf(pairs),
      s"dfCap dropped ${(planted -- pairs).size} planted true pair(s)")
  }

  test("simhash (p05) candidate volume stays under true-dups + the 16-bit " +
      "collision floor") {
    assume(haveData, "testdata absent")
    // SimHash banding has a structural quadratic term: 4 x 16-bit bands
    // mean UNRELATED docs collide in a band with p = 1/65536, so random
    // candidates grow as n²·bands/2^17 — measured 315k pairs at 5000
    // docs against a 763k floor (the testdata's bounded vocabulary makes
    // signatures cluster, keeping it BELOW the uniform floor). The
    // candidates are two longs each and the hamming verify is a codegen'd
    // xor+popcount, so the floor is cheap — but it is real, and web-scale
    // corpora shard by a signature prefix before banding. This test pins
    // the model: volume ≤ linear true-dup budget + 2x the uniform floor;
    // a bucketing regression (e.g. hashing fewer signature bits) blows
    // the floor and fails it.
    for (dir <- Seq(sfSmall, sfLarge)) {
      val d = docs(dir)
      val n = d.count()
      val vol = candVolume(Dedup.simhashBanded(
        Dedup.simhashSignatures(d, "doc_id", "text")))
      val floor = n.toDouble * n * 4 / 2 / 65536
      val budget = 50.0 * n + 2 * floor
      info(f"simhash(p05): $vol%d pairs @ $n%d docs (floor $floor%.0f)")
      assert(vol <= budget,
        f"simhash candidate volume $vol%d exceeds true-dup + collision model $budget%.0f @ $n%d docs")
    }
  }

  test("ngram-jaccard (p10): linear when shingle df is bounded (Heaps-law " +
      "corpus); default cap obeys its linear envelope on the testdata") {
    assume(haveData, "testdata absent")
    // Two corpora, two claims. (1) The testdata generator draws from a
    // BOUNDED vocabulary (16k distinct shingles at 500 docs → only 27k at
    // 5000), so every shingle's df grows ~linearly with the corpus and
    // max df is just 25 at 5000 docs — below any useful cap. On such a
    // corpus EXACT shared-key Jaccard is inherently quadratic (measured
    // exponent 1.96) and no df cap can fix it without destroying recall;
    // the scale path for bounded-vocabulary fuzz is minhash (p04, slope
    // 1.01 on the same corpus). On a Heaps-law corpus (vocabulary grows
    // with the corpus, df bounded except boilerplate — real web text)
    // p10's candidates — the prefix postings of its shingle-set Jaccard
    // join — grow linearly; asserted on a synthetic one here. (2) What a
    // df cap DOES guarantee — on any corpus — is the envelope
    // Σ c·(c−1)/2 ≤ cap/2 · postings, linear in corpus size; asserted on
    // the real testdata below for the containment family's train-shingle
    // cap, the cap's remaining consumer.
    def heaps(n: Int): DataFrame = spark.range(n).select(col("id"),
      // 40 id-prefixed tokens per doc (fresh vocabulary per doc); every
      // 20th doc repeats its predecessor's stream (planted near-dups at
      // a fixed RATE, so true pairs are linear in n)
      expr("""concat_ws(' ', transform(sequence(1, 40),
        k -> concat('w', CAST(id - (CASE WHEN id % 20 = 1 THEN 1 ELSE 0 END) AS STRING), '_', CAST(k AS STRING))))""")
        .as("text"))
    val (n1, n2) = (500L, 5000L)
    assertLinear("ngram-jaccard(p10, Heaps corpus)", 1.35, n1,
      candVolume(Dedup.prefixPostings(heaps(500), "id", "text", 0.5, Dedup.ShingleSets(3)), "tok"),
      n2,
      candVolume(Dedup.prefixPostings(heaps(5000), "id", "text", 0.5, Dedup.ShingleSets(3)), "tok"))

    val capDefault = 1000
    val posts = Dedup.shinglePostings(Dedup.hashedShingled(docs(sfLarge), "doc_id", "text"), capDefault)
    val nPosts = posts.count()
    val vol = candVolume(posts, "sh_h")
    info(f"contamination train-shingle default cap: $vol%d pairs vs envelope ${capDefault / 2}·$nPosts%d")
    assert(vol <= capDefault.toLong / 2 * nPosts,
      s"candidate volume $vol exceeds the dfCap linear envelope " +
        s"(${capDefault / 2} x $nPosts postings) — the cap is not binding")
  }

  test("hyperplane-LSH candidate volume grows ~linearly under the planes rule") {
    assume(haveData, "testdata absent")
    val (eS, eL) = (embs(sfSmall), embs(sfLarge))
    val (n1, n2) = (eS.count(), eL.count())
    // documented rule (Ann.lshNeighbors): planes grows with log2(n) so
    // 2^planes keeps E[bucket size] bounded; 500→2000 vectors is 4x,
    // so the large corpus gets 2 more planes
    val extra = math.round(math.log(n2.toDouble / n1) / math.log(2)).toInt
    assertLinear("hyperplane-lsh(p09)", 1.35, n1,
      candVolume(Ann.hyperplaneBucketed(eS, 64, 4, 32, 5)), n2,
      candVolume(Ann.hyperplaneBucketed(eL, 64, 4 + extra, 32, 5)))
  }

  test("indexed bitext (p89) cross-side candidate volume grows ~linearly " +
      "under the planes rule") {
    assume(haveData, "testdata absent")
    // p89's candidates are Σ |bktA|·|bktB| over shared (table, bucket)
    // keys — the cross-side analogue of the self-join volume; the same
    // planes-grows-with-log2(n) rule must bound it
    def crossVolume(e: org.apache.spark.sql.DataFrame, planes: Int): Long = {
      val a = Ann.hyperplaneBucketed(e.filter(col("label") === 0),
        64, planes, 16, 7).groupBy("bkt").agg(count(lit(1)).as("ca"))
      val b = Ann.hyperplaneBucketed(e.filter(col("label") === 1),
        64, planes, 16, 7).groupBy("bkt").agg(count(lit(1)).as("cb"))
      a.join(b, "bkt").agg(coalesce(sum(col("ca") * col("cb")), lit(0L)))
        .head().getLong(0)
    }
    val (eS, eL) = (embs(sfSmall), embs(sfLarge))
    val (n1, n2) = (eS.count(), eL.count())
    val extra = math.round(math.log(n2.toDouble / n1) / math.log(2)).toInt
    assertLinear("indexed-bitext(p89)", 1.35, n1, crossVolume(eS, 4),
      n2, crossVolume(eL, 4 + extra))
  }

  test("semdedup (p29) within-cell volume grows ~linearly under the nCells rule") {
    assume(haveData, "testdata absent")
    // SemDeDup's documented knob (Ann.semDedupPairs): within-cell volume
    // is Σ c·(c−1)/2 with E[c] = n/nCells, so nCells must grow ∝ n to
    // keep candidates linear — at FIXED nCells the volume is structurally
    // quadratic. The spec scales cells with the corpus (500→16 cells,
    // 2000→64) and asserts the rule delivers; KMeans imbalance makes the
    // bound stochastic, hence the slightly looser exponent than the
    // hash-bucket families.
    val (eS, eL) = (embs(sfSmall), embs(sfLarge))
    val (n1, n2) = (eS.count(), eL.count())
    val cells1 = 16
    val cells2 = math.max((cells1 * n2 / n1).toInt, cells1)
    assertLinear("semdedup(p29)", 1.5, n1,
      candVolume(Ann.kmeansCells(eS, cells1), "cell"), n2,
      candVolume(Ann.kmeansCells(eL, cells2), "cell"))
  }

  test("dup-span profile (p30) posting volume is linear by construction") {
    assume(haveData, "testdata absent")
    // counts-only: no pair materialization exists to guard, so the only
    // scale quantity is the posting count itself (windows per doc is
    // bounded by doc length — independent of corpus size)
    def postings(d: DataFrame): Long =
      Dedup.shingled(d, "doc_id", "text", 8)
        .select(explode(col("sh"))).count()
    val (dS, dL) = (docs(sfSmall), docs(sfLarge))
    assertLinear("dup-span(p30)", 1.1, dS.count(), postings(dS),
      dL.count(), postings(dL))
  }

  test("dfCap off + a planted ubiquitous shingle IS quadratic (guard fires)") {
    // boilerplate shared by every doc (the failure mode dfCap exists
    // for): 10 shared tokens → 8 shared 3-shingles, each with df = n,
    // so uncapped candidate volume is 8·n·(n−1)/2 — exponent ~2
    def corpus(n: Int): DataFrame = spark.range(n).select(col("id"),
      concat(lit("alpha beta gamma delta epsilon zeta eta theta iota kappa "),
        expr("format_string('u%sx u%sy u%sz', id, id, id)")).as("text"))
    def volume(df: DataFrame, cap: Int): Long =
      candVolume(Dedup.shinglePostings(Dedup.hashedShingled(df, "id", "text"), cap), "sh_h")
    val (n1, n2) = (200L, 400L)
    val (c1, c2) = (corpus(200), corpus(400))
    val e0 = growthExponent(n1, volume(c1, 0), n2, volume(c2, 0))
    assert(e0 > 1.35,
      f"uncapped exponent $e0%.2f should be ~2 — the linearity guard must fire here")
    val eCap = growthExponent(n1, volume(c1, 100), n2, volume(c2, 100))
    assert(eCap <= 1.35, f"dfCap=100 should restore linearity, got $eCap%.2f")
  }

  test("cdc chunks (p59): chunk count linear; pair-join needs the hot-group cap") {
    assume(haveData, "testdata absent")
    // Chunking itself is scan-local and chunk count is ∝ corpus chars
    // (boundary density 1/div). The GROUP structure is a different law:
    // with a constant duplication fraction, a boilerplate chunk shared
    // by f·n docs forms (f·n)²/2 pairs — structurally QUADRATIC. That is
    // WHY p59 aggregates per-group counts (Σ(c−1), linear) and never
    // self-joins chunk_md5 raw; this test measures both sides of that
    // design: the uncapped pair volume really is superlinear on the
    // shipped corpus, and a hot-group cut (the dfCap analog a pair
    // consumer would need) restores linearity.
    val (dS, dL) = (docs(sfSmall), docs(sfLarge))
    def chunks(d: DataFrame) = Dedup.cdcChunks(d, "doc_id", "text").cache()
    val (cS, cL) = (chunks(dS), chunks(dL))
    try {
      val (chS, chL) = (cS.count(), cL.count())
      val (charS, charL) = (
        dS.agg(sum(length(col("text")))).head().getLong(0),
        dL.agg(sum(length(col("text")))).head().getLong(0))
      assertLinear("cdc-chunks(p59)", 1.1, charS, chS, charL, chL)
      def cappedVolume(c: DataFrame, cap: Long): Long =
        c.groupBy(col("chunk_md5")).agg(count(lit(1)).as("c"))
          .filter(col("c") <= cap)
          .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)))
          .head().getLong(0)
      val eRaw = growthExponent(chS, candVolume(cS, "chunk_md5"),
        chL, candVolume(cL, "chunk_md5"))
      assert(eRaw > 1.35,
        f"raw md5 pair volume should be superlinear here (got $eRaw%.2f) — " +
          "if this starts passing, the corpus lost its boilerplate and the cap demo is dead")
      val eCap = growthExponent(chS, cappedVolume(cS, 10), chL, cappedVolume(cL, 10))
      assert(eCap <= 1.35,
        f"hot-group cap (c<=10) should restore linearity, got $eCap%.2f")
    } finally { cS.unpersist(); cL.unpersist() }
  }

  test("prefix filtering (p80): linear on a Heaps-law corpus; prunes the " +
      "inverted index on the bounded-vocab testdata") {
    assume(haveData, "testdata absent")
    // Same two-corpus framing as p10: prefix candidates are driven by
    // the df of each record's RAREST tokens. On a Heaps-law corpus
    // (fresh vocabulary per doc) rare-token df is O(1), so candidate
    // volume is linear. On the shipped bounded-vocabulary corpus even
    // the rarest tokens have df ∝ n — no lossless method can beat
    // quadratic there (p80 stays EXACT; the claim to measure is the
    // PRUNING FACTOR vs the full inverted index, which is what makes
    // exactness affordable).
    def heaps(n: Int): DataFrame = spark.range(n).select(col("id"),
      expr("""concat_ws(' ', transform(sequence(1, 20),
        k -> concat('w', CAST(id - (CASE WHEN id % 20 = 1 THEN 1 ELSE 0 END) AS STRING), '_', CAST(k AS STRING))))""")
        .as("text"))
    assertLinear("prefix-jaccard(p80, Heaps corpus)", 1.35, 500L,
      candVolume(Dedup.prefixPostings(heaps(500), "id", "text", 0.8, Dedup.WordSets), "tok"),
      5000L,
      candVolume(Dedup.prefixPostings(heaps(5000), "id", "text", 0.8, Dedup.WordSets), "tok"))
    val d = docs(sfLarge)
    val pref = candVolume(Dedup.prefixPostings(d, "doc_id", "text", 0.95, Dedup.WordSets), "tok")
    val full = candVolume(d.select(col("doc_id").as("id"),
      explode(array_distinct(split(trim(lower(col("text"))), "\\s+"))).as("tok")),
      "tok")
    info(f"prefix-jaccard pruning: $pref%d candidate pairs vs $full%d full-index")
    assert(pref.toDouble < 0.2 * full,
      s"prefix filtering should prune >5x vs the full index ($pref vs $full)")
  }

  test("entity blocking (p76): block cap bounds candidate volume linearly") {
    assume(haveData, "testdata absent")
    // the cap's envelope is the same law as dfCap: Σ c·(c−1)/2 over
    // kept blocks ≤ cap/2 · records
    val cap = 50
    for (dir <- Seq(sfSmall, sfLarge)) {
      val recs = spark.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey").as("id"),
          concat(col("p_name"), lit(" "), lower(col("p_type"))).as("nm"))
      val bk = concat(substring(col("nm"), 1, 2), lit("#"),
        length(col("nm")).cast("string"))
      val keyed = recs.select(col("id"), bk.as("bkt"))
      val n = keyed.count()
      val kept = keyed.groupBy("bkt").agg(count(lit(1)).as("c"))
        .filter(col("c") <= cap)
      val vol = kept.agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)))
        .head().getLong(0)
      info(f"entity-blocking: $vol%d in-block pairs @ $n%d records (cap $cap)")
      assert(vol <= cap.toLong / 2 * n,
        s"capped block volume $vol exceeds the linear envelope @ $n records")
    }
  }

  test("triangle counting (p77): wedge volume respects the m^1.5 orientation bound") {
    assume(haveData, "testdata absent")
    for (dir <- Seq(sfSmall, sfLarge)) {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
        .distinct()
      val a = li.select(col("okey"), col("pk").as("pa"))
      val b = li.select(col("okey"), col("pk").as("pb"))
      val edges = a.join(b, "okey").filter(col("pa") < col("pb"))
        .select(col("pa").cast("long").as("u"), col("pb").cast("long").as("v"))
        .distinct().cache()
      try {
        val m = edges.count()
        // oriented out-degree d_out: wedges = Σ C(d_out, 2)
        val deg = edges.select(col("u").as("n")).unionAll(edges.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("d"))
        val oriented = edges
          .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
          .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
          .select(when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("src"))
        val wedges = oriented.groupBy("src").agg(count(lit(1)).as("c"))
          .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)))
          .head().getLong(0)
        val bound = 2.0 * math.pow(m.toDouble, 1.5)
        info(f"triangles: $wedges%d oriented wedges @ $m%d edges (bound $bound%.0f)")
        assert(wedges.toDouble <= bound,
          s"oriented wedge volume $wedges exceeds 2·m^1.5 @ $m edges")
      } finally { edges.unpersist() }
    }
  }

  test("size-gated broadcasts (p80/p76): forced over-cap path is identical " +
      "through shuffle joins") {
    assume(haveData, "testdata absent")
    // VERDICT r6 item 1: an explicit broadcast() hint bypasses
    // autoBroadcastJoinThreshold, so past ~8 GB it fails the job instead
    // of degrading. The gate must therefore (a) hint only under its
    // measured cap and (b) produce IDENTICAL results when the cap forces
    // the shuffle path — this drives (b) with cap=0 and auto-broadcast
    // disabled, so any BroadcastHashJoin left in the plan could only come
    // from a hint the gate failed to withhold.
    val d = docs(sfSmall)
    val recs = spark.read.parquet(s"$sfSmall/part.parquet")
      .select(col("p_partkey").as("id"),
        concat(col("p_name"), lit(" "), lower(col("p_type"))).as("nm"))
    val bk = concat(substring(col("nm"), 1, 2), lit("#"),
      length(col("nm")).cast("string"))
    def runBoth() = (
      Dedup.jaccardJoin(d, "doc_id", "text", 0.9, Dedup.WordSets).pairs
        .orderBy("i", "j").collect().toSeq,
      EntityRes.blockedPairs(recs, "id", "nm", bk, maxEdits = 3)
        .orderBy("id_a", "id_b").collect().toSeq)
    val (basePairs, baseEr) = runBoth()
    spark.conf.set(graft.operators.Broadcasts.MaxBytesConf, "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // Drop the baseline run's caches: an InMemoryTableScan displays the
    // physical plan its batches were BUILT with (under the default cap),
    // which would leak stale BroadcastHashJoins into the plan assertions.
    spark.catalog.clearCache()
    try {
      val forcedJac = Dedup.jaccardJoin(d, "doc_id", "text", 0.9, Dedup.WordSets).pairs
      val gotPairs = forcedJac.orderBy("i", "j").collect().toSeq
      // The only broadcast allowed is Ranks' per-partition OFFSETS join
      // (exactly numPartitions rows — bounded by construction); every
      // corpus-shaped join (postings, rank sets, candidates) must shuffle.
      val bhj = forcedJac.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
      assert(bhj.forall(_.contains("__pid")),
        s"cap=0 left a hint-driven broadcast join in the p80 plan:\n" +
          bhj.mkString("\n"))
      assert(gotPairs == basePairs,
        "shuffle-path prefix-Jaccard diverged from the broadcast path")
      val forcedEr = EntityRes.blockedPairs(recs, "id", "nm", bk, maxEdits = 3)
      val gotEr = forcedEr.orderBy("id_a", "id_b").collect().toSeq
      assert(!forcedEr.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "cap=0 must leave no hint-driven broadcast join in the p76 plan")
      assert(gotEr == baseEr,
        "shuffle-path entity blocking diverged from the broadcast path")
    } finally {
      spark.conf.unset(graft.operators.Broadcasts.MaxBytesConf)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.catalog.clearCache() // sizeGated persists its inputs
    }
  }
}
